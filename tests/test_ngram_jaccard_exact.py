"""ngram_jaccard value-exactness vs an independent python-set brute force.

The r11 rewrite computes pair intersections in-row over per-doc shingle
ARRAYS (collect_list + array_intersect) instead of pair-driven
(id, shingle) equi-joins — ~10x fewer shuffle bytes at the 100x probe.
This pins the CONTRACT the rewrite must keep: identical jaccard doubles
for every pair, including the j=1 (identical docs), j=0 (disjoint), and
partial-overlap cases, under both prune modes and the shingles= reuse
path.
"""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsflex_spark.datapipe.dedup import ngram_jaccard, shingle_rows

K = 5

DOCS = {
    0: "the quick brown fox jumps over the lazy dog",
    1: "the quick brown fox jumps over the lazy dog",  # identical to 0
    2: "numbers 123 456 789 and totally unrelated words",  # disjoint-ish
    3: "the quick brown fox sleeps under the lazy dog",  # partial overlap
    4: "zz",  # shorter than k -> single truncated shingle
}
PAIRS = [(0, 1), (0, 2), (0, 3), (2, 3), (0, 4)]


def _brute_jaccard(a: str, b: str) -> float:
    def sh(t: str) -> set:
        n = " ".join(t.lower().split())
        return {n[i : i + K] for i in range(max(len(n) - K + 1, 1))}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


@pytest.mark.parametrize("prune", [True, False])
def test_values_match_brute_force(spark, prune):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(DOCS), "text": list(DOCS.values())})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(PAIRS, columns=["id_a", "id_b"])
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard(
            df, pairs, "text", id_col="doc_id", shingle_k=K, prune=prune
        ).collect()
    }
    assert set(got) == set(PAIRS)
    for a, b in PAIRS:
        exp = _brute_jaccard(DOCS[a], DOCS[b])
        assert got[(a, b)] == pytest.approx(exp, abs=0.0), (a, b)
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] < 0.05


def test_shingles_reuse_path_identical(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(DOCS), "text": list(DOCS.values())})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(PAIRS, columns=["id_a", "id_b"])
    )
    sh = shingle_rows(df, "text", "doc_id", K).localCheckpoint(eager=True)
    inline = ngram_jaccard(df, pairs, "text", id_col="doc_id", shingle_k=K)
    reused = ngram_jaccard(
        df, pairs, "text", id_col="doc_id", shingle_k=K, shingles=sh
    )
    gi = {(r["id_a"], r["id_b"]): r["jaccard"] for r in inline.collect()}
    gr = {(r["id_a"], r["id_b"]): r["jaccard"] for r in reused.collect()}
    assert gi == gr


def test_pair_id_missing_from_corpus_dropped(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [DOCS[0], DOCS[1]]})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 99)], columns=["id_a", "id_b"])
    )
    out = ngram_jaccard(df, pairs, "text", id_col="doc_id", shingle_k=K)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # a pair whose id has no shingle rows yields no row (inner-join
    # semantics, unchanged from the equi-join shape)
    assert got == {(0, 1)}


# shingle hashes vs a Python reference: code-point slicing of the text
# normalized as the engine does (ASCII \s runs -> one space, lowercase,
# no trim), each gram hashed by Spark's own xxhash64
HASH_DOCS = {
    10: None,
    11: "",
    12: "ab",  # shorter than every k but 1
    13: "  Two\t\tspaces \n\r and\x0btabs   ",
    14: "Crème brûlée à la CAFÉ, naïve façade",
    15: "日本語のテキストと中文文本",
    16: "emoji 😀😃 and astral 𝄞𝄢 mixed in",
}


def _ref_grams(text, k):
    if text is None:
        return {None}
    n = re.sub(r"\s+", " ", text, flags=re.ASCII).lower()
    return {n[i : i + k] for i in range(max(len(n) - k + 1, 1))}


@pytest.mark.parametrize("k", [1, 3, 5, 9])
def test_shingle_hashes_match_code_point_reference(spark, k):
    df = spark.createDataFrame(list(HASH_DOCS.items()), "doc_id long, text string")
    got = {tuple(r) for r in shingle_rows(df, "text", "doc_id", k).collect()}
    ref = spark.createDataFrame(
        [(i, g) for i, t in HASH_DOCS.items() for g in _ref_grams(t, k)],
        "doc_id long, g string",
    )
    want = {tuple(r) for r in ref.select("doc_id", F.xxhash64("g")).collect()}
    assert got == want


@pytest.mark.parametrize("k", [1, 3, 5, 9])
def test_invalid_utf8_shingles_match_substr(spark, k):
    # lone continuation bytes, an overlong lead, a stray 0xFF and a lead
    # byte truncated at the end; the normalizing regexp_replace turns
    # each into U+FFFD, on both sides
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1L, CAST(unhex('41808142C0AF4344FF4546') AS STRING)), "
        "(2L, CAST(unhex('4142434445464748F0') AS STRING)) AS t(doc_id, text)"
    )
    got = {tuple(r) for r in shingle_rows(df, "text", "doc_id", k).collect()}
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    n = F.length("n")
    substr = (
        df.select("doc_id", norm.alias("n"))
        .select(
            "doc_id",
            "n",
            F.explode(F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))).alias("i"),
        )
        .select("doc_id", F.xxhash64(F.col("n").substr(F.col("i"), F.lit(k))))
    )
    assert got == {tuple(r) for r in substr.collect()}
