"""Word tokens and word n-grams: every datapipe operator that builds word
grams against a Python brute force, the tokenizer and gram builder kept
free of interpreted lambdas, and the operators whose counting they fix.

The brute force splits on ASCII whitespace ``[ \\t\\n\\x0b\\f\\r]+``, the set
Java's ``\\s`` matches; ideographic and no-break spaces stay inside a
token.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

_WS = re.compile(r"[ \t\n\x0b\f\r]+")

TEXTS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, " \t\n\x0b\f\r "),
    (5, "one"),
    (6, "Two words"),
    (7, "\tlead tab and trailing newline\n"),
    (8, "a\tb\nc\x0bd\fe\rf g h i j"),
    (9, "Crème Brûlée à la carte, crème brûlée à LA carte"),
    (10, "東京 タワー 東京　タワー 東京 タワー"),
    (11, "the cat sat on the mat and the cat sat on the mat again"),
    (12, "The THE the\xa0the cat Cat CAT"),
]


def _toks(text, lower=True):
    if text is None:
        return []
    return [w.lower() if lower else w for w in _WS.split(text) if w]


def _windows(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_word_gram_callers_match_brute_force(spark, docs, n):
    from tsflex_spark.datapipe.decontam import word_ngram_rows
    from tsflex_spark.datapipe.dedup import span_gram_rows
    from tsflex_spark.datapipe.lm import bigram_rows, ngram_rows
    from tsflex_spark.datapipe.text import top_ngrams

    toks = {i: _toks(t) for i, t in TEXTS}
    # the gram strings are under test, not Spark's xxhash64 of them

    # span_gram_rows: (id, 0-based start, hash); short docs give nothing
    exp = [(i, p, g) for i, t in toks.items() for p, g in enumerate(_windows(t, n))]
    want = sorted(
        tuple(r)
        for r in spark.createDataFrame(exp, "i long, p long, g string")
        .select("i", "p", F.xxhash64("g"))
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in span_gram_rows(docs, "text", "doc_id", n)
        .select("doc_id", "__pos", "__gh")
        .collect()
    )
    assert got == want

    # word_ngram_rows: distinct hashes; a short doc is one whole gram
    exp = {
        (i, " ".join(t) if len(t) < n else g)
        for i, t in toks.items()
        if t
        for g in (_windows(t, n) or [None])
    }
    want = sorted(
        tuple(r)
        for r in spark.createDataFrame(sorted(exp), "i long, g string")
        .select("i", F.xxhash64("g"))
        .collect()
    )
    got = sorted(tuple(r) for r in word_ngram_rows(docs, "text", "doc_id", n).collect())
    assert got == want

    # top_ngrams: corpus-wide counts (k large, no min_count pruning)
    cnt = Counter(g for t in toks.values() for g in _windows(t, n))
    got = {
        r["ngram"]: r["count"]
        for r in top_ngrams(docs, n=n, k=1000, text_col="text", min_count=1).collect()
    }
    assert got == dict(cnt)

    # ngram_rows: one row per occurrence, one column per word
    want = Counter(
        (i, *t[p : p + n]) for i, t in toks.items() for p in range(len(t) - n + 1)
    )
    got = Counter(tuple(r) for r in ngram_rows(docs, "text", "doc_id", n).collect())
    assert got == want

    if n == 2:
        got = Counter(tuple(r) for r in bigram_rows(docs, "text", "doc_id").collect())
        assert got == want


def test_hashed_buckets_match_brute_force(spark, docs):
    from tsflex_spark.datapipe.dsir import hashed_buckets

    grams = [
        (i, g) for i, t in TEXTS for k in (1, 2) for g in _windows(_toks(t), k)
    ]
    want = sorted(
        tuple(r)
        for r in spark.createDataFrame(grams, "i long, g string")
        .groupBy("i", F.pmod(F.xxhash64("g"), F.lit(16)).alias("b"))
        .count()
        .collect()
    )
    got = sorted(tuple(r) for r in hashed_buckets(docs, "text", "doc_id", 16).collect())
    assert got == want


def test_token_counts_match_brute_force(spark, docs):
    from tsflex_spark.datapipe.bpe import word_frequencies
    from tsflex_spark.datapipe.text import language_id, quality_score, text_stats

    got = {r["doc_id"]: r["n_tokens"] for r in text_stats(docs, "text", "doc_id").collect()}
    assert got == {i: (None if t is None else len(_toks(t))) for i, t in TEXTS}

    q = {r["doc_id"]: r for r in quality_score(docs, "text", "doc_id").collect()}
    for i, t in TEXTS:
        raw = _toks(t, lower=False)
        assert q[i]["n_tokens"] == (None if t is None else len(raw))
        if t is not None:
            mean = sum(len(w) for w in raw) / max(len(raw), 1)
            assert q[i]["mean_word_len"] == mean

    langs = {r["doc_id"]: r["lang_pred"] for r in language_id(docs, "text", "doc_id").collect()}
    assert langs[11] == "en" and langs[12] == "en" and langs[2] == "und"

    cnt = Counter(w for _, t in TEXTS for w in _toks(t))
    got = {r["word"]: r["count"] for r in word_frequencies(docs, "text").collect()}
    assert got == dict(cnt)


def test_corpus_stats_counts_tokens_like_text_stats(spark):
    """``trim`` strips only spaces: tab and newline edges used to count
    as extra empty tokens."""
    from tsflex_spark.datapipe.curation import corpus_stats

    docs = spark.createDataFrame(
        [("s", "a\n"), ("s", "\tb c "), ("s", "\n"), ("t", None)],
        "source string, text string",
    )
    got = {r["source"]: r for r in corpus_stats(docs, "text", "source").collect()}
    assert got["s"]["total_tokens"] == 1 + 2 + 0
    assert got["s"]["mean_tokens"] == 1.0
    assert got["t"]["total_tokens"] is None and got["t"]["n_docs"] == 1


def test_tokenizer_and_gram_builder_hold_no_lambda(spark, docs):
    """``transform``/``filter``/``zip_with`` lambdas are interpreted per
    element; the tokenizer, the gram builder and the operators built on
    them stay in codegen."""
    from tsflex_spark.datapipe.decontam import word_ngram_rows
    from tsflex_spark.datapipe.dedup import band_rows, span_gram_rows
    from tsflex_spark.datapipe.dsir import hashed_buckets
    from tsflex_spark.datapipe.lm import bigram_rows, ngram_rows
    from tsflex_spark.datapipe.text import _grams, _tokens, quality_score, text_stats, top_ngrams

    toks = docs.select("doc_id", _tokens(F.lower("text")).alias("__t"))
    sig = spark.createDataFrame([(1, list(range(16)))], "doc_id long, minhash array<long>")
    frames = {
        "_tokens": toks,
        "_grams": _grams(toks, ["doc_id"], "__t", 3, whole=False),
        "_grams(whole)": _grams(toks, ["doc_id"], "__t", 3, whole=True),
        "span_gram_rows": span_gram_rows(docs, "text", "doc_id", 3),
        "word_ngram_rows": word_ngram_rows(docs, "text", "doc_id", 3),
        "top_ngrams": top_ngrams(docs, n=3, text_col="text"),
        "bigram_rows": bigram_rows(docs, "text", "doc_id"),
        "ngram_rows": ngram_rows(docs, "text", "doc_id", 3),
        "hashed_buckets": hashed_buckets(docs, "text", "doc_id", 16),
        "band_rows": band_rows(sig, "doc_id", 4),
        "text_stats": text_stats(docs, "text", "doc_id"),
        "quality_score": quality_score(docs, "text", "doc_id"),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "lambdafunction" not in plan, (name, plan)


def test_band_rows_hashes_are_pinned(spark):
    """Persisted band stores key on these hashes: band b hashes the
    string cast of slots [b*r, (b+1)*r), r = size // num_bands."""
    from tsflex_spark.datapipe.dedup import band_rows

    sig = spark.createDataFrame(
        [
            (1, list(range(-5, 11))),
            (2, [2**62, -(2**62), 7, 0, 1, 1, 1, 1, 3, 4, 5, 6, 9, 8, 7, 6, 100]),
        ],
        "doc_id long, minhash array<long>",
    )
    got = [tuple(r) for r in band_rows(sig, "doc_id", 4).orderBy("doc_id", "band").collect()]
    assert got == [
        (1, 0, -8678436801528794303),
        (1, 1, -5241999792699714572),
        (1, 2, -5613262763079263510),
        (1, 3, -3480235745454857938),
        (2, 0, -8624445288281840215),
        (2, 1, 1754411888015746000),
        (2, 2, -5613262763079263510),
        (2, 3, 3249739322786371886),
    ]


def test_range_joins_compare_fractional_columns_by_value(spark):
    from tsflex_spark.relational import interval_join, range_join

    ev = spark.createDataFrame([(1.5,), (1.7,), (2.99,), (3.0,)], "t double")
    iv = spark.createDataFrame([(1.7, 3.0, "i")], "s double, e double, name string")
    got = sorted(r["t"] for r in range_join(ev, iv, left_on="t", right_start="s", right_end="e").collect())
    assert got == [1.7, 2.99]
    # a granule that divides the end exactly, and decimal columns
    got = range_join(
        ev.select(F.col("t").cast("decimal(10,3)").alias("t")),
        iv.select(F.col("s").cast("decimal(10,3)"), F.col("e").cast("decimal(10,3)"), "name"),
        left_on="t", right_start="s", right_end="e", granule=1,
    ).collect()
    assert sorted(float(r["t"]) for r in got) == [1.7, 2.99]

    left = spark.createDataFrame([(0.2, 0.9, "a"), (3.0, 3.5, "b")], "start double, end double, l string")
    right = spark.createDataFrame([(0.5, 0.8, "x"), (0.9, 1.0, "y")], "start double, end double, r string")
    got = sorted((r["l"], r["r"]) for r in interval_join(left, right).collect())
    assert got == [("a", "x")]
