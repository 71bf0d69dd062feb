"""Tests for chunking, count-based windows, dedup, similarity, text,
multimodal, and streaming operators — pandas/numpy oracles on small
fixtures (the reference's test strategy, SURVEY §5)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsflex_spark import FeatureCollection, FeatureDescriptor


# ------------------------------------------------------------- chunking
def test_chunk_data_gaps(spark):
    from tsflex_spark.chunking import chunk_data

    # 3 chunks: 0-9s, 100-104s, 200s (gap > 30s)
    ts = (
        list(pd.date_range("2024-01-01", periods=10, freq="1s"))
        + list(pd.date_range("2024-01-01 00:01:40", periods=5, freq="1s"))
        + [pd.Timestamp("2024-01-01 00:03:20")]
    )
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    out = chunk_data(df, ts_col="ts", max_gap="30s").toPandas()
    assert list(out["chunk_id"]) == [0, 1, 2]
    assert list(out["n_samples"]) == [10, 5, 1]
    assert out["chunk_start"].iloc[1] == pd.Timestamp("2024-01-01 00:01:40")
    assert out["chunk_end"].iloc[0] == pd.Timestamp("2024-01-01 00:00:09")


def test_chunk_data_fs_and_min_dur(spark):
    from tsflex_spark.chunking import chunk_data

    ts = list(pd.date_range("2024-01-01", periods=8, freq="1s")) + [
        pd.Timestamp("2024-01-01 00:01:00")
    ]
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    # fs=1 Hz -> gap threshold 1.5s; min_chunk_dur drops the singleton
    out = chunk_data(df, ts_col="ts", fs=1.0, min_chunk_dur="3s").toPandas()
    assert len(out) == 1
    assert out["n_samples"].iloc[0] == 8


def test_chunk_data_max_dur_subchunks(spark):
    from tsflex_spark.chunking import chunk_data

    ts = pd.date_range("2024-01-01", periods=100, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    out = chunk_data(df, ts_col="ts", max_gap="10s", max_chunk_dur="30s").toPandas()
    # 99s span -> 4 sub-chunks of <=30s
    assert len(out) == 4
    spans = (out["chunk_end"] - out["chunk_start"]).dt.total_seconds()
    assert (spans <= 30).all()


# ------------------------------------------------- count-based windows
def test_count_based_window_positions(spark):
    ts = pd.date_range("2024-01-01", periods=10, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(10.0)}))
    fc = FeatureCollection([FeatureDescriptor("sum", "v", 5, 3)])
    out = fc.calculate(df, ts_col="ts").toPandas()
    # nb = (9-5)//3+1 = 2 -> starts {0,3}; sums 10, 25; end positions 5, 8
    assert list(out["v__sum__w=5"]) == [10.0, 25.0]
    assert list(out["ts"]) == [ts[5], ts[8]]


def test_count_based_window_idx_begin(spark):
    ts = pd.date_range("2024-01-01", periods=10, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(10.0)}))
    fc = FeatureCollection([FeatureDescriptor("count", "v", 4, 4)])
    out = fc.calculate(df, ts_col="ts", window_idx="begin").toPandas()
    assert list(out["ts"]) == [ts[0], ts[4]]
    assert list(out["v__count__w=4"]) == [4, 4]


# ----------------------------------------------------------------- dedup
def test_dedup_exact_keeps_min_id(spark):
    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "t": ["a", "b", "a", "a"]})
    df = spark.createDataFrame(pdf)
    from tsflex_spark.datapipe.dedup import dedup_exact

    out = dedup_exact(df, "t", id_col="id").toPandas().sort_values("id")
    assert list(out["id"]) == [1, 2]


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark dataframes and catalyst " * 5
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other]})
    )
    from tsflex_spark.datapipe.dedup import minhash_dedup, minhash_lsh_candidates, minhash_signatures

    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=32)
    cands = minhash_lsh_candidates(sigs, "doc_id", num_bands=8).toPandas()
    assert (0, 1) in set(zip(cands["id_a"], cands["id_b"]))
    survivors = minhash_dedup(df, "text", "doc_id", threshold=0.5).toPandas()
    assert set(survivors["doc_id"]) == {0, 2}


def test_oph_short_disjoint_docs_share_no_bands(spark):
    """Short docs have empty OPH bins; densification must be PER-DOC (keyed
    on the doc's own min hash), so two disjoint short docs share zero
    band hashes — a global sentinel fill would make every short-doc pair an
    LSH candidate (O(n²) at scale)."""
    from tsflex_spark.datapipe.dedup import minhash_lsh_candidates, minhash_signatures

    # ~8 shingles each at k=5 << num_hashes=64 -> most bins empty
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["abcdefghijkl", "zyxwvutsrqpo"]})
    )
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=64)
    cands = minhash_lsh_candidates(sigs, "doc_id", num_bands=16).toPandas()
    assert len(cands) == 0

    # determinism: identical shingle sets still densify identically
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["abcdefghijkl", "abcdefghijkl"]})
    )
    sigs2 = minhash_signatures(df2, "text", "doc_id", num_hashes=64)
    cands2 = minhash_lsh_candidates(sigs2, "doc_id", num_bands=16).toPandas()
    assert len(cands2) == 1


def test_sketch_signatures_fused_parity(spark):
    """The fused one-pass sketch aggregate must emit EXACTLY the same
    minhash signatures and simhash fingerprints as the two standalone
    aggregates — fusion is a pure shuffle/scan optimization."""
    from tsflex_spark.datapipe.dedup import (
        minhash_signatures,
        simhash,
        sketch_signatures,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog " * 6,
        "the quick brown fox jumps over the lazy cat " * 6,
        "completely different text about numbers 123 456 789 " * 4,
        "short doc",  # empty-OPH-bin densification path
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    )
    fused = sketch_signatures(df, "text", "doc_id", num_hashes=64).toPandas()
    mh = minhash_signatures(df, "text", "doc_id", num_hashes=64).toPandas()
    sh = simhash(df, "text", "doc_id").toPandas()
    f = fused.set_index("doc_id").sort_index()
    m = mh.set_index("doc_id").sort_index()
    s = sh.set_index("doc_id").sort_index()
    for i in f.index:
        assert list(f.loc[i, "minhash"]) == list(m.loc[i, "minhash"]), i
        assert f.loc[i, "simhash"] == s.loc[i, "simhash"], i


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("dog", "cat")
    other = "numbers 123 456 789 and totally unrelated words here " * 10
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other]})
    )
    from tsflex_spark.datapipe.dedup import simhash

    out = simhash(df, "text", "doc_id").toPandas().set_index("doc_id")["simhash"]

    def ham(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    assert ham(out[0], out[1]) < ham(out[0], out[2])


def test_simhash_pairs_candidate_superset(spark):
    """simhash → hamming-band candidate pairs → exact-Jaccard verify:
    the near-dup pair survives, the unrelated doc never pairs."""
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base[: -len("dog ")] + "cat "  # one token changed -> tiny hamming
    other = "numbers 123 456 789 and totally unrelated words here " * 10
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other]})
    )
    from tsflex_spark.datapipe.dedup import ngram_jaccard, simhash, simhash_pairs

    fps = simhash(df, "text", "doc_id")
    cand = simhash_pairs(fps, id_col="doc_id", max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 1) in got
    verified = ngram_jaccard(
        df, cand.select("id_a", "id_b"), "text", id_col="doc_id"
    ).where(F.col("jaccard") >= 0.5)
    vt = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (0, 1) in vt and not any(2 in p for p in vt)


# ------------------------------------------------------------ similarity
def test_cosine_topk_exact(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    q = vecs[0]
    from tsflex_spark.datapipe.similarity import cosine_topk

    got = cosine_topk(df, [float(x) for x in q], k=5).toPandas()
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    exp = np.argsort(-sims, kind="stable")[:5]
    assert list(got["vec_id"]) == list(exp)


def test_lsh_ann_recalls_self(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(100, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(100), "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    from tsflex_spark.datapipe.similarity import lsh_bucket_topk

    q = spark.createDataFrame(
        pd.DataFrame({"q_vec": [list(map(float, vecs[3]))]}), "q_vec array<float>"
    )
    got = lsh_bucket_topk(df, q, k=3, num_planes=6, dim=8, probe_hamming=1).toPandas()
    # the query vector itself lands in its own bucket -> rank 1, cosine ~1
    assert got["vec_id"].iloc[0] == 3
    assert abs(got["cosine"].iloc[0] - 1.0) < 1e-6


# ------------------------------------------------------------- text ops
def test_language_id_marks_english(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    "the cat and the dog is of great fame",
                    "zzz qqq xxx",
                ],
            }
        )
    )
    from tsflex_spark.datapipe.text import language_id

    out = language_id(df, "text", "doc_id").toPandas().set_index("doc_id")["lang_pred"]
    assert out[0] == "en"
    assert out[1] == "und"


def test_quality_score_ranges(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    from tsflex_spark.datapipe.text import quality_score

    out = quality_score(docs, "text", "doc_id").toPandas()
    assert ((out["quality_score"] >= 0) & (out["quality_score"] <= 1)).all()
    assert ((out["punct_ratio"] >= 0) & (out["punct_ratio"] <= 1)).all()


# ------------------------------------------------------------ multimodal
def test_multimodal_decode_plumbing(spark):
    pdf = pd.DataFrame(
        {"id": [0, 1, 2], "media": [b"\x10" * 128, b"\xff" * 64, b""]}
    )
    df = spark.createDataFrame(pdf, "id long, media binary")
    from tsflex_spark.datapipe.multimodal import decode_image_features, frame_sample

    out = decode_image_features(df).toPandas().sort_values("id")
    assert len(out) == 3
    assert abs(out["img_mean"].iloc[1] - 1.0) < 1e-6  # 0xff/255 = 1.0
    assert out["img_mean"].iloc[2] == 0.0  # empty blob -> zeros
    assert all(len(v) == 16 for v in out["img_vec"])

    frames = frame_sample(df, every_nth=1).toPandas()
    assert len(frames[frames["id"] == 0]) == 2  # 128 bytes -> 2 "frames"


def test_multimodal_audio_features(spark):
    from tsflex_spark.datapipe.multimodal import audio_features

    pdf = pd.DataFrame(
        {"id": [0, 1], "media": [bytes([0, 255] * 64), b""]}  # square wave, empty
    )
    df = spark.createDataFrame(pdf, "id long, media binary")
    out = audio_features(df, frame_len=32).toPandas().set_index("id")
    # (0-128)/128=-1, (255-128)/128≈0.992: rms ≈ 0.996, zcr ≈ 1.0
    assert abs(out.loc[0, "rms"] - np.sqrt((1.0 + (127 / 128) ** 2) / 2)) < 1e-9
    assert abs(out.loc[0, "zcr"] - 1.0) < 1e-6
    assert len(out.loc[0, "rms_frames"]) == 4  # 128 samples / 32
    assert out.loc[1, "rms"] == 0.0 and len(out.loc[1, "rms_frames"]) == 0


def test_winnow_fingerprints_partial_overlap(spark):
    """MOSS winnowing over an arithmetic Rabin-Karp rolling hash: docs
    sharing a substring of length >= window+k-1 share fingerprints even
    when neither whole-document hashes nor overall Jaccard would flag
    them; disjoint docs share none; short docs yield empty arrays."""
    from tsflex_spark.datapipe.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                shared,
                "PREFIX " + shared + " SUFFIX",  # contains doc 0
                "totally unrelated content with other words",
                "ab",  # shorter than k -> empty
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = winnow_fingerprints(df, "text", "doc_id").toPandas().set_index("doc_id")
    s0, s1, s2 = (set(out.loc[i, "fps"]) for i in (0, 1, 2))
    assert s0 and s0 <= s1  # containment -> every fp of doc0 appears in doc1
    assert not (s0 & s2)
    assert len(out.loc[3, "fps"]) == 0


def test_multimodal_resize(spark):
    from tsflex_spark.datapipe.multimodal import resize_images

    pdf = pd.DataFrame({"id": [0, 1], "media": [bytes(range(64)), b"\xff" * 64]})
    df = spark.createDataFrame(pdf, "id long, media binary")
    out = resize_images(df, height=4, width=4).toPandas().sort_values("id")
    assert all(len(p) == 16 for p in out["pixels"])
    assert out["meta"].iloc[0]["height"] == 4
    # nearest-neighbor of the 8x8 fake decode: row/col indices 0,2,4,6
    img = (np.frombuffer(bytes(range(64)), dtype=np.uint8).reshape(8, 8) / 255.0)
    exp = img[np.ix_([0, 2, 4, 6], [0, 2, 4, 6])].ravel()
    assert np.allclose(out["pixels"].iloc[0], exp, atol=1e-6)


# ------------------------------------------------------------- streaming
def test_streaming_rolling_features(spark, tmp_path):
    ts = pd.date_range("2024-01-01", periods=120, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(120.0)})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)

    from tsflex_spark.streaming.rolling import rolling_features_stream

    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    feats = rolling_features_stream(
        stream, {"v": ["sum", "count"]}, window="60 seconds", watermark="0 seconds"
    )
    sink = str(tmp_path / "sink")
    q = (
        feats.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas().sort_values("ts")
    # watermark closes the first of the two 60s tumbling windows
    assert len(out) >= 1
    first = out.iloc[0]
    assert first["v__sum__w=60seconds"] == sum(range(60))
    assert first["v__count__w=60seconds"] == 60


def test_streaming_rolling_ntz_source(spark, tmp_path):
    """Spark 4 streaming reads tz-naive parquet as TIMESTAMP_NTZ too —
    the streaming feature helpers (which convert ts via ts_micros for
    slope-type specs) must analyze and run on an NTZ stream."""
    ts = pd.date_range("2024-01-01", periods=120, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(120.0)})
    src = str(tmp_path / "src_ntz")
    spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    ).write.parquet(src)

    from tsflex_spark.streaming.rolling import rolling_features_stream

    stream = spark.readStream.schema("ts timestamp_ntz, v double").parquet(src)
    feats = rolling_features_stream(
        stream, {"v": ["sum", "slope"]}, window="60 seconds", watermark="0 seconds"
    )
    sink = str(tmp_path / "sink_ntz")
    q = (
        feats.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_ntz"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas().sort_values("ts")
    assert len(out) >= 1
    first = out.iloc[0]
    assert first["v__sum__w=60seconds"] == sum(range(60))
    # v increases 1 unit per second -> slope 1.0 units/second
    assert abs(first["v__slope__w=60seconds"] - 1.0) < 1e-9


def test_streaming_batch_parity(spark):
    # the same helper on a batch frame gives the batch answer
    ts = pd.date_range("2024-01-01", periods=100, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.ones(100)}))
    from tsflex_spark.streaming.rolling import rolling_features_stream

    out = (
        rolling_features_stream(df, {"v": ["sum"]}, window="50 seconds")
        .toPandas()
        .sort_values("ts")
    )
    assert list(out["v__sum__w=50seconds"]) == [50.0, 50.0]


def test_native_helpers_reject_unknown_name(spark):
    """The streaming and chunking helpers compile catalog names through
    ``catalog.native_agg``: an unknown name raises ValueError (not an
    assert, which ``python -O`` strips) before any plan is built."""
    import pytest as _pytest

    from tsflex_spark.chunking.chunking import chunk_features
    from tsflex_spark.streaming.rolling import rolling_features_stream, session_features_stream

    ts = pd.date_range("2024-01-01", periods=10, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "value": np.ones(10)}))
    with _pytest.raises(ValueError, match="not a native catalog function"):
        rolling_features_stream(df, {"value": ["sum", "nope"]}, window="5 seconds")
    with _pytest.raises(ValueError, match="not a native catalog function"):
        session_features_stream(df, "5 seconds", {"value": ["nope"]})
    with _pytest.raises(ValueError, match="not a native catalog function"):
        chunk_features(df, aggs=("sum", "nope"))


# ---------------------------------------------------------- asof join
def test_asof_join_backward_basic(spark):
    from tsflex_spark.relational import asof_join

    lts = pd.to_datetime(["2024-01-01 00:00:05", "2024-01-01 00:00:10", "2024-01-01 00:00:20"])
    rts = pd.to_datetime(["2024-01-01 00:00:03", "2024-01-01 00:00:10", "2024-01-01 00:00:30"])
    left = spark.createDataFrame(pd.DataFrame({"ts": lts, "k": ["a"] * 3, "lid": [1, 2, 3]}))
    right = spark.createDataFrame(pd.DataFrame({"ts": rts, "k": ["a"] * 3, "rv": [10.0, 20.0, 30.0]}))
    out = (
        asof_join(left, right, on="ts", by=["k"], value_cols=["rv"])
        .orderBy("lid")
        .toPandas()
    )
    # 05 -> rv@03; 10 -> rv@10 (inclusive tie); 20 -> rv@10
    assert list(out["rv"]) == [10.0, 20.0, 20.0]
    assert out["ts_r"].iloc[1] == pd.Timestamp("2024-01-01 00:00:10")


def test_asof_join_forward_and_tolerance(spark):
    from tsflex_spark.relational import asof_join

    lts = pd.to_datetime(["2024-01-01 00:00:05", "2024-01-01 00:00:50"])
    rts = pd.to_datetime(["2024-01-01 00:00:07", "2024-01-01 00:01:40"])
    left = spark.createDataFrame(pd.DataFrame({"ts": lts, "k": ["a", "a"], "lid": [1, 2]}))
    right = spark.createDataFrame(pd.DataFrame({"ts": rts, "k": ["a", "a"], "rv": [1.0, 2.0]}))
    fwd = asof_join(left, right, on="ts", by=["k"], value_cols=["rv"], direction="forward")
    fwd = fwd.orderBy("lid").toPandas()
    assert list(fwd["rv"]) == [1.0, 2.0]  # 05 -> next@07, 50 -> next@100
    tol = asof_join(
        left, right, on="ts", by=["k"], value_cols=["rv"], direction="forward", tolerance="10s"
    ).orderBy("lid").toPandas()
    assert tol["rv"].iloc[0] == 1.0
    assert pd.isna(tol["rv"].iloc[1])  # 50s -> 100s is beyond 10s tolerance


def test_asof_join_no_match_is_null(spark):
    from tsflex_spark.relational import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00:01"]), "k": ["a"], "lid": [1]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00:05"]), "k": ["a"], "rv": [9.0]})
    )
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["rv"]).toPandas()
    assert pd.isna(out["rv"].iloc[0]) and pd.isna(out["ts_r"].iloc[0])


# ------------------------------------------------ embedding near-dup
def test_embedding_neardup_exact_pairs(spark):
    from tsflex_spark.datapipe.dedup import embedding_neardup

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.999, 0.01, 0.0],  # near-dup of 0
        2: [0.0, 1.0, 0.0],
        3: [0.0, 0.99, 0.1],  # near-dup of 2
    }
    pdf = pd.DataFrame({"vec_id": list(vecs), "embedding": [vecs[k] for k in vecs]})
    df = spark.createDataFrame(pdf)
    out = embedding_neardup(df, threshold=0.95).orderBy("id_a", "id_b").toPandas()
    assert list(zip(out["id_a"], out["id_b"])) == [(0, 1), (2, 3)]
    assert (out["cosine"] >= 0.95).all()


def test_embedding_neardup_candidates_path(spark):
    from tsflex_spark.datapipe.dedup import embedding_neardup

    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [[1.0, 0.0], [1.0, 0.01], [0.99, 0.02]]}
    )
    df = spark.createDataFrame(pdf)
    cand = spark.createDataFrame(pd.DataFrame({"id_a": [0], "id_b": [1]}))
    out = embedding_neardup(df, threshold=0.5, candidates=cand).toPandas()
    # only the supplied candidate pair is scored, (0,2)/(1,2) never computed
    assert list(zip(out["id_a"], out["id_b"])) == [(0, 1)]


# ------------------------------------------------------------ IVF ANN
def test_ivf_topk_matches_bruteforce_on_probed_cells(spark):
    from tsflex_spark.datapipe.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"vec_id": range(60), "embedding": [rng.normal(size=8).tolist() for _ in range(60)]}
    )
    df = spark.createDataFrame(pdf)
    q = pdf["embedding"].iloc[0]
    # probing ALL cells must equal exact brute force
    ivf_all = ivf_topk(df, q, k=5, nlist=4, nprobe=4).toPandas()
    brute = cosine_topk(df, q, k=5).toPandas()
    assert list(ivf_all["vec_id"]) == list(brute["vec_id"])

    # a pre-trained quantizer can be reused across queries (train once,
    # probe many) — same result as train-per-call with the same seed
    from tsflex_spark.datapipe.similarity import ivf_train

    idx = ivf_train(df, 4, seed=7)
    reused = ivf_topk(df, q, k=5, nlist=4, nprobe=4, index=idx).toPandas()
    assert list(reused["vec_id"]) == list(ivf_all["vec_id"])
    q2 = pdf["embedding"].iloc[1]
    reused2 = ivf_topk(df, q2, k=5, nlist=4, nprobe=4, index=idx).toPandas()
    brute2 = cosine_topk(df, q2, k=5).toPandas()
    assert list(reused2["vec_id"]) == list(brute2["vec_id"])


def test_stateful_running_stats_stream(spark, tmp_path):
    """applyInPandasWithState running moments: final emitted row per key
    must equal the batch groupBy stats, across multiple micro-batches."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=300, freq="1s"),
            "user_id": rng.integers(0, 3, size=300),
            "value": rng.normal(50, 10, size=300).round(2),
        }
    )
    src = str(tmp_path / "src")
    # two files -> availableNow with maxFilesPerTrigger=1 gives 2 batches,
    # exercising the state merge (not just single-batch init)
    spark.createDataFrame(pdf.iloc[:150]).write.parquet(src)
    spark.createDataFrame(pdf.iloc[150:]).write.parquet(src, mode="append")

    from tsflex_spark.streaming.stateful import running_stats_stream

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = running_stats_stream(stream, value_col="value", key_cols=["user_id"])
    sink_tbl = "stateful_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink_tbl)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(sink_tbl).toPandas()
    # final state = row with max n per key
    final = got.sort_values("n").groupby("user_id").tail(1).set_index("user_id")
    exp = pdf.groupby("user_id")["value"].agg(["count", "mean", "min", "max"])
    var = pdf.groupby("user_id")["value"].agg(lambda v: v.var(ddof=0))
    for uid in exp.index:
        assert final.loc[uid, "n"] == exp.loc[uid, "count"]
        assert abs(final.loc[uid, "mean"] - exp.loc[uid, "mean"]) < 1e-9
        assert abs(final.loc[uid, "var_pop"] - var.loc[uid]) < 1e-9
        assert final.loc[uid, "min"] == exp.loc[uid, "min"]
        assert final.loc[uid, "max"] == exp.loc[uid, "max"]


def test_asof_join_unkeyed_distributed(spark):
    """Unkeyed as-of join runs the distributed carry path — verify against
    pandas merge_asof on shuffled multi-partition input, both directions
    plus tolerance."""
    rng = np.random.default_rng(7)
    base = pd.Timestamp("2024-01-01")
    lpdf = pd.DataFrame(
        {
            "ts": base + pd.to_timedelta(np.sort(rng.choice(100000, 800, replace=False)), unit="s"),
            "lid": range(800),
        }
    )
    rpdf = pd.DataFrame(
        {
            "ts": base + pd.to_timedelta(np.sort(rng.choice(100000, 500, replace=False)), unit="s"),
            "rv": rng.normal(size=500).round(3),
        }
    )
    left = spark.createDataFrame(lpdf).repartition(11)
    right = spark.createDataFrame(rpdf).repartition(13)

    from tsflex_spark.relational import asof_join

    for direction in ("backward", "forward"):
        got = (
            asof_join(left, right, on="ts", value_cols=["rv"], direction=direction)
            .orderBy("lid")
            .toPandas()
        )
        exp = pd.merge_asof(lpdf, rpdf, on="ts", direction=direction)
        ok = (got["rv"].to_numpy() == exp["rv"].to_numpy()) | (
            got["rv"].isna().to_numpy() & exp["rv"].isna().to_numpy()
        )
        assert ok.all(), direction

    got = (
        asof_join(left, right, on="ts", value_cols=["rv"], tolerance="60s")
        .orderBy("lid")
        .toPandas()
    )
    exp = pd.merge_asof(lpdf, rpdf, on="ts", tolerance=pd.Timedelta("60s"))
    ok = (got["rv"].to_numpy() == exp["rv"].to_numpy()) | (
        got["rv"].isna().to_numpy() & exp["rv"].isna().to_numpy()
    )
    assert ok.all()


def test_streaming_session_features(spark, tmp_path):
    """session_features_stream on a real readStream source: per-key
    sessions close once the watermark passes the gap."""
    ts = (
        list(pd.date_range("2024-01-01 00:00:00", periods=10, freq="10s"))
        + list(pd.date_range("2024-01-01 01:00:00", periods=5, freq="10s"))
        + [pd.Timestamp("2024-01-01 03:00:00")]  # closes the watermark
    )
    pdf = pd.DataFrame({"ts": ts, "k": ["a"] * len(ts), "v": 1.0})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)

    from tsflex_spark.streaming.rolling import session_features_stream

    stream = spark.readStream.schema("ts timestamp, k string, v double").parquet(src)
    feats = session_features_stream(
        stream, gap="5 minutes", aggs={"v": ["sum"]}, key_cols=["k"], watermark="0 seconds"
    )
    q = (
        feats.writeStream.format("memory")
        .queryName("sess_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("sess_sink").toPandas().sort_values("session_start")
    # first two sessions are closed by the late third event's watermark
    assert len(out) >= 2
    assert out["n_events"].iloc[0] == 10 and out["v__sum__w=session"].iloc[0] == 10.0
    assert out["n_events"].iloc[1] == 5


def test_connected_components_chains_cycles_strings(spark):
    from tsflex_spark.datapipe.dedup import connected_components

    # chain 1-2-3-4, cycle 10-11-12-10, pair 20-21, self-loop 30-30 (ignored),
    # duplicate + reversed edges
    edges = [
        (2, 1), (2, 3), (3, 4),
        (10, 11), (11, 12), (12, 10),
        (20, 21), (21, 20),
        (30, 30),
        (1, 2),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }

    # string ids work too (orderable, not numeric)
    spairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    sgot = {
        (r["node"], r["component"]) for r in connected_components(spairs).collect()
    }
    assert sgot == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_connected_components_long_chain_converges(spark):
    """O(log n) rounds must close a 64-node path graph (worst case for
    naive propagation) well inside max_iter."""
    from tsflex_spark.datapipe.dedup import connected_components

    edges = [(i, i + 1) for i in range(63)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(pairs, max_iter=12, driver_threshold=None).collect()
    assert len(out) == 64
    assert {r["component"] for r in out} == {0}


def test_repetition_stats_gopher_filters(spark):
    from tsflex_spark.datapipe.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b\nsame line\nsame line\nother"),
            (2, "unique words only here today"),
            (3, ""),
            (4, "x x x x x x x x"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert len(out) == 4
    # doc 1: 4 lines, "same line" twice -> 2/4 dup; 18 of 34 line chars
    assert out[1]["dup_line_frac"] == 0.5
    assert abs(out[1]["dup_line_char_frac"] - 18 / 34) < 1e-12
    # doc 1 tokens: a b a b a b same line same line other -> "a b" 3x of 10
    assert out[1]["top_2gram_frac"] == 0.3
    # doc 2: all unique -> top 2-gram 1/4
    assert out[2]["top_2gram_frac"] == 0.25
    assert out[2]["dup_line_frac"] == 0.0
    # empty doc: all-zero, no NULLs/ANSI division errors
    assert all(out[3][c] == 0.0 for c in
               ("dup_line_frac", "dup_line_char_frac", "top_2gram_frac", "top_3gram_frac"))
    # pathological repetition pegs both n-gram fractions at 1.0
    assert out[4]["top_2gram_frac"] == 1.0 and out[4]["top_3gram_frac"] == 1.0


def test_calculate_streaming_real_stream(spark, tmp_path):
    """The SAME FeatureCollection config runs as a genuine streaming
    query: parquet source -> incremental window agg -> parquet sink."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    ts = pd.date_range("2024-01-01", periods=120, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(120.0)})
    src = str(tmp_path / "fc_src")
    spark.createDataFrame(pdf).write.parquet(src)

    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "v", "60s", "60s"),
            FeatureDescriptor("mean", "v", "60s", "60s"),
            FeatureDescriptor("slope", "v", "60s", "60s"),
        ]
    )
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    feats = fc.calculate_streaming(stream, watermark="0 seconds")
    sink = str(tmp_path / "fc_sink")
    q = (
        feats.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "fc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas().sort_values("ts")
    assert len(out) >= 1
    first = out.iloc[0]
    assert first["v__sum__w=1m"] == sum(range(60))
    assert first["v__mean__w=1m"] == sum(range(60)) / 60
    assert abs(first["v__slope__w=1m"] - 1.0) < 1e-9


def test_calculate_streaming_rejects_non_streamable(spark):
    from tsflex_spark import FeatureCollection, FeatureDescriptor
    import pytest as _pytest

    df = spark.createDataFrame(
        pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=5, freq="1s"),
                      "v": np.ones(5)})
    )
    # Python-tier function
    fc = FeatureCollection([FeatureDescriptor(lambda a: float(a.sum()), "v", "5s", "5s")])
    with _pytest.raises(ValueError, match="native catalog"):
        fc.calculate_streaming(df)
    # distinct agg
    fc2 = FeatureCollection([FeatureDescriptor("n_unique", "v", "5s", "5s")])
    with _pytest.raises(ValueError, match="n_unique"):
        fc2.calculate_streaming(df)
    # count-based window
    fc3 = FeatureCollection([FeatureDescriptor("sum", "v", 5, 5)])
    with _pytest.raises(ValueError, match="not\\s+streamable"):
        fc3.calculate_streaming(df)


def test_calculate_streaming_batch_parity_keyed(spark):
    """On a batch frame the streaming compilation gives the F.window
    answer per key; two configs return two frames."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    ts = pd.date_range("2024-01-01", periods=100, freq="1s")
    pdf = pd.DataFrame(
        {"ts": list(ts) * 2, "v": np.ones(200),
         "u": ["a"] * 100 + ["b"] * 100}
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "v", "50s", "50s"),
            FeatureDescriptor("count", "v", "25s", "25s"),
        ]
    )
    outs = fc.calculate_streaming(spark.createDataFrame(pdf), key_cols=["u"])
    assert isinstance(outs, list) and len(outs) == 2
    by_cols = {tuple(sorted(c for c in o.columns if "__" in c)): o for o in outs}
    sums = by_cols[("v__sum__w=50s",)].toPandas()
    assert len(sums) == 4 and set(sums["v__sum__w=50s"]) == {50.0}
    cnts = by_cols[("v__count__w=25s",)].toPandas()
    assert len(cnts) == 8 and set(cnts["v__count__w=25s"]) == {25}


def test_knn_join_matches_bruteforce(spark):
    from tsflex_spark.datapipe.similarity import knn_join

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(10, 60)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(3)],
        "q_id long, embedding array<double>",
    )
    out = knn_join(corpus, queries, k=4).toPandas()
    assert len(out) == 12  # 3 queries x 4
    # brute-force in numpy
    import numpy as _np

    C = vecs[10:60]
    Cn = C / _np.linalg.norm(C, axis=1, keepdims=True)
    for qi in range(3):
        qn = vecs[qi] / _np.linalg.norm(vecs[qi])
        scores = Cn @ qn
        expect = list(10 + _np.argsort(-scores)[:4])
        got = list(out[out["q_id"] == qi].sort_values("rank")["vec_id"])
        assert got == expect, (qi, got, expect)

    # the driver-collect assumption is guarded: an oversized query table
    # errors with a pointer at the bucketed ANN paths, and the small-
    # query path is unchanged by the guard
    with pytest.raises(ValueError, match="max_queries"):
        knn_join(corpus, queries, k=4, max_queries=2)
    ok = knn_join(corpus, queries, k=4, max_queries=3).toPandas()
    assert len(ok) == 12

    # euclidean metric: same BLAS kernel, ascending squared distance
    out_e = knn_join(corpus, queries, k=4, metric="euclidean").toPandas()
    assert list(out_e.columns) == ["q_id", "vec_id", "d2", "rank"]
    for qi in range(3):
        d2 = ((C - vecs[qi]) ** 2).sum(axis=1)
        expect = list(10 + _np.argsort(d2, kind="stable")[:4])
        got_rows = out_e[out_e["q_id"] == qi].sort_values("rank")
        assert list(got_rows["vec_id"]) == expect, (qi, list(got_rows["vec_id"]), expect)
        assert _np.allclose(_np.sort(got_rows["d2"]), _np.sort(d2)[:4])
    with pytest.raises(ValueError, match="metric"):
        knn_join(corpus, queries, k=4, metric="manhattan")


def test_knn_join_typed_ids_and_d2_clamp(spark):
    """String/int32 id columns keep their types end-to-end, and the
    expanded euclidean form never emits negative d2 for identical
    vectors (float cancellation clamp)."""
    from tsflex_spark.datapipe.similarity import knn_join

    v = [0.1234567891234567, -0.7654321987654321, 0.3333333333333333]
    corpus = spark.createDataFrame(
        [("doc-a", v), ("doc-b", [x * 1.0000000000000002 for x in v])],
        "doc string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(7, v)], "qid int, embedding array<double>"
    )
    out = knn_join(
        corpus, queries, k=2, id_col="doc", q_id_col="qid", metric="euclidean"
    )
    assert [f.dataType.simpleString() for f in out.schema[:2]] == ["int", "string"]
    pdf = out.toPandas().sort_values("rank")
    assert list(pdf["doc"]) == ["doc-a", "doc-b"]
    assert (pdf["d2"] >= 0).all()
    # empty-query early return carries the same typed schema
    eq = spark.createDataFrame([], "qid int, embedding array<double>")
    empty = knn_join(corpus, eq, k=2, id_col="doc", q_id_col="qid")
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema[:2]] == ["int", "string"]


def test_clean_corpus_pipeline(spark):
    from tsflex_spark.datapipe.pipeline import clean_corpus

    good = ("The quick brown fox jumps over the lazy dog and then keeps "
            "running through the field for a while longer today. ") * 3
    docs = spark.createDataFrame(
        [
            (1, good),                       # survives
            (2, good),                       # exact duplicate -> deduped
            (3, "x y " * 40),                # pathological 2-gram repetition
            (4, "9999 99999999 999"),        # digits, no stopwords -> low quality
            (5, ("line one here\n" * 8) + "the end of the doc is this and "
                 "that was all of the things we said today ok"),  # dup lines
            (6, good + " tiny trailing change here."),  # near-dup of 1
        ],
        "doc_id long, text string",
    )
    # audit mode: every doc gets a verdict, dedup not applied
    audit = clean_corpus(docs, annotate_only=True).toPandas().set_index("doc_id")
    assert bool(audit.loc[1, "keep"]) and bool(audit.loc[2, "keep"])
    assert audit.loc[3, "reject_reason"] == "repetition_ngrams"
    assert audit.loc[4, "reject_reason"] == "quality"
    assert audit.loc[5, "reject_reason"] == "repetition_lines"
    # full pipeline: filters + exact dedup + near-dedup
    kept = sorted(
        r["doc_id"]
        for r in clean_corpus(docs, near_dup_threshold=0.8).select("doc_id").collect()
    )
    assert kept == [1]
    # line-dedup stage: with the repetition filters loosened so two docs
    # sharing a boilerplate line survive, keep_first strips the SECOND
    # doc's copy of the shared line
    shared = "this exact shared boilerplate navigation line appears in both"
    docs2 = spark.createDataFrame(
        [(1, shared + "\n" + good), (2, shared + "\n" + good + " different tail here")],
        "doc_id long, text string",
    )
    out2 = clean_corpus(
        docs2, near_dup_threshold=None, exact=False,
        line_dedup="keep_first", line_dedup_min_chars=16,
    ).toPandas().set_index("doc_id")
    assert out2.loc[1, "text"].startswith(shared)
    assert shared not in out2.loc[2, "text"]


def test_dedup_exact_stream(spark, tmp_path):
    from tsflex_spark.datapipe.dedup import dedup_exact_stream

    ts = pd.date_range("2024-01-01", periods=6, freq="1s")
    pdf = pd.DataFrame(
        {"ts": ts, "text": ["a", "b", "a", "c", "b", "d"], "doc_id": range(6)}
    )
    src = str(tmp_path / "dd_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, text string, doc_id long").parquet(src)
    out_df = dedup_exact_stream(stream, "text", ts_col="ts", delay="1 minute")
    sink = str(tmp_path / "dd_sink")
    q = (
        out_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas()
    assert sorted(out["text"]) == ["a", "b", "c", "d"]


def test_connected_components_property_vs_union_find(spark):
    """Property test: on random edge sets the distributed large-star/
    small-star result must equal a driver-side union-find oracle."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.datapipe.dedup import connected_components

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # min label per component
        comp = {}
        for n in list(parent):
            comp[n] = find(n)
        # find() roots are already the min id because unions always point
        # larger roots at smaller ones
        return comp

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=1,
            max_size=40,
        )
    )
    def check(edges):
        real = [(u, v) for u, v in edges if u != v]
        if not real:
            return
        expect = union_find(real)
        pairs = spark.createDataFrame(real, "id_a long, id_b long")
        got = {
            (r["node"], r["component"])
            for r in connected_components(pairs, driver_threshold=None).collect()
        }
        assert got == set(expect.items())
        # the adaptive driver fast path must agree exactly
        fast = {
            (r["node"], r["component"])
            for r in connected_components(pairs).collect()
        }
        assert fast == got

    check()


def test_ivf_index_persist_and_partition_pruned_search(spark, tmp_path):
    from tsflex_spark.datapipe.similarity import (
        IVFIndex,
        ivf_search_parquet,
        ivf_topk,
        ivf_train,
        ivf_write,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(200, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    idx = ivf_train(corpus, nlist=8, seed=7)
    # save/load round-trip
    p = str(tmp_path / "ivf_index")
    idx.save(p)
    idx2 = IVFIndex.load(p)
    assert (idx.centroids == idx2.centroids).all()
    assert idx2.vec_col == "embedding" and idx2.id_col == "vec_id"

    # write partitioned by cell; search prunes partitions at plan time
    layout = str(tmp_path / "ivf_corpus")
    ivf_write(corpus, idx2, layout)
    q = [float(x) for x in vecs[0]]
    res = ivf_search_parquet(spark, idx2, layout, q, k=5, nprobe=3)
    got = [r["vec_id"] for r in res.collect()]
    assert got[0] == 0  # the query vector itself is its own nearest
    # probing must match the per-call path on identical centroids/probe
    same = ivf_topk(corpus, q, k=5, nlist=8, nprobe=3, seed=7)
    assert got == [r["vec_id"] for r in same.collect()]
    # plan-time pruning: the scan's partition filters reference __cell
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "__cell" in plan


def test_range_join_intervals(spark):
    from tsflex_spark.relational import range_join

    events = spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 10), ("b", 5), ("b", 99)],
        "k string, t long",
    )
    intervals = spark.createDataFrame(
        [
            ("a", 0, 6, "i1"),     # catches t=1,5
            ("a", 4, 11, "i2"),    # catches t=5,10 (overlap with i1 at 5)
            ("b", 5, 6, "i3"),     # catches t=5 (half-open: 5 in, 6 out)
            ("b", 7, 7, "i4"),     # empty interval -> nothing
        ],
        "k string, s long, e long, name string",
    )
    out = range_join(
        events, intervals, left_on="t", right_start="s", right_end="e", by=["k"]
    ).toPandas()
    got = sorted(zip(out["k"], out["t"], out["name"]))
    assert got == [
        ("a", 1, "i1"), ("a", 5, "i1"), ("a", 5, "i2"), ("a", 10, "i2"),
        ("b", 5, "i3"),
    ]
    # left join keeps the unmatched event with NULL interval cols
    lout = range_join(
        events, intervals, left_on="t", right_start="s", right_end="e",
        by=["k"], how="left",
    ).toPandas()
    assert len(lout) == 6
    miss = lout[lout["name"].isna()]
    assert list(miss["t"]) == [99]
    # plan: equi-join on buckets, never a nested loop
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        range_join(events, intervals, left_on="t", right_start="s",
                   right_end="e", by=["k"]).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_range_join_timestamps(spark):
    from tsflex_spark.relational import range_join

    ev = spark.createDataFrame(
        pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=10, freq="1min")})
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "start": [pd.Timestamp("2024-01-01 00:02")],
                "end": [pd.Timestamp("2024-01-01 00:05")],
                "tag": ["w"],
            }
        )
    )
    out = range_join(ev, iv, left_on="ts", right_start="start", right_end="end").toPandas()
    assert sorted(t.minute for t in out["ts"]) == [2, 3, 4]


def test_approx_n_unique_batch_and_stream(spark, tmp_path):
    """approx_n_unique (HLL sketch) works in batch calculate AND in
    calculate_streaming (where exact n_unique is rejected)."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    ts = pd.date_range("2024-01-01", periods=120, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": [float(i % 7) for i in range(120)]})
    sdf = spark.createDataFrame(pdf)
    fc = FeatureCollection([FeatureDescriptor("approx_n_unique", "v", "60s", "60s")])
    out = fc.calculate(sdf, ts_col="ts", approve_sparsity=True).toPandas()
    # 7 distinct values; HLL at rsd=0.05 is exact at this cardinality
    assert set(out["v__approx_n_unique__w=1m"]) == {7.0}

    src = str(tmp_path / "anu_src")
    sdf.write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    feats = fc.calculate_streaming(stream, watermark="0 seconds")
    sink = str(tmp_path / "anu_sink")
    q = (
        feats.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "anu_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sout = spark.read.parquet(sink).toPandas()
    assert len(sout) >= 1 and set(sout["v__approx_n_unique__w=1m"]) == {7}


def test_chunk_documents_budget_and_overlap(spark):
    from tsflex_spark.datapipe.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                                # fits in one chunk
            (3, ""),                                     # empty -> one empty chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "text", "doc_id", max_tokens=4, overlap=1).toPandas()
    d1 = out[out["doc_id"] == 1].sort_values("chunk_id")
    # stride 3: ceil((10-1)/3) = 3 chunks at offsets 0,3,6 - full coverage
    assert list(d1["chunk_id"]) == [0, 1, 2]
    assert list(d1["n_chunk_tokens"]) == [4, 4, 4]
    assert d1.iloc[0]["chunk_text"] == "t0 t1 t2 t3"
    assert d1.iloc[1]["chunk_text"] == "t3 t4 t5 t6"   # 1-token overlap
    assert d1.iloc[2]["chunk_text"] == "t6 t7 t8 t9"
    # overlapped reconstruction covers every token exactly
    assert len(out[out["doc_id"] == 2]) == 1
    assert out[out["doc_id"] == 2].iloc[0]["chunk_text"] == "a b c"
    d3 = out[out["doc_id"] == 3]
    assert len(d3) == 1 and d3.iloc[0]["n_chunk_tokens"] == 0


def test_chunk_documents_no_shuffle(spark):
    from tsflex_spark.datapipe.text import chunk_documents
    import contextlib, io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        chunk_documents(docs, "text", "doc_id", max_tokens=128).explain("formatted")
    plan = buf.getvalue()
    # narrow pipeline: no aggregation/join shuffle — the only permissible
    # exchange is fan_out's round-robin for single-row-group inputs
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_materialize_packed_sequences(spark):
    from tsflex_spark.datapipe.text import materialize_packed

    rows = [
        # bin 0: two docs (order by doc_id), 3+1 and 2+1 tokens with EOS
        (1, 0, [10, 11, 12]),
        (2, 0, [20, 21]),
        # bin 1: one doc that overflows seq_len after EOS -> truncated
        (3, 1, [30, 31, 32, 33, 34, 35, 36, 37]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, bin_id long, ids array<int>")
    out = {
        r["bin_id"]: r
        for r in materialize_packed(
            df, "ids", seq_len=8, eos_id=99, pad_id=0
        ).collect()
    }
    b0 = out[0]
    assert b0["input_ids"] == [10, 11, 12, 99, 20, 21, 99, 0]
    assert b0["segment_ids"] == [0, 0, 0, 0, 1, 1, 1, -1]
    assert b0["n_docs"] == 2 and b0["n_tokens"] == 7
    b1 = out[1]
    assert b1["input_ids"] == [30, 31, 32, 33, 34, 35, 36, 37]  # EOS truncated
    assert b1["segment_ids"] == [0] * 8
    assert b1["n_docs"] == 1 and b1["n_tokens"] == 8
    # deterministic under repartitioning
    again = {
        r["bin_id"]: r["input_ids"]
        for r in materialize_packed(
            df.repartition(7), "ids", seq_len=8, eos_id=99, pad_id=0
        ).collect()
    }
    assert again == {k: v["input_ids"] for k, v in out.items()}


def test_pack_sequences_ffd(spark):
    from tsflex_spark.datapipe.text import pack_sequences

    rows = [(i, s) for i, s in enumerate([900, 700, 600, 400, 300, 300, 100, 50, 1200])]
    df = spark.createDataFrame(rows, "chunk_id long, n_tok long").repartition(2)
    out = pack_sequences(df, "n_tok", budget=1000).toPandas()
    assert len(out) == 9 and out["bin_id"].notna().all()
    fills = out.groupby("bin_id")["n_tok"].sum()
    # every bin respects the budget except singleton-oversized bins
    per_bin_counts = out.groupby("bin_id").size()
    for bin_id, fill in fills.items():
        assert fill <= 1000 or per_bin_counts[bin_id] == 1
    # the 1200 chunk sits alone
    big_bin = out[out["n_tok"] == 1200]["bin_id"].iloc[0]
    assert per_bin_counts[big_bin] == 1
    # packing actually packs: fewer bins than rows
    assert len(fills) < 9


def test_pack_sequences_deterministic(spark):
    """deterministic=True bins depend only on the data: any input
    partitioning reproduces the exact assignment, bins respect the
    budget, and a single-python FFD replay per bucket matches."""
    import numpy as np
    from pyspark.sql import functions as F
    from tsflex_spark.datapipe.text import pack_sequences
    from tsflex_spark.utils.xxh import hash_long

    rng = np.random.default_rng(7)
    rows = [(int(i), int(s)) for i, s in enumerate(rng.integers(10, 900, 400))]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = pack_sequences(
        df, "n_tok", budget=1000, deterministic=True,
        id_col="doc_id", num_buckets=8,
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    # 1) partition-independence: 1 partition and 13 partitions agree
    for nparts in (1, 13):
        again = pack_sequences(
            df.repartition(nparts), "n_tok", budget=1000, deterministic=True,
            id_col="doc_id", num_buckets=8,
        ).toPandas().sort_values("doc_id").reset_index(drop=True)
        assert (again["bin_id"] == out["bin_id"]).all()
    # 2) budget respected except singleton-oversize bins
    fills = out.groupby("bin_id")["n_tok"].sum()
    per_bin = out.groupby("bin_id").size()
    assert ((fills <= 1000) | (per_bin == 1)).all()
    # 3) exact python replay: FFD per bucket over (n_tok desc, id asc)
    for doc_id, n_tok, bin_id in out.itertuples(index=False):
        assert (bin_id >> 40) == hash_long(doc_id, 42) % 8
    import pandas as pd

    pdf = out.copy()
    pdf["bkt"] = pdf["bin_id"].to_numpy() >> 40
    for bkt, grp in pdf.groupby("bkt"):
        grp = grp.sort_values(["n_tok", "doc_id"], ascending=[False, True])
        remaining, expect = [], []
        for sz in grp["n_tok"]:
            for j, cap in enumerate(remaining):
                if cap >= sz:
                    remaining[j] = cap - sz
                    expect.append(j)
                    break
            else:
                remaining.append(max(1000 - sz, 0))
                expect.append(len(remaining) - 1)
        assert ((grp["bin_id"].to_numpy() & ((1 << 40) - 1)) == expect).all()
    # 4) requires id_col
    try:
        pack_sequences(df, "n_tok", budget=1000, deterministic=True)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_deterministic_split_and_stratified_sample(spark):
    from tsflex_spark.datapipe.curation import deterministic_split, stratified_sample

    df = spark.createDataFrame([(i,) for i in range(10000)], "id long")
    out = deterministic_split(df, "id", [0.8, 0.1, 0.1])
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 8000) < 300
    assert abs(counts["val"] - 1000) < 150 and abs(counts["test"] - 1000) < 150
    # stability: same assignment on a reshuffled frame
    again = deterministic_split(df.repartition(13), "id", [0.8, 0.1, 0.1])
    assert out.select("id", "split").exceptAll(again.select("id", "split")).count() == 0
    # adding rows never moves existing ids
    bigger = deterministic_split(
        spark.createDataFrame([(i,) for i in range(20000)], "id long"),
        "id", [0.8, 0.1, 0.1],
    )
    moved = (
        out.select("id", "split").alias("a")
        .join(bigger.select("id", F.col("split").alias("s2")), "id")
        .where(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved == 0

    strat = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(10000)], "id long, lang string"
    )
    samp = stratified_sample(strat, "lang", {"en": 0.5, "de": 0.1}, id_col="id")
    by = {r["lang"]: r["count"] for r in samp.groupBy("lang").count().collect()}
    assert abs(by["en"] - 2500) < 200 and abs(by["de"] - 500) < 120


def test_leakage_safe_split(spark):
    from tsflex_spark.datapipe.curation import deterministic_split, leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    # near-dup pairs: a 3-chain {0,1,2} plus 200 straddle-prone pairs
    pairs = [(0, 1), (1, 2)] + [(10 + 2 * i, 11 + 2 * i) for i in range(200)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")

    out = leakage_safe_split(docs, "doc_id", [0.8, 0.1, 0.1], edges=edges).toPandas()
    by_id = dict(zip(out["doc_id"], out["split"]))
    # every cluster is split-pure: the chain and each pair agree
    assert by_id[0] == by_id[1] == by_id[2]
    for a, b in pairs:
        assert by_id[a] == by_id[b], (a, b)
    # proportions still roughly honor the weights
    counts = out["split"].value_counts()
    assert abs(counts.get("train", 0) - 1600) < 200
    # row-id splitting (the thing this op replaces) DOES split some pair
    naive = deterministic_split(docs, "doc_id", [0.8, 0.1, 0.1]).toPandas()
    nv = dict(zip(naive["doc_id"], naive["split"]))
    assert any(nv[a] != nv[b] for a, b in pairs)
    # precomputed-labels form matches the edges form
    from tsflex_spark.datapipe.dedup import connected_components

    labels = connected_components(edges, "id_a", "id_b")
    out2 = leakage_safe_split(
        docs, "doc_id", [0.8, 0.1, 0.1], cluster_labels=labels
    ).toPandas()
    assert dict(zip(out2["doc_id"], out2["split"])) == by_id
    # exactly one of edges/cluster_labels must be given
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        leakage_safe_split(docs, "doc_id", [0.8, 0.2], edges=edges, cluster_labels=labels)
    with _pytest.raises(ValueError, match="exactly one"):
        leakage_safe_split(docs, "doc_id", [0.8, 0.2])


def test_decontaminate_flags_overlap(spark):
    from tsflex_spark.datapipe.decontam import decontaminate, drop_contaminated

    # eval doc shares an exact 8-token span with doc 1; doc 2 is clean
    span = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {span} trailing content tail"),
            (2, "completely different tokens nothing shared at all here ok"),
            (3, ""),  # empty doc -> 0/0/0.0, not contaminated
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(f"benchmark question mentions {span} inside the prompt",)], "text string"
    )
    out = decontaminate(docs, ev, n=8).orderBy("doc_id").collect()
    assert [r["contaminated"] for r in out] == [True, False, False]
    assert out[0]["n_hits"] >= 1
    # doc with 9 tokens around the span: n_ngrams = 9 - 8 + 1 + extra
    assert out[1]["n_hits"] == 0 and out[1]["n_ngrams"] > 0
    assert out[2]["n_ngrams"] == 0 and out[2]["hit_frac"] == 0.0

    kept = drop_contaminated(docs, ev, n=8)
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == [2, 3]


def test_decontaminate_case_and_whitespace_normalized(spark):
    from tsflex_spark.datapipe.decontam import decontaminate

    docs = spark.createDataFrame(
        [(1, "The  Quick\tBrown Fox Jumps Over The Lazy")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy",)], "text string"
    )
    row = decontaminate(docs, ev, n=8).collect()[0]
    assert row["contaminated"] and row["n_hits"] == 1 and row["n_ngrams"] == 1


def test_word_ngram_rows_short_doc_clamp(spark):
    from tsflex_spark.datapipe.decontam import word_ngram_rows

    docs = spark.createDataFrame([(1, "only three tokens")], "doc_id long, text string")
    # doc shorter than n -> exactly one gram (the whole token sequence)
    assert word_ngram_rows(docs, "text", "doc_id", n=8).count() == 1


def test_top_ngrams_counter_parity(spark):
    from collections import Counter

    from tsflex_spark.datapipe.text import top_ngrams

    texts = [
        "click here to subscribe now",
        "please click here to subscribe today",
        "click here to unsubscribe",
        "totally unrelated sentence about cats",
        "to be or not to be",
        "ab",  # shorter than n=3 -> contributes nothing
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = top_ngrams(docs, n=3, k=5, id_col="doc_id", min_count=1).toPandas()
    # python oracle
    c = Counter()
    reach = {}
    for i, t in enumerate(texts):
        toks = t.lower().split()
        grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        c.update(grams)
        for g in set(grams):
            reach.setdefault(g, set()).add(i)
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert list(zip(out["ngram"], out["count"])) == top
    # approx_count_distinct is exact at these cardinalities
    for g, nd in zip(out["ngram"], out["n_docs"]):
        assert nd == len(reach[g]), g
    # "click here to" appears 3x across 3 docs and must rank first
    assert out["ngram"].iloc[0] == "click here to" and out["count"].iloc[0] == 3
    # min_count prunes the singleton tail
    pruned = top_ngrams(docs, n=3, k=50, id_col="doc_id", min_count=2).toPandas()
    assert set(pruned["count"]) == {3} or (pruned["count"] >= 2).all()
    # by_docs ranks by reach; requires id_col
    byd = top_ngrams(docs, n=3, k=3, id_col="doc_id", by_docs=True, min_count=1).toPandas()
    assert byd["ngram"].iloc[0] == "click here to"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="by_docs"):
        top_ngrams(docs, n=3, k=3, by_docs=True)
    # no id_col: counts only
    noid = top_ngrams(docs, n=3, k=5, min_count=1).toPandas()
    assert list(noid.columns) == ["ngram", "count"]


def test_mix_sources_proportions_and_determinism(spark):
    from tsflex_spark.datapipe.curation import mix_sources

    rows = [(i, "web") for i in range(6000)] + [(i + 10_000, "books") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, source string")
    out = mix_sources(df, "source", {"web": 0.5, "books": 0.5}, id_col="id")
    by = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    # books is limiting (1000 / 0.5): both sources target ~1000 rows
    assert by["books"] == 1000  # limiting source keeps everything
    assert abs(by["web"] - 1000) < 150  # hash sampling tolerance
    # deterministic: same ids survive under a different partitioning
    again = mix_sources(df.repartition(17), "source", {"web": 0.5, "books": 0.5}, id_col="id")
    assert out.select("id").exceptAll(again.select("id")).count() == 0
    # unlisted sources are dropped
    df2 = df.union(spark.createDataFrame([(99_999, "spam")], "id long, source string"))
    out2 = mix_sources(df2, "source", {"web": 0.5, "books": 0.5}, id_col="id")
    assert out2.where(F.col("source") == "spam").count() == 0


def test_redact_pii_patterns(spark):
    from tsflex_spark.datapipe.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call (555) 123-4567"),
            (2, "ssn 123-45-6789 from 10.0.0.1 card 4111 1111 1111 1111"),
            (3, "nothing sensitive here at all"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in redact_pii(df, "text", count_col="n_pii").collect()}
    assert "<EMAIL>" in out[1]["text"] and "<PHONE>" in out[1]["text"]
    assert "jane.doe" not in out[1]["text"]
    assert "<SSN>" in out[2]["text"] and "<IP>" in out[2]["text"] and "<CC>" in out[2]["text"]
    assert "123-45-6789" not in out[2]["text"]
    assert out[3]["text"] == "nothing sensitive here at all" and out[3]["n_pii"] == 0
    assert out[1]["n_pii"] == 2 and out[2]["n_pii"] == 3

    # subset selection + separate output column leaves the original intact
    sub = redact_pii(df, "text", out_col="clean", kinds=["email"]).collect()
    r2 = [r for r in sub if r["id"] == 2][0]
    assert r2["clean"] == r2["text"]  # no email in row 2 -> untouched


def test_clean_corpus_new_stages(spark):
    from tsflex_spark.datapipe.pipeline import clean_corpus

    good = ("The quick brown fox jumps over the lazy dog and then keeps "
            "running through the field for a while longer today. ") * 3
    span = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + f" email me at a@b.co now {span} please and thank you"),
            (3, good * 40),  # extreme length outlier
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(f"benchmark with {span} inside",)], "text string")
    audit = clean_corpus(
        docs,
        annotate_only=True,
        scrub_pii=True,
        length_band=(0.0, 0.9),
        eval_df=ev,
        near_dup_threshold=None,
        exact=False,
    ).toPandas().set_index("doc_id")
    assert bool(audit.loc[1, "keep"])
    assert audit.loc[2, "reject_reason"] == "contaminated"
    assert "a@b.co" not in audit.loc[2, "text"] and "<EMAIL>" in audit.loc[2, "text"]
    assert audit.loc[3, "reject_reason"] == "length_band"
    assert "__blo" not in audit.columns

    kept = clean_corpus(
        docs, scrub_pii=True, length_band=(0.0, 0.9), eval_df=ev,
        near_dup_threshold=None, exact=False,
    )
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [1]
    assert kept.columns == docs.columns


def test_decontaminate_empty_eval_set(spark):
    from tsflex_spark.datapipe.decontam import decontaminate

    docs = spark.createDataFrame(
        [(1, "some words in a row here repeated some words in a row")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([], "text string")
    row = decontaminate(docs, ev, n=4).collect()[0]
    assert row["n_hits"] == 0 and not row["contaminated"] and row["n_ngrams"] > 0


def test_exact_quantiles_empty_and_single(spark):
    from tsflex_spark.utils.distributed import exact_quantiles

    empty = spark.createDataFrame([], "v long")
    rows = exact_quantiles(empty, "v", [0.5]).collect()
    # empty input: the quantile row exists but carries no value
    assert len(rows) == 1 and rows[0]["value"] is None

    one = spark.createDataFrame([(7,)], "v long")
    got = exact_quantiles(one, "v", [0.0, 0.5, 1.0]).collect()
    assert all(r["value"] == 7.0 for r in got)


def test_text_ops_run_on_streams(spark, tmp_path):
    """quality_score / redact_pii / language_id are narrow (no shuffle,
    no agg) — the SAME functions must run unchanged on a readStream."""
    from tsflex_spark.datapipe.text import quality_score, redact_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "the quick brown fox and the lazy dog are friends of the crew",
                "contact me at spam@example.com for details about the offer",
            ],
        }
    )
    src = str(tmp_path / "txt_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out_df = redact_pii(quality_score(stream, "text", id_col="doc_id")
                        .join(stream, "doc_id"), "text")
    sink = str(tmp_path / "txt_sink")
    q = (
        out_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "txt_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas().set_index("doc_id")
    assert "<EMAIL>" in out.loc[2, "text"]
    assert 0.0 <= out.loc[1, "quality_score"] <= 1.0


def test_duplicate_spans_finds_shared_passage(spark):
    from tsflex_spark.datapipe.dedup import duplicate_spans

    passage = " ".join(f"p{i}" for i in range(12))  # 12-token shared passage
    docs = spark.createDataFrame(
        [
            (1, "u1 u2 u3 " + passage + " t1 t2"),
            (2, "v1 v2 v3 v4 " + passage + " w1"),
            (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14"),  # unique
            (4, "short doc"),  # < n tokens -> no grams at all
        ],
        "doc_id long, text string",
    )
    out = duplicate_spans(docs, "text", "doc_id", n=8).orderBy("doc_id").collect()
    by = {r["doc_id"]: r for r in out}
    assert set(by) == {1, 2}
    # doc 1: passage tokens occupy indices 3..14 -> first shared 8-gram
    # starts at 3, last at 7 (14-8+1? passage spans 3..14, grams fully
    # inside the passage: starts 3..7) -> span_end = 7 + 8 - 1 = 14
    assert by[1]["span_start"] == 3 and by[1]["span_end"] == 14
    assert by[2]["span_start"] == 4 and by[2]["span_end"] == 15
    assert by[1]["n_grams"] == 5 and by[2]["n_grams"] == 5


def test_duplicate_spans_within_doc_repeat(spark):
    from tsflex_spark.datapipe.dedup import duplicate_spans

    rep = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, rep + " mid1 mid2 " + rep)], "doc_id long, text string"
    )
    out = duplicate_spans(docs, "text", "doc_id", n=8).collect()
    # the repeated 8-token block appears twice inside one doc -> two spans
    assert len(out) == 2
    assert {(r["span_start"], r["span_end"]) for r in out} == {(0, 7), (10, 17)}


def test_remove_duplicate_spans_keeps_one_occurrence(spark):
    from tsflex_spark.datapipe.dedup import remove_duplicate_spans

    passage = " ".join(f"p{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 " + passage + " a3"),      # canonical (min id)
            (2, "b1 " + passage + " b2 b3"),      # loses the passage
            (3, "c1 c2 c3 unique words only here c4 c5 c6"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(docs, "text", "doc_id", n=8).collect()
    }
    assert out[1] == "a1 a2 " + passage + " a3"
    assert out[2] == "b1 b2 b3"
    assert out[3] == "c1 c2 c3 unique words only here c4 c5 c6"


def test_remove_duplicate_spans_within_doc(spark):
    from tsflex_spark.datapipe.dedup import remove_duplicate_spans

    rep = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, rep + " mid " + rep)], "doc_id long, text string"
    )
    out = remove_duplicate_spans(docs, "text", "doc_id", n=8).collect()[0]["text"]
    # first occurrence survives, second is cut
    assert out == rep + " mid"


def test_winnow_candidates_partial_overlap(spark):
    from tsflex_spark.datapipe.text import winnow_candidates

    shared = "the identical boilerplate license header text block appears here verbatim"
    docs = spark.createDataFrame(
        [
            (1, shared + " plus document one specific content tail"),
            (2, "doc two intro " + shared),
            (3, "entirely unrelated words with zero overlap whatsoever present"),
        ],
        "doc_id long, text string",
    )
    out = winnow_candidates(docs, "text", "doc_id", min_shared=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2) and r["n_shared"] >= 2


def test_semantic_dedup_explicit_cells_vs_numpy(spark):
    """SemDeDup with explicit cells must equal a numpy brute-force
    per-cell cosine + union-find oracle (including transitive closure:
    A~B, B~C => {A,B,C} one group, min id kept)."""
    from tsflex_spark.datapipe.dedup import semantic_dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(4, 8))
    rows = []
    # cell 0: three near-identical vectors (transitive chain) + one far
    for i, eps in enumerate((0.0, 0.01, 0.02)):
        rows.append((i, 0, (base[0] + eps * base[1]).tolist()))
    rows.append((3, 0, base[2].tolist()))
    # cell 1: a dup pair that would ALSO match vec 0 — but sits in
    # another cell, so SemDeDup (by design) must not link across cells
    rows.append((4, 1, base[0].tolist()))
    rows.append((5, 1, (base[0] * 1.001).tolist()))
    rows.append((6, 1, base[3].tolist()))
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    surv = semantic_dedup(df, 0.95, cell_col="cell")
    assert sorted(r["vec_id"] for r in surv.select("vec_id").collect()) == [0, 3, 4, 6]
    aud = semantic_dedup(df, 0.95, cell_col="cell", audit=True).toPandas()
    aud = aud.set_index("vec_id").sort_index()
    assert list(aud["is_dup"]) == [False, True, True, False, False, True, False]
    assert aud.loc[1, "component"] == 0 and aud.loc[5, "component"] == 4


def test_semantic_dedup_ivf_cells_and_blocked_gemm(spark):
    """IVF-cell path: a pre-built quantizer (no training nondeterminism)
    routes rows to cells; tiny block_rows exercises the tiled GEMM."""
    from tsflex_spark.datapipe.dedup import semantic_dedup, semantic_pairs
    from tsflex_spark.datapipe.similarity import IVFIndex, ivf_assign

    rng = np.random.default_rng(5)
    c0, c1 = np.array([10.0] + [0.0] * 7), np.array([0.0] * 7 + [10.0])
    rows = []
    for i in range(12):
        center = c0 if i % 2 == 0 else c1
        rows.append((i, (center + rng.normal(0, 0.01, 8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = IVFIndex(np.stack([c0, c1]), vec_col="embedding", id_col="vec_id")
    surv = semantic_dedup(df, 0.999, index=index)
    # every same-center vector is a near-dup => one survivor per cell
    assert sorted(r["vec_id"] for r in surv.select("vec_id").collect()) == [0, 1]
    # tiled GEMM (block_rows=2) must equal the single-tile result
    cells = ivf_assign(df, index, out_col="c")
    p_small = semantic_pairs(cells, 0.999, cell_col="c", block_rows=2).toPandas()
    p_big = semantic_pairs(cells, 0.999, cell_col="c", block_rows=4096).toPandas()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b"]].to_numpy()))
    assert key(p_small) == key(p_big) and len(p_small) == 2 * (6 * 5 // 2)


def test_semantic_dedup_string_ids(spark):
    from tsflex_spark.datapipe.dedup import semantic_dedup

    df = spark.createDataFrame(
        [
            ("doc-b", 0, [1.0, 0.0]),
            ("doc-a", 0, [1.0, 0.001]),
            ("doc-c", 0, [0.0, 1.0]),
        ],
        "vec_id string, cell int, embedding array<double>",
    )
    surv = semantic_dedup(df, 0.99, cell_col="cell")
    # min id keeps doc-a (lexicographic), drops doc-b
    assert sorted(r["vec_id"] for r in surv.select("vec_id").collect()) == [
        "doc-a",
        "doc-c",
    ]


def test_approx_quantile_native(spark):
    """approx_quantile (percentile_approx sketch) tracks the exact
    quantile; at default accuracy it is exact on window-sized data."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper

    ts = pd.date_range("2024-01-01", periods=240, freq="1s")
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"ts": ts, "v": rng.normal(0, 1, 240)})
    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper("approx_quantile", output_names="ap50", q=0.5), "v", "60s", "60s"
            ),
            FeatureDescriptor(
                FuncWrapper("quantile", output_names="ex50", q=0.5), "v", "60s", "60s"
            ),
        ]
    )
    out = fc.calculate(spark.createDataFrame(pdf), ts_col="ts", approve_sparsity=True).toPandas()
    # sketch default accuracy -> exact at n=60; allow tiny rank slack
    assert np.allclose(out["v__ap50__w=1m"], out["v__ex50__w=1m"], atol=0.1)


def test_corpus_stats_per_source(spark):
    from tsflex_spark.datapipe.curation import corpus_stats

    docs = spark.createDataFrame(
        [
            (1, "one two three", "web", "en"),
            (2, "vier fünf", "web", "de"),
            (3, "six seven eight nine", "web", "en"),
            (4, "", "books", "en"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    out = (
        corpus_stats(docs, "text", "source", lang_col="lang")
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    web = out.loc["web"]
    assert web["n_docs"] == 3 and web["total_tokens"] == 9
    assert web["n_langs"] == 2 and abs(web["top_lang_share"] - 2 / 3) < 1e-12
    books = out.loc["books"]
    assert books["n_docs"] == 1 and books["total_tokens"] == 0


def test_orc_round_trip(spark, tmp_path):
    from tsflex_spark.sources import read_orc, write_orc

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=10, freq="1h"),
            "k": ["a", "b"] * 5,
            "v": np.arange(10.0),
        }
    )
    path = str(tmp_path / "orc_rt")
    write_orc(spark.createDataFrame(pdf), path, partition_by=["k"])
    back = read_orc(spark, path)
    got = back.toPandas().sort_values("v").reset_index(drop=True)
    assert len(got) == 10 and list(got["v"]) == list(pdf["v"])
    # hive partitioning survived: filter on k prunes at plan time
    plan = back.where(F.col("k") == "a")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(k" in plan


def test_dedup_exact_priority_keep(spark):
    from tsflex_spark.datapipe.dedup import dedup_exact

    docs = spark.createDataFrame(
        [
            (1, "same text", 2024),
            (2, "same text", 2025),   # newest copy wins
            (3, "same text", 2025),   # priority tie -> min id
            (4, "other", 2020),
        ],
        "doc_id long, text string, dump_year int",
    )
    out = dedup_exact(docs, "text", id_col="doc_id", priority_col="dump_year")
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == [2, 4]
    # without priority: min id
    out2 = dedup_exact(docs, "text", id_col="doc_id")
    assert sorted(r["doc_id"] for r in out2.select("doc_id").collect()) == [1, 4]


def test_bpe_train_and_encode(spark):
    """Sennrich BPE: distributed word-freq train stats, driver merge
    loop, distributed Arrow encode — parity with the per-word greedy
    reference encode, deterministic across reruns."""
    from tsflex_spark.datapipe.bpe import BPETokenizer, bpe_encode, train_bpe

    docs = spark.createDataFrame(
        [
            (1, "low low low low low lower lower"),
            (2, "newest newest newest newest newest newest"),
            (3, "widest widest widest"),
        ],
        "doc_id long, text string",
    )
    tok = train_bpe(docs, "text", num_merges=10)
    tok2 = train_bpe(docs.repartition(7), "text", num_merges=10)
    assert tok.merges == tok2.merges  # partitioning-independent
    # classic result: 'est</w>' forms, then 'low'
    assert ("e", "st</w>") in tok.merges and ("l", "ow") in tok.merges
    out = bpe_encode(docs, "text", "doc_id", tok).toPandas().set_index("doc_id")
    assert list(out.loc[1, "tokens"][:2]) == ["low</w>", "low</w>"]
    # distributed encode == driver encode for every doc
    for doc_id, text in [(1, "low low low low low lower lower")]:
        assert list(out.loc[doc_id, "tokens"]) == tok.encode_text(text)
    assert out.loc[2, "n_tokens"] == 6  # 'newest</w>' fully merged
    # ids mode: stable vocab, round-trippable through the vocab
    ids_out = bpe_encode(docs, "text", "doc_id", tok, ids=True).toPandas()
    inv = {v: k for k, v in tok.vocab.items()}
    row = ids_out.set_index("doc_id").loc[3]
    assert tok.decode([inv[i] for i in row["tokens"]]) == "widest widest widest"


def test_bpe_tokenizer_persist(spark, tmp_path):
    from tsflex_spark.datapipe.bpe import BPETokenizer, train_bpe

    docs = spark.createDataFrame([(1, "aa ab aa ab aa")], "doc_id long, text string")
    tok = train_bpe(docs, "text", num_merges=4)
    p = str(tmp_path / "bpe.json")
    tok.save(p)
    back = BPETokenizer.load(p)
    assert back.merges == tok.merges and back.vocab == tok.vocab
    assert back.encode_text("aa ab") == tok.encode_text("aa ab")


def test_hash_embed_numpy_parity_and_semantic_use(spark):
    """hash_embed must equal the driver-side hashing-trick construction,
    and near-identical texts must land at high cosine (usable by
    semantic_dedup end-to-end from raw text)."""
    from tsflex_spark.datapipe.text import hash_embed

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog!"),
            (3, "entirely different content with no shared trigrams xyz"),
        ],
        "doc_id long, text string",
    )
    out = hash_embed(docs, "text", "doc_id", dim=32).toPandas().set_index("doc_id")
    V = {i: np.array(out.loc[i, "embedding"]) for i in (1, 2, 3)}
    for v in V.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    cos12 = float(V[1] @ V[2])
    cos13 = float(V[1] @ V[3])
    assert cos12 > 0.9 and cos13 < 0.6
    # parity: re-derive doc 1's vector via Spark's own xxhash64 on the
    # driver row set (sign/bucket hashes must match the plan exactly)
    from pyspark.sql import functions as F2

    norm = "the quick brown fox jumps over the lazy dog"
    grams = [norm[i : i + 3] for i in range(len(norm) - 2)]
    gdf = spark.createDataFrame([(g,) for g in grams], "g string").select(
        F2.pmod(F2.xxhash64("g"), F2.lit(32)).alias("b"),
        F2.when(F2.pmod(F2.xxhash64("g", F2.lit(1)), F2.lit(2)) == 0, 1)
        .otherwise(-1)
        .alias("s"),
    )
    acc = np.zeros(32)
    for r in gdf.collect():
        acc[r["b"]] += r["s"]
    acc /= np.linalg.norm(acc)
    assert np.allclose(acc, V[1], atol=1e-9)


def test_clean_corpus_semantic_stage(spark):
    """clean_corpus(semantic_threshold=): paraphrase-level near-dups
    (same vocabulary, different shingle structure) collapse to one."""
    from tsflex_spark.datapipe.pipeline import clean_corpus

    body = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet green field toward the bright morning sun"
    )
    para = (
        "through the quiet green field the quick brown fox keeps running "
        "and jumps over the lazy dog toward the bright morning sun"
    )
    other = (
        "completely unrelated legal boilerplate about indemnification "
        "clauses warranties liabilities jurisdictions and arbitration terms"
    )
    docs = spark.createDataFrame(
        [(1, body), (2, para), (3, other)], "doc_id long, text string"
    )
    out = clean_corpus(
        docs,
        min_quality_score=0.0,
        near_dup_threshold=None,
        semantic_threshold=0.9,
        semantic_cells=1,
    )
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert kept == [1, 3]


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    """dynamic=True replaces ONLY the partitions present in the new
    frame — the idempotent daily-backfill pattern."""
    from tsflex_spark.sources import read_parquet
    from tsflex_spark.sources.io import write_partitioned

    path = str(tmp_path / "feat")
    d1 = spark.createDataFrame(
        [("2024-01-01", 1, 1.0), ("2024-01-02", 2, 2.0)], "ds string, k int, v double"
    )
    write_partitioned(d1, path, partition_by=("ds",))
    # re-run day 2 only, with corrected values
    fix = spark.createDataFrame([("2024-01-02", 2, 99.0)], "ds string, k int, v double")
    write_partitioned(fix, path, partition_by=("ds",), dynamic=True)
    got = read_parquet(spark, path).toPandas().sort_values("ds").reset_index(drop=True)
    assert list(got["v"]) == [1.0, 99.0]  # day 1 untouched, day 2 replaced
    # plain overwrite (no dynamic) would have dropped day 1


def test_bpe_encode_runs_on_stream(spark, tmp_path):
    """bpe_encode is a narrow mapInPandas — a tokenizer trained in batch
    encodes an incoming document stream unchanged (the production shape:
    train once, tokenize forever)."""
    from tsflex_spark.datapipe.bpe import bpe_encode, train_bpe

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["low lower low", "newest low"]})
    batch = spark.createDataFrame(pdf)
    tok = train_bpe(batch, "text", num_merges=8)
    src = str(tmp_path / "bpe_src")
    batch.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    enc = bpe_encode(stream, "text", "doc_id", tok)
    sink = str(tmp_path / "bpe_sink")
    q = (
        enc.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "bpe_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas().set_index("doc_id")
    assert list(out.loc[1, "tokens"]) == tok.encode_text("low lower low")
    assert out.loc[2, "n_tokens"] == len(tok.encode_text("newest low"))


# --- n-gram LM perplexity (datapipe/lm.py) ---------------------------------


def _py_bigram_ppl(train_texts, score_texts):
    """Pure-python reference: Laplace bigram perplexity, micro-nat sums."""
    import math

    def toks(t):
        return [w.lower() for w in t.split() if w != ""]

    pairs, ctx, vocab = {}, {}, set()
    for t in train_texts:
        ws = toks(t)
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    v = len(vocab)
    out = []
    for t in score_texts:
        ws = toks(t)
        s, n = 0, 0
        for a, b in zip(ws, ws[1:]):
            p = (pairs.get((a, b), 0) + 1) / (ctx.get(a, 0) + v)
            s += round(math.log(p) * 1e6)
            n += 1
        # engine quantizes ppl to 6 dp (cross-engine exp ulp discipline)
        ppl = round(math.exp(-(s / 1e6) / n), 6) if n else None
        out.append((n, s, ppl))
    return out


def test_ngram_lm_perplexity_matches_reference(spark):
    from tsflex_spark.datapipe.lm import score_perplexity, train_ngram_lm

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog",
        "single",
        "",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    )
    lm = train_ngram_lm(docs, "text")
    got = (
        score_perplexity(docs, lm, "text")
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    exp = _py_bigram_ppl(texts, texts)
    for i, (n, s, ppl) in enumerate(exp):
        assert got.loc[i, "n_bigrams"] == n
        assert got.loc[i, "sum_logp_e6"] == s
        if ppl is None:
            assert pd.isna(got.loc[i, "ppl"])
        else:
            assert abs(got.loc[i, "ppl"] - ppl) < 1e-9


def test_ngram_lm_cross_corpus_and_hash_keys(spark):
    """Scoring a corpus the LM never saw (all-unseen → p = 1/V exactly),
    and the 8-byte-key join path must reproduce the string join."""
    import math

    from tsflex_spark.datapipe.lm import score_perplexity, train_ngram_lm

    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["the cat sat", "the dog ran"]})
    )
    score = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11], "text": ["völlig neue wörter hier", "the cat sat"]})
    )
    lm = train_ngram_lm(train, "text")
    a = score_perplexity(score, lm, "text").orderBy("doc_id").toPandas()
    b = (
        score_perplexity(score, lm, "text", hash_keys=True, broadcast_model=True)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(a["sum_logp_e6"]) == list(b["sum_logp_e6"])
    # v = 5 distinct train words; unseen bigram/context -> p = 1/5 each
    v = 5
    per = round(math.log(1 / v) * 1e6)
    assert a.loc[a.doc_id == 10, "sum_logp_e6"].iloc[0] == 3 * per


def test_perplexity_filter_keeps_low_ppl(spark):
    from tsflex_spark.datapipe.lm import perplexity_filter, score_perplexity, train_ngram_lm

    texts = ["the cat sat on the mat"] * 4 + ["zq xv qqj zzk pfft glorb"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(5)), "text": texts})
    )
    lm = train_ngram_lm(docs, "text")
    ppl = score_perplexity(docs, lm, "text").toPandas().set_index("doc_id")
    assert ppl.loc[4, "ppl"] > ppl.loc[0, "ppl"]  # gibberish scores worse
    cut = (ppl.loc[0, "ppl"] + ppl.loc[4, "ppl"]) / 2
    kept = perplexity_filter(docs, lm, "text", max_ppl=cut)
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == [0, 1, 2, 3]


def test_perplexity_scores_a_stream(spark, tmp_path):
    """The join-based scorer needs a per-doc aggregation (not append-safe
    on streams); the narrow Arrow scorer carries the bounded model in the
    task closure, derives each output row from one input row, and so runs
    unchanged on a stream — AND must be sum-for-sum equal to the join
    path on the same docs."""
    from tsflex_spark.datapipe.lm import (
        NGramLM,
        collect_model,
        score_perplexity,
        score_perplexity_local,
        train_ngram_lm,
    )

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["the cat sat on the mat", "zq xv glorb", ""]}
    )
    batch = spark.createDataFrame(pdf)
    lm = train_ngram_lm(batch, "text")
    mpath = str(tmp_path / "lm")
    lm.save(mpath)
    local = collect_model(NGramLM.load(spark, mpath))

    src = str(tmp_path / "lm_src")
    batch.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    scored = score_perplexity_local(stream, local, "text")
    sink = str(tmp_path / "lm_sink")
    q = (
        scored.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "lm_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink).toPandas().set_index("doc_id").sort_index()
    exp = score_perplexity(batch, lm, "text").toPandas().set_index("doc_id").sort_index()
    assert list(got["sum_logp_e6"]) == list(exp["sum_logp_e6"])
    assert list(got["n_bigrams"]) == list(exp["n_bigrams"])
    # both paths quantize ppl to 6 dp -> bit-equal (NaN == NaN via fillna)
    assert list(got["ppl"].fillna(-1.0)) == list(exp["ppl"].fillna(-1.0))


# --- DSIR importance resampling (datapipe/dsir.py) -------------------------


def test_dsir_weights_favor_target_like_docs(spark):
    from tsflex_spark.datapipe.dsir import fit_bucket_logratio, importance_weights

    target = spark.createDataFrame(
        pd.DataFrame({"text": ["the theorem follows from the lemma"] * 3
                      + ["we prove the bound by induction"] * 3})
    )
    raw_texts = [
        "the theorem follows by induction on the bound",   # target-like
        "click here to win a free prize now",               # not
        "buy cheap pills online no prescription",           # not
    ]
    raw = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": raw_texts})
    )
    lr = fit_bucket_logratio(target, raw, "text", num_buckets=512)
    w = importance_weights(raw, lr, "text", num_buckets=512).toPandas().set_index("doc_id")
    assert w.loc[0, "logw_e6"] > w.loc[1, "logw_e6"]
    assert w.loc[0, "logw_e6"] > w.loc[2, "logw_e6"]


def test_dsir_weights_partition_independent(spark):
    from tsflex_spark.datapipe.dsir import fit_bucket_logratio, importance_weights

    texts = [f"doc number {i} about topic {i % 7} and stuff {i % 3}" for i in range(40)]
    raw = spark.createDataFrame(pd.DataFrame({"doc_id": range(40), "text": texts}))
    target = spark.createDataFrame(pd.DataFrame({"text": ["about topic three and stuff"] * 5}))
    lr = fit_bucket_logratio(target, raw, "text", num_buckets=256)
    a = importance_weights(raw, lr, "text", num_buckets=256).toPandas().set_index("doc_id").sort_index()
    b = (
        importance_weights(raw.repartition(13), lr, "text", num_buckets=256)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert list(a["logw_e6"]) == list(b["logw_e6"])  # exact integer scores


def test_dsir_select_deterministic_topk(spark):
    from tsflex_spark.datapipe.dsir import dsir_select

    texts = ["the theorem follows from the lemma"] * 5 + [
        "win free prize click now", "cheap pills online", "random filler words here",
        "unrelated sports news today", "weather forecast rain tomorrow",
    ]
    raw = spark.createDataFrame(pd.DataFrame({"doc_id": range(10), "text": texts}))
    target = spark.createDataFrame(
        pd.DataFrame({"text": ["we prove the theorem from the lemma"] * 4})
    )
    s1 = sorted(r.doc_id for r in dsir_select(raw, target, "text", k=5, num_buckets=512,
                                              temperature=0.01).select("doc_id").collect())
    s2 = sorted(r.doc_id for r in dsir_select(raw.repartition(7), target, "text", k=5,
                                              num_buckets=512, temperature=0.01)
                .select("doc_id").collect())
    assert s1 == s2  # rerun/partition stable
    # near-zero temperature -> pure top-k: the 5 target-like docs win
    assert s1 == [0, 1, 2, 3, 4]


def test_normalize_text_pipeline_order(spark):
    from tsflex_spark.datapipe.text import normalize_text

    rows = [
        (1, "<p>Hello &amp; welcome</p>\x00\x07  to   the\tshow "),
        (2, "&lt;b&gt; stays text but <b>tags die</b>"),
        (3, "A&nbsp;B&quot;C&#39;D&amp;amp;E"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["text"] for r in normalize_text(df, "text").collect()}
    assert out[1] == "Hello & welcome to the show"
    assert out[2] == "<b> stays text but tags die"
    # &amp; decoded LAST: "&amp;amp;" → "&amp;" (one level, no double-decode)
    assert out[3] == 'A B"C\'D&amp;E'
    assert out[4] == ""
    # out_col + lowercase leave the source column untouched
    out2 = normalize_text(df, "text", out_col="clean", lowercase=True).collect()
    r1 = [r for r in out2 if r["id"] == 1][0]
    assert r1["text"].startswith("<p>")
    assert r1["clean"] == "hello & welcome to the show"


def test_ewma_stream_matches_pandas(spark, tmp_path):
    """transformWithStateInPandas streaming EWMA: the final emitted row
    per key equals pandas ewm(adjust=True) over the key's full ordered
    history, across multiple micro-batches."""
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=200, freq="1s"),
            "user_id": np.repeat(np.arange(2), 100),
            "value": rng.normal(10, 3, size=200).round(3),
        }
    ).sort_values("ts").reset_index(drop=True)
    src = str(tmp_path / "ewma_src")
    # split BY TIME so arrival order == event order across the 2 batches
    spark.createDataFrame(pdf.iloc[:100]).coalesce(1).write.parquet(src)
    spark.createDataFrame(pdf.iloc[100:]).coalesce(1).write.parquet(src, mode="append")

    from tsflex_spark.streaming.stateful import ewma_stream

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ewma_stream(stream, alpha=0.3, value_col="value", key_cols=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_sink")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ewma_sink").toPandas()
    final = got.sort_values("n").groupby("user_id").tail(1).set_index("user_id")
    for uid, grp in pdf.groupby("user_id"):
        ref = grp.sort_values("ts")["value"].ewm(alpha=0.3, adjust=True).mean().iloc[-1]
        assert final.loc[uid, "n"] == len(grp)
        assert final.loc[uid, "ewma"] == pytest.approx(ref, rel=1e-9)


def test_phash_image_neardup(spark):
    """aHash/dHash fingerprints + hamming-band near-dup pairs: identical
    blobs collide at distance 0, a lightly perturbed blob lands within
    the hamming budget, an unrelated blob does not pair."""
    from tsflex_spark.datapipe.multimodal import image_neardup_pairs, phash_images

    rng = np.random.default_rng(9)
    base = bytes(rng.integers(0, 256, 64, dtype=np.uint8))
    # perturb ONE byte → at most a couple of bits of dHash move
    near = bytearray(base); near[10] = (near[10] + 3) % 256; near = bytes(near)
    other = bytes(rng.integers(0, 256, 64, dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "id long, media binary"
    )
    hashes = phash_images(df)
    rows = {r["id"]: (r["ahash"], r["dhash"]) for r in hashes.collect()}
    assert rows[1] == rows[2]  # identical blobs → identical hashes

    pairs = image_neardup_pairs(hashes, max_hamming=8)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] <= 8
    assert not any(4 in p for p in got)

    # oracle: hamming via python popcount on the collected hashes
    for (a, b), h in got.items():
        ref = bin((rows[a][1] ^ rows[b][1]) & ((1 << 64) - 1)).count("1")
        assert h == ref


def test_phash_band_pigeonhole(spark):
    """Any pair within max_hamming < num_bands shares a band (the
    recall guarantee): construct a pair differing in exactly 3 bits
    spread over 3 bands and confirm the 4-band join still finds it."""
    from tsflex_spark.datapipe.multimodal import image_neardup_pairs

    h1 = 0x0123456789ABCDEF
    h2 = h1 ^ (1 << 0) ^ (1 << 20) ^ (1 << 40)  # 3 bits in 3 bands
    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v
    hashes = spark.createDataFrame(
        [(1, to_i64(h1)), (2, to_i64(h2))], "id long, dhash long"
    )
    pairs = image_neardup_pairs(hashes, max_hamming=3, num_bands=4).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 3


def test_phash_band_default_bands_guarantee_recall(spark):
    """Default num_bands = max_hamming + 1: a pair whose differing bits
    land one-per-16-bit-band (which a fixed 4-band config would silently
    drop) is still found; an explicit num_bands <= max_hamming raises."""
    import pytest as _pytest

    from tsflex_spark.datapipe.multimodal import image_neardup_pairs

    h1 = 0x0123456789ABCDEF
    # 5 differing bits, one in each 16-bit quarter (two in the top one)
    h2 = h1 ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48) ^ (1 << 60)
    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v
    hashes = spark.createDataFrame(
        [(1, to_i64(h1)), (2, to_i64(h2))], "id long, dhash long"
    )
    pairs = image_neardup_pairs(hashes, max_hamming=5).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 5
    with _pytest.raises(ValueError, match="num_bands"):
        image_neardup_pairs(hashes, max_hamming=5, num_bands=4)


def test_audio_fingerprint_neardup(spark):
    """Energy-contour fingerprints: gain changes do not move bits, a
    locally perturbed clip stays within a small hamming budget, an
    unrelated clip does not pair (via the shared band machinery)."""
    from tsflex_spark.datapipe.multimodal import audio_fingerprints, image_neardup_pairs

    rng = np.random.default_rng(21)
    clip = rng.integers(0, 256, 1024, dtype=np.uint8)
    # real gain: halve the amplitude around the center (requantized)
    louder = np.clip(((clip.astype(np.float64) - 128) * 0.5 + 128).round(), 0, 255).astype(np.uint8)
    near = clip.copy(); near[100:108] = (near[100:108] + 50) % 256
    other = rng.integers(0, 256, 1024, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytes(clip)), (2, bytes(louder)), (3, bytes(near)), (4, bytes(other))],
        "id long, media binary",
    )
    fps = audio_fingerprints(df)
    rows = {r["id"]: r["afp"] for r in fps.collect()}
    pairs = image_neardup_pairs(fps, hash_col="afp", max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    # gain preserves the contour signs up to requantization ties
    assert got[(1, 2)] <= 2
    assert (1, 3) in got and got[(1, 3)] <= 6
    assert not any(4 in p for p in got)


def test_remove_duplicate_lines_modes(spark):
    """Corpus-level line dedup (RefinedWeb/CCNet boilerplate removal):
    keep_first keeps the globally-first occurrence, drop_all removes
    every copy past the occurrence threshold; short lines always stay."""
    from tsflex_spark.datapipe.dedup import remove_duplicate_lines

    docs = [
        (1, "COOKIE BANNER\nunique content one\nfooter text"),
        (2, "COOKIE BANNER\nunique content two\nfooter text"),
        (3, "COOKIE BANNER\nall mine here\nx"),
        (4, ""),  # fully empty doc survives as ''
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def py_ref(mode, min_occurrences=2, min_line_chars=0):
        lines = [
            (i, p, ln)
            for i, t in docs
            for p, ln in enumerate(t.split("\n"))
        ]
        from collections import Counter
        cnt = Counter(ln for _, _, ln in lines if len(ln) >= min_line_chars)
        first = {}
        for i, p, ln in sorted(lines):
            if len(ln) >= min_line_chars:
                first.setdefault(ln, (i, p))
        out = {}
        for i, t in docs:
            kept = []
            for p, ln in enumerate(t.split("\n")):
                if len(ln) < min_line_chars:
                    kept.append(ln)
                elif mode == "keep_first" and first[ln] == (i, p):
                    kept.append(ln)
                elif mode == "drop_all" and cnt[ln] < min_occurrences:
                    kept.append(ln)
            out[i] = "\n".join(kept)
        return out

    for mode in ("keep_first", "drop_all"):
        got = {
            r["doc_id"]: r["text"]
            for r in remove_duplicate_lines(df, "text", "doc_id", mode=mode).collect()
        }
        assert got == py_ref(mode), mode

    # short lines are exempt: 'x' stays even though... make a dup of 'x'
    df2 = spark.createDataFrame(
        [(1, "x\nlong enough line"), (2, "x\nother long line")],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_lines(
            df2, "text", "doc_id", mode="drop_all", min_line_chars=2
        ).collect()
    }
    assert got2 == {1: "x\nlong enough line", 2: "x\nother long line"}
    # and a non-exempt duplicated long line is dropped everywhere
    df3 = spark.createDataFrame(
        [(1, "dup line here\na"), (2, "dup line here\nb")],
        "doc_id long, text string",
    )
    got3 = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_lines(
            df3, "text", "doc_id", mode="drop_all", min_line_chars=2
        ).collect()
    }
    assert got3 == {1: "a", 2: "b"}

    # out_col keeps the original text column intact
    with_col = remove_duplicate_lines(
        df, "text", "doc_id", mode="keep_first", out_col="clean"
    )
    assert set(with_col.columns) == {"doc_id", "text", "clean"}


def test_normalize_unicode_forms(spark):
    """NFC/NFKC canonicalization: composed == decomposed after NFC,
    full-width/ligature folding under NFKC, and the hashes agree after
    normalization (the dedup motivation)."""
    import unicodedata

    from tsflex_spark.datapipe.text import normalize_unicode

    composed = "caf\u00e9"             # e-acute as one codepoint
    decomposed = "cafe\u0301"          # e + combining accent
    assert composed != decomposed      # distinct codepoints going in
    fullwidth = "Ｈｉ"       # Ｈｉ
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, fullwidth)],
        "doc_id long, text string",
    )
    nfc = {r["doc_id"]: r["text"] for r in normalize_unicode(df, "text", form="NFC").collect()}
    assert nfc[1] == nfc[2] == unicodedata.normalize("NFC", decomposed)
    nfkc = {r["doc_id"]: r["text"] for r in normalize_unicode(df, "text", form="NFKC").collect()}
    assert nfkc[3] == "Hi"
    # out_col keeps the original
    w = normalize_unicode(df, "text", out_col="norm", form="NFKC")
    assert set(w.columns) == {"doc_id", "text", "norm"}
    with pytest.raises(ValueError, match="form"):
        normalize_unicode(df, "text", form="nfc8")


def test_shuffle_corpus_deterministic_uniform(spark):
    """Deterministic global shuffle: same seed -> same order regardless
    of input partitioning; different seeds -> different permutations;
    num_files mode gives range-disjoint sorted shards of the hash key."""
    from tsflex_spark.datapipe.curation import shuffle_corpus

    df = spark.range(0, 2000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    a = [r["id"] for r in shuffle_corpus(df, "id", seed=1).collect()]
    b = [r["id"] for r in shuffle_corpus(df.repartition(13), "id", seed=1).collect()]
    c = [r["id"] for r in shuffle_corpus(df, "id", seed=2).collect()]
    assert a == b                       # partitioning-independent
    assert a != c                       # seed changes the permutation
    assert sorted(a) == list(range(2000))  # a permutation, nothing lost
    assert a != list(range(2000))       # actually shuffled

    sharded = shuffle_corpus(df, "id", seed=1, num_files=4)
    assert sharded.rdd.getNumPartitions() == 4
    # per-shard hash ranges are disjoint and each shard is sorted
    import pyspark.sql.functions as _F
    parts = (
        sharded.withColumn("__h", _F.xxhash64("id", _F.lit(1)))
        .withColumn("__p", _F.spark_partition_id())
        .groupBy("__p").agg(_F.min("__h").alias("lo"), _F.max("__h").alias("hi"))
        .orderBy("lo").collect()
    )
    for prev, nxt in zip(parts, parts[1:]):
        assert prev["hi"] <= nxt["lo"]


def test_temperature_mix_flattens_sources(spark):
    from tsflex_spark.datapipe.curation import temperature_mix

    rows = (
        [(i, "web") for i in range(8000)]
        + [(i + 100_000, "books") for i in range(1000)]
        + [(i + 200_000, None) for i in range(1000)]  # NULL source = a group
    )
    df = spark.createDataFrame(rows, "id long, source string")
    # alpha=1 keeps natural proportions -> nothing dropped (incl. NULLs)
    assert temperature_mix(df, "source", "id", alpha=1.0).count() == 10000
    # alpha=0 targets a uniform mix -> every group ~1000 (smallest limits)
    out0 = temperature_mix(df, "source", "id", alpha=0.0)
    by = {r["source"]: r["count"] for r in out0.groupBy("source").count().collect()}
    assert by["books"] == 1000
    assert by[None] == 1000  # NULL source participates as its own group
    assert abs(by["web"] - 1000) < 150
    # intermediate alpha lands between natural and uniform web share
    out7 = temperature_mix(df, "source", "id", alpha=0.5)
    by7 = {r["source"]: r["count"] for r in out7.groupBy("source").count().collect()}
    assert by7["books"] == 1000  # smallest sources always keep 100%
    assert by7[None] == 1000
    import math
    w_tot = math.sqrt(8000) + 2 * math.sqrt(1000)
    t = 1000 / (math.sqrt(1000) / w_tot)  # corpus size the smallest group allows
    want_web = t * math.sqrt(8000) / w_tot
    assert abs(by7["web"] - want_web) < 200
    # deterministic vs partitioning
    again = temperature_mix(df.repartition(13), "source", "id", alpha=0.5)
    assert out7.select("id").exceptAll(again.select("id")).count() == 0
    with pytest.raises(ValueError, match="alpha"):
        temperature_mix(df, "source", "id", alpha=1.5)


def test_url_extract_domain_and_filter(spark):
    from tsflex_spark.datapipe.text import (
        domain_filter,
        extract_urls,
        registered_domain,
        url_host,
    )

    df = spark.createDataFrame(
        [
            (1, "see https://Sub.Example.co.uk/path?q=1 and http://spam.biz/x."),
            (2, "ftp ignored ftp://a.b; visit https://user:p@www.good.org:8080/dl"),
            (3, "bare ip http://192.168.0.1/admin plus https://single"),
            (4, "no urls at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["urls"] for r in extract_urls(df, "text", "doc_id").collect()}
    assert got[1] == ["https://Sub.Example.co.uk/path?q=1", "http://spam.biz/x."]
    assert got[2] == ["https://user:p@www.good.org:8080/dl"]
    assert got[4] == []
    ex = extract_urls(df, "text", "doc_id", explode=True)
    assert ex.count() == 5

    doms = ex.select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("dom")
    ).collect()
    dset = {(r["doc_id"], r["dom"]) for r in doms}
    assert ("1", "example.co.uk") not in dset  # doc_id stays long
    assert (1, "example.co.uk") in dset        # co.uk -> three labels
    assert (1, "spam.biz") in dset
    assert (2, "good.org") in dset             # userinfo/port/www stripped
    assert (3, "192.168.0.1") in dset          # IP passes through
    assert (3, "single") in dset               # single label passes through

    # blocklist drops spam.biz rows; allowlist keeps only good.org
    blocked = domain_filter(ex, "url", blocklist=["spam.biz"])
    assert blocked.count() == 4
    allowed = domain_filter(ex, "url", allowlist=["good.org"], out_col="dom")
    rows = allowed.collect()
    assert len(rows) == 1 and rows[0]["dom"] == "good.org"
    # DataFrame blocklist = broadcast anti join
    bl = spark.createDataFrame([("spam.biz",), ("example.co.uk",)], "domain string")
    assert domain_filter(ex, "url", blocklist=bl).count() == 3
    with pytest.raises(ValueError, match="exactly one"):
        domain_filter(ex, "url")


def test_ppl_buckets_head_middle_tail(spark):
    from tsflex_spark.datapipe.lm import ppl_buckets, train_ngram_lm

    texts = (
        ["the cat sat on the mat"] * 3          # in-distribution -> low ppl
        + ["the dog sat on a rug today"] * 3    # mixed
        + ["zq xv qqj zzk pfft glorb wug"] * 3  # gibberish -> high ppl
        + ["one"]                               # <2 tokens -> NULL bucket
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    )
    # CCNet shape: the reference LM trains on the in-distribution slice
    # (docs 0-5), then buckets the whole corpus — unseen-bigram gibberish
    # lands in the high-ppl tail
    lm = train_ngram_lm(docs.where(F.col("doc_id") < 6), "text")
    out = ppl_buckets(docs, lm, "text").toPandas().set_index("doc_id")
    assert set(out.columns) >= {"text", "ppl", "ppl_bucket"}
    assert list(out.loc[6:8, "ppl_bucket"]) == ["tail"] * 3
    assert pd.isna(out.loc[9, "ppl_bucket"])
    # thirds of the 9 scored docs: 3 per bucket (identical texts tie
    # within each group, cuts at exact quantiles split the groups)
    counts = out["ppl_bucket"].value_counts()
    assert counts["head"] == 3 and counts["tail"] == 3 and counts["middle"] == 3
    assert set(out.loc[0:5, "ppl_bucket"]) == {"head", "middle"}
    with pytest.raises(ValueError, match="labels"):
        ppl_buckets(docs, lm, "text", cuts=(0.5,), labels=("a", "b", "c"))


def test_filter_lines_rules(spark):
    from tsflex_spark.datapipe.text import filter_lines

    doc = "\n".join(
        [
            "A perfectly normal sentence about things.",
            "OK",                          # too short
            "CLICK HERE TO SUBSCRIBE NOW", # all caps
            "1234567890 55 77",            # mostly digits
            "Accept all cookies to continue",  # pattern
            "Another good line stays put.",
        ]
    )
    df = spark.createDataFrame([(1, doc), (2, "short\n\nBut this line is long enough.")],
                               "doc_id long, text string")
    out = filter_lines(
        df,
        "text",
        min_chars=5,
        max_uppercase_frac=0.5,
        max_digit_frac=0.5,
        drop_rlike=[r"(?i)cookie", r"(?i)subscribe"],
        dropped_col="n_dropped",
    ).collect()
    r = {row["doc_id"]: row for row in out}
    assert r[1]["text"] == (
        "A perfectly normal sentence about things.\nAnother good line stays put."
    )
    assert r[1]["n_dropped"] == 4
    # "short" is exactly 5 chars -> survives min_chars=5; the empty line drops
    assert r[2]["text"] == "short\nBut this line is long enough."
    assert r[2]["n_dropped"] == 1


def test_clean_corpus_line_filter_stage(spark):
    from tsflex_spark.datapipe.pipeline import clean_corpus

    df = spark.createDataFrame(
        [
            (1, "A good paragraph with enough words to score well here.\n"
                "ACCEPT ALL COOKIES\n"
                "Another decent sentence follows the banner line."),
        ],
        "doc_id long, text string",
    )
    out = clean_corpus(
        df,
        min_quality_score=0.0,
        near_dup_threshold=None,
        line_filter={"drop_rlike": [r"(?i)cookie"], "min_chars": 4},
    ).collect()
    assert len(out) == 1
    assert "COOKIES" not in out[0]["text"]
    assert "good paragraph" in out[0]["text"]


def test_gopher_rules_per_rule(spark):
    from tsflex_spark.datapipe.text import gopher_rules

    good = (
        "The quick brown fox jumps over the lazy dog and runs to be with "
        "a friend that will have come along with many other words to fill "
        "out the fifty word minimum for this test of quality and more "
        "words that keep the document long enough for the rule to pass now."
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass"),                    # word count
            (3, " ".join(["#"] * 60) + " the be to of"), # symbol ratio + alpha
            (4, "\n".join(["- bullet point item here"] * 10)
                + "\nthe be to of and that have with "
                + " ".join(["word"] * 60)),              # bullet lines
            (5, " ".join(["zzzz"] * 80)),                # no required stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs, "text", "doc_id").collect()}
    assert out[1]["keep"] is True
    assert out[2]["r_word_count"] is False and out[2]["keep"] is False
    assert out[3]["r_symbol_ratio"] is False
    assert out[3]["r_alpha_words"] is False
    assert out[4]["r_bullet_lines"] is False
    assert out[5]["r_required_words"] is False and out[5]["keep"] is False


def test_interval_join_overlap_semantics(spark):
    """interval_join: half-open overlap, exactly-once emission across
    shared buckets, keys, and collision suffixing."""
    from tsflex_spark.relational import interval_join

    left = spark.createDataFrame(
        [
            ("a", 1, 0, 10),    # overlaps r1 [5,15) and r2 [9,12)
            ("a", 2, 10, 20),   # touches r1 end at 15? [10,20) vs [5,15): overlap
            ("a", 3, 30, 40),   # overlaps nothing
            ("b", 4, 0, 100),   # long interval, many buckets; overlaps r3 once
            ("a", 5, 20, 25),   # [20,25) vs r2 [9,12): none; r1 [5,15): none
        ],
        "k string, lid long, start long, end long",
    )
    right = spark.createDataFrame(
        [
            ("a", 101, 5, 15),   # r1
            ("a", 102, 9, 12),   # r2
            ("b", 103, 50, 60),  # r3
            ("a", 104, 25, 30),  # r4: touches lid=5 at 25 -> NO overlap (half-open)
        ],
        "k string, rid long, start long, end long",
    )
    out = interval_join(
        left, right, by=["k"], granule=7
    ).select("lid", "rid").collect()
    pairs = sorted((r["lid"], r["rid"]) for r in out)
    assert pairs == [(1, 101), (1, 102), (2, 101), (2, 102), (4, 103)]

    # brute-force oracle on random data: every overlapping pair exactly once
    import random
    rnd = random.Random(3)
    lrows = [("k", i, s := rnd.randint(0, 200), s + rnd.randint(1, 40)) for i in range(60)]
    rrows = [("k", i, s := rnd.randint(0, 200), s + rnd.randint(1, 40)) for i in range(60)]
    ld = spark.createDataFrame(lrows, "k string, lid long, start long, end long")
    rd = spark.createDataFrame(rrows, "k string, rid long, start long, end long")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_join(ld, rd, by=["k"]).select("lid", "rid").collect()
    )
    want = sorted(
        (l[1], r[1])
        for l in lrows
        for r in rrows
        if l[2] < r[3] and r[2] < l[3]
    )
    assert got == want
    # collision suffix: right start/end renamed
    cols = interval_join(ld, rd, by=["k"]).columns
    assert "start_r" in cols and "end_r" in cols


def test_observe_rules_batch_and_stream(spark, tmp_path):
    import pandas as pd

    from tsflex_spark.utils.validate import in_range, not_null, observe_rules

    pdf = pd.DataFrame({"id": [1, 2, 3, None], "v": [1.0, 99.0, 5.0, 2.0]})
    df = spark.createDataFrame(pdf)
    rules = {"id_not_null": not_null("id"), "v_in_range": in_range("v", 0, 10)}
    observed, obs = observe_rules(df, rules)
    # metrics ride the consuming action: no separate scan
    assert observed.count() == 4
    got = obs.get
    assert got["__n"] == 4 and got["id_not_null"] == 1 and got["v_in_range"] == 1

    # streaming: metrics surface in query progress per micro-batch
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    s_observed, none_obs = observe_rules(stream, rules, name="dq")
    assert none_obs is None
    q = (
        s_observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p["observedMetrics"]["dq"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("dq")
    ]
    assert metrics
    dicts = [m.asDict() for m in metrics]
    total = {k: sum(m[k] for m in dicts) for k in dicts[0]}
    assert total["__n"] == 4 and total["id_not_null"] == 1 and total["v_in_range"] == 1


def test_validate_expectations(spark):
    from tsflex_spark.utils.validate import (
        check_rules,
        duplicate_keys,
        expect,
        in_range,
        matches,
        not_null,
    )

    df = spark.createDataFrame(
        [
            (1, "a@b.com", 10.0),
            (2, None, 5.0),          # null email
            (3, "not-an-email", -1.0),  # bad email + out of range
            (1, "x@y.org", 3.0),     # duplicate id
        ],
        "id long, email string, v double",
    )
    rules = {
        "email_not_null": not_null("email"),
        "email_shape": matches("email", r"[^@]+@[^@]+\.[^@]+"),
        "v_in_range": in_range("v", lo=0.0, hi=100.0),
    }
    rep = check_rules(df, rules)
    assert rep["n_rows"] == 4
    assert rep["violations"] == {
        "email_not_null": 1,
        "email_shape": 2,  # NULL fails the shape rule too
        "v_in_range": 1,
    }
    with pytest.raises(ValueError, match="email_shape"):
        expect(df, rules)
    ok = expect(df, {"v_not_null": not_null("v")})
    assert ok["violations"] == {"v_not_null": 0}
    dups = duplicate_keys(df, ["id"]).collect()
    assert len(dups) == 1 and dups[0]["id"] == 1 and dups[0]["n"] == 2


def test_profile_columns_one_pass(spark):
    from tsflex_spark.utils.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "b", None), (4, "a", 4.0)],
        "id long, s string, v double",
    )
    prof = {r["column"]: r for r in profile_columns(df).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_null"] == 0
    assert prof["s"]["n_null"] == 1 and abs(prof["s"]["null_frac"] - 0.25) < 1e-9
    assert prof["v"]["min"] == "1.5" and prof["v"]["max"] == "4.0"
    assert prof["s"]["min"] is None  # strings: no range
    assert prof["id"]["approx_distinct"] == 4


def test_diff_snapshots_changes(spark):
    from tsflex_spark.utils.profile import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, s string, v double"
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 99.0), (4, "d", 4.0)], "id long, s string, v double"
    )
    d = {r["id"]: r["change"] for r in diff_snapshots(old, new, ["id"]).collect()}
    assert d == {1: "removed", 3: "changed", 4: "added"}  # id=2 unchanged, dropped
    # NULL payloads compare stably
    old2 = spark.createDataFrame([(1, None)], "id long, s string")
    new2 = spark.createDataFrame([(1, None)], "id long, s string")
    assert diff_snapshots(old2, new2, ["id"]).count() == 0


def test_semantic_decontaminate(spark):
    from tsflex_spark.datapipe.decontam import semantic_decontaminate

    import numpy as np
    rng = np.random.default_rng(4)
    base = rng.normal(size=(3, 8)).astype("float32")
    corpus_rows = []
    # doc 0/1: near-copies of eval vectors; doc 2-5: random
    corpus_rows.append((0, (base[0] + 0.001).tolist()))
    corpus_rows.append((1, (base[1] * 1.5).tolist()))  # scaled = same direction
    for i in range(2, 6):
        corpus_rows.append((i, rng.normal(size=8).astype("float32").tolist()))
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, embedding array<float>")
    ev = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(3)], "eid long, embedding array<float>"
    )
    out = {r["doc_id"]: r for r in semantic_decontaminate(corpus, ev, threshold=0.99).collect()}
    assert out[0]["contaminated"] and out[1]["contaminated"]
    assert not any(out[i]["contaminated"] for i in range(2, 6))
    assert out[1]["max_eval_cosine"] > 0.999  # cosine ignores scale
    # empty eval set: nothing contaminated
    empty = ev.where(F.col("eid") < 0)
    out2 = semantic_decontaminate(corpus, empty).collect()
    assert len(out2) == 6 and not any(r["contaminated"] for r in out2)
    with pytest.raises(ValueError, match="max_eval_rows"):
        semantic_decontaminate(corpus, ev, max_eval_rows=2)


def test_clean_corpus_gopher_stage(spark):
    from tsflex_spark.datapipe.pipeline import clean_corpus

    long_good = (
        "The quick brown fox jumps over the lazy dog and runs to be with "
        "a friend that will have come along with many other words to fill "
        "out the fifty word minimum for this test of quality and more "
        "words that keep the document long enough for the rule to pass now."
    )
    df = spark.createDataFrame(
        [(1, long_good), (2, "way too short to pass gopher rules")],
        "doc_id long, text string",
    )
    out = clean_corpus(
        df, min_quality_score=0.0, near_dup_threshold=None, gopher={}
    ).collect()
    assert [r["doc_id"] for r in out] == [1]
    audit = clean_corpus(
        df, min_quality_score=0.0, near_dup_threshold=None, gopher={},
        annotate_only=True,
    ).collect()
    reasons = {r["doc_id"]: r["reject_reason"] for r in audit}
    assert reasons[2] == "gopher" and reasons[1] is None
    # thresholds pass through
    relaxed = clean_corpus(
        df, min_quality_score=0.0, near_dup_threshold=None,
        gopher={"min_words": 3, "min_required_words": 1},
    ).collect()
    assert len(relaxed) == 2


def test_windowed_features_stream_batch_parity(spark, tmp_path):
    """Arbitrary Python feature functions on a STREAM (stateful window
    buffer) must reproduce the batch UDF tier row-for-row on the same
    data (tumbling windows, watermark-complete windows only)."""
    import numpy as np

    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper
    from tsflex_spark.streaming.stateful import windowed_features_stream

    def iqr(x: np.ndarray) -> float:
        return float(np.quantile(x, 0.75) - np.quantile(x, 0.25))

    rng = np.random.default_rng(13)
    # both keys start exactly on the hour so the batch grid (t0-anchored)
    # and the stream grid (epoch-floor-anchored) coincide
    rows = []
    for uid in (0, 1):
        ts = pd.date_range("2024-01-01 00:00:00", periods=6 * 60, freq="1min")
        vals = rng.normal(50, 10, size=len(ts)).round(2)
        rows.append(pd.DataFrame({"ts": ts, "user_id": uid, "v": vals}))
    pdf = pd.concat(rows, ignore_index=True).sort_values("ts")
    sentinel = pd.DataFrame(
        {"ts": [pd.Timestamp("2024-01-01 08:00:00")], "user_id": [0], "v": [0.0]}
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(pdf.iloc[: len(pdf) // 2]).coalesce(1).write.parquet(src)
    spark.createDataFrame(pdf.iloc[len(pdf) // 2 :]).coalesce(1).write.parquet(
        src, mode="append"
    )
    spark.createDataFrame(sentinel).coalesce(1).write.parquet(src, mode="append")

    from tsflex_spark.features.spectral import spectral_stats

    fc = FeatureCollection(
        [
            FeatureDescriptor(iqr, "v", "1h", "1h"),
            FeatureDescriptor(
                FuncWrapper(lambda x: float(x.sum()), output_names="mysum"), "v", "1h", "1h"
            ),
            # vectorized wrapper: batch side runs the (nb, window) batched
            # FFT, stream side the per-window (1, n) fallback — same math
            FeatureDescriptor(spectral_stats(fs=1.0 / 60.0), "v", "1h", "1h"),
        ]
    )
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_features_stream(stream, fc, ts_col="ts", key_cols=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("wfs_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("wfs_sink")
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    # the sentinel's own window [08:00,09:00) never passes the watermark
    assert got["ts"].max() == pd.Timestamp("2024-01-01 06:00:00")
    assert len(got) == 12  # 2 keys x 6 complete hourly windows

    batch = spark.createDataFrame(pd.concat([pdf, sentinel], ignore_index=True))
    exp = (
        fc.calculate(
            batch, ts_col="ts", key_cols=["user_id"],
            include_empty_windows=False, approve_sparsity=True,
            include_final_window=True,  # stream emits every window with data
        )
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    exp = exp[exp["ts"] <= pd.Timestamp("2024-01-01 06:00:00")].reset_index(drop=True)
    assert set(got.columns) == set(exp.columns)
    got = got[list(exp.columns)]
    for c in got.columns:
        if c == "ts":
            assert got[c].equals(exp[c])
        elif c == "user_id":
            assert (got[c] == exp[c]).all()
        else:
            assert np.allclose(got[c].to_numpy(), exp[c].to_numpy(), atol=1e-12), c


def test_windowed_features_stream_rejections(spark):
    from tsflex_spark import FeatureCollection, FeatureDescriptor
    from tsflex_spark.streaming.stateful import windowed_features_stream

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="calculate_streaming"):
        windowed_features_stream(
            df, FeatureCollection(FeatureDescriptor("mean", "value", "1h", "1h")),
            ts_col="timestamp",
        )
    with pytest.raises(ValueError, match="stride must be <= window"):
        windowed_features_stream(
            df,
            FeatureCollection(FeatureDescriptor(lambda x: 1.0, "value", "30m", "1h")),
            ts_col="timestamp",
        )


def test_windowed_features_stream_sliding(spark, tmp_path):
    """Sliding windows (stride < window): explode membership + the same
    state machinery; parity vs the batch UDF tier."""
    import numpy as np

    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper
    from tsflex_spark.streaming.stateful import windowed_features_stream

    rng = np.random.default_rng(21)
    ts = pd.date_range("2024-01-01 00:00:00", periods=4 * 60, freq="1min")
    pdf = pd.DataFrame({"ts": ts, "user_id": 0, "v": rng.normal(0, 1, len(ts)).round(3)})
    sentinel = pd.DataFrame(
        {"ts": [pd.Timestamp("2024-01-01 06:00:00")], "user_id": [1], "v": [0.0]}
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    spark.createDataFrame(sentinel).coalesce(1).write.parquet(src, mode="append")

    fc = FeatureCollection(
        FeatureDescriptor(
            FuncWrapper(lambda x: float(np.mean(x)), output_names="m"), "v", "1h", "30m"
        )
    )
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_features_stream(stream, fc, ts_col="ts", key_cols=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("wfs_slide")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("wfs_slide")
        .where(F.col("user_id") == 0)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # stream grid: starts ...-0:30, 0:00, 0:30 ... ends 0:30..4:30 for
    # windows containing data in [0, 4h)
    exp = (
        fc.calculate(
            spark.createDataFrame(pdf), ts_col="ts",
            include_empty_windows=False, approve_sparsity=True,
            include_final_window=True,
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # batch grid is t0-anchored = epoch-aligned here; the stream also
    # emits the leading partial window [-0:30, 0:30) which batch's grid
    # (starting at t0=0:00) does not have — drop it for the comparison
    got = got[got["ts"] >= exp["ts"].min()].reset_index(drop=True)
    col = "v__m__w=1h"
    m = min(len(got), len(exp))
    assert m >= 7
    assert np.allclose(got[col].to_numpy()[:m], exp[col].to_numpy()[:m], atol=1e-12)
    assert got["ts"].iloc[:m].equals(exp["ts"].iloc[:m])


def test_point_in_time_join_merge_asof_parity(spark):
    """point_in_time_join (feature-store training-set assembly) must match
    pandas merge_asof per feature table: latest at-or-before value per
    entity, NULL past tolerance, strictly-before under strict=True."""
    from tsflex_spark.relational import point_in_time_join

    rng = np.random.default_rng(3)
    base = pd.Timestamp("2024-03-01")

    def rand_tbl(n, col):
        return pd.DataFrame(
            {
                "user_id": rng.integers(0, 5, n),
                "ts": base + pd.to_timedelta(rng.choice(86400, n, replace=False), unit="s"),
                col: rng.normal(size=n).round(3),
            }
        ).sort_values("ts")

    labels = rand_tbl(60, "y")
    f_a = rand_tbl(40, "bal")
    f_b = rand_tbl(25, "score")

    out = point_in_time_join(
        spark.createDataFrame(labels),
        {"acct": spark.createDataFrame(f_a), "risk": spark.createDataFrame(f_b)},
        on="ts",
        by=["user_id"],
        tolerance={"risk": "2h"},
    ).toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)

    exp = labels.sort_values("ts")
    exp = pd.merge_asof(
        exp, f_a.rename(columns={"bal": "acct__bal"}).sort_values("ts"),
        on="ts", by="user_id", direction="backward",
    )
    exp = pd.merge_asof(
        exp, f_b.rename(columns={"score": "risk__score"}).sort_values("ts"),
        on="ts", by="user_id", direction="backward",
        tolerance=pd.Timedelta("2h"),
    )
    exp = exp.sort_values(["user_id", "ts"]).reset_index(drop=True)
    for c in ("y", "acct__bal", "risk__score"):
        a, b = out[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float)
        assert np.allclose(a, b, equal_nan=True), (c, a[:5], b[:5])

    # per-table matched-timestamp (feature freshness) survives multi-table
    # assembly without colliding
    assert "acct__ts_matched" in out.columns and "risk__ts_matched" in out.columns

    # strict mode: a feature stamped exactly at the label instant is
    # excluded (leakage-conservative, merge_asof allow_exact_matches=False
    # semantics). ONE label per user so the same-instant feature is the
    # only candidate.
    eq_ts = labels.drop_duplicates("user_id").copy()
    feat = eq_ts[["user_id", "ts"]].copy()
    feat["v"] = 1.0
    s_out = point_in_time_join(
        spark.createDataFrame(eq_ts),
        {"f": spark.createDataFrame(feat)},
        on="ts", by=["user_id"], strict=True,
    ).toPandas()
    assert s_out["f__v"].isna().all()
    assert "__pit_ts" not in s_out.columns
    loose = point_in_time_join(
        spark.createDataFrame(eq_ts),
        {"f": spark.createDataFrame(feat)},
        on="ts", by=["user_id"],
    ).toPandas()
    assert (loose["f__v"] == 1.0).all()

    # non-dict Mapping tolerances (e.g. MappingProxyType) dispatch
    # per-table exactly like a plain dict — the annotation is Mapping
    from types import MappingProxyType

    out_mp = point_in_time_join(
        spark.createDataFrame(labels),
        {"acct": spark.createDataFrame(f_a), "risk": spark.createDataFrame(f_b)},
        on="ts",
        by=["user_id"],
        tolerance=MappingProxyType({"risk": "2h"}),
    ).toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)
    for c in ("acct__bal", "risk__score"):
        assert np.allclose(
            out_mp[c].to_numpy(dtype=float),
            out[c].to_numpy(dtype=float),
            equal_nan=True,
        ), c


def test_asof_join_fuzz_merge_asof_parity(spark):
    """Hypothesis fuzz: asof_join vs pandas merge_asof over random keyed
    irregular timestamps, both directions, with and without tolerance.
    Right-side timestamps may COLLIDE with left ones (inclusive ties are
    the subtle case)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.relational import asof_join

    base = pd.Timestamp("2024-05-01")

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        lsec=st.sets(st.integers(0, 400), min_size=2, max_size=25),
        rsec=st.sets(st.integers(0, 400), min_size=1, max_size=25),
        nkeys=st.integers(1, 3),
        direction=st.sampled_from(["backward", "forward"]),
        tol=st.sampled_from([None, "30s", "5s"]),
    )
    def prop(lsec, rsec, nkeys, direction, tol):
        lts = np.array(sorted(lsec))
        rts = np.array(sorted(rsec))
        lpdf = pd.DataFrame(
            {
                "k": (lts % nkeys).astype("int64"),
                "ts": base + pd.to_timedelta(lts, unit="s"),
                "lid": np.arange(len(lts)),
            }
        )
        rpdf = pd.DataFrame(
            {
                "k": ((rts * 7) % nkeys).astype("int64"),
                "ts": base + pd.to_timedelta(rts, unit="s"),
                "rv": (rts * 1.5),
            }
        )
        out = (
            asof_join(
                spark.createDataFrame(lpdf),
                spark.createDataFrame(rpdf),
                on="ts",
                by=["k"],
                value_cols=["rv"],
                direction=direction,
                tolerance=tol,
            )
            .orderBy("lid")
            .toPandas()
        )
        exp = pd.merge_asof(
            lpdf.sort_values("ts"),
            rpdf.sort_values("ts"),
            on="ts",
            by="k",
            direction=direction,
            tolerance=pd.Timedelta(tol) if tol else None,
        ).sort_values("lid")
        a = out["rv"].to_numpy(dtype=float)
        b = exp["rv"].to_numpy(dtype=float)
        assert np.allclose(a, b, equal_nan=True), (direction, tol, a, b)

    prop()


def test_latest_snapshot(spark):
    """latest_snapshot: one row per key, latest at-or-before the cutoff;
    pandas groupby-idxmax oracle."""
    from tsflex_spark.relational import latest_snapshot

    rng = np.random.default_rng(9)
    n = 80
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 6, n),
            "ts": pd.Timestamp("2024-06-01")
            + pd.to_timedelta(rng.choice(10_000, n, replace=False), unit="s"),
            "v": rng.normal(size=n).round(3),
        }
    )
    df = spark.createDataFrame(pdf)
    cut = pd.Timestamp("2024-06-01") + pd.Timedelta(seconds=5000)

    out = latest_snapshot(df, on="ts", by=["k"], at=cut).toPandas().set_index("k")
    sub = pdf[pdf.ts <= cut]
    exp = sub.loc[sub.groupby("k")["ts"].idxmax()].set_index("k")
    assert sorted(out.index) == sorted(exp.index)
    for k in exp.index:
        assert out.loc[k, "ts"] == exp.loc[k, "ts"]
        assert out.loc[k, "v"] == exp.loc[k, "v"]

    # no cutoff: overall latest; unkeyed: single global row
    full = latest_snapshot(df, on="ts", by=["k"]).toPandas()
    assert len(full) == pdf["k"].nunique()
    g = latest_snapshot(df, on="ts").toPandas()
    assert len(g) == 1 and g["ts"].iloc[0] == pdf["ts"].max()

    # snapshot plan: ONE keyed exchange with map-side partial_max_by and
    # no Window (max_by(struct) compiles to SortAggregate — the Sorts are
    # per-partition local, the combine is still map-side)
    from tests.test_plans import plan_of

    plan = plan_of(latest_snapshot(df, on="ts", by=["k"]), "simple")
    assert "Window" not in plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_max_by" in plan, plan


def test_sketch_signatures_fuzz_parity(spark):
    """Hypothesis twin of the fused-sketch parity test: RANDOM doc sets
    (unicode, whitespace runs, very short docs — the OPH densification
    path) must produce bit-identical minhash + simhash from the fused
    aggregate and the standalone ones."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.datapipe.dedup import (
        minhash_signatures,
        simhash,
        sketch_signatures,
    )

    text_st = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        min_size=1,
        max_size=120,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        texts=st.lists(text_st, min_size=1, max_size=6),
        num_hashes=st.sampled_from([16, 64]),
    )
    def prop(texts, num_hashes):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
        )
        fused = (
            sketch_signatures(df, "text", "doc_id", num_hashes=num_hashes)
            .toPandas().set_index("doc_id").sort_index()
        )
        mh = (
            minhash_signatures(df, "text", "doc_id", num_hashes=num_hashes)
            .toPandas().set_index("doc_id").sort_index()
        )
        sh = simhash(df, "text", "doc_id").toPandas().set_index("doc_id").sort_index()
        for i in fused.index:
            assert list(fused.loc[i, "minhash"]) == list(mh.loc[i, "minhash"]), i
            assert fused.loc[i, "simhash"] == sh.loc[i, "simhash"], i

    prop()


def test_connected_components_fuzz_distributed_vs_driver(spark):
    """Random edge lists: the distributed large-star/small-star loop
    (driver_threshold=0) must label every node identically to the driver
    union-find fast path AND to a python reference."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.datapipe.dedup import connected_components

    def py_cc(edges):
        parent = {}
        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=1,
            max_size=40,
        )
    )
    def prop(edges):
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        exp = py_cc(edges)
        dist = connected_components(df, driver_threshold=0).toPandas()
        fast = connected_components(df).toPandas()
        for out, tag in ((dist, "distributed"), (fast, "driver")):
            got = dict(zip(out["node"], out["component"]))
            assert got == exp, (tag, got, exp)

    prop()


def test_remove_duplicate_lines_fuzz(spark):
    """Random multi-line docs: corpus-level keep-first line dedup vs a
    python reference (global (id, pos) order; short lines always kept)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.datapipe.dedup import remove_duplicate_lines

    line_st = st.sampled_from(
        ["", "nav", "cookie banner", "real content here", "x", "more body text",
         "footer", "unique A", "unique B"]
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(st.lists(line_st, min_size=1, max_size=8), min_size=1, max_size=6),
        min_chars=st.sampled_from([0, 2]),
    )
    def prop(docs, min_chars):
        texts = ["\n".join(d) for d in docs]
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
        )
        out = (
            remove_duplicate_lines(
                df, "text", "doc_id", min_line_chars=min_chars
            )
            .toPandas().set_index("doc_id")["text"]
        )
        seen = set()
        exp = {}
        for i, d in enumerate(docs):
            kept = []
            for ln in d:
                if len(ln) < min_chars:
                    kept.append(ln)
                elif ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            exp[i] = "\n".join(kept)
        for i in exp:
            assert out.loc[i] == exp[i], (i, min_chars, repr(out.loc[i]), repr(exp[i]))

    prop()


def test_pack_and_chunk_fuzz_invariants(spark):
    """Random sizes/documents: pack_sequences bins never exceed the budget
    (except single oversized rows, alone in their bin) and every row packs
    exactly once; chunk_documents chunks reassemble to the exact original
    token sequence under overlap accounting."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.datapipe.text import chunk_documents, pack_sequences

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(st.integers(1, 40), min_size=1, max_size=30),
        budget=st.integers(8, 30),
    )
    def prop_pack(sizes, budget):
        df = spark.createDataFrame(
            pd.DataFrame({"rid": list(range(len(sizes))), "n": sizes})
        )
        out = pack_sequences(df, "n", budget).toPandas()
        assert sorted(out["rid"]) == list(range(len(sizes)))  # exactly once
        fills = out.groupby("bin_id")["n"].sum()
        members = out.groupby("bin_id")["rid"].count()
        for b in fills.index:
            assert fills[b] <= budget or members[b] == 1, (b, fills[b], members[b])

    prop_pack()

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_tok=st.integers(1, 60),
        max_tokens=st.integers(2, 20),
        overlap_frac=st.sampled_from([0.0, 0.25, 0.5]),
    )
    def prop_chunk(n_tok, max_tokens, overlap_frac):
        overlap = int(max_tokens * overlap_frac)
        toks = [f"t{i}" for i in range(n_tok)]
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0], "text": [" ".join(toks)]})
        )
        out = (
            chunk_documents(df, "text", "doc_id", max_tokens=max_tokens, overlap=overlap)
            .toPandas().sort_values("chunk_id")
        )
        stride = max_tokens - overlap
        rebuilt = []
        for k, row in zip(out["chunk_id"], out["chunk_text"]):
            ctoks = row.split(" ")
            assert ctoks == toks[k * stride : k * stride + max_tokens], (k, ctoks)
            assert len(ctoks) <= max_tokens
            rebuilt.extend(ctoks if k == 0 else ctoks[overlap:])
        assert rebuilt == toks, (max_tokens, overlap, rebuilt)

    prop_chunk()


def test_minhash_dedup_signatures_reuse_identical(spark):
    """signatures= (a precomputed (id, minhash) frame with matching
    num_hashes) must produce the identical survivor set as the
    self-computed path — the sketch-family reuse contract."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark dataframes and catalyst " * 5
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other]})
    )
    from tsflex_spark.datapipe.dedup import (
        minhash_dedup,
        minhash_signatures,
        shingle_rows,
        sketch_signatures,
    )

    plain = minhash_dedup(
        df, "text", "doc_id", threshold=0.5, num_hashes=32, num_bands=8
    ).toPandas()
    sh = shingle_rows(df, "text", "doc_id")
    for sig in (
        minhash_signatures(df, "text", "doc_id", num_hashes=32, shingles=sh),
        sketch_signatures(df, "text", "doc_id", num_hashes=32, shingles=sh),
    ):
        reused = minhash_dedup(
            df, "text", "doc_id", threshold=0.5, num_hashes=32, num_bands=8,
            shingles=sh, signatures=sig,
        ).toPandas()
        assert set(reused["doc_id"]) == set(plain["doc_id"]) == {0, 2}


def test_minhash_recall_warning(spark):
    """The LSH recall contract must be LOUD (r9 verdict #3): when the
    banding's per-pair catch probability 1-(1-t^r)^b at the requested
    threshold is below 0.999, minhash_dedup warns naming the number and
    a num_bands that would fix it; a banding at/above 0.999 is silent."""
    import warnings

    from tsflex_spark.datapipe.dedup import minhash_dedup

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["alpha " * 20, "beta " * 20]})
    )
    # 8 bands x 8 rows at threshold 0.8 -> catch 0.770 (the auto choice
    # that deterministically missed a J~0.9 pair while gating in r9)
    with pytest.warns(RuntimeWarning, match=r"0\.7699.*num_bands=16"):
        minhash_dedup(df, "text", "doc_id", threshold=0.8, num_hashes=64, num_bands=8)
    # the AUTO banding picks exactly that 8-band point -> must also warn
    with pytest.warns(RuntimeWarning, match=r"num_bands=16"):
        minhash_dedup(df, "text", "doc_id", threshold=0.8, num_hashes=64)
    # 16 bands x 4 rows -> catch 0.9998 >= 0.999 -> silent
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        minhash_dedup(df, "text", "doc_id", threshold=0.8, num_hashes=64, num_bands=16)


def test_minhash_dedup_superset_frames_pruned(spark):
    """signatures=/shingles= may cover a SUPERSET of df (a corpus-wide
    sketch pass feeding batches); they must be semi-join-pruned to df so
    a df row is never dropped because its only near-dup lives OUTSIDE df
    (ADVICE r9: the out-of-df dup had the lower id, making the df row the
    id_b 'loser')."""
    from tsflex_spark.datapipe.dedup import (
        minhash_dedup,
        minhash_signatures,
        shingle_rows,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark dataframes and catalyst " * 5
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other]})
    )
    # df excludes doc 0 -> doc 1's ONLY near-dup is outside df
    df = corpus.where(F.col("doc_id") > 0)
    corpus_sh = shingle_rows(corpus, "text", "doc_id")
    corpus_sig = minhash_signatures(
        corpus, "text", "doc_id", num_hashes=32, shingles=corpus_sh
    )
    for kwargs in (
        {"signatures": corpus_sig},
        {"shingles": corpus_sh},
        {"signatures": corpus_sig, "shingles": corpus_sh},
    ):
        kept = minhash_dedup(
            df, "text", "doc_id", threshold=0.5, num_hashes=32, num_bands=8,
            **kwargs,
        ).toPandas()
        assert set(kept["doc_id"]) == {1, 2}, kwargs.keys()
