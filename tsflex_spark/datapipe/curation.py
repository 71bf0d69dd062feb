"""Dataset curation: reproducible splits and stratified sampling.

Training pipelines need splits that are STABLE across reruns, cluster
sizes, and row order — ``randomSplit`` is none of those (it samples per
partition of a given ordering). These ops derive membership from a hash
of the row's identity, so the same id lands in the same split on every
machine, forever, regardless of partitioning.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def deterministic_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[float],
    names: Sequence[str] = ("train", "val", "test"),
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Tag every row with a split name by hashing its id — reproducible
    train/val/test assignment (same id → same split, independent of
    partitioning, ordering, or cluster size; adding rows never moves
    existing ones between splits).

    ``weights`` need not sum to 1 (normalized). Buckets are assigned on
    ``pmod(xxhash64(id, seed), 10^6)`` against cumulative weight
    boundaries — all codegen, no shuffle.
    """
    assert len(weights) == len(names) and len(names) > 0
    total = float(sum(weights))
    m = 1_000_000
    bounds = []
    acc = 0.0
    for w in weights:
        acc += float(w) / total
        bounds.append(int(round(acc * m)))
    bounds[-1] = m  # close the last bucket against float drift
    b = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(m))
    # nested whens smallest-bound-first: each row takes the FIRST boundary
    # it falls under
    expr = F.lit(None).cast("string")
    for name, ub in zip(names, bounds):
        expr = F.coalesce(expr, F.when(b < F.lit(ub), F.lit(name)))
    return df.withColumn(out_col, expr)


def shuffle_corpus(
    df: DataFrame,
    id_col: str,
    seed: int = 42,
    num_files: Optional[int] = None,
) -> DataFrame:
    """Deterministic global shuffle of a training corpus: order rows by
    ``xxhash64(id, seed)`` — the "shuffle once, read sequentially"
    step before sharding a pre-training dataset, where epoch order must
    be reproducible across reruns and robust to input partitioning
    (``df.orderBy(rand())`` is neither: its sample is partition-order-
    dependent and unseeded re-plans reshuffle).

    Hash order is uniform over ids, stable forever for a given seed,
    and different seeds give independent permutations (new epochs =
    new seeds). The sort is a range-partitioned exchange — no single
    task ever holds the corpus; with ``num_files`` the output is also
    coalesced-by-range into that many write tasks so the shuffled
    shards land as exactly ``num_files`` files via ``write.parquet``.
    """
    h = F.xxhash64(F.col(id_col), F.lit(int(seed)))
    out = df.withColumn("__shuffle_key", h)
    if num_files is not None:
        out = out.repartitionByRange(int(num_files), F.col("__shuffle_key"))
        out = out.sortWithinPartitions("__shuffle_key")
    else:
        out = out.orderBy("__shuffle_key")
    return out.drop("__shuffle_key")


def mix_sources(
    df: DataFrame,
    source_col: str,
    target_weights: Dict,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Down-sample per-source so the kept corpus matches ``target_weights``
    proportions with MAXIMAL data retention (the "source mixing" step of
    pre-training pipelines: rebalance web/books/code/wiki shares).

    The limiting source keeps 100%: with per-source counts c_s and target
    weights w_s, the largest achievable corpus is T = min_s(c_s / w_s)
    and each source keeps T·w_s rows. Membership is a pure function of
    (id, seed) — same row kept on every rerun, partitioning, or cluster
    size. Fully declarative: per-source counts are a tiny aggregate
    broadcast back; no collect, no driver loop. Sources absent from
    ``target_weights`` are dropped.
    """
    spark = df.sparkSession
    from tsflex_spark.utils.data import local_rows_df

    w = local_rows_df(
        spark,
        [(str(k), float(v)) for k, v in target_weights.items()],
        f"{source_col} string, __w double",
    )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__c"))
    wc = counts.join(w, on=source_col)  # inner: unlisted sources drop out
    return _keep_by_weights(df, source_col, wc, id_col, seed)


def _keep_by_weights(
    df: DataFrame, source_col: str, wc: DataFrame, id_col: str, seed: int
) -> DataFrame:
    """Shared max-retention mechanics for the source-mixing ops: given a
    per-source ``(source, __c, __w)`` frame, keep each source's rows with
    probability ``min(T·w_s / (Σw·c_s), 1)`` where T is the largest corpus
    with every T·p_s <= c_s — membership a pure function of (id, seed).
    NULL source groups participate (null-safe join)."""
    m = 1_000_000
    lim = wc.agg(F.min(F.col("__c").cast("double") / F.col("__w")).alias("__t"))
    frac = wc.join(F.broadcast(lim)).select(
        F.col(source_col).alias("__src"),
        F.least(
            F.col("__t") * F.col("__w") / F.col("__c").cast("double"), F.lit(1.0)
        ).alias("__keep"),
    )
    b = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(m))
    # eqNullSafe: a NULL source is a legitimate group (scraped corpora);
    # a plain equi-join would silently drop every NULL-source row
    out = df.join(F.broadcast(frac), on=df[source_col].eqNullSafe(frac["__src"]))
    return (
        out.where(b < (F.col("__keep") * m).cast("long")).drop("__src", "__keep")
    )


def temperature_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    alpha: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled source rebalancing: target proportions are
    ``p_s ∝ c_s^alpha`` (c_s = per-source row count) — the standard
    up-weighting of small sources in multilingual / multi-source
    pre-training mixes. ``alpha=1`` keeps natural proportions (no rows
    dropped); ``alpha=0`` targets a uniform mix; values in between
    flatten the source distribution smoothly.

    Down-sampling only, with maximal retention: the corpus size is the
    largest T with T·p_s <= c_s for every source (the most-boosted —
    smallest — source keeps 100%). Membership is a pure function of
    (id, seed), so the kept set is stable across reruns, partitionings,
    and cluster sizes. Plan shape: one tiny per-source count aggregate,
    a scalar-limit broadcast join back — the corpus itself never
    shuffles.
    """
    if not 0.0 <= float(alpha) <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__c"))
    # largest corpus T with T * (w_s / W) <= c_s  ⇒  T = min_s c_s·W/w_s;
    # keep_s = T·w_s / (W·c_s). W cancels inside _keep_by_weights' ratio.
    wc = counts.withColumn(
        "__w", F.pow(F.col("__c").cast("double"), F.lit(float(alpha)))
    )
    return _keep_by_weights(df, source_col, wc, id_col, seed)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Dict,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the hash of its
    id falls under its stratum's fraction. Unlike ``DataFrame.sampleBy``
    the decision is a pure function of (id, seed) — stable across reruns
    and partitionings; strata missing from ``fractions`` are dropped.
    """
    m = 1_000_000
    b = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(m))
    cond = F.lit(False)
    for k, frac in fractions.items():
        cond = cond | (
            (F.col(strata_col) == F.lit(k)) & (b < F.lit(int(round(float(frac) * m))))
        )
    return df.where(cond)


def corpus_stats(
    df: DataFrame,
    text_col: str,
    source_col: str,
    lang_col: Optional[str] = None,
) -> DataFrame:
    """Per-source corpus report — the numbers a mixture plan
    (``mix_sources`` weights, token budgets) is written against:
    document count, total/mean characters, total/mean ``text._tokens``
    tokens (the count ``text_stats`` reports; NULL text is left out of
    the token sum and mean),
    and (when ``lang_col`` is given) distinct languages plus the share of
    the majority language.

    One hash-aggregate over the corpus; the token count is a codegen
    expression (no Python, no explode). The majority-language share runs
    as a two-level aggregate — (source, lang) counts, then max/sum per
    source — so the big shuffle carries one row per (source, lang), not
    per document.
    """
    from tsflex_spark.datapipe.text import _tokens

    toks = F.size(_tokens(F.col(text_col)))
    base = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(text_col)).alias("total_chars"),
        F.avg(F.length(text_col)).alias("mean_chars"),
        F.sum(toks).alias("total_tokens"),
        F.avg(toks).alias("mean_tokens"),
    )
    if lang_col is None:
        return base
    per_lang = df.groupBy(source_col, lang_col).agg(F.count(F.lit(1)).alias("__c"))
    lang = per_lang.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_langs"),
        (F.max("__c").cast("double") / F.sum("__c")).alias("top_lang_share"),
    )
    return base.join(lang, on=source_col)


def cluster_assign_with_sim(
    df: DataFrame,
    index,
    *,
    out_cell: str = "__cell",
    out_sim: str = "__proto_sim",
) -> DataFrame:
    """Attach (nearest-centroid cell, cosine similarity to that
    centroid) — one Arrow-vectorized BLAS pass per batch; the centroid
    matrix rides the task closure (model-sized, never corpus-sized)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = index.centroids
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    norms = (C**2).sum(1)

    @pandas_udf(f"struct<{out_cell}: int, {out_sim}: double>")
    def _assign(v: pd.Series) -> pd.DataFrame:
        X = np.stack([np.asarray(x, dtype="float64") for x in v.to_numpy()])
        # nearest centroid in L2 (matches ivf_assign), similarity in cosine
        d2 = -2.0 * (X @ C.T) + norms[None, :]
        cell = d2.argmin(1)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sim = (Xn * Cn[cell]).sum(1)
        return pd.DataFrame({out_cell: cell.astype("int32"), out_sim: sim})

    s = _assign(F.col(index.vec_col)).alias("__cs")
    return df.withColumn("__cs", s).select(
        "*", f"__cs.{out_cell}", f"__cs.{out_sim}"
    ).drop("__cs")


def cluster_sample(
    df: DataFrame,
    id_col: str,
    *,
    vec_col: str = "embedding",
    num_cells: int = 16,
    keep_frac: Optional[float] = None,
    per_cell_budget: Optional[int] = None,
    strategy: str = "diverse",
    index=None,
    seed: int = 7,
) -> DataFrame:
    """Cluster-aware data pruning (SSL-prototypes, "Beyond neural
    scaling laws", arXiv:2206.14486): cluster the embedding space,
    score every example by its cosine similarity to its cluster
    centroid ("prototypicality"), and keep a per-cluster subset:

    - ``strategy="diverse"`` keeps the LEAST prototypical examples —
      the paper's result: with abundant data, pruning easy/typical
      examples beats random and improves the scaling curve;
    - ``strategy="prototypical"`` keeps the MOST typical (the
      low-data regime, or denoising a scraped corpus);
    - ``strategy="balanced"`` keeps up to ``per_cell_budget`` per
      cluster ordered by typicality — equalizing cluster mass (the
      long-tail rebalancing used by cluster-based curation pipelines).

    Exactly one of ``keep_frac`` (per-cluster fraction) or
    ``per_cell_budget`` (per-cluster row cap) must be set.

    Scale shape: the quantizer trains ONCE on a bounded sample (pass a
    pre-trained ``index`` to skip even that); assignment + scoring is
    one narrow Arrow pass; ranking is one window shuffle PARTITIONED BY
    CELL (no global sort, no single-partition window) with hashed-id
    tie-breaks for determinism. Use ``num_cells`` ≳ shuffle
    parallelism at scale so cells spread across executors.
    """
    from pyspark.sql import Window

    from tsflex_spark.datapipe.similarity import ivf_train

    if (keep_frac is None) == (per_cell_budget is None):
        raise ValueError("set exactly one of keep_frac / per_cell_budget")
    if strategy not in ("diverse", "prototypical", "balanced"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if index is None:
        index = ivf_train(
            df, nlist=num_cells, vec_col=vec_col, id_col=id_col, seed=seed
        )
    scored = cluster_assign_with_sim(df, index)
    asc = strategy == "diverse"  # least-typical first
    order = (
        [F.col("__proto_sim").asc(), F.xxhash64(F.col(id_col)).asc()]
        if asc
        else [F.col("__proto_sim").desc(), F.xxhash64(F.col(id_col)).asc()]
    )
    w = Window.partitionBy("__cell").orderBy(*order)
    ranked = scored.withColumn("__rk", F.row_number().over(w))
    if per_cell_budget is not None:
        kept = ranked.filter(F.col("__rk") <= F.lit(int(per_cell_budget)))
    else:
        cnt = Window.partitionBy("__cell")
        ranked = ranked.withColumn("__cn", F.count(F.lit(1)).over(cnt))
        kept = ranked.filter(
            F.col("__rk")
            <= F.ceil(F.col("__cn").cast("double") * F.lit(float(keep_frac)))
        ).drop("__cn")
    return kept.drop("__rk", "__cell", "__proto_sim")


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[float],
    names: Sequence[str] = ("train", "val", "test"),
    seed: int = 42,
    *,
    edges: Optional[DataFrame] = None,
    edge_cols: Sequence[str] = ("id_a", "id_b"),
    cluster_labels: Optional[DataFrame] = None,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test split that CANNOT leak through near-duplicates:
    membership is hashed from the document's duplicate-CLUSTER label, so
    every member of a near-dup cluster lands in the SAME split.

    Splitting by row id (``deterministic_split``) silently contaminates
    evaluation whenever near-duplicate documents straddle the boundary —
    the standard benchmark-leakage failure of web-scale corpora (the
    reason dedup pipelines run BEFORE splitting; see Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better", §6).
    This op makes the split dedup-aware instead of order-dependent.

    Provide the duplicate structure either way:

    - ``edges``: a candidate/verified pair frame (e.g. LSH + Jaccard
      verify output) with columns ``edge_cols`` — resolved here with
      ``dedup.connected_components`` (O(log n) rounds);
    - ``cluster_labels``: a precomputed ``(node, component)`` frame (the
      CC output) when the pipeline already resolved clusters.

    Docs absent from the label table are singleton clusters (their own
    id). Plan shape: one equi-join of the corpus against the bounded
    label table (only docs that appear in a pair carry a label), then
    the same codegen hash-bucket assignment as ``deterministic_split``
    — the corpus shuffles at most once, on the join key.
    """
    if (edges is None) == (cluster_labels is None):
        raise ValueError("pass exactly one of edges= or cluster_labels=")
    if cluster_labels is None:
        from tsflex_spark.datapipe.dedup import connected_components

        cluster_labels = connected_components(edges, *edge_cols)
    labels = cluster_labels.select(
        F.col("node").alias("__node"), F.col("component").alias("__grp")
    )
    labeled = df.join(
        labels, on=df[id_col] == labels["__node"], how="left"
    ).withColumn("__grp", F.coalesce("__grp", F.col(id_col))).drop("__node")
    out = deterministic_split(
        labeled, "__grp", weights, names=names, seed=seed, out_col=out_col
    )
    return out.drop("__grp")
