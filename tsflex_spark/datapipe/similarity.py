"""Embedding similarity search over ``array<float>`` columns.

Two tiers (SURVEY north-star: ANN over the ``embeddings`` table):

- ``cosine_topk``: brute-force exact top-k — one JVM-side pass
  (``F.aggregate``/``F.zip_with`` dot product, no Python), then a top-k.
  The scan is embarrassingly parallel; the top-k is a per-partition
  ``takeOrdered``-style reduction, so no full sort/shuffle of the corpus.
- ``lsh_bucket_topk``: the scale path — deterministic random-hyperplane
  LSH signatures bucket the corpus; only the query's bucket (plus
  multi-probe neighbors) is scanned. At 100 TB the bucket column becomes
  the partition key so a query touches a bounded partition subset.

Hyperplanes are derived from ``xxhash64(dim_index, plane_seed)`` signs —
fully deterministic, no stored model, identical across executors.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _f(v: float) -> str:
    """Exact SQL double literal for a Python float (repr round-trips)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _qident(name: str) -> str:
    """Backtick-quote a column NAME for interpolation into parsed SQL.

    Plain identifiers pass through; anything else (spaces, hyphens,
    dots, backticks) is quoted with embedded backticks doubled — the
    Column-API path accepted such names, so the parsed-SQL fast path
    must too (and raw interpolation of an untrusted name would
    otherwise be an expression-injection surface)."""
    import re

    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return name
    return "`" + name.replace("`", "``") + "`"


def _dot_lit(vec_col, q: Sequence[float]) -> Column:
    """<vec, q> with the literal query unrolled — left-to-right sum, exact
    expression-tree parity with the DuckDB oracle.

    PERF (r10): pass the vector column's NAME to get the parsed-SQL
    construction — one JVM parse instead of ~4 py4j round trips per
    dimension (~0.3 s of driver time per 64-dim call through the Column
    API, paid on every invocation). A Column argument keeps the legacy
    path; both build the same analyzed tree."""
    if not isinstance(vec_col, Column):
        terms = " + ".join(
            f"CAST(element_at({_qident(vec_col)}, {i + 1}) AS DOUBLE) * {_f(v)}"
            for i, v in enumerate(q)
        )
        return F.expr(f"({terms})")
    terms = [F.element_at(vec_col, i + 1).cast("double") * F.lit(float(v)) for i, v in enumerate(q)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _norm(vec_col) -> Column:
    if not isinstance(vec_col, Column):
        return F.expr(
            f"sqrt(aggregate({_qident(vec_col)}, 0.0D, "
            f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        )
    return F.sqrt(
        F.aggregate(
            vec_col,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity_col(vec_col, q: Sequence[float]) -> Column:
    """Cosine similarity against a literal query. ``vec_col`` may be a
    Column (legacy) or a column NAME (fast parsed-SQL construction —
    see ``_dot_lit``)."""
    import math

    qn = math.sqrt(sum(float(v) * float(v) for v in q))
    return _dot_lit(vec_col, q) / (_norm(vec_col) * F.lit(qn))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    ``ORDER BY cosine DESC, id LIMIT k`` — Catalyst plans a TakeOrderedAndProject
    (per-partition heap + driver merge), never a global sort.
    """
    scored = df.select(
        F.col(id_col),
        cosine_similarity_col(vec_col, query_vec).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _plane_signs(num_planes: int, dim: int, seed: int) -> List[List[float]]:
    """Deterministic ±1 hyperplane matrix, generated driver-side from the
    seed (embedded as literals — identical for corpus and query
    expressions, so signatures agree bit-for-bit with zero stored model)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(num_planes, dim)) * 2.0 - 1.0).tolist()


def lsh_signature_col(vec_col, num_planes: int, dim: int, seed: int = 7) -> Column:
    """Random-hyperplane LSH signature (bit-packed into a LONG).

    Bit p of the signature = [ <vec, plane_p> > 0 ]. Planes are literal ±1
    arrays: each projection is one ``zip_with``/``aggregate`` fold over
    literals — a compact expression tree (an xxhash-per-component variant
    measured 15s at sf0.1 from codegen size alone; this is <1s).

    ``vec_col`` may be a Column (legacy) or a column NAME — the name
    form builds the whole signature as ONE parsed SQL string (r10:
    ~0.65 s of py4j Column-construction per call removed at
    8 planes × 64 dims; same analyzed tree, value-identical).
    """
    signs = _plane_signs(num_planes, dim, seed)
    if not isinstance(vec_col, Column):
        parts = []
        for p in range(num_planes):
            arr = ", ".join(_f(s) for s in signs[p])
            proj = (
                f"aggregate(zip_with({_qident(vec_col)}, array({arr}), "
                f"(a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, x) -> acc + x)"
            )
            parts.append(
                f"(CASE WHEN {proj} > 0.0D THEN CAST({1 << p} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr("CAST(0 AS BIGINT) | " + " | ".join(parts))
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = F.array(*[F.lit(s) for s in signs[p]])
        proj = F.aggregate(
            F.zip_with(vec_col, plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return sig


def lsh_bucket_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 1,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k with the query given as a (broadcastable) one-row DataFrame
    ``(q_vec array<float>)`` — signatures for corpus AND query are computed
    by the same JVM expression, so they agree bit-for-bit.

    Join on hamming(bucket_q, bucket_row) <= probe_hamming via broadcast of
    the single query row, then exact cosine re-rank of the candidates.
    """
    sig = lsh_signature_col(vec_col, num_planes, dim, seed)
    corpus = df.withColumn("__sig", sig)
    q = query_df.select(
        F.col("q_vec"),
        lsh_signature_col("q_vec", num_planes, dim, seed).alias("__qsig"),
    )
    joined = corpus.join(F.broadcast(q))
    ham = F.bit_count(F.col("__sig").bitwiseXOR(F.col("__qsig")))
    cand = joined.where(ham <= probe_hamming)
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("q_vec"), lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (_norm(F.col(vec_col)) * _norm(F.col("q_vec")))
    return (
        cand.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    index: Optional["IVFIndex"] = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: a k-means coarse quantizer partitions
    the corpus into ``nlist`` cells; only the ``nprobe`` cells whose
    centroids are nearest the query are scanned, then exact cosine re-ranks
    candidates.

    Scale shape: the quantizer trains on a BOUNDED, deterministic sample
    driver-side (seeded numpy Lloyd — production IVF never runs multi-pass
    Lloyd over the full corpus; FAISS-style practice is a few hundred
    samples per centroid). The learned centroids become LITERAL Catalyst
    expressions, so cell assignment is one whole-stage-codegen'd pass with
    no ML-pipeline overhead — the same literal-expression-tree technique as
    the LSH hyperplanes above. At 100 TB the corpus is written partitioned
    by ``__cell`` so a query prunes to nprobe/nlist of the files before any
    scan (partition pruning on the cell filter). Search itself is the same
    TakeOrderedAndProject heap as ``cosine_topk`` but over a bounded
    candidate subset.
    """
    # Training: pass ``index`` (an IVFIndex from ``ivf_train``) to reuse a
    # quantizer across many queries — train once, probe many. Without it,
    # train-per-call is the test-scale compromise; the persistable path
    # (train once / ivf_write partitioned-by-cell / partition-pruned
    # search) is IVFIndex + ivf_search_parquet below.
    # cell = argmin_j ||x - c_j||^2 = argmin_j (-2<x,c_j> + ||c_j||^2) as an
    # Arrow-vectorized pandas UDF: one BLAS matmul (n, dim)x(dim, nlist)
    # per batch. NOT a literal expression tree — nlist x dim unrolled
    # multiply-adds measured 2x SLOWER end-to-end than the UDF (janino
    # compilation of the giant expression dominates); matmul is the same
    # kernel FAISS uses for assignment. numpy argmin ties on the lowest
    # cell id (deterministic).
    if index is None:
        index = ivf_train(df, nlist, vec_col=vec_col, id_col=id_col, seed=seed)
    probe = probe_cells(index, query_vec, nprobe)
    cand = ivf_assign(df, index).where(F.col("__cell").isin(probe))
    scored = cand.select(
        F.col(id_col), cosine_similarity_col(vec_col, query_vec).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _exact_d2_topk(Q, C, S, top: int):
    """Per-query top-``top`` by EXACT squared euclidean distance.

    ``S`` is the expanded-form ``‖q‖² − 2q·c + ‖c‖²`` matrix: one BLAS
    matmul, but its cancellation error (up to a few ulps of ``‖q‖²+‖c‖²``)
    swamps the distance of near-duplicates, so an identical vector can
    score above a 1-ulp-perturbed one and d2 can go negative. The
    candidates are every column within that error bound of the k-th
    expanded score, re-scored as ``Σ(q−c)²`` (k·d flops per query, no
    cancellation), then cut to ``top``. Returns ``(idx, d2)``, both
    ``(n_queries, top)``.
    """
    import numpy as np

    n = S.shape[1]
    kth = np.partition(S, top - 1, axis=1)[:, top - 1 : top]
    qq = (Q * Q).sum(axis=1, keepdims=True)
    tol = 8.0 * (Q.shape[1] + 2) * np.finfo(np.float64).eps * (qq + (C * C).sum(axis=1).max())
    m = int(min(n, max(top, (S <= kth + 2.0 * tol).sum(axis=1).max())))
    cand = np.argpartition(S, m - 1, axis=1)[:, :m] if m < n else np.tile(np.arange(n), (len(Q), 1))
    exact = np.empty(cand.shape, dtype=np.float64)
    # chunk the queries so the (rows, m, d) difference block stays small
    step = max(1, (1 << 22) // max(1, m * Q.shape[1]))
    for lo in range(0, len(Q), step):
        d = Q[lo : lo + step, None, :] - C[cand[lo : lo + step]]
        exact[lo : lo + step] = np.einsum("ijk,ijk->ij", d, d)
    if m > top:
        keep = np.argpartition(exact, top - 1, axis=1)[:, :top]
        return np.take_along_axis(cand, keep, axis=1), np.take_along_axis(exact, keep, axis=1)
    return cand, exact


def knn_join(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    max_queries: int = 100_000,
    metric: str = "cosine",
) -> DataFrame:
    """Exact k-nearest-neighbor JOIN: for every query vector, the ``k``
    most similar corpus vectors — ``(q_id, vec_id, cosine, rank)`` for
    ``metric='cosine'`` (descending similarity) or
    ``(q_id, vec_id, d2, rank)`` for ``metric='euclidean'`` (ascending
    squared distance; one BLAS ``||q||² − 2·Q·Cᵀ + ||c||²`` per block
    picks the candidates, which are re-scored as exact ``Σ(q−c)²``, so
    near-duplicates rank and score exactly).

    This is the retrieval-dataset builder (mine hard negatives / build
    eval sets for a whole query table at once), not the single-vector
    ``cosine_topk``.

    Scale shape: the corpus NEVER shuffles. The (bounded, small) query
    side is collected to the driver and shipped in the task closure —
    the map-side analog of a broadcast join; each corpus partition
    computes one BLAS matmul (queries × partition-block) and keeps a
    per-partition partial top-k via ``argpartition``. The only shuffled
    rows are the partials — O(#queries × #partitions × k) — which one
    per-query window pass reduces to the exact global top-k
    (ties broken by id, so results are deterministic and
    oracle-comparable). 100 TB corpus × 10⁵ queries is a map-only scan
    plus a trivially small exchange.
    """
    import numpy as np

    from pyspark.sql import Window

    if metric not in ("cosine", "euclidean"):
        raise ValueError(f"metric must be 'cosine' or 'euclidean', got {metric!r}")
    # the shape's load-bearing assumption is a BOUNDED query table (it
    # rides the driver + every task closure) — guard it instead of
    # letting a million-row query side become a silent driver OOM. The
    # guard SHARES the collect job: fetch max+1 rows, error if over.
    qp = (
        queries.select(F.col(q_id_col), F.col(vec_col))
        .limit(int(max_queries) + 1)
        .toPandas()
    )
    if len(qp) > int(max_queries):
        raise ValueError(
            f"knn_join collects the query table to the driver; it has more "
            f"than max_queries={max_queries} rows. For large query tables "
            f"use lsh_bucket_topk / ivf_search_parquet (bucketed ANN "
            f"joins), or raise max_queries if the driver can hold it."
        )
    score_col = "cosine" if metric == "cosine" else "d2"
    # id columns keep their source types (string/int32/long all valid) —
    # hardcoding `long` here silently mistyped non-long ids
    q_id_t = queries.schema[q_id_col].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()
    pair_schema = f"`{q_id_col}` {q_id_t}, `{id_col}` {id_t}, {score_col} double"
    if len(qp) == 0:
        # empty query table: empty result, right schema, no corpus scan
        spark = df.sparkSession
        return spark.createDataFrame([], pair_schema + ", rank int")
    Q = np.asarray(qp[vec_col].tolist(), dtype="float64")
    if metric == "cosine":
        Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    qids = qp[q_id_col].to_numpy()
    kk = int(k)

    def part(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            if metric == "cosine":
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                S = -(Q @ Cn.T)  # negate: partial top-k always takes smallest
            else:
                # ||q-c||² expanded so the heavy term is ONE BLAS matmul
                S = (
                    (Q * Q).sum(axis=1, keepdims=True)
                    - 2.0 * (Q @ C.T)
                    + (C * C).sum(axis=1)
                )
            top = min(kk, S.shape[1])
            if metric == "cosine":
                idx = np.argpartition(S, top - 1, axis=1)[:, :top]
                vals = np.take_along_axis(S, idx, axis=1)
            else:
                idx, vals = _exact_d2_topk(Q, C, S, top)
            ids = pdf[id_col].to_numpy()
            vals = vals.ravel()
            yield pd.DataFrame(
                {
                    q_id_col: np.repeat(qids, top),
                    id_col: ids[idx].ravel(),
                    score_col: -vals if metric == "cosine" else vals,
                }
            )

    partial = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        part, pair_schema
    )
    order = (
        F.col(score_col).desc() if metric == "cosine" else F.col(score_col).asc()
    )
    w = Window.partitionBy(q_id_col).orderBy(order, F.col(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(q_id_col, id_col, score_col, "rank")
    )


# ----------------------------------------------------- persistable IVF
class IVFIndex:
    """Persistable IVF coarse quantizer: the learned centroids plus column
    bindings. At 100 TB the index is trained ONCE (bounded driver-side
    sample), the corpus is written ONCE partitioned by cell
    (``ivf_write``), and every later query planner-prunes to
    nprobe/nlist of the files before any scan (``ivf_search_parquet``) —
    per-call training in ``ivf_topk`` is only the test-scale compromise.
    """

    def __init__(self, centroids, vec_col: str = "embedding", id_col: str = "vec_id"):
        import numpy as np

        self.centroids = np.asarray(centroids, dtype="float64")
        self.vec_col = vec_col
        self.id_col = id_col

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    def save(self, path: str) -> None:
        import numpy as np

        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            centroids=self.centroids,
            vec_col=np.array(self.vec_col),
            id_col=np.array(self.id_col),
        )

    @staticmethod
    def load(path: str) -> "IVFIndex":
        import numpy as np

        z = np.load(path if path.endswith(".npz") else path + ".npz")
        return IVFIndex(
            z["centroids"], vec_col=str(z["vec_col"]), id_col=str(z["id_col"])
        )


def ivf_train(
    df: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    sample_per_centroid: int = 640,
    sample_fraction: Optional[float] = None,
) -> IVFIndex:
    """Train the coarse quantizer on a bounded, deterministic sample
    (seeded numpy Lloyd — FAISS-style practice: a few hundred samples per
    centroid, never multi-pass Lloyd over the full corpus).

    Sampling: the default ``limit(n)`` pull is cheapest but reads the
    FIRST partitions — on a corpus whose layout correlates with content
    (written sorted by topic cluster, by source, by time) that sample
    is biased and the quantizer under-covers later regions. Pass
    ``sample_fraction`` to draw a partition-spanning Bernoulli sample
    instead (one scan; unbiased w.r.t. layout) — the right knob at
    production scale, where training runs once.
    """
    import numpy as np

    src = df.select(vec_col)
    if sample_fraction is not None:
        # the fraction IS the budget: a limit() on top would re-bias
        # (it truncates the sampled stream in partition order, undoing
        # the layout independence the sample just bought)
        sample = src.sample(False, float(sample_fraction), seed).toPandas()
    else:
        sample = src.limit(nlist * sample_per_centroid).toPandas()
    X = np.asarray([np.asarray(v, dtype="float64") for v in sample[vec_col]])
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)].copy()
    for _ in range(10):  # a coarse quantizer does not need convergence
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        for j in range(len(C)):
            m = a == j
            if m.any():
                C[j] = X[m].mean(0)
    return IVFIndex(C, vec_col=vec_col, id_col=id_col)


def ivf_assign(df: DataFrame, index: IVFIndex, out_col: str = "__cell") -> DataFrame:
    """Add the nearest-centroid cell id — one Arrow-vectorized BLAS matmul
    per batch (see ivf_topk's rationale for UDF-over-expression-tree)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    C = index.centroids
    norms = (C**2).sum(1)

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        X_ = np.stack([np.asarray(x, dtype="float64") for x in v.to_numpy()])
        scores = -2.0 * (X_ @ C.T) + norms[None, :]
        return pd.Series(scores.argmin(1).astype("int32"))

    return df.withColumn(out_col, _cell(F.col(index.vec_col)))


def ivf_write(df: DataFrame, index: IVFIndex, path: str, out_col: str = "__cell") -> None:
    """Write the corpus partitioned by IVF cell: the physical layout that
    turns probing into parquet PARTITION PRUNING (a query reads
    nprobe/nlist of the files, decided at plan time)."""
    ivf_assign(df, index, out_col).write.partitionBy(out_col).mode(
        "overwrite"
    ).parquet(path)


def probe_cells(index: IVFIndex, query_vec: Sequence[float], nprobe: int) -> List[int]:
    import numpy as np

    q = np.asarray(list(query_vec), dtype="float64")
    d = ((index.centroids - q[None, :]) ** 2).sum(1)
    return [int(i) for i in np.argsort(d)[:nprobe]]


def ivf_search_parquet(
    spark,
    index: IVFIndex,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "__cell",
) -> DataFrame:
    """Search an ``ivf_write`` layout: the cell filter prunes partitions
    at plan time; exact cosine re-ranks the bounded candidate set."""
    probe = probe_cells(index, query_vec, nprobe)
    cand = spark.read.parquet(path).where(F.col(cell_col).isin(probe))
    scored = cand.select(
        F.col(index.id_col),
        cosine_similarity_col(index.vec_col, query_vec).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(index.id_col)).limit(k)


# --------------------------------------------------- product quantization
class PQCodebook:
    """Product-quantization codebooks (Jégou et al., TPAMI 2011): the
    d-dim space is split into ``m`` subspaces of ``d/m`` dims, each with
    its own ``ksub``-centroid codebook. A vector becomes ``m`` small
    codes — 64-dim float32 (256 B) compresses to ``m`` bytes-ish — and
    distances are computed against codes via one table lookup per
    subspace (ADC), never against reconstructed vectors.

    The 100 TB composition is IVF-PQ: ``ivf_write`` partitions the
    corpus by coarse cell (partition pruning), ``pq_assign`` stores only
    codes inside each partition, ``pq_search`` ADC-scans the pruned
    candidate set. Codebooks are a tiny npz artifact trained once.
    """

    def __init__(self, codebooks, vec_col: str = "embedding", id_col: str = "vec_id"):
        import numpy as np

        self.codebooks = np.asarray(codebooks, dtype="float64")  # (m, ksub, dsub)
        if self.codebooks.ndim != 3:
            raise ValueError("codebooks must be (m, ksub, dsub)")
        self.vec_col = vec_col
        self.id_col = id_col

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dim(self) -> int:
        return self.codebooks.shape[0] * self.codebooks.shape[2]

    def save(self, path: str) -> None:
        import numpy as np

        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            codebooks=self.codebooks,
            vec_col=np.array(self.vec_col),
            id_col=np.array(self.id_col),
        )

    @staticmethod
    def load(path: str) -> "PQCodebook":
        import numpy as np

        z = np.load(path if path.endswith(".npz") else path + ".npz")
        return PQCodebook(z["codebooks"], str(z["vec_col"]), str(z["id_col"]))


def _lloyd(X, k: int, seed: int, iters: int = 12):
    """Seeded numpy Lloyd on a bounded sample (BLAS distance form)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = -2.0 * (X @ C.T) + (C**2).sum(1)[None, :]
        a = d2.argmin(1)
        for j in range(k):
            mask = a == j
            if mask.any():
                C[j] = X[mask].mean(0)
    return C


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    sample_per_centroid: int = 64,
    sample_fraction: Optional[float] = None,
) -> PQCodebook:
    """Train per-subspace codebooks on a bounded, deterministic sample
    (same sampling contract as ``ivf_train`` — pass ``sample_fraction``
    on layout-correlated corpora)."""
    import numpy as np

    src = df.select(vec_col)
    if sample_fraction is not None:
        sample = src.sample(False, float(sample_fraction), seed).toPandas()
    else:
        sample = src.limit(max(ksub * sample_per_centroid, 4 * ksub)).toPandas()
    X = np.asarray([np.asarray(v, dtype="float64") for v in sample[vec_col]])
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = [
        _lloyd(X[:, s * dsub : (s + 1) * dsub], ksub, seed + s) for s in range(m)
    ]
    if len({len(b) for b in books}) != 1:
        raise ValueError("sample smaller than ksub; lower ksub or widen the sample")
    return PQCodebook(np.stack(books), vec_col=vec_col, id_col=id_col)


def pq_assign(df: DataFrame, cb: PQCodebook, out_col: str = "pq_code") -> DataFrame:
    """Encode vectors to PQ codes: one BLAS argmin per subspace per Arrow
    batch, narrow plan, no shuffle. Codes are ``array<smallint>`` (values
    0..ksub-1) so ksub=256 round-trips without sign gymnastics."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    B = cb.codebooks
    m, _, dsub = B.shape
    norms = (B**2).sum(2)  # (m, ksub)

    @pandas_udf("array<smallint>")
    def _code(v: pd.Series) -> pd.Series:
        X_ = np.stack([np.asarray(x, dtype="float64") for x in v.to_numpy()])
        codes = np.empty((len(X_), m), dtype="int16")
        for s in range(m):
            Xs = X_[:, s * dsub : (s + 1) * dsub]
            d2 = -2.0 * (Xs @ B[s].T) + norms[s][None, :]
            codes[:, s] = d2.argmin(1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _code(F.col(cb.vec_col)))


def pq_search(
    df: DataFrame,
    cb: PQCodebook,
    query_vec: Sequence[float],
    k: int = 10,
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k over PQ codes: the query is expanded once into an
    (m, ksub) distance table; each row costs m table lookups + a sum —
    no vector reconstruction, the corpus scan reads only the code column
    (ReadSchema prunes the raw embedding if it is even stored). Returns
    ``(id, approx_dist)`` ascending — TakeOrdered, no global sort."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    q = np.asarray(list(query_vec), dtype="float64")
    B = cb.codebooks
    m, _, dsub = B.shape
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != codebook dim {m * dsub}")
    table = np.stack(
        [((B[s] - q[s * dsub : (s + 1) * dsub][None, :]) ** 2).sum(1) for s in range(m)]
    )  # (m, ksub)

    @pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        C_ = np.stack([np.asarray(c, dtype="int64") for c in codes.to_numpy()])
        return pd.Series(table[np.arange(m)[None, :], C_].sum(1))

    id_col = cb.id_col
    scored = df.select(F.col(id_col), _adc(F.col(code_col)).alias("approx_dist"))
    return scored.orderBy(F.col("approx_dist").asc(), F.col(id_col)).limit(k)


def ivfpq_search(
    df: DataFrame,
    index: IVFIndex,
    cb: PQCodebook,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "__cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN plan — coarse cells prune the scan
    (``nprobe``/``nlist`` of the corpus), PQ codes make what remains a
    table-lookup scan (no raw vectors read).

    ``df`` is the encoded corpus: ``(id, cell_col, code_col)`` from
    ``ivf_assign`` + ``pq_assign`` (persist it partitioned by
    ``cell_col`` — see ``ivf_write`` — and the cell filter becomes
    parquet partition pruning at plan time). Returns ``(id, approx_dist)``
    ascending; re-rank the top candidates against raw vectors for exact
    order when recall matters.
    """
    probe = probe_cells(index, query_vec, nprobe)
    cand = df.where(F.col(cell_col).isin(probe))
    return pq_search(cand, cb, query_vec, k=k, code_col=code_col)
