"""DataFrame-native evaluation metrics.

Why not ``pyspark.ml.evaluation``: MLlib's binary evaluators run
RDD-based jobs whose closures fail to serialize whenever the session
has EVER registered a ``DataFrame.observe`` Observation (Spark 4
classic: ``NotSerializableException: ObservationManager`` — even after
the observation resolved). Any session that used the FeatureCollection
sparsity watcher or ``utils.validate.observe_rules`` is permanently
incompatible with them. These metrics stay on the DataFrame API, so
they compose with observations and with whole-stage codegen.

Scale shape of ``binary_auc``: one groupBy(score) aggregate (shuffle of
one row per DISTINCT score), one window cumulative-sum over the ordered
per-score rows (a single-partition WindowExec, but over the distinct-
score frame — bounded by score cardinality, not row count), one final
scalar aggregate. 100 TB of rows with float scores round-trips ~1e6
distinct rounded scores, not 1e12 rows, through the narrow stage; pass
``round_scores`` to bound cardinality explicitly.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _rank_sums(
    df: DataFrame, label_col: str, score_col: str, round_scores: Optional[int]
) -> DataFrame:
    """One-row (``rank_sum_pos``, ``n_pos``, ``n_neg``) frame: the sum of
    the positives' average ranks and the two class counts (doubles, 0
    when a class is absent) — the rank aggregation both AUC forms share."""
    y = F.col(label_col).cast("double")
    s = F.col(score_col).cast("double")
    if round_scores is not None:
        s = F.round(s, int(round_scores))
    per_score = (
        df.select(s.alias("__s"), y.alias("__y"))
        .where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").alias("__np"),
        )
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.select(
        "__n",
        "__np",
        # average rank of this score's tie group: rows strictly below +
        # (n+1)/2 within the group
        (
            F.coalesce(F.sum("__n").over(w), F.lit(0)).cast("double")
            + (F.col("__n") + 1) / 2.0
        ).alias("__r"),
    )
    return ranked.agg(
        F.sum(F.col("__np") * F.col("__r")).alias("rank_sum_pos"),
        F.coalesce(F.sum("__np"), F.lit(0.0)).cast("double").alias("n_pos"),
        F.coalesce(F.sum(F.col("__n") - F.col("__np")), F.lit(0.0))
        .cast("double")
        .alias("n_neg"),
    )


def binary_auc(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    round_scores: Optional[int] = None,
) -> float:
    """Exact ROC-AUC via the Mann-Whitney U statistic with average ranks
    for tied scores (identical to sklearn's ``roc_auc_score`` and to the
    trapezoidal ROC integral):

        AUC = (Σ_{positives} rank(score) - n⁺(n⁺+1)/2) / (n⁺ · n⁻)

    ``round_scores`` optionally rounds scores to that many decimals
    first — a cardinality bound for the distinct-score frame at extreme
    scale (ties are handled exactly either way).
    """
    row = _rank_sums(df, label_col, score_col, round_scores).first()
    n_pos, n_neg = row["n_pos"], row["n_neg"]
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            f"AUC undefined: n_pos={int(n_pos)}, n_neg={int(n_neg)} — "
            "need both classes present"
        )
    u = float(row["rank_sum_pos"]) - n_pos * (n_pos + 1) / 2.0
    return u / (n_pos * n_neg)


def binary_auc_frame(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    round_scores: Optional[int] = None,
    out_col: str = "auc",
) -> DataFrame:
    """``binary_auc`` as a LAZY one-row DataFrame (r10 optimization):
    the same rank aggregation, with the final scalar derivation
    ``(rank_sum − n⁺(n⁺+1)/2) / (n⁺·n⁻)`` expressed in identical
    double-arithmetic order as Spark expressions — bit-identical to the
    eager float, but composable into a plan (crossJoin/broadcast)
    without a blocking driver collect in the query path (guide §5).
    Degenerate inputs (a single class) yield NULL instead of raising —
    callers that need the loud error should use ``binary_auc``."""
    agg = _rank_sums(df, label_col, score_col, round_scores)
    u = F.col("rank_sum_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    return agg.select(
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u / (F.col("n_pos") * F.col("n_neg")),
        ).alias(out_col)
    )
