"""fastText-style quality classifier: train a linear model on hashed
character-n-gram features, score a web-scale corpus, keep the
high-quality tail — the GPT-3 / LLaMA "quality classifier" stage of a
training-data pipeline.

Reference semantics (public): GPT-3 (arXiv:2005.14165, Appendix A)
trains a logistic-regression classifier with hashed n-gram features
(positive class = curated corpora, negative class = raw Common Crawl)
and keeps a crawl document iff ``score > 1 - np.random.pareto(alpha)``
— a noisy threshold that retains a long tail of lower-scored documents.
LLaMA / CCNet use the same shape with a fastText linear classifier.

Spark-first decomposition:

- **Featurize** (`mean n-gram features`): every char n-gram hashes to
  one of ``dim`` buckets with an independent ±1 sign hash (the hashing
  trick, Weinberger et al. 2009); the document vector is the MEAN of the
  signed one-hot vectors. Mean (not L2) normalization is load-bearing:
  it keeps scoring expressible as a per-n-gram SCALAR sum (below).
- **Train**: MLlib ``LogisticRegression`` over the featurized seed sets
  — distributed JVM L-BFGS; the learned model is ``dim`` doubles + an
  intercept, collected to the driver (bounded by MODEL size, never
  corpus size) and JSON-persistable.
- **Score** (the 100 TB path): because features are mean-of-signed-
  one-hot, ``w·x = (1/n)·Σ_g sign(g)·w[bucket(g)]`` — each n-gram
  contributes ONE scalar looked up from a literal weight array. The
  plan is explode → per-row scalar → one map-side-combined groupBy
  whose shuffle carries (id, partial_sum, partial_count) — 16 bytes per
  doc per partition, never a ``dim``-wide buffer, never Python.

The classifier is deliberately linear: at 100 TB the scorer must be a
narrow codegen plan, and the public pipelines this mirrors (GPT-3,
CCNet, LLaMA) are linear/fastText classifiers too.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsflex_spark.datapipe.text import _char_grams
from tsflex_spark.utils.data import fan_out


def _ngram_rows(
    df: DataFrame, text_col: str, id_col: str, ngram: int
) -> DataFrame:
    """(id, __g) — one row per char n-gram occurrence of the lowercased,
    whitespace-collapsed text (same normalization as ``text.hash_embed``
    so the two featurizers agree on what an n-gram is)."""
    # NULL text contributes NO n-grams (the doc scores
    # sigmoid(intercept) through the scorer's left-join miss) — without
    # the filter the explode emits one NULL gram whose xxhash64 is the
    # hash of the bare seed, an accidental bucket
    d = fan_out(df.select(id_col, text_col)).where(F.col(text_col).isNotNull())
    return _char_grams(d, text_col, id_col, ngram)


def _bucket_and_sign(dim: int) -> tuple:
    h = F.xxhash64("__g")
    sign = F.when(F.pmod(F.xxhash64("__g", F.lit(1)), F.lit(2)) == 0, 1).otherwise(-1)
    return F.pmod(h, F.lit(dim)), sign


def mean_hash_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 128,
    ngram: int = 3,
    out_col: str = "features",
) -> DataFrame:
    """Per-document mean signed-hash n-gram vector (``array<double>``).

    The TRAINING featurizer: one hash-aggregate with ``dim`` conditional
    sums (map-side combined), then a codegen divide by the n-gram count.
    Only the (small) labeled seed sets go through this ``dim``-wide
    shape; corpus-scale scoring uses the scalar path in
    ``score_quality`` and never materializes the vector.
    """
    rows = _ngram_rows(df, text_col, id_col, ngram)
    b, sign = _bucket_and_sign(dim)
    g = rows.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.when(b == j, sign).otherwise(0)).cast("double").alias(f"__e{j}")
            for j in range(dim)
        ],
    )
    vec = F.array(
        *[(F.col(f"__e{j}") / F.col("__n").cast("double")) for j in range(dim)]
    )
    return g.select(F.col(id_col), vec.alias(out_col))


@dataclass
class QualityClassifier:
    """A trained linear quality model: ``dim`` weights + intercept, plus
    the featurizer bindings needed to reproduce training features."""

    weights: List[float]
    intercept: float
    dim: int
    ngram: int

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "weights": list(self.weights),
                    "intercept": float(self.intercept),
                    "dim": int(self.dim),
                    "ngram": int(self.ngram),
                },
                f,
            )

    @staticmethod
    def load(path: str) -> "QualityClassifier":
        with open(path) as f:
            d = json.load(f)
        return QualityClassifier(
            weights=[float(w) for w in d["weights"]],
            intercept=float(d["intercept"]),
            dim=int(d["dim"]),
            ngram=int(d["ngram"]),
        )


def train_quality_classifier(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str = "label",
    *,
    dim: int = 128,
    ngram: int = 3,
    max_iter: int = 64,
    reg_param: float = 1e-3,
) -> QualityClassifier:
    """Fit the classifier on a labeled frame (``label_col`` ∈ {0, 1};
    1 = high quality). Featurization and the L-BFGS fit are both
    distributed; only the ``dim``-sized model comes to the driver.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feats = mean_hash_features(
        docs.select(id_col, text_col, label_col), text_col, id_col,
        dim=dim, ngram=ngram,
    )
    train = feats.join(
        docs.select(id_col, F.col(label_col).cast("double").alias("__y")), id_col
    ).select(array_to_vector("features").alias("features"), F.col("__y").alias("label"))
    lr = LogisticRegression(
        maxIter=int(max_iter), regParam=float(reg_param), standardization=False
    )
    model = lr.fit(train)
    return QualityClassifier(
        weights=[float(w) for w in model.coefficients.toArray()],
        intercept=float(model.intercept),
        dim=dim,
        ngram=ngram,
    )


def label_frames(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str = "label",
) -> DataFrame:
    """Stack curated (label 1) and raw (label 0) seed sets into one
    labeled training frame; ids are prefixed-hash-disambiguated so the
    two sets can share id spaces."""
    pos = positive.select(
        F.xxhash64(F.lit("pos"), F.col(id_col).cast("string")).alias(id_col),
        F.col(text_col),
        F.lit(1).alias(label_col),
    )
    neg = negative.select(
        F.xxhash64(F.lit("neg"), F.col(id_col).cast("string")).alias(id_col),
        F.col(text_col),
        F.lit(0).alias(label_col),
    )
    return pos.unionByName(neg)


def score_quality(
    docs: DataFrame,
    clf: QualityClassifier,
    text_col: str,
    id_col: str,
    out_col: str = "quality_prob",
) -> DataFrame:
    """P(high quality) per document — the corpus-scale scorer.

    Plan shape: explode n-grams → per-row scalar ``sign·w[bucket]``
    (one ``element_at`` into a literal weight array — JVM codegen, no
    Python, no model join) → groupBy(id) whose map-side-combined shuffle
    carries one (sum, count) pair per doc → sigmoid. Documents with no
    n-gram (empty text) score ``sigmoid(intercept)``.
    """
    rows = _ngram_rows(docs, text_col, id_col, clf.ngram)
    b, sign = _bucket_and_sign(clf.dim)
    wlit = F.array(*[F.lit(float(w)) for w in clf.weights])
    contrib = sign.cast("double") * F.element_at(wlit, (b + 1).cast("int"))
    per_doc = rows.select(F.col(id_col), contrib.alias("__c")).groupBy(id_col).agg(
        F.sum("__c").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    out = docs.join(per_doc, on=id_col, how="left")
    z = (
        F.coalesce(F.col("__s") / F.col("__n").cast("double"), F.lit(0.0))
        + F.lit(float(clf.intercept))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return out.withColumn(out_col, prob).drop("__s", "__n")


def pareto_keep_col(
    score_col: Column,
    id_col: Column,
    *,
    alpha: float = 9.0,
    seed: int = 0,
) -> Column:
    """GPT-3's noisy quality threshold as a deterministic column:
    keep iff ``score > 1 - pareto(alpha)``.

    The Pareto draw is derived from a per-document hash uniform
    (``u ∈ (0,1]`` from ``xxhash64(id, seed)``) through the Lomax
    inverse CDF ``u^(-1/alpha) - 1`` — same distribution as
    ``np.random.pareto``, but reproducible across reruns, partitionings,
    and engines (no RNG state on executors).
    """
    h = F.xxhash64(id_col.cast("string"), F.lit(int(seed)))
    # map int64 → (0, 1]: scale to (-0.5, 0.5) in double (53-bit mantissa
    # uniformity is ample for a keep/drop draw), shift, clamp away from 0
    u = h.cast("double") / F.lit(float(2**64)) + F.lit(0.5)
    u = F.greatest(u, F.lit(2.0**-53))
    pareto = F.pow(u, F.lit(-1.0 / float(alpha))) - F.lit(1.0)
    return score_col > (F.lit(1.0) - pareto)


def quality_filter(
    docs: DataFrame,
    clf: QualityClassifier,
    text_col: str,
    id_col: str,
    *,
    min_prob: Optional[float] = None,
    pareto_alpha: Optional[float] = None,
    seed: int = 0,
) -> DataFrame:
    """Keep high-quality documents. Exactly one of ``min_prob`` (hard
    threshold) or ``pareto_alpha`` (GPT-3 noisy threshold) must be set;
    the plan stays a filter over the scalar-sum scorer either way."""
    if (min_prob is None) == (pareto_alpha is None):
        raise ValueError("set exactly one of min_prob / pareto_alpha")
    scored = score_quality(docs, clf, text_col, id_col, out_col="__qp")
    if min_prob is not None:
        kept = scored.filter(F.col("__qp") >= F.lit(float(min_prob)))
    else:
        kept = scored.filter(
            pareto_keep_col(
                F.col("__qp"), F.col(id_col), alpha=float(pareto_alpha), seed=seed
            )
        )
    return kept.drop("__qp")


def score_quality_local(
    docs: DataFrame,
    clf: QualityClassifier,
    text_col: str,
    id_col: str,
    out_col: str = "quality_prob",
) -> DataFrame:
    """Narrow per-row scorer: the ``dim`` weights ride the task closure
    and every output row derives from exactly one input row — no
    shuffle, no aggregation, so it runs unchanged on a STREAM in append
    mode (the production "train once, score the incoming crawl" shape).

    Buckets and signs are recomputed in-closure with
    ``utils.xxh.spark_xxhash64`` — a pure-Python XXH64 with Catalyst's
    argument-fold semantics, bit-identical to the engine expressions
    (asserted by tests), so this path agrees with ``score_quality`` up
    to float association.
    """
    import math
    import re

    import pandas as pd  # noqa: F811 — resolved in the worker

    from tsflex_spark.utils.xxh import spark_xxhash64

    w = list(clf.weights)
    b0 = float(clf.intercept)
    dim, ngram = int(clf.dim), int(clf.ngram)
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out_col} double"
    # ASCII \s+ == Java's default \s (tokenizer parity with Catalyst);
    # regexp_replace does NOT trim — neither do we
    ws_re = re.compile(r"\s+", re.ASCII)

    def _score(batches):
        for pdf in batches:
            ids, probs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or text is pd.NA or (
                    isinstance(text, float) and math.isnan(text)
                ):
                    # engine parity: NULL text -> no grams -> prior score
                    ids.append(did)
                    probs.append(1.0 / (1.0 + math.exp(-b0)))
                    continue
                norm = ws_re.sub(" ", text).lower()
                if len(norm) <= ngram:
                    grams = [norm[:ngram]]  # sequence(1, greatest(.,1))
                else:
                    grams = [
                        norm[i : i + ngram] for i in range(len(norm) - ngram + 1)
                    ]
                s = 0.0
                for g in grams:
                    b = spark_xxhash64(g) % dim  # pmod: non-negative
                    sign = 1.0 if spark_xxhash64(g, 1) % 2 == 0 else -1.0
                    s += sign * w[b]
                ids.append(did)
                probs.append(1.0 / (1.0 + math.exp(-(s / len(grams) + b0))))
            yield pd.DataFrame({id_col: ids, out_col: probs})

    return docs.mapInPandas(_score, schema=out_schema)
