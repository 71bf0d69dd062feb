"""Distributed n-gram language model: train on a corpus, score documents
by perplexity — the CCNet / Gopher "LM quality filter" stage of a
training-data pipeline (docs far from the reference distribution get
high perplexity and are dropped or bucketed).

Reference semantics (public): CCNet (arXiv:1911.00359) scores Common
Crawl paragraphs with a KenLM n-gram model trained on Wikipedia and
keeps the low-perplexity tail. This module reproduces the shape with a
bigram Laplace-smoothed model expressed entirely in DataFrame ops:

- ``train_ngram_lm``: one groupBy over exploded bigrams (map-side
  partial aggregation — the shuffle carries one row per DISTINCT pair,
  not per token), a second rollup for context counts, and a global
  distinct count for the vocabulary. All three results are small
  relative to the corpus (vocab-sized, not corpus-sized).
- ``score_perplexity``: explode the scored corpus's bigrams, two LEFT
  joins against the model (pair + context), one scalar cross-join for
  the vocab size, then a per-doc aggregate. With a Wikipedia-sized
  model the pair table broadcasts; at web scale both sides shuffle on
  the join key — pass ``hash_keys=True`` so the exchange carries an
  8-byte ``xxhash64`` key instead of raw strings (the standard
  trade: a ~2^-64 per-pair collision chance for a several-× narrower
  shuffle).

Float-parity discipline: per-bigram log-probabilities are fixed-pointed
to micro-nats (``round(ln(p)·1e6)`` as BIGINT) before the per-doc sum,
so the aggregation is exact integer arithmetic — deterministic across
partitionings and engines; only the final perplexity ``exp`` is a
derived double.

Smoothing: p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V) where c(w1·) is the
number of bigram OCCURRENCES with context w1 (0 for unseen contexts)
and V the corpus vocabulary size — additive (Laplace) smoothing, exact
and engine-reproducible, standing in for KenLM's Kneser-Ney (whose
backoff weights are not SQL-expressible in one pass).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsflex_spark.utils.data import cut_lineage

from tsflex_spark.datapipe.text import _grams, _tokens


def _word_rows(df: DataFrame, text_col: str, id_col: str, names: Sequence[str]) -> DataFrame:
    """(id, *names) — one row per ``len(names)``-gram occurrence of the
    lowercased ``_tokens``, one ``element_at`` column per word (codegen,
    no window). Docs shorter than the order contribute nothing (no
    padding, no BOS)."""
    from tsflex_spark.utils.data import fan_out

    # fan_out before the explode: a single-file parquet scan is ONE
    # partition, so the corpus tokenize+explode otherwise runs on one
    # core (guide §2.5 input skew)
    d = fan_out(df).select(F.col(id_col), _tokens(F.lower(F.col(text_col))).alias("__t"))
    d = _grams(d, [F.col(id_col)], "__t", len(names), whole=False)
    return d.select(
        id_col,
        *[F.element_at("__t", F.col("__i") + j).alias(w) for j, w in enumerate(names)],
    )


def bigram_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence (``_word_rows``).

    Public so a caller that both TRAINS and SCORES on the same corpus
    (self-perplexity) can compute the explode once, cut its lineage with
    an eager ``localCheckpoint()`` (NOT ``persist`` — persist keeps the
    full logical plan and registers in the session-global CacheManager,
    measured as multi-minute analysis stalls on deep chains), and pass
    it to ``train_ngram_lm(bigrams=...)`` and
    ``score_perplexity(bigrams=...)`` — halving the corpus explode."""
    return _word_rows(df, text_col, id_col, ["w1", "w2"])


_bigrams = bigram_rows


@dataclass
class NGramLM:
    """A trained bigram model: three small DataFrames (persistable).

    ``pairs``: (w1, w2, c) distinct bigrams with occurrence counts;
    ``contexts``: (w1, cc) bigram occurrences per context;
    ``vocab``: single row (v) — corpus vocabulary size.
    """

    pairs: DataFrame
    contexts: DataFrame
    vocab: DataFrame

    def save(self, path: str) -> None:
        self.pairs.write.mode("overwrite").parquet(f"{path}/pairs")
        self.contexts.write.mode("overwrite").parquet(f"{path}/contexts")
        self.vocab.write.mode("overwrite").parquet(f"{path}/vocab")

    @staticmethod
    def load(spark: SparkSession, path: str) -> "NGramLM":
        return NGramLM(
            pairs=spark.read.parquet(f"{path}/pairs"),
            contexts=spark.read.parquet(f"{path}/contexts"),
            vocab=spark.read.parquet(f"{path}/vocab"),
        )


def train_ngram_lm(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    *,
    min_count: int = 1,
    bigrams: Optional[DataFrame] = None,
) -> NGramLM:
    """Train a bigram model on ``docs``. One wide pass: the groupBy
    shuffle carries one row per distinct (w1, w2) — Zipf makes that far
    smaller than the token stream after map-side combine.

    ``min_count`` prunes rare pairs AFTER context counts are taken (the
    pruned mass still denominates, so pruning only moves pairs into the
    smoothed-unseen bucket — scores stay monotone under pruning).
    """
    bg = bigrams if bigrams is not None else bigram_rows(docs, text_col, id_col)
    # pair counts feed BOTH the model table and the context rollup —
    # eager checkpoint so the corpus explode + big shuffle runs once, not
    # once per consumer (eager: a lazy checkpoint can deadlock against
    # concurrent AQE stage submission — see dedup.py minhash_dedup)
    pairs_all = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(cut_lineage)
    )
    contexts = pairs_all.groupBy("w1").agg(F.sum("c").alias("cc"))
    pairs = pairs_all.filter(F.col("c") >= int(min_count)) if min_count > 1 else pairs_all
    from tsflex_spark.utils.data import fan_out

    toks = fan_out(docs).select(F.explode(_tokens(F.lower(F.col(text_col)))).alias("w"))
    vocab = toks.agg(F.count_distinct("w").alias("v"))
    return NGramLM(pairs=pairs, contexts=contexts, vocab=vocab)


def score_perplexity(
    docs: DataFrame,
    lm: NGramLM,
    text_col: str,
    id_col: str = "doc_id",
    *,
    broadcast_model: bool = False,
    hash_keys: bool = False,
    bigrams: Optional[DataFrame] = None,
) -> DataFrame:
    """Per-document bigram perplexity under ``lm`` (Laplace smoothing).

    Returns (id, n_bigrams, sum_logp_e6, ppl): ``sum_logp_e6`` is the
    exact integer sum of micro-nat log-probs; ``ppl`` =
    exp(-mean log p), NULL for docs with no bigram (<2 tokens).

    Scale knobs: ``broadcast_model=True`` hints both model joins as
    broadcasts (Wikipedia-scale model, web-scale corpus — the corpus
    never shuffles at all); ``hash_keys=True`` joins on 8-byte
    ``xxhash64`` keys so a shuffled join never carries the raw strings.
    """
    bg = bigrams if bigrams is not None else bigram_rows(docs, text_col, id_col)
    pairs, contexts = lm.pairs, lm.contexts
    if hash_keys:
        pairs = pairs.select(F.xxhash64("w1", "w2").alias("__pk"), "c")
        contexts = contexts.select(F.xxhash64("w1").alias("__ck"), "cc")
        bg = bg.select(
            id_col,
            F.xxhash64("w1", "w2").alias("__pk"),
            F.xxhash64("w1").alias("__ck"),
        )
        pair_on, ctx_on = ["__pk"], ["__ck"]
    else:
        pairs = pairs.select("w1", "w2", "c")
        contexts = contexts.select("w1", "cc")
        pair_on, ctx_on = ["w1", "w2"], ["w1"]
    if broadcast_model:
        pairs, contexts = F.broadcast(pairs), F.broadcast(contexts)

    scored = (
        bg.join(pairs, on=pair_on, how="left")
        .join(contexts, on=ctx_on, how="left")
        .join(F.broadcast(lm.vocab))
    )
    p = (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double") / (
        F.coalesce(F.col("cc"), F.lit(0)) + F.col("v")
    ).cast("double")
    logp_e6 = F.round(F.log(p) * F.lit(1_000_000.0), 0).cast("long")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(logp_e6).alias("sum_logp_e6"),
    )
    # left join back so 0/1-token docs still get a row (NULL ppl)
    out = docs.select(id_col).join(per_doc, on=id_col, how="left")
    n = F.col("n_bigrams")
    # quantize to 6 dp: JVM Math.exp and libm exp are both <=1-ulp but
    # not correctly rounded, so the raw double legitimately differs in
    # the last ulp across engines — the integer sums stay the exact
    # cross-engine contract, ppl is a derived report value
    ppl = F.round(
        F.exp(-(F.col("sum_logp_e6").cast("double") / F.lit(1_000_000.0)) / n.cast("double")),
        6,
    )
    return out.select(
        id_col,
        F.coalesce(n, F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("sum_logp_e6"), F.lit(0)).cast("long").alias("sum_logp_e6"),
        ppl.alias("ppl"),
    )


@dataclass
class LocalNGramLM:
    """Driver-side model snapshot (bounded by MODEL size, not corpus
    size) for the narrow scoring path."""

    pairs: dict
    contexts: dict
    v: int


def collect_model(lm: NGramLM) -> LocalNGramLM:
    """Collect the model tables to the driver. Safe when the model fits
    in memory (the KenLM deployment shape — CCNet ships the Wikipedia
    model to every worker); for web-scale models keep the join path."""
    pairs = {(r["w1"], r["w2"]): r["c"] for r in lm.pairs.collect()}
    contexts = {r["w1"]: r["cc"] for r in lm.contexts.collect()}
    v = lm.vocab.collect()[0]["v"]
    return LocalNGramLM(pairs=pairs, contexts=contexts, v=int(v))


def score_perplexity_local(
    docs: DataFrame,
    model: LocalNGramLM,
    text_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Narrow per-row scorer: the model rides the task closure and every
    output row derives from exactly one input row — no shuffle, no
    aggregation, so it runs unchanged on a STREAM in append mode (the
    production 'train once, score the incoming crawl' shape). Bit-equal
    to ``score_perplexity`` (same micro-nat fixed-point sums)."""
    import math
    import re

    import pandas as pd  # noqa: F811 — resolved in the worker

    pairs, contexts, v = model.pairs, model.contexts, model.v
    out_schema = f"{id_col} long, n_bigrams long, sum_logp_e6 long, ppl double"
    # ASCII \s+ == Java's default \s — exact tokenizer parity with
    # text._tokens (str.split() would also split unicode whitespace)
    ws_re = re.compile(r"\s+", re.ASCII)

    def _score(batches):
        for pdf in batches:
            ids, ns, sums, ppls = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ws = [w.lower() for w in ws_re.split(text or "") if w != ""]
                s = n = 0
                for a, b in zip(ws, ws[1:]):
                    p = (pairs.get((a, b), 0) + 1) / (contexts.get(a, 0) + v)
                    s += round(math.log(p) * 1e6)
                    n += 1
                ids.append(did)
                ns.append(n)
                sums.append(s)
                # same 6-dp quantization as the engine path (kills the
                # libm-vs-Math.exp last-ulp divergence)
                ppls.append(round(math.exp(-(s / 1e6) / n), 6) if n else None)
            yield pd.DataFrame(
                {id_col: ids, "n_bigrams": ns, "sum_logp_e6": sums, "ppl": ppls}
            )

    return docs.mapInPandas(_score, schema=out_schema)


def perplexity_filter(
    docs: DataFrame,
    lm: NGramLM,
    text_col: str,
    id_col: str = "doc_id",
    *,
    max_ppl: float,
    broadcast_model: bool = False,
    hash_keys: bool = False,
) -> DataFrame:
    """Keep documents whose perplexity under ``lm`` is ≤ ``max_ppl``
    (CCNet 'head/middle' retention). ``lm`` may be the Laplace bigram
    ``NGramLM`` or an interpolated-KN ``KNModel`` (dispatched by type;
    ``hash_keys`` applies to the bigram path only). Docs too short to
    have an n-gram are kept — perplexity is undefined there, and length
    filters are a separate stage."""
    if isinstance(lm, KNModel):
        ppl = score_perplexity_kn(
            docs, lm, text_col, id_col, broadcast_model=broadcast_model
        ).select(id_col, "ppl")
    else:
        ppl = score_perplexity(
            docs, lm, text_col, id_col,
            broadcast_model=broadcast_model, hash_keys=hash_keys,
        ).select(id_col, "ppl")
    return docs.join(ppl, on=id_col, how="left").filter(
        F.col("ppl").isNull() | (F.col("ppl") <= F.lit(float(max_ppl)))
    ).drop("ppl")


def ppl_buckets(
    docs: DataFrame,
    lm: NGramLM,
    text_col: str,
    id_col: str = "doc_id",
    *,
    cuts: Sequence[float] = (1 / 3, 2 / 3),
    labels: Sequence[str] = ("head", "middle", "tail"),
    broadcast_model: bool = False,
    hash_keys: bool = False,
    bigrams: Optional[DataFrame] = None,
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet-style perplexity bucketing: tag each document head/middle/
    tail (configurable) by where its perplexity under ``lm`` falls
    against EXACT corpus-level quantile cuts — the partition used to
    keep 'head' (low-ppl, Wikipedia-like) slices of a web crawl.

    Cut values come from :func:`utils.distributed.exact_quantiles`
    (range-partition selection, no single-task sort) and ride a 1-row
    broadcast — fully declarative, no ``collect``. Docs with <2 tokens
    have undefined perplexity and get a NULL bucket (length filtering
    is a separate stage).
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError(f"need len(labels) == len(cuts)+1, got {len(labels)}/{len(cuts)}")
    from tsflex_spark.utils.distributed import exact_quantiles

    # the scored frame feeds TWO consumers (the quantile-cut pass and the
    # bucket join); checkpoint it or the whole bigram-explode + model-join
    # scoring DAG re-executes per consumer
    if isinstance(lm, KNModel):
        scored_df = score_perplexity_kn(
            docs, lm, text_col, id_col,
            broadcast_model=broadcast_model, ngrams=bigrams,
        )
    else:
        scored_df = score_perplexity(
            docs, lm, text_col, id_col,
            broadcast_model=broadcast_model, hash_keys=hash_keys,
            bigrams=bigrams,
        )
    scored = scored_df.select(id_col, "ppl").transform(cut_lineage)
    qs = exact_quantiles(scored.where(F.col("ppl").isNotNull()), "ppl", list(cuts))
    cuts_row = qs.groupBy().agg(F.array_sort(F.collect_list("value")).alias("__cuts"))
    out = docs.join(scored, on=id_col, how="left").join(F.broadcast(cuts_row))
    expr = F.when(F.col("ppl").isNull(), F.lit(None).cast("string"))
    for i, lab in enumerate(labels[:-1]):
        expr = expr.when(
            F.col("ppl") <= F.element_at(F.col("__cuts"), i + 1), F.lit(lab)
        )
    expr = expr.otherwise(F.lit(labels[-1]))
    return out.withColumn(out_col, expr).drop("__cuts")


# --------------------------------------------------------------- Kneser-Ney
def ngram_rows(
    df: DataFrame, text_col: str, id_col: str, order: int
) -> DataFrame:
    """(id, g1..g<order>) — one row per ``order``-gram occurrence
    (``_word_rows``; same no-BOS convention as ``bigram_rows``)."""
    return _word_rows(df, text_col, id_col, [f"g{i + 1}" for i in range(order)])


@dataclass
class KNModel:
    """Interpolated Kneser-Ney model (Chen & Goodman 1999 "one-discount"
    form), order >= 2 — a stack of small-relative-to-corpus DataFrames:

    - ``top``: (g1..gN, c) regular N-gram counts;
    - ``tables[k]`` for k = N-1..1: the order-k CONTINUATION count table
      (g1..gk, cc) — distinct left-extensions in the (k+1)-gram type set;
    - ``ctx[k]`` for k = N..2: per-context totals + distinct-continuation
      counts (g1..g_{k-1}, tot, n1p) over the level-k table;
    - ``consts``: one row (v, tot1, n1p1, d_N..d_1) — vocabulary size
      (+1 for the implicit unk), the unigram-continuation denominator,
      the number of distinct continuation unigrams, and the per-order
      Ney discounts D_k = n1/(n1 + 2 n2) estimated from each level's
      count-of-counts.

    Every table is vocabulary-bounded (Zipf), never corpus-bounded; the
    training pass is one explode + a groupBy per order.
    """

    order: int
    top: DataFrame
    tables: dict  # k -> DataFrame (continuation counts, k < order)
    ctx: dict  # k -> DataFrame (context totals for level k, k >= 2)
    consts: DataFrame

    def save(self, path: str) -> None:
        self.top.write.mode("overwrite").parquet(f"{path}/top")
        for k, t in self.tables.items():
            t.write.mode("overwrite").parquet(f"{path}/cont_{k}")
        for k, t in self.ctx.items():
            t.write.mode("overwrite").parquet(f"{path}/ctx_{k}")
        self.consts.write.mode("overwrite").parquet(f"{path}/consts")

    @staticmethod
    def load(spark: SparkSession, path: str, order: int) -> "KNModel":
        return KNModel(
            order=order,
            top=spark.read.parquet(f"{path}/top"),
            tables={
                k: spark.read.parquet(f"{path}/cont_{k}")
                for k in range(order - 1, 0, -1)
            },
            ctx={
                k: spark.read.parquet(f"{path}/ctx_{k}")
                for k in range(order, 1, -1)
            },
            consts=spark.read.parquet(f"{path}/consts"),
        )


def _ney_discount(counts: DataFrame, c_col: str) -> DataFrame:
    """One-row (n1, n2) count-of-counts frame for D = n1/(n1+2·n2)."""
    return counts.agg(
        F.sum(F.when(F.col(c_col) == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col(c_col) == 2, 1).otherwise(0)).alias("n2"),
    )


def train_kn_lm(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    *,
    order: int = 3,
    ngrams: Optional[DataFrame] = None,
) -> KNModel:
    """Train an interpolated Kneser-Ney ``order``-gram model — the
    published CCNet/KenLM smoothing (arXiv:1911.00359 trains 5-gram KN
    on Wikipedia), replacing this module's simpler Laplace bigram when
    filter quality matters more than oracle replayability.

    Shape: ONE corpus explode at the top order; every lower level is a
    groupBy over the previous level's TYPE SET (continuation counts —
    "how many distinct left contexts", the KN insight), so the corpus
    is read once and each shuffle carries distinct grams only. Discounts
    D_k use Ney's estimate from each level's count-of-counts, computed
    in one tiny aggregate per level and folded into a single-row consts
    frame (broadcast at scoring time).
    """
    if order < 2:
        raise ValueError("order must be >= 2")
    N = int(order)
    ng = ngrams if ngrams is not None else ngram_rows(docs, text_col, id_col, N)
    gcols = [f"g{i + 1}" for i in range(N)]
    top = (
        ng.groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(cut_lineage)
    )
    ctx: dict = {}
    ctx[N] = top.groupBy(*gcols[:-1]).agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n1p")
    )
    tables: dict = {}
    # level N-1 continuation counts come from the top-order TYPE set;
    # each further level from the previous continuation table's key set.
    # A k-gram's continuation count keys on the LAST k words of the
    # (k+1)-gram above it.
    prev_keys = top.select(*gcols)  # distinct by construction
    for k in range(N - 1, 0, -1):
        kcols = [f"g{i + 1}" for i in range(k)]
        shifted = prev_keys.select(
            *[F.col(f"g{i + 2}").alias(f"g{i + 1}") for i in range(k)]
        )
        cont = (
            shifted.groupBy(*kcols)
            .agg(F.count(F.lit(1)).alias("cc"))
            .transform(cut_lineage)
        )
        tables[k] = cont
        if k >= 2:
            ctx[k] = cont.groupBy(*kcols[:-1]).agg(
                F.sum("cc").alias("tot"), F.count(F.lit(1)).alias("n1p")
            )
        prev_keys = cont.select(*kcols)
        # NB: for k-1 the type set must be the distinct (k)-grams of the
        # CORPUS; the continuation table's key set IS that type set
        # whenever every corpus k-gram extends to a (k+1)-gram — true for
        # all but each doc's trailing words. The trailing-type loss is
        # O(docs) grams vs O(tokens): the standard sentence-internal
        # approximation (KenLM pads with </s>; we document instead).
    from tsflex_spark.utils.data import fan_out

    toks = fan_out(docs).select(F.explode(_tokens(F.lower(F.col(text_col)))).alias("w"))
    vrow = toks.agg((F.count_distinct("w") + F.lit(1)).alias("v"))  # +1 unk
    uni = tables[1]
    urow = uni.agg(F.sum("cc").alias("tot1"), F.count(F.lit(1)).alias("n1p1"))
    dcols = []
    d_src = {N: top}
    d_src.update({k: tables[k] for k in range(N - 1, 0, -1)})
    drows = None
    for k in range(N, 0, -1):
        cc = "c" if k == N else "cc"
        # degenerate count-of-counts (n1 = 0: every type occurs >= 3x —
        # dense synthetic corpora, tiny vocabularies) would make D = 0
        # and assign EXACT ZERO to unseen events at this level (log(0)
        # downstream). KenLM aborts on such inputs; we fall back to the
        # absolute-discount default D = 0.5 instead, keeping the model
        # proper (every event gets positive mass).
        dk = _ney_discount(d_src[k], cc).select(
            F.when(
                F.col("n1") > 0,
                F.col("n1").cast("double")
                / F.greatest(F.col("n1") + 2 * F.col("n2"), F.lit(1)).cast("double"),
            )
            .otherwise(F.lit(0.5))
            .alias(f"d{k}")
        )
        drows = dk if drows is None else drows.join(dk)
        dcols.append(f"d{k}")
    consts = vrow.join(urow).join(drows).transform(cut_lineage)
    return KNModel(order=N, top=top, tables=tables, ctx=ctx, consts=consts)


def score_perplexity_kn(
    docs: DataFrame,
    model: KNModel,
    text_col: str,
    id_col: str = "doc_id",
    *,
    broadcast_model: bool = False,
    ngrams: Optional[DataFrame] = None,
) -> DataFrame:
    """Per-document perplexity under an interpolated KN model.

    Returns (id, n_ngrams, sum_logp_e6, ppl) with the same micro-nat
    fixed-point discipline as :func:`score_perplexity` (exact integer
    sums; ppl quantized to 6 dp). Docs with < ``order`` tokens get a
    NULL ppl row.

    Plan: the doc N-grams left-join one count table + one context table
    per level (2(N)-ish vocabulary-bounded joins; ``broadcast_model``
    hints them all — the corpus then never shuffles), the interpolation
    folds bottom-up in one codegen expression, and one per-doc aggregate
    finishes. Unseen contexts fall through with λ=1 to the next level —
    the standard interpolated-KN recursion:

        p_k(w|h) = max(cnt-Dk, 0)/tot + Dk·n1p/tot · p_{k-1}
        (cnt/tot regular at k=N, continuation below; base 1/V)
    """
    N = model.order
    ng = ngrams if ngrams is not None else ngram_rows(docs, text_col, id_col, N)
    gcols = [f"g{i + 1}" for i in range(N)]

    def b(t):
        return F.broadcast(t) if broadcast_model else t

    j = ng
    # level N: join (c on full gram) + (tot, n1p on context)
    j = j.join(
        b(model.top.select(*gcols, F.col("c").alias("__c_N"))), on=gcols, how="left"
    )
    j = j.join(
        b(
            model.ctx[N].select(
                *gcols[:-1],
                F.col("tot").alias("__tot_N"),
                F.col("n1p").alias("__n1p_N"),
            )
        ),
        on=gcols[:-1],
        how="left",
    )
    # levels N-1..2: tables key on the LAST k words of the N-gram
    for k in range(N - 1, 1, -1):
        kcols = [f"g{i + 1}" for i in range(N - k, N)]
        tbl = model.tables[k].select(
            *[F.col(f"g{i + 1}").alias(kcols[i]) for i in range(k)],
            F.col("cc").alias(f"__c_{k}"),
        )
        j = j.join(b(tbl), on=kcols, how="left")
        cxt = model.ctx[k].select(
            *[F.col(f"g{i + 1}").alias(kcols[i]) for i in range(k - 1)],
            F.col("tot").alias(f"__tot_{k}"),
            F.col("n1p").alias(f"__n1p_{k}"),
        )
        j = j.join(b(cxt), on=kcols[:-1], how="left")
    # level 1: unigram continuation count on the last word
    uni = model.tables[1].select(
        F.col("g1").alias(gcols[-1]), F.col("cc").alias("__c_1")
    )
    j = j.join(b(uni), on=[gcols[-1]], how="left")
    j = j.join(F.broadcast(model.consts))

    # fold bottom-up: base = uniform over V (unk floor)
    p = F.lit(1.0) / F.col("v").cast("double")
    # level 1
    tot1 = F.col("tot1").cast("double")
    c1 = F.coalesce(F.col("__c_1"), F.lit(0)).cast("double")
    d1 = F.col("d1")
    lam1 = d1 * F.col("n1p1").cast("double") / tot1
    p = F.greatest(c1 - d1, F.lit(0.0)) / tot1 + lam1 * p
    # levels 2..N
    for k in range(2, N + 1):
        ck = F.coalesce(F.col(f"__c_{k}" if k < N else "__c_N"), F.lit(0)).cast(
            "double"
        )
        tot = F.col(f"__tot_{k}" if k < N else "__tot_N").cast("double")
        n1p = F.col(f"__n1p_{k}" if k < N else "__n1p_N").cast("double")
        dk = F.col(f"d{k}")
        seen = tot.isNotNull() & (tot > 0)
        pk = F.greatest(ck - dk, F.lit(0.0)) / tot + (dk * n1p / tot) * p
        # unseen context: λ=1 — fall through to the lower level entirely
        p = F.when(seen, pk).otherwise(p)

    logp_e6 = F.round(F.log(p) * F.lit(1_000_000.0), 0).cast("long")
    per_doc = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(logp_e6).alias("sum_logp_e6"),
    )
    out = docs.select(id_col).join(per_doc, on=id_col, how="left")
    n = F.col("n_ngrams")
    ppl = F.round(
        F.exp(
            -(F.col("sum_logp_e6").cast("double") / F.lit(1_000_000.0))
            / n.cast("double")
        ),
        6,
    )
    return out.select(
        id_col,
        F.coalesce(n, F.lit(0)).cast("long").alias("n_ngrams"),
        F.coalesce(F.col("sum_logp_e6"), F.lit(0)).cast("long").alias("sum_logp_e6"),
        ppl.alias("ppl"),
    )
