"""Deduplication operators for large-scale document pipelines.

All operators are pure DataFrame transforms designed for 100 TB inputs:
- exact dedup: one hash-shuffle groupBy on a 64-bit content hash (never
  shuffles the full text as the key);
- MinHash + LSH near-dup: shingle → minhash signature → band buckets →
  self-join within buckets (the classic band/bucket equi-join — candidate
  pairs only, no O(n²) comparison);
- SimHash: 64-bit fingerprint, hamming-band buckets;
- n-gram Jaccard verification on candidate pairs.

Hashes use Spark's built-in ``xxhash64`` (JVM-side, codegen) so the hot
path never enters Python.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsflex_spark.utils.data import cut_lineage
from pyspark.sql import types as T


def dedup_exact(
    df: DataFrame,
    cols: Sequence[str] | str,
    id_col: Optional[str] = None,
    priority_col: Optional[str] = None,
) -> DataFrame:
    """Drop exact duplicates over ``cols``; keep the row with min ``id_col``
    (deterministic) or an arbitrary row when no id is given.

    ``priority_col`` (numeric, larger = keep) changes the keep rule to
    highest-priority-then-min-id — dedup across crawl dumps keeping the
    newest copy, or across sources keeping the cleanest one. Still one
    map-side-combinable hash aggregate (``min_by`` over a (−priority, id)
    struct carries a single running winner per group)."""
    if isinstance(cols, str):
        cols = [cols]
    if id_col is None:
        return df.dropDuplicates(list(cols))
    h = F.xxhash64(*[F.col(c) for c in cols])
    if priority_col is None:
        keep = df.groupBy(h.alias("__h")).agg(F.min(id_col).alias(id_col))
    else:
        rank = F.struct(
            (-F.col(priority_col).cast("double")).alias("np"),
            F.col(id_col).alias("i"),
        )
        keep = df.groupBy(h.alias("__h")).agg(
            F.min_by(F.col(id_col), rank).alias(id_col)
        )
    return df.join(keep, on=id_col, how="left_semi")


def dedup_exact_stats(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """Per duplicate-group stats: kept id + copy count (oracle-friendly)."""
    return (
        df.groupBy(col)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------- MinHash
def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, out_col: str = "__s"
) -> DataFrame:
    """Distinct (id, shingle-hash) rows — the engine's canonical shingle
    shape. ``out_col`` is the 64-bit ``xxhash64`` of the k-char shingle,
    not the string: every downstream consumer (minhash, simhash, Jaccard
    set ops) only needs identity, and 16-byte (id, long) rows make the
    distinct + joins shuffle ~3x less than 5-char strings. Collisions:
    ~n²/2^64 for n distinct shingles per doc — irrelevant below ~10^8.

    PERF: shingles come from ``text._char_grams``: positions are
    exploded FIRST and the shingle is a plain slice projection —
    everything stays in whole-stage codegen. Higher-order-function
    lambdas (``transform``) are interpreted per element and measured
    ~10x slower; worse, an inner ``explode`` after a transform triggers
    InferFiltersFromGenerate, which re-inlines the whole shingle
    expression into the scan filter (O(n^2) regex per row measured 220s
    at sf0.1 -> this shape: ~2s). The slice is O(k): it joins k entries
    of the document's character array, where a string ``substr`` walks
    the UTF-8 bytes from the start to character i — O(position) per
    shingle, O(n²) per document. Measured on the perfbench corpus_dedup
    input (1000 docs, ~1310 characters each), 3 task threads of a 4-core
    VM: the whole ``shingle_rows`` pass 2.87 s → 0.80 s, and 2.70 s →
    0.68 s with its letters swapped for CJK characters.

    PERF (r11, guide §2.3/§2.4 — shuffle the payload once, never the
    exploded form): the input is hash-repartitioned BY ID before the
    explode, so the dedup aggregation runs as one partition-local pass —
    ``HashPartitioning(id)`` satisfies the (id, hash) clustered
    distribution, Spark inserts NO exchange for the dropDuplicates, and
    downstream ``groupBy(id)`` sketch aggregates reuse the same
    partitioning. The old shape (round-robin fan-out + keyed dedup
    exchange) shuffled the full exploded (id, hash) table — ~16 bytes per
    CHARACTER of corpus text, measured ~4.2 GB of the sketch gate's
    shuffle write at the 100x scale probe — where the keyed repartition
    moves each doc's text exactly
    once (~16x fewer shuffle bytes on that stage; a whole-doc row never
    spans input splits, so per-doc dedup is exact partition-locally at
    any scale). Skew note: one doc = one partition's worth of work is the
    explode's inherent granularity (it was already doc-local post
    fan-out); pathological single-doc skew belongs to the input, not the
    plan.
    """
    # Keyed fan-out (scale-adaptive partition count — see
    # utils.data.keyed_fan_out, extracted from this site r11 so the
    # pattern is one implementation shared with the other explode+
    # keyed-aggregate operators).
    from tsflex_spark.datapipe.text import _char_grams
    from tsflex_spark.utils.data import keyed_fan_out

    d = _char_grams(keyed_fan_out(df, id_col), text_col, id_col, k)
    # hash BEFORE the distinct: the dedup shuffle then carries two longs
    # instead of strings — measured 1.7x faster at 1M shingle rows than
    # distinct-on-string
    return d.select(F.col(id_col), F.xxhash64("__g").alias(out_col)).dropDuplicates(
        [id_col, out_col]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, minhash array<long>) — one JVM-side pass, no Python.

    Signatures use **one-permutation hashing**: each shingle
    is hashed ONCE, assigned to bin ``pmod(h, num_hashes)``, and the
    signature slot j is the min hash within bin j (the partitioned-hash-
    space MinHash variant production sketch libraries use). Cost per
    shingle row is 1 hash instead of ``num_hashes`` — the dominant stage
    drops ~num_hashes× in CPU, and the groupBy(id, bin) shuffle shrinks to
    ≤ num_hashes rows per doc after map-side combine. Empty bins (only
    possible when a doc has ≲ num_hashes shingles) are densified by
    circular borrow from the next two bins, then a per-doc fill hash
    (``_oph_signature``) — deterministic, so equal shingle sets still
    yield equal signatures.
    """
    sh = shingles if shingles is not None else shingle_rows(df, text_col, id_col, shingle_k)
    ex = sh.select(id_col, F.xxhash64("__s", F.lit(seed)).alias("__h"))
    k = int(num_hashes)
    ex = ex.withColumn("__b", F.pmod(F.col("__h"), F.lit(k)).cast("int"))
    g = ex.groupBy(id_col).agg(*_oph_aggs("__h", k, "__b"))
    return g.select(F.col(id_col), _oph_signature(k).alias("minhash"))


def _oph_aggs(h: str, k: int, bin_col: str) -> List[Column]:
    """ONE hash-aggregate with k conditional mins — map-side combine
    collapses each doc to a single k-wide buffer before the shuffle
    (the earlier two-level groupBy(id, bin) + collect_list shape
    shuffled ~k rows per doc and then densified through an INTERPRETED
    higher-order lambda — 64 evals/doc; this form is all codegen;
    re-measured r10: two-level 3.1 s vs this 0.9 s at sf0.1).
    ``bin_col`` must hold ``pmod(h, k)`` precomputed ONCE per row —
    inlining the pmod into each of the k conditions would evaluate it
    k times per row.

    PERF (r10): every expression here is a parsed SQL string — ONE py4j
    round trip per slot instead of ~5 Column-API calls each. Building
    these trees through the Column API measured ~1.6 s of pure DRIVER
    time per call at k=128 (the py4j chatter, paid again on every
    invocation); the string form is ~30 ms with an identical analyzed
    plan. ``h`` is the hash column's NAME for the same reason.
    """
    return [
        F.expr(f"min(CASE WHEN {bin_col} = {j} THEN {h} END) AS __m{j}")
        for j in range(k)
    ] + [F.expr(f"min({h}) AS __dm")]


def _oph_signature(k: int) -> Column:
    """Empty-bin densification: circular borrow from the next two bins,
    then a PER-DOC fill xxhash64(doc_min_hash, j) — never a global
    sentinel (a shared constant would make all short docs collide on
    densified band hashes → O(n²) false candidates among short docs at
    scale). Equal shingle sets still densify identically (same
    doc_min_hash). One parsed SQL string (see ``_oph_aggs`` PERF note:
    the Column-API form of this assembly measured ~1.7 s of driver time
    per call at k=128)."""
    terms = ", ".join(
        f"coalesce(__m{j}, __m{(j + 1) % k}, __m{(j + 2) % k}, "
        f"xxhash64(__dm, {j}))"
        for j in range(k)
    )
    return F.expr(f"array({terms})")


def band_rows(
    signatures: DataFrame, id_col: str, num_bands: int = 16
) -> DataFrame:
    """(id, band, band_hash) — one row per LSH band of each signature:
    band b is ``xxhash64`` of the string cast of signature slots
    ``[b·r, (b+1)·r)``, r = ``size(minhash) / num_bands`` truncated.
    The bands are exploded first and hashed as a projection (codegen, no
    lambda). ``minhash_lsh_candidates`` self-joins these rows and
    ``dedup_against_store`` persists them, so the hash must stay
    bit-identical across versions."""
    r = (F.size("minhash") / num_bands).cast("int")
    d = signatures.select(
        F.col(id_col),
        F.col("minhash"),
        F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band"),
    )
    return d.select(
        F.col(id_col),
        F.col("band"),
        F.xxhash64(F.slice("minhash", F.col("band") * r + 1, r).cast("string")).alias(
            "band_hash"
        ),
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 16,
) -> DataFrame:
    """LSH banding: equal band-hash ⇒ candidate pair (id_a < id_b).

    Scale path: ``band_rows`` (id, band, band_hash) self-joined on the
    band bucket; only colliding docs ever meet.
    """
    bands = band_rows(signatures, id_col, num_bands)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    pairs = a.join(b, on=["band", "band_hash"]).where(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").distinct()


def minhash_est_jaccard(
    candidates: DataFrame,
    signatures: DataFrame,
    id_col: str,
    out_col: str = "est_jaccard",
) -> DataFrame:
    """Signature-estimated Jaccard for candidate pairs: the fraction of
    matching minhash slots (an unbiased estimator of J with sd
    sqrt(J(1-J)/num_hashes)). The cheap middle stage between LSH
    banding and exact verification: false band collisions estimate low
    and are dropped BEFORE the exact pair-driven shingle joins, so the
    expensive verify stage only sees pairs that are plausibly similar.
    Pure codegen — two hash joins on id + one in-row fold over the two
    64-long arrays; the shuffle carries signatures only for docs that
    appear in a candidate pair.
    """
    sa = signatures.select(
        F.col(id_col).alias("id_a"), F.col("minhash").alias("__sa")
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"), F.col("minhash").alias("__sb")
    )
    j = candidates.join(sa, "id_a").join(sb, "id_b")
    matches = F.aggregate(
        F.zip_with(
            F.col("__sa"), F.col("__sb"),
            lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = matches.cast("double") / F.size("__sa").cast("double")
    return j.select("id_a", "id_b", est.alias(out_col))


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    shingles: Optional[DataFrame] = None,
    prune: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification stage).

    Intersections are computed in-row over per-doc shingle ARRAYS
    (``collect_list`` once per doc, ``array_intersect`` per pair):
    intersection size = |A ∩ B|, union = |A| + |B| - inter. Identical
    integers to a pair-driven (id, shingle) equi-join — shingle rows are
    distinct per (id, shingle) by construction, so the distinct-element
    ``array_intersect`` cardinality equals the equi-join match count —
    but the bytes moved are ~10x smaller: the equi-join shape replicated
    doc A's FULL shingle set once per candidate pair through two shuffle
    stages (measured 9.6 GB written / 10.8 GB read on one stage at the
    100x scale probe — the dedup family's peak), where the array shape
    shuffles the shingle table once (the groupBy collect) and then one
    ~8 B x |shingles| array per pair side. Trade-off: a doc's whole
    shingle set becomes one row (~8 B per distinct shingle — an 80 MB
    row for a 10 MB doc); the pair-join shape only wins when single
    documents approach GB scale, which an LLM-corpus pipeline should
    reject upstream anyway.

    ``prune=False`` skips the involved-docs semi-join entirely — for
    pair sets that touch (nearly) every document the prune keeps
    everything, so the distinct + semi-join over the full shingle table
    is pure overhead, and so is the checkpoint of the pruned arrays."""
    sh = shingles if shingles is not None else shingle_rows(df, text_col, id_col, shingle_k)
    # prune the shingle table to docs that appear in a candidate pair
    # BEFORE the heavy joins: LSH keeps the candidate set tiny relative
    # to the corpus, so AQE turns this semi join into a broadcast and the
    # full shingle table is never shuffled (measured 25s -> 4s at 50k
    # docs / 10M shingle rows / 4k pairs). With a huge candidate set the
    # semi join degrades to one hash shuffle — the verification working
    # set is proportional to the involved docs either way.
    if prune:
        involved = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh = sh.join(involved, id_col, "left_semi")
    # ONE corpus-shaped shuffle: group the (distinct) shingle rows into a
    # per-doc array. Both pair sides consume the identical subtree, so
    # either the checkpoint below materializes it once, or (un-
    # checkpointed) runtime exchange reuse executes its shuffle once —
    # the arrays are never rebuilt per side. xxhash64 never returns
    # NULL, so collect_list counts exactly the grouped rows.
    arr = sh.groupBy(id_col).agg(F.collect_list("__s").alias("__arr"))
    if prune:
        # materialize the verification working set (one array row per
        # involved doc — strictly smaller than the pruned shingle rows
        # this used to checkpoint) so the semi-join prune of the full
        # shingle table runs once. When the pairs cover most of the
        # corpus, pass prune=False — the prune keeps ~everything, so
        # skip the distinct + semi-join entirely.
        arr = arr.transform(cut_lineage)
    aa = arr.select(F.col(id_col).alias("id_a"), F.col("__arr").alias("__sa"))
    bb = arr.select(F.col(id_col).alias("id_b"), F.col("__arr").alias("__sb"))
    out = (
        pairs.join(aa, "id_a")
        .join(bb, "id_b")
        .withColumn("__i", F.size(F.array_intersect("__sa", "__sb")).cast("double"))
    )
    return out.select(
        "id_a",
        "id_b",
        (F.col("__i") / (F.size("__sa") + F.size("__sb") - F.col("__i")).cast("double")).alias(
            "jaccard"
        ),
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    num_bands: Optional[int] = None,
    shingle_k: int = 5,
    shingles: Optional[DataFrame] = None,
    prefilter_margin: Optional[float] = 0.15,
    signatures: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-dup removal: LSH candidates → signature-estimate prefilter →
    exact Jaccard ≥ threshold → connected-ish grouping (min-id
    representative) → keep representatives.

    Pass precomputed ``signatures`` (an ``(id, minhash)`` frame from
    ``minhash_signatures``/``sketch_signatures`` with matching
    ``num_hashes``) and/or ``shingles`` to reuse existing passes — the
    sketch family's standard reuse contract; a pipeline that already
    computed fused sketches for candidate generation should not pay a
    second corpus signature pass to also dedup. Both frames may cover a
    SUPERSET of ``df`` (e.g. a corpus-wide sketch pass feeding several
    batches): they are semi-join-pruned to ``df``'s ids, so rows of
    ``df`` are only ever deduped against other rows of ``df`` — the
    same contract as ``dedup_against_store``. (Use
    ``dedup_against_store`` when you DO want cross-batch dedup.)

    ``num_bands`` defaults to the divisor of ``num_hashes`` whose LSH
    S-curve threshold (1/b)^(b/num_hashes) is closest to ``threshold`` in
    log space — fewer bands = fewer false candidates to verify, but bands
    must stay fine enough to catch pairs at the requested similarity.

    **Recall contract (loud by design):** LSH banding is probabilistic —
    a pair with true Jaccard J is caught with probability
    ``1 - (1 - J**r)**b`` (b bands of r = num_hashes/num_bands rows).
    When that probability *at the requested* ``threshold`` falls below
    0.999, a :class:`RuntimeWarning` names the computed catch
    probability and the smallest ``num_bands`` that would reach 0.999
    (if any divisor does) — the default S-curve-centred banding sits
    near 63% catch AT the threshold itself (that is what "S-curve
    threshold ≈ threshold" means), which silently misses ~1% of pairs
    even well above it (e.g. 8 bands × 8 rows at 64 hashes catches a
    J=0.9 pair with p=0.989). Pass an explicit ``num_bands`` (more
    bands = higher recall, more candidates to verify) to pick your
    point on the curve and silence the warning.

    ``prefilter_margin``: candidates whose signature-estimated Jaccard
    falls below ``threshold - prefilter_margin`` are dropped BEFORE the
    exact shingle joins (``minhash_est_jaccard`` — an in-row codegen
    fold, orders of magnitude cheaper per pair than the verify joins).
    The extra false-negative probability for a truly-``threshold`` pair
    is P(Binom(num_hashes, J)/num_hashes < J - margin) ≈ 0.3% at the
    defaults — same order as the banding's own miss rate. ``None``
    disables the stage.

    Representative choice: each doc maps to the min id among its confirmed
    near-dups (single-hop union — documents chained A~B~C keep min per
    edge-closure hop; sufficient for dedup filtering semantics)."""
    import math
    import warnings

    divisors = [b for b in range(2, num_hashes + 1) if num_hashes % b == 0]
    if num_bands is None:
        num_bands = min(
            divisors,
            key=lambda b: abs(math.log((1.0 / b) ** (b / num_hashes)) - math.log(threshold)),
        )
    catch = lambda b: 1.0 - (1.0 - threshold ** (num_hashes / b)) ** b  # noqa: E731
    p_catch = catch(num_bands)
    if p_catch < 0.999:
        enough = [b for b in divisors if catch(b) >= 0.999]
        fix = (
            f"; num_bands={min(enough)} would reach {catch(min(enough)):.4f}"
            if enough
            else f"; no divisor of num_hashes={num_hashes} reaches 0.999 — raise num_hashes"
        )
        warnings.warn(
            f"minhash_dedup: LSH banding ({num_bands} bands x "
            f"{num_hashes // num_bands} rows) catches a pair at the requested "
            f"threshold J={threshold} with probability only {p_catch:.4f} "
            f"(1-(1-J^r)^b){fix}. Pairs near the threshold will be missed "
            f"silently; pass num_bands explicitly to accept or fix this.",
            RuntimeWarning,
            stacklevel=2,
        )
    # the shingle table feeds BOTH the signature pass and the Jaccard
    # verification — checkpoint it so the regex+explode shingling runs
    # exactly once. EAGER, not eager=False: a lazy checkpoint
    # materializing on an AQE broadcast-exchange thread can ABBA-deadlock
    # against a concurrent stage submission visiting the same RDD
    # (RDDCheckpointData$ vs per-RDD locks — observed live, jstack in
    # plans/r10/evidence/); eager materializes synchronously before the
    # frame is ever multi-consumed. persist() is no alternative: it keeps
    # the full logical plan (no truncation) and its session-global
    # CacheManager lookups stall deep chains for minutes.
    sh = (
        shingles
        if shingles is not None
        else shingle_rows(df, text_col, id_col, shingle_k).transform(cut_lineage)
    )
    # the LSH banding self-joins the signature table (a ⋈ b) — without a
    # checkpoint the 64-min-agg subtree executes once per join side.
    # Reused frames may cover a SUPERSET of df (corpus-wide sketch pass
    # feeding batches) — semi-join-prune to df's ids, else a df row
    # whose only near-dup lives OUTSIDE df would be silently dropped
    # (dedup_against_store's contract, applied here too).
    if signatures is not None:
        sigs = (
            signatures.select(id_col, "minhash")
            .join(df.select(id_col), on=id_col, how="left_semi")
            .transform(cut_lineage)
        )
    else:
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_k, shingles=sh
        )
        if shingles is not None:  # superset shingles ⇒ superset signatures
            sigs = sigs.join(df.select(id_col), on=id_col, how="left_semi")
        sigs = sigs.transform(cut_lineage)
    # candidate pairs are tiny by LSH design (two id columns) but their
    # PLAN is the whole signature+self-join DAG; the verification stage
    # references them in three joins — the eager checkpoint materializes
    # them once and TRUNCATES the lineage (consumers plan against a
    # LogicalRDD leaf, not the full DAG)
    cands = minhash_lsh_candidates(sigs, id_col, num_bands).transform(cut_lineage)
    if prefilter_margin is not None:
        cands = (
            minhash_est_jaccard(cands, sigs, id_col)
            .where(F.col("est_jaccard") >= float(threshold) - float(prefilter_margin))
            .select("id_a", "id_b")
        )
    confirmed = ngram_jaccard(df, cands, text_col, id_col, shingle_k, shingles=sh).where(
        F.col("jaccard") >= threshold
    )
    # drop the higher id of every confirmed pair
    losers = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------- SimHash
def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """64-bit SimHash fingerprint per document — JVM-side only.

    For each bit b: sign(sum over shingles of ±1 by shingle-hash bit b).
    """
    # explode shingles -> one codegen'd hash-aggregate (in-row array folds
    # would be interpreted per element — ~10x slower). The 64 per-bit
    # popcounts are LANE-PACKED 4-per-long (16 bits each): 16 sum
    # aggregates instead of 64 — 4x less janino compile + agg-buffer
    # work, same per-row bit math. Safe while a doc has < 65536 distinct
    # shingles (65535 chars at k=5 — enforced nowhere but true for any
    # sane document; a 100 TB corpus with book-length docs still sits
    # ~100x under the lane limit). The ±1 sum is sign(2*popcount_b - n),
    # so only the raw bit is summed and the rescale happens per GROUP.
    sh = shingles if shingles is not None else shingle_rows(df, text_col, id_col, shingle_k)
    ex = sh.select(id_col, F.xxhash64("__s").alias("__h"))
    g = ex.groupBy(id_col).agg(*_simhash_aggs("__h"))
    return g.select(F.col(id_col), _simhash_fingerprint().alias("simhash"))


def _simhash_aggs(h: str) -> List[Column]:
    """16 lane-packed popcount sums + the shingle count (see ``simhash``).
    Parsed SQL strings, not Column-API trees — see ``_oph_aggs`` PERF
    note. ``h`` is the hash column's name."""
    aggs = []
    for lane in range(16):  # lanes pack bits b, b+16, b+32, b+48
        packed = " + ".join(
            f"shiftleft(shiftright({h}, {lane + 16 * slot}) & 1, {16 * slot})"
            for slot in range(4)
        )
        aggs.append(F.expr(f"sum(CAST(0 AS BIGINT) + {packed}) AS __p{lane}"))
    aggs.append(F.expr("count(1) AS __n"))
    return aggs


def _simhash_fingerprint() -> Column:
    """Reassemble the 64-bit fingerprint from the 16 lane sums. One
    parsed SQL string (see ``_oph_aggs`` PERF note). The bit-63 mask is
    ``shiftleft(1, 63)`` — the SQL parser cannot spell the min-long
    literal directly, and the shift is constant-folded to the same
    value the Column form used."""
    terms = []
    for b in range(64):
        lane, slot = b % 16, b // 16
        terms.append(
            f"(CASE WHEN (shiftright(__p{lane}, {16 * slot}) & 65535) * 2 > __n "
            f"THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("CAST(0 AS BIGINT) | " + " | ".join(terms))


def sketch_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, minhash array<long>, simhash long) in ONE pass: both sketches
    are groupBy(id) aggregates over the same shingle table, so computing
    them separately scans + shuffles the shingle rows twice. The fused
    aggregate carries the OPH conditional-mins AND the SimHash lane sums
    in one buffer — one scan, one doc-keyed exchange, identical outputs
    to ``minhash_signatures``/``simhash`` (property-tested). This is the
    shape a 100 TB dedup run wants: the shingle table is the big thing,
    touch it once per sketch FAMILY, not per sketch."""
    sh = shingles if shingles is not None else shingle_rows(df, text_col, id_col, shingle_k)
    k = int(num_hashes)
    ex = sh.select(
        id_col,
        F.xxhash64("__s", F.lit(seed)).alias("__hm"),
        F.xxhash64("__s").alias("__hs"),
    ).withColumn("__b", F.pmod(F.col("__hm"), F.lit(k)).cast("int"))
    g = ex.groupBy(id_col).agg(
        *_oph_aggs("__hm", k, "__b"), *_simhash_aggs("__hs")
    )
    return g.select(
        F.col(id_col),
        _oph_signature(k).alias("minhash"),
        _simhash_fingerprint().alias("simhash"),
    )


def remove_duplicate_lines(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    mode: str = "keep_first",
    min_occurrences: int = 2,
    min_line_chars: int = 0,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Corpus-level LINE dedup (the RefinedWeb / CCNet paragraph-dedup
    stage): rewrite every document with lines that repeat ACROSS the
    corpus removed — boilerplate (navigation, cookie banners, headers)
    repeats verbatim across pages and survives document-level dedup.

    ``mode="keep_first"`` keeps each distinct line's first occurrence in
    global (id, position) order and drops the rest; ``mode="drop_all"``
    drops every occurrence of lines appearing >= ``min_occurrences``
    times. Lines shorter than ``min_line_chars`` are always kept (dedup
    of trivial lines like "" destroys formatting).

    Scale shape: lines explode once; the dedup decision aggregates
    (hash, id, pos) rows — 24-byte, map-side-combined, the line TEXT is
    never in the decision exchange — then one equi-join on the 8-byte
    hash marks survivors and one groupBy(id) reassembles documents with
    order restored via array_sort over (pos, line) structs. Two text
    shuffles total, both keyed; no window over an unpartitioned set.

    Returns ``docs`` with ``out_col`` (default: replaces ``text_col``)
    holding the rewritten text; docs whose every line was dropped get ''.
    """
    out_col = out_col or text_col
    if mode not in ("keep_first", "drop_all"):
        raise ValueError("mode must be keep_first or drop_all")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__h", F.xxhash64("__line"))
    dedupable = F.length("__line") >= int(min_line_chars)
    if mode == "keep_first":
        firsts = (
            lines.where(dedupable)
            .groupBy("__h")
            .agg(F.min(F.struct(id_col, "__pos")).alias("__first"))
        )
        kept = (
            lines.join(firsts, "__h", "left")
            .where(
                ~dedupable
                | (
                    (F.col(f"__first.{id_col}") == F.col(id_col))
                    & (F.col("__first.__pos") == F.col("__pos"))
                )
            )
        )
    else:
        counts = (
            lines.where(dedupable)
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") >= int(min_occurrences))
        )
        kept = lines.join(counts, "__h", "left_anti" if min_line_chars == 0 else "left")
        if min_line_chars > 0:
            kept = kept.where(~dedupable | F.col("__c").isNull())
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
            ).alias("__rebuilt")
        )
    )
    out = docs.join(rebuilt, id_col, "left")
    cols = [
        F.coalesce("__rebuilt", F.lit("")).alias(out_col) if c == out_col
        else F.col(c)
        for c in docs.columns
    ]
    if out_col not in docs.columns:
        cols.append(F.coalesce("__rebuilt", F.lit("")).alias(out_col))
    return out.select(*cols)


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 8,
    num_bands: Optional[int] = None,
) -> DataFrame:
    """SimHash candidate pairs: ``(id_a, id_b, hamming)`` for fingerprint
    pairs within ``max_hamming`` bits (id_a < id_b).

    Same hamming-band construction as the perceptual-hash near-dup join
    (``multimodal.image_neardup_pairs`` — banded equi-join, pigeonhole
    recall guarantee when ``max_hamming < num_bands``, exact
    ``bit_count(a XOR b)`` verify in codegen); re-exported here so the
    text-dedup pipeline composes without importing the multimodal module.
    Feed the output to ``ngram_jaccard`` for the exact-similarity verify
    stage.
    """
    from tsflex_spark.datapipe.multimodal import image_neardup_pairs

    return image_neardup_pairs(
        fingerprints,
        id_col=id_col,
        hash_col=hash_col,
        max_hamming=max_hamming,
        num_bands=num_bands,
    )


def embedding_neardup(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidates: Optional[DataFrame] = None,
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, cosine)`` for
    all pairs with cosine similarity >= ``threshold`` (id_a < id_b).

    Without ``candidates`` this is the exact all-pairs path as a **blocked
    GEMM**: rows are hashed into ``num_blocks`` blocks, each row is
    replicated to every (block_a <= block_b) pair-group it participates
    in, and one Arrow ``applyInPandas`` per group computes the full
    block-vs-block cosine matrix with a single numpy matmul (BLAS) —
    ~1000x fewer Python/interpreter transitions than a per-pair
    expression fold. Work is O(n²/B²) per task × O(B²) tasks; pick
    ``num_blocks`` so a block fits executor memory and every core gets a
    tile. Quadratic by definition — the verification stage.

    At scale pass ``candidates`` — an ``(id_a, id_b)`` pair table from
    ``lsh_signature_col`` bucketing or ``minhash_lsh_candidates`` — and
    only those pairs are scored (two hash equi-joins against the corpus,
    never O(n²)).
    """
    if candidates is not None:
        dot_self = F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
        base = df.select(F.col(id_col), F.col(vec_col), F.sqrt(dot_self).alias("__nrm"))
        a = base.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__nrm").alias("__na")
        )
        b = base.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__nrm").alias("__nb")
        )
        pairs = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
        dot = F.aggregate(
            F.zip_with(
                F.col("__va"), F.col("__vb"), lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = dot / (F.col("__na") * F.col("__nb"))
        return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
            F.col("cosine") >= F.lit(float(threshold))
        )

    import numpy as np
    import pandas as pd

    nb = int(num_blocks)
    thr = float(threshold)
    d = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb))).cast("int").alias("__b"),
    )
    # row in block b joins pair-group (i,j) as side A when i == b (j >= b)
    # and as side B when j == b (i <= b); group key = i * nb + j
    keys_a = F.transform(
        F.sequence(F.col("__b"), F.lit(nb - 1)),
        lambda j: F.struct(
            (F.col("__b") * nb + j).cast("int").alias("k"), F.lit("A").alias("s")
        ),
    )
    keys_b = F.transform(
        F.sequence(F.lit(0), F.col("__b")),
        lambda i: F.struct((i * nb + F.col("__b")).cast("int").alias("k"), F.lit("B").alias("s")),
    )
    exploded = (
        d.withColumn("__ks", F.explode(F.concat(keys_a, keys_b)))
        .select("id", "v", F.col("__ks.k").alias("k"), F.col("__ks.s").alias("s"))
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        A = pdf[pdf["s"] == "A"]
        B = pdf[pdf["s"] == "B"]
        if A.empty or B.empty:
            return empty
        MA = np.asarray(A["v"].tolist(), dtype="float64")
        MB = np.asarray(B["v"].tolist(), dtype="float64")
        MA /= np.linalg.norm(MA, axis=1, keepdims=True)
        MB /= np.linalg.norm(MB, axis=1, keepdims=True)
        C = MA @ MB.T
        ia, jb = np.where(C >= thr)
        if len(ia) == 0:
            return empty
        ids_a = A["id"].to_numpy()[ia]
        ids_b = B["id"].to_numpy()[jb]
        out = pd.DataFrame(
            {
                "id_a": np.minimum(ids_a, ids_b),
                "id_b": np.maximum(ids_a, ids_b),
                "cosine": C[ia, jb],
            }
        )
        # same-block groups see each unordered pair twice (and the diagonal)
        out = out[out["id_a"] < out["id_b"]].drop_duplicates(["id_a", "id_b"])
        return out

    return exploded.groupBy("k").applyInPandas(score, "id_a long, id_b long, cosine double")


# ------------------------------------------------- connected components
def _cc_driver(e: DataFrame) -> DataFrame:
    """Driver-side union-find over a bounded, deduplicated edge frame —
    the small-graph fast path of :func:`connected_components`. Same
    contract: one ``(node, component=min id of its component)`` row per
    node appearing in an edge."""
    rows = e.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r["u"], r["v"]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by LABEL: the smaller id becomes the root, so the
            # final root IS the component's min id (matches least/greatest
            # normalization: ids are mutually orderable)
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru

    out = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [
            T.StructField("node", e.schema["u"].dataType),
            T.StructField("component", e.schema["u"].dataType),
        ]
    )
    from tsflex_spark.utils.data import local_rows_df

    # JVM-local result frame: the labels feed several joins, and a
    # Python-RDD frame would pay worker round trips per consumer
    return local_rows_df(e.sparkSession, out, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_threshold: Optional[int] = 1_000_000,
) -> DataFrame:
    """Resolve duplicate-candidate pairs into clusters: returns one row
    ``(node, component)`` for every node that appears in ``pairs``, where
    ``component`` is the minimum node id of its connected component.

    This is the final step of a near-dup pipeline at scale: LSH banding
    (``minhash_lsh_candidates``) / ``embedding_neardup`` emit *pairs*; to
    keep one canonical document per duplicate *group* the pairs must be
    closed transitively (A~B, B~C => {A,B,C} one cluster).

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
    DataFrame ops — each round is two groupBy/join stages over the edge
    set, and the edge count never grows beyond the input degree sum.
    Converges in O(log n) rounds (vs O(diameter) for naive label
    propagation), which is what makes it safe on 100 TB-scale candidate
    graphs with long chains. Each round ends in an eager
    ``localCheckpoint`` to truncate lineage (iterative plans otherwise
    double in depth per round), and convergence is detected by an
    order-insensitive (count, hash-sum) signature of the edge set.

    Node ids may be any orderable type (long doc ids, string keys).

    Adaptive small-graph path: verified near-dup graphs are usually
    MUCH smaller than the corpus that produced them (pairs survive LSH
    banding AND exact verification), so when the deduplicated edge count
    is at most ``driver_threshold`` the closure runs as a driver-side
    union-find (path-halving + union-by-label) in one collect instead of
    O(log n) distributed rounds — identical (node, min-id component)
    labels, milliseconds instead of round barriers. The distributed
    loop remains the path for genuinely large graphs; pass
    ``driver_threshold=None`` (or 0) to force it. The threshold bounds
    DRIVER memory: 1M edges ≈ tens of MB of Python tuples — the same
    order as a broadcast join's small side.
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .transform(cut_lineage)
    )
    if driver_threshold:
        # e is checkpointed: the count re-reads persisted blocks only
        n_edges = e.count()
        if n_edges <= int(driver_threshold):
            return _cc_driver(e)
    all_nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()

    def _sig(d: DataFrame):
        # decimal sum: long would overflow under Spark 4's default ANSI mode
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = _sig(e)
    for _ in range(max_iter if sig[0] else 0):
        # large-star: for every node u, connect each LARGER neighbor v to
        # m = min(N(u) + {u}); keeps edges pointing big -> small
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least(F.col("__mv"), F.col("u")).alias("m"))
        )
        ls = (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: per node u over its (all smaller) neighbors N,
        # m = min(N); re-point every neighbor and u itself at m
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        e_new = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .transform(cut_lineage)
        )
        new_sig = _sig(e_new)
        e = e_new
        if new_sig == sig:
            break
        sig = new_sig
    # converged: e is a star forest (node -> component root); roots only
    # ever appear on the right, so join them back with their own label
    assign = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        all_nodes.join(assign, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("component", F.col("u")).alias("component"),
        )
    )


def semantic_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "__cell",
    block_rows: int = 4096,
) -> DataFrame:
    """Within-cell exact-cosine pairs: ``(id_a, id_b, cosine)`` for every
    same-cell pair with cosine >= ``threshold`` (id_a < id_b).

    One Arrow ``applyInPandas`` task per cell computes the cell's full
    cosine matrix as a blocked numpy GEMM (``block_rows``-row tiles bound
    peak allocation for a skewed giant cell; compute stays O(m²) in the
    cell size m — that is the point of clustering first: m ~ n/nlist).
    Ids may be long or string (the output schema follows ``id_col``).
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    blk = int(block_rows)
    id_type = df.schema[id_col].dataType.simpleString()
    d = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.col(cell_col).alias("c"),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        M = np.asarray(pdf["v"].tolist(), dtype="float64")
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, len(M), blk):
            A = M[i0 : i0 + blk]
            # only tiles on/above the diagonal; the j0==i0 tile dedups below
            for j0 in range(i0, len(M), blk):
                C = A @ M[j0 : j0 + blk].T
                ia, jb = np.where(C >= thr)
                ga, gb = ia + i0, jb + j0
                keep = ga < gb
                out_a.append(ids[ga[keep]])
                out_b.append(ids[gb[keep]])
                out_c.append(C[ia[keep], jb[keep]])
        if not out_a:
            # ids[:0] keeps the id dtype (long vs string) in the empty frame
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.array([], "float64")}
            )
        a = np.concatenate(out_a)
        b = np.concatenate(out_b)
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cosine": np.concatenate(out_c),
            }
        )

    return d.groupBy("c").applyInPandas(
        score, f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: Optional[str] = None,
    index=None,
    num_cells: int = 64,
    audit: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedded corpus. Rows are clustered into cells, a
    within-cell exact-cosine pass emits pairs >= ``threshold``, the pairs
    are closed transitively (``connected_components``), and one canonical
    row per duplicate group survives (the minimum id — deterministic).

    Cells come from, in priority order: an explicit ``cell_col`` already
    on ``df`` (e.g. a class label, or a precomputed IVF assignment), a
    trained ``IVFIndex`` passed as ``index``, or a quantizer trained here
    on a bounded driver-side sample (``num_cells`` centroids — the
    test-scale convenience; at 100 TB train once and reuse).

    Scale shape: the only quadratic work is within-cell (m ~ n/nlist
    rows per GEMM task); everything else is hash joins and the O(log n)
    CC rounds. Cross-cell duplicates are invisible by construction —
    SemDeDup's own approximation; tighten by raising ``num_cells``
    resolution or running a MinHash pass alongside.

    Returns the surviving rows of ``df`` (original columns). With
    ``audit=True`` returns ``(id_col, component, is_dup)`` instead — the
    drop decisions, joinable back upstream.
    """
    if cell_col is None:
        from tsflex_spark.datapipe.similarity import ivf_assign, ivf_train

        if index is None:
            index = ivf_train(df, nlist=num_cells, vec_col=vec_col, id_col=id_col)
        work = ivf_assign(df, index, out_col="__cell")
        cell = "__cell"
    else:
        work, cell = df, cell_col

    pairs = semantic_pairs(
        work, threshold, vec_col=vec_col, id_col=id_col, cell_col=cell
    )
    comp = connected_components(pairs, "id_a", "id_b")
    if audit:
        return (
            df.select(id_col)
            .join(comp.withColumnRenamed("node", id_col), id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("component", F.col(id_col)).alias("component"),
                F.coalesce(
                    F.col(id_col) != F.col("component"), F.lit(False)
                ).alias("is_dup"),
            )
        )
    drops = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


def span_gram_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 20,
    tokens: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, __pos, __gh): one row per token position carrying the
    ``xxhash64`` of the word n-gram starting there — the shared heavy
    stage (tokenize + explode + hash) of :func:`duplicate_spans` and
    :func:`remove_duplicate_spans`. A pipeline running detection AND
    removal should compute this once, cut its lineage with an eager
    ``localCheckpoint()`` (not ``persist`` — see ``bigram_rows``), and
    pass it to both via ``positions=`` — halving the dominant corpus
    scan.
    ``n`` must match the consumers' ``n``; docs shorter than ``n``
    tokens contribute no rows. ``tokens`` (an ``(id, __t
    array<string>)`` frame of lowercased ``text._tokens``) skips the
    tokenize — pass it when another corpus pass (e.g.
    ``text.top_ngrams``) already tokenized."""
    from tsflex_spark.datapipe.text import _grams, _tokens, _word_gram
    from tsflex_spark.utils.data import fan_out

    if tokens is not None:
        d = tokens.select(F.col(id_col), F.col("__t"))
    else:
        d = fan_out(df).select(
            F.col(id_col), _tokens(F.lower(F.col(text_col))).alias("__t")
        )
    d = _grams(d, [F.col(id_col)], "__t", n, whole=False)
    return d.select(
        F.col(id_col),
        (F.col("__i") - 1).alias("__pos"),  # 0-based token index
        F.xxhash64(_word_gram("__t", n)).alias("__gh"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 20,
    min_occurrences: int = 2,
    positions: Optional[DataFrame] = None,
) -> DataFrame:
    """Token-span-level duplicate detection: find maximal spans whose
    every word ``n``-gram occurs at least ``min_occurrences`` times in the
    corpus — the passage-dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", ExactSubstr), re-shaped
    for Spark: their suffix array is a single-machine structure; hashed
    n-gram buckets + per-doc position islands give the same "this passage
    appears elsewhere" spans with one hash-shuffle groupBy.

    Returns (id, span_start, span_end, n_grams) — token indices, span
    inclusive of the trailing words of the last n-gram (``span_end`` =
    last starting position + n - 1). Boilerplate headers, license
    blocks, and templated passages surface here even when whole-document
    near-dup misses them.

    Scale shape: rows = one per token position (same volume the shingle
    path already handles); the only wide stage is the groupBy on the
    8-byte gram hash, with map-side combine. Span merging is a per-doc
    window (partitioned by id — fully parallel). Pass ``positions=``
    (a :func:`span_gram_rows` frame built with the same ``n``) to reuse
    the tokenize+explode+hash stage across detection and removal.
    """
    from pyspark.sql import Window as W

    rows = (
        positions
        if positions is not None
        else span_gram_rows(df, text_col, id_col, n)
    )
    dup = (
        rows.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_occurrences))
        .select("__gh")
    )
    flagged = rows.join(dup, "__gh", "left_semi")
    w = W.partitionBy(id_col).orderBy("__pos")
    isl = flagged.withColumn(
        "__new",
        F.when(
            F.coalesce(F.lag("__pos").over(w), F.lit(-2)) < F.col("__pos") - 1, 1
        ).otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(w))
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + n - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("__isl")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 20,
    out_col: Optional[str] = None,
    positions: Optional[DataFrame] = None,
) -> DataFrame:
    """Cut all-but-one occurrence of every duplicated token passage —
    the removal half of :func:`duplicate_spans` (Lee et al. 2022 keep-one
    semantics). The canonical occurrence of each duplicated n-gram is the
    smallest (id, position); only non-canonical positions are flagged,
    merged into per-doc spans, and cut from the rebuilt text. Documents
    with no duplicated passages pass through with byte-identical token
    streams (whitespace is normalized to single spaces in ``out_col``).

    Scale shape: same one hash-shuffle groupBy as detection, plus a
    per-doc span array joined back (docs without spans skip the rebuild
    via the left join's null arm). The token filter is an in-row lambda
    over tokens x spans — spans per doc are few by construction. Pass
    ``positions=`` (a :func:`span_gram_rows` frame built with the same
    ``n``) to reuse the tokenize+explode+hash stage with detection.
    """
    from pyspark.sql import Window as W

    from tsflex_spark.datapipe.text import _tokens

    out_col = out_col or text_col
    pos_rows = (
        positions
        if positions is not None
        else span_gram_rows(df, text_col, id_col, n)
    )
    stats = pos_rows.groupBy("__gh").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))).alias("__keep"),
    )
    dup = stats.where(F.col("__c") >= 2).select("__gh", "__keep")
    flagged = (
        pos_rows.join(dup, "__gh")
        .where(
            (F.col(id_col) != F.col("__keep.i")) | (F.col("__pos") != F.col("__keep.p"))
        )
        .select(id_col, "__pos")
    )
    w = W.partitionBy(id_col).orderBy("__pos")
    spans = (
        flagged.withColumn(
            "__new",
            F.when(
                F.coalesce(F.lag("__pos").over(w), F.lit(-2)) < F.col("__pos") - 1, 1
            ).otherwise(0),
        )
        .withColumn("__isl", F.sum("__new").over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.struct(
                F.min("__pos").alias("s"), (F.max("__pos") + n - 1).alias("e")
            ).alias("__span")
        )
        .groupBy(id_col)
        .agg(F.collect_list("__span").alias("__spans"))
    )
    joined = df.join(spans, id_col, "left")
    toks = _tokens(F.lower(F.col(text_col)))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"), lambda s: (i >= s["s"]) & (i <= s["e"])
        ),
    )
    rebuilt = F.when(F.col("__spans").isNull(), F.concat_ws(" ", toks)).otherwise(
        F.concat_ws(" ", kept)
    )
    return joined.withColumn(out_col, rebuilt).drop("__spans")


def dedup_exact_stream(
    df: DataFrame,
    cols: Sequence[str] | str,
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each content hash,
    with state BOUNDED by the watermark delay (Spark's
    ``dropDuplicatesWithinWatermark``): two rows with equal content are
    deduped when they arrive within ``delay`` of each other; state for a
    hash is dropped once the watermark passes it, so the state store
    never grows with the corpus — the streaming analog of
    ``dedup_exact`` for continuous ingestion.

    Keys on ``xxhash64`` of the content columns (never the text itself),
    same as the batch path.
    """
    if isinstance(cols, str):
        cols = [cols]
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    df = df.withWatermark(ts_col, delay)
    return (
        df.withColumn("__h", F.xxhash64(*[F.col(c) for c in cols]))
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def dedup_against_store(
    new_docs: DataFrame,
    store_path: str,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    within_batch: bool = True,
    threshold: float = 0.8,
    update_store: bool = True,
    shingles: Optional[DataFrame] = None,
    signatures: Optional[DataFrame] = None,
) -> DataFrame:
    """Incremental near-dup dedup: drop arriving documents that LSH-
    collide with ANYTHING already accepted into the store, dedup the
    batch against itself, and append the survivors' band hashes —
    the "dedup the incoming crawl against the corpus" loop.

    Pass a precomputed ``shingles`` frame (``shingle_rows`` output —
    may cover a SUPERSET of ``new_docs``; it is semi-join-pruned to the
    batch) to reuse an existing shingle pass instead of re-running the
    tokenizer — the same reuse contract as ``ngram_jaccard``. Or pass
    ``signatures`` (an ``(id, minhash)`` frame with matching
    ``num_hashes``/``seed``, also superset-prunable) to skip the
    signature pass entirely — the right shape when one sketch pass
    feeds several store batches: the per-batch work collapses to a
    1-row/doc semi-join + the band equi-join. The batch's signature
    frame (and shingles, when available) is forwarded into the
    ``within_batch`` dedup too, so ONE sketch pass feeds both the
    store check and the within-batch pass — ``minhash_dedup``
    semi-join-prunes the forwarded frames to the survivors.

    The store is a parquet table of (band, band_hash, id) partitioned
    by ``band``: the membership check is an equi-join on
    (band, band_hash) — band partitions co-locate both sides, only
    colliding buckets ever meet, and the store carries 8-byte hashes,
    never text or signatures. At 100 TB the same layout holds: the
    store grows with ACCEPTED docs × num_bands rows, and the join is
    AQE-sized like any other equi-join (salt via utils.skew if one
    band-hash bucket goes degenerate).

    The store check drops on ANY band collision (recall-heavy: the
    store keeps no signatures to verify against — by design, so it
    stays 8-byte rows); the within-batch pass verifies exact Jaccard
    ≥ ``threshold`` as the batch path does. Returns the surviving rows
    of ``new_docs``. With ``update_store=False`` the check is read-only
    (a dry run / audit). First call bootstraps an empty store.

    Streaming shape: call this inside ``foreachBatch`` — the
    signature/band computation is per-batch, the store join is a batch
    join, and the append is idempotent per epoch if ids are unique.
    """
    spark = new_docs.sparkSession
    if signatures is not None:
        sig = signatures.select(id_col, "minhash").join(
            new_docs.select(id_col), on=id_col, how="left_semi"
        )
    else:
        if shingles is not None:
            shingles = shingles.join(
                new_docs.select(id_col), on=id_col, how="left_semi"
            )
        else:
            # compute once here (not inside minhash_signatures) so the
            # same frame can feed the within-batch verify stage below —
            # one shingle pass per batch, not two
            shingles = shingle_rows(new_docs, text_col, id_col, shingle_k)
        sig = minhash_signatures(
            new_docs, text_col, id_col,
            num_hashes=num_hashes, shingle_k=shingle_k, seed=seed,
            shingles=shingles,
        )
    bands = band_rows(sig, id_col, num_bands).transform(cut_lineage)

    # Probe existence via the Hadoop FS API instead of catching every
    # read error: a transient failure (permissions, network, corrupt
    # footer) must propagate — treating it as "no store yet" would
    # silently skip the membership check and admit duplicates into both
    # the corpus and the store.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    have_store = fs.exists(jpath)
    if have_store:
        store = spark.read.parquet(store_path)
    if have_store:
        hit = (
            bands.join(
                store.select("band", "band_hash").dropDuplicates(
                    ["band", "band_hash"]
                ),
                on=["band", "band_hash"],
                how="left_semi",
            )
            .select(id_col)
            .distinct()
            # materialize the COLLIDING-ID set (tiny: <= batch ids), not
            # the survivors: this freezes the store READ at call time, so
            # (a) a read-only probe's results are snapshot-stable even if
            # the caller appends to the store between the call and the
            # consumption (the documented foreachBatch/audit-alongside-
            # writer shape — previously the lazy plan re-read the store
            # at every consumption), and (b) the update path's append can
            # never re-observe itself through the survivors' plan, which
            # no longer contains the store read at all. Cheaper than the
            # r10 survivors checkpoint too: ids only, never the text.
            .transform(cut_lineage)
        )
        survivors = new_docs.join(hit, on=id_col, how="left_anti")
    else:
        survivors = new_docs

    if within_batch:
        # forward the batch's signature frame (and any caller shingles)
        # so one sketch pass feeds BOTH the store check and the
        # within-batch dedup — minhash_dedup semi-join-prunes them to
        # the survivors; this also keeps a caller-supplied seed
        # consistent (minhash_dedup would otherwise re-sign with the
        # default seed).
        survivors = minhash_dedup(
            survivors, text_col, id_col=id_col, threshold=threshold,
            num_hashes=num_hashes, num_bands=num_bands,
            shingle_k=shingle_k, signatures=sig, shingles=shingles,
        )
    # the store read is already frozen in the checkpointed `hit` above,
    # so the append can never re-observe itself. The only remaining
    # double-execution hazard is the within-batch dedup: the append
    # below executes it once for keep_ids, and without a barrier the
    # caller's consumption would run it a second time — checkpoint
    # survivors exactly then. Read-only probes and no-within-batch
    # updates return a lazy frame (the anti-join against the literal
    # hit set re-runs cheaply), saving a whole materialization pass of
    # the batch (text and all) per call.
    if update_store and within_batch:
        survivors = survivors.transform(cut_lineage)

    if update_store:
        keep_ids = survivors.select(id_col)
        out = bands.join(keep_ids, on=id_col, how="left_semi").select(
            "band", "band_hash", F.col(id_col).alias("id")
        )
        # one output file per band per batch, not one per band per task:
        # the store's rows are 3 longs, so a natural-parallelism
        # partitionBy write fans out to (bands × tasks) KB-sized files
        # (measured 1,026 files for 4.2 MB at sf0.1 — file-create
        # overhead dominates the append, and every later probe pays the
        # listing). The keyed repartition is a tiny (band,hash,id)
        # shuffle; AQE coalesces it to ≤ num_bands tasks. Batches big
        # enough to want >1 file per band should bump
        # spark.sql.files.maxRecordsPerFile instead — the band layout
        # (and the probe-side pruning) is unchanged either way.
        out = out.repartition("band")
        out.write.mode("append").partitionBy("band").parquet(store_path)
    return survivors


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    left_id: str,
    right_id: str,
    *,
    threshold: float = 0.8,
    shingle_k: int = 5,
    method: str = "lsh",
    num_hashes: int = 64,
    num_bands: int = 16,
    left_shingles: Optional[DataFrame] = None,
    right_shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Cross-table record linkage by text similarity: return
    (left_id, right_id, jaccard) for every cross pair whose shingle-set
    Jaccard ≥ ``threshold`` — joining two catalogs/feeds on near-equal
    titles, addresses, product names.

    ``method="lsh"`` (the scale path): minhash both sides, equi-join
    band hashes ACROSS tables (only colliding buckets meet — candidate
    generation is linear in matches, never |L|×|R|), then exact-verify
    the candidates with pair-driven shingle joins. ``method="exact"``
    skips LSH and intersects full shingle tables — exact recall, one
    hash-join on 8-byte shingle keys; right-sizes when one side is
    small or recall is contractual.

    Both text columns must be named ``text_col`` in their own frames
    (rename before calling otherwise). Ids may collide across tables —
    pairing is positional (left id, right id), no shared id space
    assumed. Pass ``left_shingles``/``right_shingles`` (``shingle_rows``
    output: (id, __s) distinct hashed-shingle rows) to reuse an existing
    — e.g. corpus-wide checkpointed — shingle table instead of
    re-scanning the text.
    """
    lsh_rows = (
        left_shingles
        if left_shingles is not None
        else shingle_rows(left, text_col, left_id, shingle_k)
    )
    rsh_rows = (
        right_shingles
        if right_shingles is not None
        else shingle_rows(right, text_col, right_id, shingle_k)
    )

    if method == "lsh":
        lsig = minhash_signatures(
            left, text_col, left_id, num_hashes=num_hashes,
            shingle_k=shingle_k, shingles=lsh_rows,
        )
        rsig = minhash_signatures(
            right, text_col, right_id, num_hashes=num_hashes,
            shingle_k=shingle_k, shingles=rsh_rows,
        )
        lb = band_rows(lsig, left_id, num_bands).select(
            F.col(left_id).alias("__lid"), "band", "band_hash"
        )
        rb = band_rows(rsig, right_id, num_bands).select(
            F.col(right_id).alias("__rid"), "band", "band_hash"
        )
        cand = (
            lb.join(rb, on=["band", "band_hash"])
            .select("__lid", "__rid")
            .distinct()
        )
    elif method == "exact":
        cand = None
    else:
        raise ValueError(f"unknown method {method!r}")

    lsh = lsh_rows.select(F.col(left_id).alias("__lid"), "__s")
    rsh = rsh_rows.select(F.col(right_id).alias("__rid"), "__s")
    if cand is not None:
        # prune shingles to candidate docs (ngram_jaccard's shape)
        lsh = lsh.join(cand.select("__lid").distinct(), "__lid", "left_semi")
        rsh = rsh.join(cand.select("__rid").distinct(), "__rid", "left_semi")
    ln = lsh.groupBy("__lid").agg(F.count(F.lit(1)).alias("__na"))
    rn = rsh.groupBy("__rid").agg(F.count(F.lit(1)).alias("__nb"))
    inter = (
        lsh.join(rsh, on="__s")
        .groupBy("__lid", "__rid")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    if cand is not None:
        inter = inter.join(cand, on=["__lid", "__rid"], how="left_semi")
    jac = (
        inter.join(ln, "__lid")
        .join(rn, "__rid")
        .withColumn(
            "jaccard",
            F.col("__i").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__i")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )
    return jac.select(
        F.col("__lid").alias(left_id),
        F.col("__rid").alias(right_id),
        "jaccard",
    )


def edit_similarity(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    left_col: str = "id_a",
    right_col: str = "id_b",
    *,
    prefix_len: Optional[int] = 256,
    out_dist: str = "edit_dist",
    out_sim: str = "edit_sim",
) -> DataFrame:
    """Edit-distance verification for candidate pairs — the character-
    level complement to shingle Jaccard for RECORD-LINKAGE fields
    (titles, names, addresses): Jaccard is blind to transpositions and
    small in-word edits that Levenshtein prices exactly.

    Adds ``out_dist`` (unit-cost Levenshtein, Spark's builtin — pure
    JVM codegen, no Python) and ``out_sim`` = ``1 - dist/max_len`` over
    the (lowercased, whitespace-collapsed) texts. ``prefix_len`` bounds
    the dynamic program: Levenshtein is O(len_a x len_b) PER PAIR, so
    whole-document inputs are quadratic blowups — 256-char prefixes keep
    the verify O(64k) per pair (the linkage-field regime this op is
    for). Pass ``prefix_len=None`` only for genuinely short fields.

    Plan shape: two broadcast-eligible joins of the (bounded) pair
    frame against the corpus projection — the corpus itself never
    shuffles; the DP runs inside whole-stage codegen.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    if prefix_len is not None:
        norm = F.substring(norm, 1, int(prefix_len))
    t = docs.select(F.col(id_col), norm.alias("__nt"))
    a = t.select(F.col(id_col).alias(left_col), F.col("__nt").alias("__ta"))
    b = t.select(F.col(id_col).alias(right_col), F.col("__nt").alias("__tb"))
    j = pairs.join(a, on=left_col).join(b, on=right_col)
    dist = F.levenshtein("__ta", "__tb")
    mx = F.greatest(F.length("__ta"), F.length("__tb"))
    sim = F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - dist.cast("double") / mx.cast("double")
    )
    return j.withColumn(out_dist, dist.cast("long")).withColumn(
        out_sim, sim
    ).drop("__ta", "__tb")
