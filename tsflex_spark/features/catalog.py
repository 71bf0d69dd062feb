"""Function-recognition table: known feature functions → native Catalyst aggregates.

This is the engine's "optimizer": at plan-build time (driver-side) each
feature function is looked up here; a hit compiles to a JVM-side,
whole-stage-codegen'd aggregate expression over the segment groupBy — the
100 TB-friendly path. A miss falls back to the Arrow ``applyInPandas`` UDF
tier. (SURVEY §4 item 3.)

Semantics gotchas encoded here (reference parity, SURVEY §2.4):
- ``np.std`` / ``np.var`` default ``ddof=0`` → **population** moments
  (``stddev_pop`` / ``var_pop``), not Spark's sample default.
- ``scipy.stats.skew(bias=True)`` ≡ Spark ``skewness`` (population g1);
  ``scipy.stats.kurtosis(fisher=True, bias=True)`` ≡ Spark ``kurtosis``
  (excess population).
- Empty segments: the reference calls ``f`` on an empty slice
  (strided_rolling.py:455-470) → ``np.sum(∅)=0.0``, ``len(∅)=0``, moments
  → NaN. Each entry carries its empty-segment fill value.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Optional, Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

try:  # scipy is optional in this environment
    from scipy import stats as _sstats
except Exception:  # pragma: no cover
    _sstats = None


@dataclass(frozen=True)
class NativeSpec:
    """A recognized aggregate: how to build its Catalyst expression."""

    name: str
    # arity 1: (value_col, ts_numeric_col, kwargs) -> aggregate Column
    # arity 2: (value_col_a, value_col_b, ts_numeric_col, kwargs) -> Column
    build: Callable[..., Column]
    # value an empty segment produces (None → NULL/NaN)
    empty: Optional[float] = None
    arity: int = 1
    # kwargs this native's build understands (anything else disqualifies
    # recognition: a CALLABLE with overloaded args falls to the UDF tier,
    # a catalog STRING raises at plan build). Default EMPTY — a kwarg a
    # build lambda ignores must not be silently accepted.
    kwargs_allowed: frozenset = frozenset()


def _simple(fn: Callable[[Column], Column]) -> Callable[[Column, Column, dict], Column]:
    return lambda v, tsn, kw: fn(v)


_REGISTRY: dict[str, NativeSpec] = {}


def _reg(
    name: str,
    build: Callable[[Column, Column, dict], Column],
    empty: Optional[float] = None,
    kwargs_allowed: Optional[Sequence[str]] = None,
) -> None:
    spec = (
        NativeSpec(name, build, empty)
        if kwargs_allowed is None
        else NativeSpec(name, build, empty, kwargs_allowed=frozenset(kwargs_allowed))
    )
    _REGISTRY[name] = spec


def _std_build(v: Column, tsn: Column, kw: dict) -> Column:
    return F.stddev_samp(v) if kw.get("ddof", 0) == 1 else F.stddev_pop(v)


def _var_build(v: Column, tsn: Column, kw: dict) -> Column:
    return F.var_samp(v) if kw.get("ddof", 0) == 1 else F.var_pop(v)


def _quantile_build(v: Column, tsn: Column, kw: dict) -> Column:
    q = kw.get("q", 0.5)
    return F.percentile(v, F.lit(float(q)))


_reg("sum", _simple(F.sum), empty=0.0)
_reg("nansum", _simple(F.sum), empty=0.0)
_reg("mean", _simple(F.avg))
_reg("nanmean", _simple(F.avg))
_reg("min", _simple(F.min))
_reg("amin", _simple(F.min))
_reg("nanmin", _simple(F.min))
_reg("max", _simple(F.max))
_reg("amax", _simple(F.max))
_reg("nanmax", _simple(F.max))
_reg("median", _simple(F.median))
_reg("nanmedian", _simple(F.median))
_reg("std", _std_build, kwargs_allowed=["ddof"])
_reg("nanstd", _std_build, kwargs_allowed=["ddof"])
_reg("var", _var_build, kwargs_allowed=["ddof"])
_reg("nanvar", _var_build, kwargs_allowed=["ddof"])
_reg("skew", _simple(F.skewness))
_reg("kurtosis", _simple(F.kurtosis))
_reg("count", _simple(F.count), empty=0.0)
_reg("len", _simple(F.count), empty=0.0)
_reg("quantile", _quantile_build, kwargs_allowed=["q"])
_reg("nanquantile", _quantile_build, kwargs_allowed=["q"])
_reg(
    "percentile",
    lambda v, tsn, kw: F.percentile(v, F.lit(float(kw.get("q", 50.0)) / 100.0)),
    kwargs_allowed=["q"],
)
# time-series extras (Spark-native, no numpy counterpart needed)
_reg("first", lambda v, tsn, kw: F.min_by(v, tsn))
_reg("last", lambda v, tsn, kw: F.max_by(v, tsn))
_reg("rms", lambda v, tsn, kw: F.sqrt(F.avg(v * v)))
_reg("abs_energy", lambda v, tsn, kw: F.sum(v * v), empty=0.0)
_reg("mean_abs", lambda v, tsn, kw: F.avg(F.abs(v)))
_reg("ptp", lambda v, tsn, kw: F.max(v) - F.min(v))
_reg("n_unique", lambda v, tsn, kw: F.count_distinct(v), empty=0.0)
# HLL++ sketch distinct — the streaming-safe / shuffle-light alternative
# (count_distinct needs an exact distinct shuffle and is rejected by
# streaming aggregation; the sketch merges incrementally). rsd kwarg =
# relative standard deviation (Spark default 0.05).
_reg(
    "approx_n_unique",
    lambda v, tsn, kw: F.approx_count_distinct(v, rsd=float(kw.get("rsd", 0.05))),
    empty=0.0,
    kwargs_allowed=["rsd"],
)
# KLL/GK-sketch quantile — the 100 TB quantile path: exact F.percentile
# buffers every value per segment; percentile_approx merges bounded
# sketches (map-side combinable, streaming-safe). accuracy kwarg trades
# memory for error (Spark default 10000 ~ 1/10000 rank error).
_reg(
    "approx_quantile",
    lambda v, tsn, kw: F.percentile_approx(
        v, F.lit(float(kw.get("q", 0.5))), F.lit(int(kw.get("accuracy", 10000)))
    ),
    kwargs_allowed=["q", "accuracy"],
)
# most-frequent value (categorical windows). Spark's mode is
# NON-deterministic on count ties — fine for feature use, not for an
# oracle gate; pin deterministic=True semantics yourself by pre-mapping
# values if tie order matters
_reg("mode", lambda v, tsn, kw: F.mode(v))
# tsfresh-style threshold counts (count_above/count_below/range_count):
# kwargs t / lo,hi set the bounds; all single codegen aggregates
_reg(
    "count_above",
    lambda v, tsn, kw: F.count(F.when(v > F.lit(float(kw.get("t", 0.0))), v)),
    empty=0.0,
    kwargs_allowed=["t"],
)
_reg(
    "count_below",
    lambda v, tsn, kw: F.count(F.when(v < F.lit(float(kw.get("t", 0.0))), v)),
    empty=0.0,
    kwargs_allowed=["t"],
)
_reg(
    "range_count",
    lambda v, tsn, kw: F.count(
        F.when(
            (v >= F.lit(float(kw.get("lo", 0.0)))) & (v < F.lit(float(kw.get("hi", 1.0)))),
            v,
        )
    ),
    empty=0.0,
    kwargs_allowed=["lo", "hi"],
)
_reg(
    "frac_above",
    lambda v, tsn, kw: F.try_divide(
        F.count(F.when(v > F.lit(float(kw.get("t", 0.0))), v)), F.count(v)
    ),
    kwargs_allowed=["t"],
)
# slope of the least-squares fit of value against the index expressed in
# SECONDS (TIME domain) or raw units (SEQUENCE) — reference tests use
# scipy.stats.linregress (tests/test_features_feature_collection.py:1880-1907)
_reg("slope", lambda v, tsn, kw: F.regr_slope(v, tsn / F.lit(1_000_000.0)))
_reg("intercept", lambda v, tsn, kw: F.regr_intercept(v, tsn / F.lit(1_000_000.0)))


# index of the FIRST occurrence of the segment max/min — pandas
# idxmax/idxmin semantics (tsfresh first_location_of_maximum, up to
# units: the value is in TSN units — unix MICROS for TIME, the raw index
# for SEQUENCE). Numeric series only (the tie-break struct negates the
# value). One codegen aggregate: min over (−v, tsn) structs orders by
# largest value first, then earliest index.
def _argmax_build(v: Column, tsn: Column, kw: dict) -> Column:
    ordered = F.when(v.isNotNull(), F.struct((-v).alias("nv"), tsn.alias("t")))
    return F.min(ordered)["t"]


def _argmin_build(v: Column, tsn: Column, kw: dict) -> Column:
    ordered = F.when(v.isNotNull(), F.struct(v.alias("pv"), tsn.alias("t")))
    return F.min(ordered)["t"]


_reg("argmax", _argmax_build)
_reg("argmin", _argmin_build)


# tsfresh variation_coefficient: std/mean (population std by default, the
# numpy ddof=0 convention used throughout); NULL when mean == 0
def _cv_build(v: Column, tsn: Column, kw: dict) -> Column:
    sd = F.stddev_samp(v) if kw.get("ddof", 0) == 1 else F.stddev_pop(v)
    return F.try_divide(sd, F.avg(v))


_reg("variation_coefficient", _cv_build, kwargs_allowed=["ddof"])
# tsfresh ratio_value_number_to_time_series_length: |distinct| / n —
# holistic (exact distinct), no two-level decomposition
_reg("unique_ratio", lambda v, tsn, kw: F.try_divide(F.count_distinct(v), F.count(v)))
# tsfresh absolute_maximum
_reg("abs_max", lambda v, tsn, kw: F.max(F.abs(v)))


# --- two-series (tuple series_name) native aggregates ------------------------
# The reference passes each series' own segment slice to the function
# (ragged allowed, feature.py:100-104); these natives use SQL pairwise
# semantics instead: rows where BOTH series are non-null in the segment —
# the only well-defined distributed form, identical to DuckDB/Spark
# corr/covar. Arbitrary two-series Python funcs still get the exact
# ragged per-series slices via the UDF tier.
_REGISTRY2: dict[str, NativeSpec] = {}


def _reg2(
    name: str,
    build: Callable[..., Column],
    empty: Optional[float] = None,
    kwargs_allowed: Optional[Sequence[str]] = None,
) -> None:
    _REGISTRY2[name] = NativeSpec(
        name,
        build,
        empty,
        arity=2,
        kwargs_allowed=frozenset(kwargs_allowed) if kwargs_allowed else frozenset(),
    )


def _pair_sums(a: Column, b: Column) -> tuple:
    """Pairwise-non-null exact sums (n, Σa, Σb, Σab, Σa², Σb²), each cast
    to double only AFTER aggregation. With decimal/integer inputs the sums
    are exact (order-independent), so the final double formula is
    deterministic across engines and partitionings — unlike ``F.corr`` /
    ``F.covar_*``, whose float accumulation order drifts from other
    engines at rounding boundaries.
    """
    both = a.isNotNull() & b.isNotNull()
    av, bv = F.when(both, a), F.when(both, b)
    n = F.count(av).cast("double")
    sa = F.sum(av).cast("double")
    sb = F.sum(bv).cast("double")
    sab = F.sum(av * bv).cast("double")
    saa = F.sum(av * av).cast("double")
    sbb = F.sum(bv * bv).cast("double")
    return n, sa, sb, sab, saa, sbb


def _corr_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    n, sa, sb, sab, saa, sbb = _pair_sums(a, b)
    cov = n * sab - sa * sb
    da = n * saa - sa * sa
    db = n * sbb - sb * sb
    denom = da * db
    return F.when((n > 1) & (denom > 0), cov / F.sqrt(denom))


def _covar_pop_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    n, sa, sb, sab, _, _ = _pair_sums(a, b)
    return F.when(n > 0, (n * sab - sa * sb) / (n * n))


def _covar_samp_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    n, sa, sb, sab, _, _ = _pair_sums(a, b)
    return F.when(n > 1, (n * sab - sa * sb) / (n * (n - 1)))


def _mean_abs_diff_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    """mean(|a - b|), pairwise-non-null. With b = shift(a) this is
    tsfresh's ``mean_abs_change`` over the window (the shift comes from
    ``utils.distributed.with_global_shift`` — see the catalog recipe
    test); exact decimal sum, one final double division."""
    both = a.isNotNull() & b.isNotNull()
    d = F.when(both, F.abs(a - b))
    return F.when(F.count(d) > 0, F.sum(d).cast("double") / F.count(d))


def _rmse_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    """sqrt(mean((a - b)²)), pairwise-non-null — series-vs-forecast error."""
    both = a.isNotNull() & b.isNotNull()
    d2 = F.when(both, (a - b) * (a - b))
    return F.when(F.count(d2) > 0, F.sqrt(F.sum(d2).cast("double") / F.count(d2)))


def _mean_diff_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    """mean(a - b), pairwise-non-null. With b = lag-1 shift of a
    (``utils.distributed.with_global_shift``) this is tsfresh's
    ``mean_change`` over the window; exact decimal sum, one final double
    division."""
    both = a.isNotNull() & b.isNotNull()
    d = F.when(both, a - b)
    return F.when(F.count(d) > 0, F.sum(d).cast("double") / F.count(d))


def _cid_ce_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    """sqrt(Σ(a-b)²), pairwise-non-null — with b = lag-1 shift this is
    tsfresh ``cid_ce(normalize=False)`` (complexity-invariant distance).
    The normalize=True variant needs the window's own std — compose with
    the ``std`` native instead of hiding a second pass here."""
    both = a.isNotNull() & b.isNotNull()
    d2 = F.when(both, (a - b) * (a - b))
    return F.when(F.count(d2) > 0, F.sqrt(F.sum(d2).cast("double")))


def _crossings_build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
    """count of threshold crossings: rows where (a > t) != (b > t) —
    with b = lag-1 shift this is tsfresh ``number_crossing_m`` (t = m)."""
    t = F.lit(float(kw.get("t", 0.0)))
    both = a.isNotNull() & b.isNotNull()
    return F.count(F.when(both & ((a > t) != (b > t)), a))


_reg2("corr", _corr_build)
_reg2("covar_pop", _covar_pop_build)
_reg2("covar_samp", _covar_samp_build)
_reg2("dot", lambda a, b, tsn, kw: F.sum(a * b), empty=0.0)
_reg2("mean_ratio", lambda a, b, tsn, kw: F.avg(F.try_divide(a, b)))
_reg2("mean_abs_diff", _mean_abs_diff_build)
_reg2("rmse", _rmse_build)
_reg2("mean_diff", _mean_diff_build)
_reg2("cid_ce", _cid_ce_build)
_reg2("crossings", _crossings_build, empty=0.0, kwargs_allowed=["t"])
# tsfresh absolute_sum_of_changes with b = lag-1 shift
_reg2(
    "sum_abs_diff",
    lambda a, b, tsn, kw: F.coalesce(
        F.sum(F.when(a.isNotNull() & b.isNotNull(), F.abs(a - b))).cast("double"),
        F.lit(0.0),
    ),
    empty=0.0,
)


# --- callable → registry-name recognition (by identity) ---------------------
_CALLABLE_TABLE: dict[int, str] = {}


def _reg_callable(fn: Any, name: str) -> None:
    try:
        _CALLABLE_TABLE[id(fn)] = name
    except Exception:  # pragma: no cover
        pass


for _np_fn, _nm in [
    (np.sum, "sum"), (np.nansum, "nansum"), (np.mean, "mean"), (np.nanmean, "nanmean"),
    (np.min, "min"), (np.max, "max"), (np.nanmin, "nanmin"), (np.nanmax, "nanmax"),
    (np.median, "median"), (np.nanmedian, "nanmedian"), (np.std, "std"),
    (np.nanstd, "nanstd"), (np.var, "var"), (np.nanvar, "nanvar"),
    (np.quantile, "quantile"), (np.nanquantile, "nanquantile"),
    (np.percentile, "percentile"), (len, "len"), (sum, "sum"), (min, "min"), (max, "max"),
]:
    _reg_callable(_np_fn, _nm)

if _sstats is not None:  # pragma: no cover
    _reg_callable(_sstats.skew, "skew")
    _reg_callable(_sstats.kurtosis, "kurtosis")


def lookup_native(func: Any, kwargs: dict) -> Optional[NativeSpec]:
    """Return the NativeSpec for a recognized function, else None.

    Strings are looked up directly; callables by identity. Unsupported
    kwargs (anything beyond ddof/q) disqualify recognition — the UDF tier
    then honors them bit-exactly.
    """
    name: Optional[str] = None
    if isinstance(func, str):
        name = func
    else:
        name = _CALLABLE_TABLE.get(id(func))
    if name is None or name not in _REGISTRY:
        return None
    spec = _REGISTRY[name]
    if any(k not in spec.kwargs_allowed for k in kwargs):
        return None
    return spec


def lookup_native2(func: Any, kwargs: dict) -> Optional[NativeSpec]:
    """Two-series recognition (string names only — there is no numpy
    callable with matching pairwise semantics to key on)."""
    if not isinstance(func, str) or func not in _REGISTRY2:
        return None
    spec = _REGISTRY2[func]
    if any(k not in spec.kwargs_allowed for k in kwargs):
        return None
    return spec


def native_names() -> list[str]:
    return sorted(_REGISTRY) + sorted(_REGISTRY2)


# --- two-level (partial/final) decomposition --------------------------------
# For the shared bucket summary (features/summary.py): a decomposable
# aggregate is computed as partial aggregates over aligned buckets, then a
# final aggregate over each segment's buckets. Only
# algebraically-exact decompositions are registered — order-sensitive or
# holistic functions (median/quantile/std/var/skew/kurt/slope/n_unique)
# keep the one-level path.
#
# Partial kinds: 'sum' Σv, 'cnt' count(v), 'min', 'max', 'sumsq' Σv²,
# 'sumabs' Σ|v|, 'firstv'+'mintsn', 'lastv'+'maxtsn'.

_PARTIAL_BUILDERS: dict[str, Callable[[Column, Column], Column]] = {
    "sum": lambda v, tsn: F.sum(v),
    "cnt": lambda v, tsn: F.count(v),
    "min": lambda v, tsn: F.min(v),
    "max": lambda v, tsn: F.max(v),
    "sumsq": lambda v, tsn: F.sum(v * v),
    "sumabs": lambda v, tsn: F.sum(F.abs(v)),
    "firstv": lambda v, tsn: F.min_by(v, tsn),
    "mintsn": lambda v, tsn: F.min(tsn),
    "lastv": lambda v, tsn: F.max_by(v, tsn),
    "maxtsn": lambda v, tsn: F.max(tsn),
    # argmax/argmin partials: per-bucket (−max_v, earliest tsn) ordering
    # struct — min over buckets replays the exact one-level ordering
    "amaxs": lambda v, tsn: F.min(
        F.when(v.isNotNull(), F.struct((-v).alias("nv"), tsn.alias("t")))
    ),
    "amins": lambda v, tsn: F.min(
        F.when(v.isNotNull(), F.struct(v.alias("pv"), tsn.alias("t")))
    ),
    "maxabs": lambda v, tsn: F.max(F.abs(v)),
}

def _sqrt_nonneg(v: Column) -> Column:
    """sqrt clamped at 0 (a zero-variance window can round to a tiny
    negative under the textbook formula); NULL stays NULL."""
    return F.when(v.isNotNull(), F.sqrt(F.greatest(v, F.lit(0.0))))


def _var_pop_final(p: dict) -> Column:
    n = F.sum(p["cnt"]).cast("double")
    sv = F.sum(p["sum"]).cast("double")
    sq = F.sum(p["sumsq"]).cast("double")
    return F.when(n > 0, (n * sq - sv * sv) / (n * n))


def _var_samp_final(p: dict) -> Column:
    n = F.sum(p["cnt"]).cast("double")
    sv = F.sum(p["sum"]).cast("double")
    sq = F.sum(p["sumsq"]).cast("double")
    return F.when(n > 1, (n * sq - sv * sv) / (n * (n - 1)))


# name -> (needed partial kinds, final builder over {kind: partial Column})
_DECOMPOSABLE: dict[str, tuple] = {
    "sum": (("sum",), lambda p: F.sum(p["sum"])),
    "nansum": (("sum",), lambda p: F.sum(p["sum"])),
    "count": (("cnt",), lambda p: F.sum(p["cnt"])),
    "len": (("cnt",), lambda p: F.sum(p["cnt"])),
    "min": (("min",), lambda p: F.min(p["min"])),
    "amin": (("min",), lambda p: F.min(p["min"])),
    "nanmin": (("min",), lambda p: F.min(p["min"])),
    "max": (("max",), lambda p: F.max(p["max"])),
    "amax": (("max",), lambda p: F.max(p["max"])),
    "nanmax": (("max",), lambda p: F.max(p["max"])),
    "mean": (("sum", "cnt"), lambda p: F.sum(p["sum"]) / F.sum(p["cnt"])),
    "nanmean": (("sum", "cnt"), lambda p: F.sum(p["sum"]) / F.sum(p["cnt"])),
    "ptp": (("min", "max"), lambda p: F.max(p["max"]) - F.min(p["min"])),
    "abs_energy": (("sumsq",), lambda p: F.sum(p["sumsq"])),
    "rms": (("sumsq", "cnt"), lambda p: F.sqrt(F.sum(p["sumsq"]) / F.sum(p["cnt"]))),
    "mean_abs": (("sumabs", "cnt"), lambda p: F.sum(p["sumabs"]) / F.sum(p["cnt"])),
    "first": (("firstv", "mintsn"), lambda p: F.min_by(p["firstv"], p["mintsn"])),
    "last": (("lastv", "maxtsn"), lambda p: F.max_by(p["lastv"], p["maxtsn"])),
    # moments from exact sums (n, Σv, Σv²): EXACT for decimal/integer
    # inputs; for double inputs this is the textbook formula — decomposable
    # but subject to cancellation where one-level Welford (stddev_pop)
    # is stable, hence the possible last-ulp drift already documented on
    # the bucket summary. ddof handled in decomposition().
    "var": (("sum", "sumsq", "cnt"), _var_pop_final),
    "nanvar": (("sum", "sumsq", "cnt"), _var_pop_final),
    "std": (("sum", "sumsq", "cnt"), lambda p: _sqrt_nonneg(_var_pop_final(p))),
    "nanstd": (("sum", "sumsq", "cnt"), lambda p: _sqrt_nonneg(_var_pop_final(p))),
    "variation_coefficient": (
        ("sum", "sumsq", "cnt"),
        lambda p: F.try_divide(
            _sqrt_nonneg(_var_pop_final(p)),
            F.sum(p["sum"]).cast("double") / F.sum(p["cnt"]),
        ),
    ),
    "argmax": (("amaxs",), lambda p: F.min(p["amaxs"])["t"]),
    "argmin": (("amins",), lambda p: F.min(p["amins"])["t"]),
    "abs_max": (("maxabs",), lambda p: F.max(p["maxabs"])),
}

_DECOMPOSABLE_DDOF1: dict[str, tuple] = {
    "var": (("sum", "sumsq", "cnt"), _var_samp_final),
    "nanvar": (("sum", "sumsq", "cnt"), _var_samp_final),
    "std": (("sum", "sumsq", "cnt"), lambda p: _sqrt_nonneg(_var_samp_final(p))),
    "nanstd": (("sum", "sumsq", "cnt"), lambda p: _sqrt_nonneg(_var_samp_final(p))),
    "variation_coefficient": (
        ("sum", "sumsq", "cnt"),
        lambda p: F.try_divide(
            _sqrt_nonneg(_var_samp_final(p)),
            F.sum(p["sum"]).cast("double") / F.sum(p["cnt"]),
        ),
    ),
}


def decomposition(name: str, kwargs: Optional[dict] = None):
    """(partial kinds, final builder) for a decomposable aggregate, else None.

    Threshold counts are PARAMETERIZED partials: the kwarg value is baked
    into the partial-kind key (``cntgt=4.0``), so two descriptors with
    different thresholds get distinct bucket columns while identical
    thresholds share one — and ``partial_builder`` re-derives the
    predicate from the key alone.
    """
    kw = kwargs or {}
    if name in ("count_above", "frac_above"):
        k = f"cntgt={float(kw.get('t', 0.0))!r}"
        if name == "count_above":
            return ((k,), lambda p, _k=k: F.sum(p[_k]))
        return (
            (k, "cnt"),
            lambda p, _k=k: F.try_divide(F.sum(p[_k]), F.sum(p["cnt"])),
        )
    if name == "count_below":
        k = f"cntlt={float(kw.get('t', 0.0))!r}"
        return ((k,), lambda p, _k=k: F.sum(p[_k]))
    if name == "range_count":
        k = f"cntin={float(kw.get('lo', 0.0))!r}..{float(kw.get('hi', 1.0))!r}"
        return ((k,), lambda p, _k=k: F.sum(p[_k]))
    if kw.get("ddof", 0) == 1:
        return _DECOMPOSABLE_DDOF1.get(name)
    return _DECOMPOSABLE.get(name)


def partial_builder(kind: str) -> Callable[[Column, Column], Column]:
    if kind.startswith("cntgt="):
        t = float(kind[len("cntgt="):])
        return lambda v, tsn: F.count(F.when(v > F.lit(t), v))
    if kind.startswith("cntlt="):
        t = float(kind[len("cntlt="):])
        return lambda v, tsn: F.count(F.when(v < F.lit(t), v))
    if kind.startswith("cntin="):
        lo_s, hi_s = kind[len("cntin="):].split("..")
        lo, hi = float(lo_s), float(hi_s)
        return lambda v, tsn: F.count(F.when((v >= F.lit(lo)) & (v < F.lit(hi)), v))
    return _PARTIAL_BUILDERS[kind]


# --- two-series (pairwise) decomposition -------------------------------------
# Partials are the same exact sums the one-level builds use (_pair_sums),
# computed per bucket with the pairwise-non-null mask; the final formula is
# token-identical to the one-level path, so for decimal/integer inputs the
# two plans produce bit-identical doubles.

_PAIR_PARTIAL_BUILDERS: dict[str, Callable[[Column, Column], Column]] = {
    "pcnt": lambda a, b: F.count(F.when(a.isNotNull() & b.isNotNull(), a)),
    "psa": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), a)),
    "psb": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), b)),
    "psab": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), a * b)),
    "psaa": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), a * a)),
    "psbb": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), b * b)),
    "psr": lambda a, b: F.sum(F.try_divide(a, b)),
    "prcnt": lambda a, b: F.count(F.try_divide(a, b)),
    "psad": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), F.abs(a - b))),
    "psdd": lambda a, b: F.sum(
        F.when(a.isNotNull() & b.isNotNull(), (a - b) * (a - b))
    ),
    "psd": lambda a, b: F.sum(F.when(a.isNotNull() & b.isNotNull(), a - b)),
}


def _corr2_final(p: dict) -> Column:
    n = F.sum(p["pcnt"]).cast("double")
    sa = F.sum(p["psa"]).cast("double")
    sb = F.sum(p["psb"]).cast("double")
    sab = F.sum(p["psab"]).cast("double")
    saa = F.sum(p["psaa"]).cast("double")
    sbb = F.sum(p["psbb"]).cast("double")
    cov = n * sab - sa * sb
    denom = (n * saa - sa * sa) * (n * sbb - sb * sb)
    return F.when((n > 1) & (denom > 0), cov / F.sqrt(denom))


def _covar_pop2_final(p: dict) -> Column:
    n = F.sum(p["pcnt"]).cast("double")
    sa = F.sum(p["psa"]).cast("double")
    sb = F.sum(p["psb"]).cast("double")
    sab = F.sum(p["psab"]).cast("double")
    return F.when(n > 0, (n * sab - sa * sb) / (n * n))


def _covar_samp2_final(p: dict) -> Column:
    n = F.sum(p["pcnt"]).cast("double")
    sa = F.sum(p["psa"]).cast("double")
    sb = F.sum(p["psb"]).cast("double")
    sab = F.sum(p["psab"]).cast("double")
    return F.when(n > 1, (n * sab - sa * sb) / (n * (n - 1)))


_DECOMPOSABLE2: dict[str, tuple] = {
    "corr": (("pcnt", "psa", "psb", "psab", "psaa", "psbb"), _corr2_final),
    "covar_pop": (("pcnt", "psa", "psb", "psab"), _covar_pop2_final),
    "covar_samp": (("pcnt", "psa", "psb", "psab"), _covar_samp2_final),
    "dot": (("psab",), lambda p: F.sum(p["psab"])),
    "mean_ratio": (("psr", "prcnt"), lambda p: F.sum(p["psr"]) / F.sum(p["prcnt"])),
    "mean_abs_diff": (
        ("pcnt", "psad"),
        lambda p: F.when(
            F.sum(p["pcnt"]) > 0, F.sum(p["psad"]).cast("double") / F.sum(p["pcnt"])
        ),
    ),
    "rmse": (
        ("pcnt", "psdd"),
        lambda p: F.when(
            F.sum(p["pcnt"]) > 0,
            F.sqrt(F.sum(p["psdd"]).cast("double") / F.sum(p["pcnt"])),
        ),
    ),
    "mean_diff": (
        ("pcnt", "psd"),
        lambda p: F.when(
            F.sum(p["pcnt"]) > 0, F.sum(p["psd"]).cast("double") / F.sum(p["pcnt"])
        ),
    ),
    "cid_ce": (
        ("pcnt", "psdd"),
        lambda p: F.when(
            F.sum(p["pcnt"]) > 0, F.sqrt(F.sum(p["psdd"]).cast("double"))
        ),
    ),
    "sum_abs_diff": (
        ("psad",),
        lambda p: F.coalesce(F.sum(p["psad"]).cast("double"), F.lit(0.0)),
    ),
}


def decomposition2(name: str, kwargs: Optional[dict] = None):
    """Two-series decomposition (pairwise partial sums), else None.

    ``crossings`` is parameterized like the arity-1 threshold counts: the
    threshold is baked into the partial-kind key so distinct thresholds
    get distinct bucket columns and ``pair_partial_builder`` re-derives
    the predicate from the key alone.
    """
    kw = kwargs or {}
    if name == "crossings":
        k = f"pxgt={float(kw.get('t', 0.0))!r}"
        return ((k,), lambda p, _k=k: F.sum(p[_k]))
    return _DECOMPOSABLE2.get(name)


def pair_partial_builder(kind: str) -> Callable[[Column, Column], Column]:
    if kind.startswith("pxgt="):
        t = F.lit(float(kind[len("pxgt="):]))
        return lambda a, b: F.count(
            F.when(a.isNotNull() & b.isNotNull() & ((a > t) != (b > t)), a)
        )
    return _PAIR_PARTIAL_BUILDERS[kind]
