"""Function-recognition table: known feature functions → native Catalyst aggregates.

This is the engine's "optimizer": at plan-build time (driver-side) each
feature function is looked up here; a hit compiles to a JVM-side,
whole-stage-codegen'd aggregate expression over the segment groupBy — the
100 TB-friendly path. A miss falls back to the Arrow ``applyInPandas`` UDF
tier. (SURVEY §4 item 3.)

Every decomposable function is written once, as its partial kinds plus
one final over their merged values (``decomposition`` /
``decomposition2``). Its one-level ``NativeSpec.build`` is that final over
one segment's partials; the bucket summary (``features/summary.py``)
merges each kind across buckets by the kind's own rule
(``merge_partial``) and applies the same final. Only holistic functions
and the Welford moments keep hand-written builds.

Semantics gotchas encoded here (reference parity, SURVEY §2.4):
- ``np.std`` / ``np.var`` default ``ddof=0`` → **population** moments
  (``stddev_pop`` / ``var_pop``), not Spark's sample default.
- ``scipy.stats.skew(bias=True)`` ≡ Spark ``skewness`` (population g1);
  ``scipy.stats.kurtosis(fisher=True, bias=True)`` ≡ Spark ``kurtosis``
  (excess population).
- Empty segments: the reference calls ``f`` on an empty slice
  (strided_rolling.py:455-470) → ``np.sum(∅)=0.0``, ``len(∅)=0``, moments
  → NaN. Each entry carries its empty-segment fill value.
- Means divide a sum cast to double, so decimal input gives a double
  mean (numpy's float64) on both paths.
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


_REGISTRY: dict[str, NativeSpec] = {}
_REGISTRY2: dict[str, NativeSpec] = {}


def _reg(
    name: str,
    build: Callable[..., Column],
    empty: Optional[float] = None,
    kwargs_allowed: Sequence[str] = (),
    arity: int = 1,
) -> None:
    registry = _REGISTRY2 if arity == 2 else _REGISTRY
    registry[name] = NativeSpec(name, build, empty, arity, frozenset(kwargs_allowed))


# --- decomposable functions: partial kinds + one final -----------------------
# A partial kind is an aggregate over a bucket's (or a segment's) rows plus
# the rule that merges it across buckets. One-series kinds see (v, tsn, k):
# value, numeric index and the key's moment shift (read only by the
# ``SHIFTED`` kinds: 0 one-level, the series' first finite sample in the
# summary, ``summary.shift_aggs``). Threshold counts are PARAMETERIZED
# kinds: the kwarg value is baked into the key (``cntgt=4.0``), so distinct
# thresholds get distinct bucket columns while identical ones share one,
# and ``partial_builder`` re-derives the predicate from the key alone.


def _ordered(v: Column, lead: Column, tsn: Column) -> Column:
    """(lead, tsn) struct of a non-null value: its min orders by ``lead``,
    then by the earliest index — pandas idxmax/idxmin tie semantics."""
    return F.when(v.isNotNull(), F.struct(lead.alias("o"), tsn.alias("t")))


def _wide(v: Column) -> Column:
    """``v`` with integral input as decimal, so a sum that only feeds a
    double final cannot overflow; decimal and floating input keep their
    type (a NULL decimal(1,0) widens nothing else)."""
    return F.coalesce(v, F.lit(None).cast("decimal(1,0)"))


_PARTIALS: dict[str, tuple] = {  # kind -> (row aggregate, merge rule)
    "sum": (lambda v, tsn, k: F.sum(v), "sum"),
    "cnt": (lambda v, tsn, k: F.count(v), "sum"),
    "min": (lambda v, tsn, k: F.min(v), "min"),
    "max": (lambda v, tsn, k: F.max(v), "max"),
    "sumsq": (lambda v, tsn, k: F.sum(v * v), "sum"),
    # the sums under a mean or rms: widened, so integral input cannot
    # overflow where a double average would not (``sum``/``abs_energy``
    # keep the input's own sum type)
    "wsum": (lambda v, tsn, k: F.sum(_wide(v)), "sum"),
    "wsumsq": (lambda v, tsn, k: F.sum(_wide(v) * _wide(v)), "sum"),
    "sumabs": (lambda v, tsn, k: F.sum(F.abs(_wide(v))), "sum"),
    "maxabs": (lambda v, tsn, k: F.max(F.abs(v)), "max"),
    "firstv": (lambda v, tsn, k: F.min_by(v, tsn), "first"),
    "mintsn": (lambda v, tsn, k: F.min(tsn), "min"),
    "lastv": (lambda v, tsn, k: F.max_by(v, tsn), "last"),
    "maxtsn": (lambda v, tsn, k: F.max(tsn), "max"),
    # argmax/argmin (tsfresh first_location_of_maximum/minimum): the
    # first index of the largest (−v ordered) or smallest value, in TSN
    # units (unix micros for TIME, the raw index for SEQUENCE); numeric
    # series only
    "amaxs": (lambda v, tsn, k: F.min(_ordered(v, -v, tsn)), "min"),
    "amins": (lambda v, tsn, k: F.min(_ordered(v, v, tsn)), "min"),
    # moments about the shift: Σ(v−k), Σ(v−k)²
    "dsum": (lambda v, tsn, k: F.sum(_wide(v) - k), "sum"),
    "dsumsq": (lambda v, tsn, k: F.sum((_wide(v) - k) * (_wide(v) - k)), "sum"),
}
SHIFTED = frozenset({"dsum", "dsumsq"})  # the kinds that read the shift

_MERGES: dict[str, Callable[[dict, str], Column]] = {
    "sum": lambda p, kind: F.sum(p[kind]),
    "min": lambda p, kind: F.min(p[kind]),
    "max": lambda p, kind: F.max(p[kind]),
    "first": lambda p, kind: F.min_by(p[kind], p["mintsn"]),
    "last": lambda p, kind: F.max_by(p[kind], p["maxtsn"]),
}


def partial_builder(kind: str) -> Callable[[Column, Column, Column], Column]:
    """Row aggregate ``(v, tsn, shift) -> Column`` of a one-series kind."""
    name, _, arg = kind.partition("=")
    if name in ("cntgt", "cntlt"):
        t = float(arg)
        return lambda v, tsn, k: F.count(F.when(v > t if name == "cntgt" else v < t, v))
    if name == "cntin":
        lo, hi = (float(x) for x in arg.split(".."))
        return lambda v, tsn, k: F.count(F.when((v >= lo) & (v < hi), v))
    return _PARTIALS[kind][0]


def merge_partial(kind: str, p: dict) -> Column:
    """Kind ``kind`` merged across buckets, from the bucket partial columns
    ``p`` (first/last read their index partials too). Pair and threshold
    kinds are counts and sums."""
    rule = _PARTIALS[kind][1] if kind in _PARTIALS else "sum"
    return _MERGES[rule](p, kind)


def _mean(s: Column, n: Column) -> Column:
    """Σ / count: the exact sum cast to double before it divides (NULL
    when nothing was summed — the sum is NULL then)."""
    return s.cast("double") / n


def _sqrt_nonneg(v: Column) -> Column:
    """sqrt clamped at 0 (a zero-variance window can round to a tiny
    negative); NULL stays NULL."""
    return F.when(v.isNotNull(), F.sqrt(F.greatest(v, F.lit(0.0))))


def _var(ddof: int) -> Callable[[dict], Column]:
    """Variance from the shifted sums: ``(n·Σd² − (Σd)²) / (n·(n−ddof))``.
    The numerator is formed in the sums' own arithmetic, so decimal and
    integer input is exact (a one-sample or constant window gives
    exactly 0); double where that arithmetic overflows. The shift keeps
    double input from cancelling on a large offset."""

    def final(m: dict) -> Column:
        n, s, q = m["cnt"], m["dsum"], m["dsumsq"]
        nd, sd, qd = (c.cast("double") for c in (n, s, q))
        num = F.coalesce(F.try_subtract(F.try_multiply(n, q), F.try_multiply(s, s)), nd * qd - sd * sd)
        return F.when(n > ddof, num.cast("double") / (nd * (nd - ddof)))

    return final


def _moments(ddof: int) -> dict:
    var = _var(ddof)
    kinds = ("cnt", "dsum", "dsumsq")
    std = (kinds, lambda m: _sqrt_nonneg(var(m)))
    return {
        "var": (kinds, var), "nanvar": (kinds, var), "std": std, "nanstd": std,
        "variation_coefficient": (
            (*kinds, "wsum"),
            lambda m: F.try_divide(_sqrt_nonneg(var(m)), _mean(m["wsum"], m["cnt"])),
        ),
    }


def _pick(kind: str) -> Callable[[dict], Column]:
    """The final that is one merged kind as is."""
    return lambda m: m[kind]


_DECOMPOSABLE: dict[str, tuple] = {  # name -> (partial kinds, final over merged)
    **{n: (("sum",), _pick("sum")) for n in ("sum", "nansum")},
    **{n: (("cnt",), _pick("cnt")) for n in ("count", "len")},
    **{n: (("min",), _pick("min")) for n in ("min", "amin", "nanmin")},
    **{n: (("max",), _pick("max")) for n in ("max", "amax", "nanmax")},
    **{n: (("wsum", "cnt"), lambda m: _mean(m["wsum"], m["cnt"])) for n in ("mean", "nanmean")},
    "ptp": (("min", "max"), lambda m: m["max"] - m["min"]),
    "abs_energy": (("sumsq",), _pick("sumsq")),
    "rms": (("wsumsq", "cnt"), lambda m: F.sqrt(_mean(m["wsumsq"], m["cnt"]))),
    "mean_abs": (("sumabs", "cnt"), lambda m: _mean(m["sumabs"], m["cnt"])),
    "first": (("firstv", "mintsn"), _pick("firstv")),
    "last": (("lastv", "maxtsn"), _pick("lastv")),
    "argmax": (("amaxs",), lambda m: m["amaxs"]["t"]),
    "argmin": (("amins",), lambda m: m["amins"]["t"]),
    "abs_max": (("maxabs",), _pick("maxabs")),
    **_moments(0),
}
_DECOMPOSABLE_DDOF1 = _moments(1)


def decomposition(name: str, kwargs: Optional[dict] = None):
    """(partial kinds, final over their merged values) of a decomposable
    one-series function, else None (holistic: median/quantile/skew/
    kurtosis/slope/n_unique/...)."""
    kw = kwargs or {}
    if name in ("count_above", "frac_above", "count_below"):
        op = "cntlt" if name == "count_below" else "cntgt"
        k = f"{op}={float(kw.get('t', 0.0))!r}"
        if name == "frac_above":
            return ((k, "cnt"), lambda m: F.try_divide(m[k], m["cnt"]))
        return ((k,), _pick(k))
    if name == "range_count":
        k = f"cntin={float(kw.get('lo', 0.0))!r}..{float(kw.get('hi', 1.0))!r}"
        return ((k,), _pick(k))
    if kw.get("ddof", 0) == 1:
        return _DECOMPOSABLE_DDOF1.get(name)
    return _DECOMPOSABLE.get(name)


# --- two-series (tuple series_name) decomposable functions -------------------
# The reference passes each series' own segment slice to the function
# (ragged allowed, feature.py:100-104); these natives use SQL pairwise
# semantics instead: rows where BOTH series are non-null in the segment —
# the only well-defined distributed form, identical to DuckDB/Spark
# corr/covar. Arbitrary two-series Python funcs still get the exact
# ragged per-series slices via the UDF tier. Partials are exact sums with
# decimal/integer input, each cast to double only after merging — unlike
# ``F.corr``/``F.covar_*``, whose float accumulation order drifts from
# other engines at rounding boundaries.


def _both(a: Column, b: Column, x: Column) -> Column:
    return F.when(a.isNotNull() & b.isNotNull(), x)


_PAIR_PARTIALS: dict[str, Callable[[Column, Column], Column]] = {
    "pcnt": lambda a, b: F.count(_both(a, b, a)),
    "psa": lambda a, b: F.sum(_both(a, b, a)),
    "psb": lambda a, b: F.sum(_both(a, b, b)),
    "psab": lambda a, b: F.sum(_both(a, b, a * b)),
    "psaa": lambda a, b: F.sum(_both(a, b, a * a)),
    "psbb": lambda a, b: F.sum(_both(a, b, b * b)),
    "psr": lambda a, b: F.sum(F.try_divide(a, b)),
    "prcnt": lambda a, b: F.count(F.try_divide(a, b)),
    "psad": lambda a, b: F.sum(_both(a, b, F.abs(a - b))),
    "psdd": lambda a, b: F.sum(_both(a, b, (a - b) * (a - b))),
    "psd": lambda a, b: F.sum(_both(a, b, a - b)),
}


def pair_partial_builder(kind: str) -> Callable[[Column, Column], Column]:
    """Row aggregate ``(a, b) -> Column`` of a two-series kind."""
    if kind.startswith("pxgt="):  # threshold crossings: (a > t) != (b > t)
        t = float(kind[len("pxgt="):])
        return lambda a, b: F.count(F.when((a > t) != (b > t), a))
    return _PAIR_PARTIALS[kind]


_COV = ("pcnt", "psa", "psb", "psab")


def _covar(ddof: int) -> Callable[[dict], Column]:
    def final(m: dict) -> Column:
        n, sa, sb, sab = (m[k].cast("double") for k in _COV)
        return F.when(n > ddof, (n * sab - sa * sb) / (n * (n - ddof)))

    return final


def _corr(m: dict) -> Column:
    n, sa, sb, sab, saa, sbb = (m[k].cast("double") for k in (*_COV, "psaa", "psbb"))
    denom = (n * saa - sa * sa) * (n * sbb - sb * sb)
    return F.when((n > 1) & (denom > 0), (n * sab - sa * sb) / F.sqrt(denom))


_DECOMPOSABLE2: dict[str, tuple] = {
    "corr": ((*_COV, "psaa", "psbb"), _corr),
    "covar_pop": (_COV, _covar(0)),
    "covar_samp": (_COV, _covar(1)),
    "dot": (("psab",), _pick("psab")),
    "mean_ratio": (("psr", "prcnt"), lambda m: _mean(m["psr"], m["prcnt"])),
    # with b = lag-1 shift of a (``utils.distributed.with_global_shift``):
    # tsfresh mean_abs_change, mean_change, cid_ce(normalize=False) —
    # normalize=True needs the window's own std, compose with ``std`` —
    # and absolute_sum_of_changes; rmse is series-vs-forecast error
    "mean_abs_diff": (("pcnt", "psad"), lambda m: _mean(m["psad"], m["pcnt"])),
    "rmse": (("pcnt", "psdd"), lambda m: F.sqrt(_mean(m["psdd"], m["pcnt"]))),
    "mean_diff": (("pcnt", "psd"), lambda m: _mean(m["psd"], m["pcnt"])),
    "cid_ce": (("psdd",), lambda m: F.sqrt(m["psdd"].cast("double"))),
    "sum_abs_diff": (("psad",), lambda m: F.coalesce(m["psad"].cast("double"), F.lit(0.0))),
}


def decomposition2(name: str, kwargs: Optional[dict] = None):
    """Two-series decomposition (pairwise partial sums), else None.
    ``crossings`` (tsfresh number_crossing_m with b = lag-1 shift) is
    parameterized like the one-series threshold counts."""
    if name == "crossings":
        k = f"pxgt={float((kwargs or {}).get('t', 0.0))!r}"
        return ((k,), _pick(k))
    return _DECOMPOSABLE2.get(name)


def _one_level(name: str) -> Callable[[Column, Column, dict], Column]:
    """One-level build of a decomposable function: its final over one
    segment's partials (moments about shift 0)."""

    def build(v: Column, tsn: Column, kw: dict) -> Column:
        kinds, final = decomposition(name, kw)
        zero = F.lit(0)
        return final({k: partial_builder(k)(v, tsn, zero) for k in kinds})

    return build


def _one_level2(name: str) -> Callable[[Column, Column, Column, dict], Column]:
    def build(a: Column, b: Column, tsn: Column, kw: dict) -> Column:
        kinds, final = decomposition2(name, kw)
        return final({k: pair_partial_builder(k)(a, b) for k in kinds})

    return build


for _n in [n for n in _DECOMPOSABLE if n not in _DECOMPOSABLE_DDOF1]:  # moments: below
    _reg(_n, _one_level(_n), 0.0 if _n in ("sum", "nansum", "count", "len", "abs_energy") else None)
for _n in ("count_above", "count_below"):
    _reg(_n, _one_level(_n), 0.0, ["t"])
_reg("frac_above", _one_level("frac_above"), kwargs_allowed=["t"])
_reg("range_count", _one_level("range_count"), 0.0, ["lo", "hi"])
for _n in _DECOMPOSABLE2:
    _reg(_n, _one_level2(_n), 0.0 if _n in ("dot", "sum_abs_diff") else None, arity=2)
_reg("crossings", _one_level2("crossings"), 0.0, ["t"], arity=2)


# --- hand-written builds -----------------------------------------------------
# The moments keep Spark's Welford aggregates on the one-level path: they
# are more stable there than any sum-based final; the bucket summary uses
# the shifted-sum finals above.
def _std_build(v: Column, tsn: Column, kw: dict) -> Column:
    return F.stddev_samp(v) if kw.get("ddof", 0) == 1 else F.stddev_pop(v)


def _var_build(v: Column, tsn: Column, kw: dict) -> Column:
    return F.var_samp(v) if kw.get("ddof", 0) == 1 else F.var_pop(v)


# tsfresh variation_coefficient: std/mean (population std by default, the
# numpy ddof=0 convention used throughout); NULL when mean == 0. The mean
# is the summary's double mean — a decimal avg would round it to scale 6
def _cv_build(v: Column, tsn: Column, kw: dict) -> Column:
    return F.try_divide(_std_build(v, tsn, kw), _mean(F.sum(_wide(v)), F.count(v)))


for _n, _b in [("std", _std_build), ("nanstd", _std_build), ("var", _var_build),
               ("nanvar", _var_build), ("variation_coefficient", _cv_build)]:
    _reg(_n, _b, kwargs_allowed=["ddof"])


# holistic functions: no partial/final form
def _quantile_build(v: Column, tsn: Column, kw: dict) -> Column:
    q = kw.get("q", 0.5)
    return F.percentile(v, F.lit(float(q)))


def _simple(fn: Callable[[Column], Column]) -> Callable[[Column, Column, dict], Column]:
    return lambda v, tsn, kw: fn(v)


_reg("median", _simple(F.median))
_reg("nanmedian", _simple(F.median))
_reg("skew", _simple(F.skewness))
_reg("kurtosis", _simple(F.kurtosis))
_reg("quantile", _quantile_build, kwargs_allowed=["q"])
_reg("nanquantile", _quantile_build, kwargs_allowed=["q"])
_reg(
    "percentile",
    lambda v, tsn, kw: F.percentile(v, F.lit(float(kw.get("q", 50.0)) / 100.0)),
    kwargs_allowed=["q"],
)
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
# slope of the least-squares fit of value against the index expressed in
# SECONDS (TIME domain) or raw units (SEQUENCE) — reference tests use
# scipy.stats.linregress (tests/test_features_feature_collection.py:1880-1907)
_reg("slope", lambda v, tsn, kw: F.regr_slope(v, tsn / F.lit(1_000_000.0)))
_reg("intercept", lambda v, tsn, kw: F.regr_intercept(v, tsn / F.lit(1_000_000.0)))
# tsfresh ratio_value_number_to_time_series_length: |distinct| / n
_reg("unique_ratio", lambda v, tsn, kw: F.try_divide(F.count_distinct(v), F.count(v)))


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

    Strings are looked up directly; callables by identity. A kwarg outside
    the spec's ``kwargs_allowed`` disqualifies recognition — the UDF tier
    then honors it bit-exactly.
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


def native_agg(name: str, value: Column, tsn: Column) -> Column:
    """The one-series aggregate of catalog function ``name`` (default
    kwargs) over ``value`` with numeric index ``tsn`` — the streaming
    and chunking helpers' lookup. Raises ``ValueError`` on a name the
    catalog does not compile."""
    spec = lookup_native(name, {})
    if spec is None:
        raise ValueError(f"{name!r} is not a native catalog function; known: {sorted(_REGISTRY)}")
    return spec.build(value, tsn, {})
