"""FuncWrapper — wraps a feature function with output names, kwargs, input type.

Parity: reference tsflex/features/function_wrapper.py:44-143 (output_names,
bound kwargs, input_type ∈ {np.ndarray, pd.Series}, vectorized flag). On
Spark the ``vectorized`` flag is accepted for API compatibility but both
paths execute as Arrow-batched pandas UDFs (the amortization the flag buys
in the reference is inherent here); recognized functions skip Python
entirely (see catalog.py).
"""

from __future__ import annotations

from typing import Any, Callable, List, Mapping, Optional, Sequence, Union

import numpy as np
import pandas as pd

from tsflex_spark.features.catalog import lookup_native, lookup_native2


def _func_name(func: Union[str, Callable]) -> str:
    if isinstance(func, str):
        return func
    name = getattr(func, "__name__", None)
    if name is None or name == "<lambda>":
        return "lambda" if name == "<lambda>" else str(func)
    # numpy aliases: amin/amax present as function names
    return name


class FuncWrapper:
    """Wrap a feature function (callable or a catalog string like ``"mean"``)."""

    def __init__(
        self,
        func: Union[str, Callable],
        output_names: Optional[Union[str, List[str]]] = None,
        input_type: Any = np.ndarray,
        vectorized: bool = False,
        output_dtypes: Optional[Union[str, Any, List]] = None,
        **kwargs: Any,
    ):
        self.func = func
        self.kwargs: dict = kwargs
        self.func_name = _func_name(func)
        if output_names is None:
            output_names = [self.func_name]
        elif isinstance(output_names, str):
            output_names = [output_names]
        assert all(isinstance(o, str) for o in output_names), "output_names must be str"
        self.output_names: List[str] = list(output_names)
        if isinstance(func, str):
            # a catalog string has no Python body to fall back to — fail at
            # plan build (unknown name, unsupported kwargs, or multi-output)
            # instead of silently producing NULL features in the UDF tier
            if len(self.output_names) != 1:
                raise ValueError(
                    f"catalog function {func!r} produces one output; "
                    f"got output_names={self.output_names}"
                )
            if lookup_native(func, kwargs) is None and lookup_native2(func, kwargs) is None:
                from tsflex_spark.features.catalog import native_names

                raise ValueError(
                    f"unknown catalog function {func!r} or unsupported "
                    f"kwargs {sorted(kwargs)}; known natives: {native_names()}"
                )
        assert input_type in (np.ndarray, pd.Series), "input_type must be np.ndarray or pd.Series"
        self.input_type = input_type
        self.vectorized = vectorized
        # per-output Spark types (DDL string like "string"/"timestamp", or a
        # pyspark DataType); None -> DoubleType. The reference RETAINS the
        # dtype of whatever the function returns (its tests
        # test_features_feature_collection.py:1965-2046, retention :2089);
        # Spark needs the output schema at PLAN time, so non-double outputs
        # are declared here instead of inferred.
        if output_dtypes is None or isinstance(output_dtypes, str):
            dts = [output_dtypes] * len(self.output_names)
        elif isinstance(output_dtypes, (list, tuple)):
            dts = list(output_dtypes)
        else:
            dts = [output_dtypes] * len(self.output_names)
        assert len(dts) == len(self.output_names), (
            "output_dtypes must align with output_names"
        )
        self.output_dtypes: List = dts

    # --- plan-time dispatch ---------------------------------------------
    @property
    def native_spec(self):
        """NativeSpec when this function compiles to a Catalyst aggregate."""
        if len(self.output_names) != 1:
            return None
        return lookup_native(self.func, self.kwargs)

    @property
    def native_spec2(self):
        """Two-series NativeSpec (pairwise SQL semantics) or None."""
        if len(self.output_names) != 1:
            return None
        return lookup_native2(self.func, self.kwargs)

    # --- UDF-tier execution ----------------------------------------------
    def apply(self, series_values: List[pd.Series]) -> List[Any]:
        """Run the wrapped Python function on one segment's per-series data.

        ``series_values``: one pandas Series per input series (ts-sorted,
        nulls dropped — each series' own samples, possibly ragged;
        reference feature.py:100-104).
        Returns one scalar per output name.
        """
        if isinstance(self.func, str):
            raise TypeError(f"catalog function {self.func!r} has no Python body")
        if self.input_type is np.ndarray:
            if self.vectorized:
                # vectorized funcs reduce over axis=-1 of an
                # (n_segments, window) batch (reference
                # strided_rolling.py:379-453); feed one segment as (1, n)
                args = [s.to_numpy().reshape(1, -1) for s in series_values]
            else:
                args = [s.to_numpy() for s in series_values]
        else:
            args = list(series_values)
        out = self.func(*args, **self.kwargs)
        n = len(self.output_names)
        if n == 1 and not isinstance(out, (tuple, list, np.ndarray, pd.Series)):
            return [out]
        arr = np.asarray(out).ravel()
        assert arr.size == n, (
            f"function {self.func_name} returned {arr.size} outputs, "
            f"expected {n} ({self.output_names})"
        )
        return list(arr)

    def apply_segment(
        self,
        series: Sequence[str],
        columns: Mapping[str, Any],
        index: Any,
        time_index: bool,
    ) -> List[Any]:
        """One segment through :meth:`apply`, as every Python-function tier
        (batch UDF tier, stateful streams) runs it: each input series is
        the pandas Series ``columns[s]`` with nulls dropped — for
        ``input_type=pd.Series`` indexed by ``index`` (unix microseconds
        made a ``DatetimeIndex`` when ``time_index``). A function that
        raises yields one NaN per output."""
        if self.input_type is pd.Series:
            idx = pd.to_datetime(index, unit="us") if time_index else index
            vals = [pd.Series(columns[s].to_numpy(), index=idx, name=s).dropna() for s in series]
        else:
            vals = [columns[s].dropna() for s in series]
        try:
            return self.apply(vals)
        except Exception:
            return [np.nan] * len(self.output_names)

    def __repr__(self) -> str:
        return f"FuncWrapper({self.func_name}, {self.output_names}, {self.kwargs})"


def make_robust(
    func: Union[str, Callable],
    min_nb_samples: int = 1,
    error_val: Any = np.nan,
    output_names: Optional[Union[str, List[str]]] = None,
    passthrough_nans: bool = True,
    **kwargs: Any,
) -> FuncWrapper:
    """Decorate ``func`` with NaN masking and a minimum-sample gate.

    Parity: reference tsflex/features/utils.py:153-256. Returns ``error_val``
    for every output when the (optionally NaN-masked) segment has fewer than
    ``min_nb_samples`` samples.
    """
    inner = func if isinstance(func, FuncWrapper) else FuncWrapper(func, output_names=output_names, **kwargs)

    def robust(*series: np.ndarray) -> Any:
        if not passthrough_nans:
            series = tuple(s[~pd.isna(s)] for s in series)
        if any(len(s) < min_nb_samples for s in series):
            out = [error_val] * len(inner.output_names)
            return out[0] if len(out) == 1 else out
        if isinstance(inner.func, str):
            raise TypeError("make_robust requires a Python callable")
        return inner.func(*series, **inner.kwargs)

    robust.__name__ = "[robust]__" + inner.func_name
    return FuncWrapper(
        robust, output_names=inner.output_names, output_dtypes=inner.output_dtypes
    )
