"""The workloads: inputs, one measured pass, and output checks.

Each workload is one closed-loop client: every public call waits for the
previous one. ``run_once`` is one pass and returns its outputs as pandas
frames; ``check`` compares them with references computed in ``setup``
and runs outside the timed region. Calls into the library are wrapped in
``Spans`` so the traced run can split time and jobs by layer.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from gen import content_hash, make_corpus, make_recordings

US = 1_000_000


class Op:
    """Counts operations attempted and failed across a run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def note(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def _write(df: pd.DataFrame, path: str) -> str:
    df.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def _utc(df: pd.DataFrame) -> pd.DataFrame:
    return df.assign(ts=df["ts"].dt.tz_localize("UTC"))


def _frames_match(got: pd.DataFrame, want: pd.DataFrame, keys: list, rtol: float, atol: float) -> str:
    """'' when ``got`` equals ``want`` (same key rows, same columns, values
    within tolerance, NULL where NULL); else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: {sorted(set(got.columns) ^ set(want.columns))[:6]}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    got = got.sort_values(keys, ignore_index=True)
    want = want.sort_values(keys, ignore_index=True)
    for k in keys:
        if not (got[k].to_numpy() == want[k].to_numpy()).all():
            return f"key column {k} differs"
    for c in want.columns:
        if c in keys:
            continue
        a = pd.to_numeric(got[c], errors="coerce").to_numpy(dtype=float)
        b = pd.to_numeric(want[c], errors="coerce").to_numpy(dtype=float)
        if not np.array_equal(np.isnan(a), np.isnan(b)):
            return f"{c}: NULL pattern differs"
        m = ~np.isnan(b)
        if not np.allclose(a[m], b[m], rtol=rtol, atol=atol):
            i = int(np.argmax(~np.isclose(a[m], b[m], rtol=rtol, atol=atol)))
            return f"{c}: {a[m][i]!r} != {b[m][i]!r}"
    return ""


def _ts_us(s: pd.Series) -> np.ndarray:
    return s.dt.tz_localize(None).astype("datetime64[us]").astype(np.int64).to_numpy()


# ------------------------------------------------------------ sensor_grid
def _clip(v):
    from pyspark.sql import functions as F

    return F.least(F.greatest(v, F.lit(-1.5)), F.lit(1.5))


class SensorGrid:
    """One keyed pipeline over every recording per pass:
    ``SeriesPipeline.process`` (column clip of ``acc``) -> ``chunk_data``
    collected -> ``calculate(key_cols=["rec"])`` -> pandas. The
    collection is 6 native aggregates x 2 channels x windows 1m/5m/15m x
    strides 30s+1m (one-level path, two-level bucket path and the join
    assembly) plus a count-based window."""

    PLAN_LAYER = "features"
    # the driver JIT warms up over several passes of this plan-heavy
    # pipeline; with one warm-up pass the measured passes sit on that
    # slope and spread about twice as wide between runs
    WARMUP_PASSES = 2
    N_REC, HOURS, FS = 4, 1.0, 4.0
    MAX_GAP = "10s"
    WINDOWS = ("1m", "5m", "15m")
    STRIDES = ["30s", "1m"]
    FUNCS = (
        ("mean", "avg"), ("std", "stddev_pop"), ("min", "min"),
        ("max", "max"), ("sum", "sum"), ("count", "count"),
    )
    COUNT_WIN, COUNT_STRIDE = 240, 120
    CHECK_RECS = (0, 1, 2)

    def __init__(self, spark, data_dir: str, seed: int, spans) -> None:
        self.spark, self.dir, self.seed, self.spans = spark, data_dir, seed, spans
        self.last_df = None  # the last output frame, for its physical plan

    def setup(self) -> dict:
        from tsflex_spark import (
            FeatureCollection, FeatureDescriptor, MultipleFeatureDescriptors, SeriesPipeline,
            SeriesProcessor,
        )

        recs = make_recordings(self.seed, self.N_REC, self.HOURS, self.FS)
        rec, self.gaps = recs.frame, recs.gaps
        self.path = _write(_utc(rec), os.path.join(self.dir, "grid.parquet"))
        self.pipe = SeriesPipeline([SeriesProcessor(_clip, "acc", input_type="column")])
        self.fc = FeatureCollection(
            [
                MultipleFeatureDescriptors(
                    [f for f, _ in self.FUNCS], ["acc", "hr"], list(self.WINDOWS), self.STRIDES
                ),
                FeatureDescriptor("sum", "hr", self.COUNT_WIN, self.COUNT_STRIDE),
            ]
        )
        self.frames = {r: g.reset_index(drop=True) for r, g in rec.groupby("rec")}
        self.want = self._reference(rec[rec["rec"].isin(self.CHECK_RECS)])
        self.data = self.spark.read.parquet(self.path)
        return {"rows": len(rec), "hash": content_hash(rec)}

    def _reference(self, rec: pd.DataFrame) -> pd.DataFrame:
        """Time windows from DuckDB, count windows from numpy.

        The time grid starts at each recording's first sample, then every
        stride; windows are ``[start, start + w)`` labelled by their end.
        Count windows are labelled by the sample after them."""
        import duckdb

        con = duckdb.connect()
        s = rec.assign(t=_ts_us(rec["ts"]), acc=np.clip(rec["acc"], -1.5, 1.5))
        con.register("s", s[["rec", "t", "acc", "hr"]])
        out = None
        for w_str in self.WINDOWS:
            w = int(pd.Timedelta(w_str).total_seconds() * US)
            strides = [int(pd.Timedelta(x).total_seconds() * US) for x in self.STRIDES]
            grids = " UNION ".join(
                f"SELECT rec, t0 + k * {st} AS s0 FROM b, "
                f"range(0, {int(self.HOURS * 3600 * US) // st + 2}) r(k) WHERE k < nb_{i}"
                for i, st in enumerate(strides)
            )
            nbs = ", ".join(
                f"CAST(floor((t1 - t0 - {w}) / {st}.0) AS BIGINT) + 1 AS nb_{i}"
                for i, st in enumerate(strides)
            )
            aggs = [
                f'{sql}({c}) AS "{c}__{f}__w={w_str}"' for c in ("acc", "hr") for f, sql in self.FUNCS
            ]
            df = con.execute(
                f"""
                WITH b AS (SELECT rec, t0, t1, {nbs} FROM
                           (SELECT rec, min(t) AS t0, max(t) AS t1 FROM s GROUP BY rec)),
                g AS ({grids})
                SELECT g.rec, g.s0 + {w} AS ts, {", ".join(aggs)}
                FROM g LEFT JOIN s ON s.rec = g.rec AND s.t >= g.s0 AND s.t < g.s0 + {w}
                GROUP BY g.rec, g.s0
                """
            ).df()
            for c in df.columns:  # empty windows: the engine fills sum with 0
                if "__sum__" in c:
                    df[c] = df[c].fillna(0.0)
            out = df if out is None else out.merge(df, on=["rec", "ts"], how="outer")
        con.close()
        cw, cs = self.COUNT_WIN, self.COUNT_STRIDE
        counted = []
        for r, g in s.groupby("rec"):
            d, td = g["hr"].to_numpy(), g["t"].to_numpy()
            starts = range(0, len(d) - cw, cs)
            counted.append(
                pd.DataFrame(
                    {
                        "rec": r,
                        "ts": [td[k + cw] for k in starts],
                        f"hr__sum__w={cw}": [d[k : k + cw].sum() for k in starts],
                    }
                )
            )
        return out.merge(pd.concat(counted), on=["rec", "ts"], how="outer")

    def run_once(self, op: Op) -> dict:
        from tsflex_spark import chunk_data

        sp = self.spans
        try:
            with sp.span("processing", "build"):
                proc = self.pipe.process(self.data, ts_col="ts", key_cols=["rec"])
            with sp.span("chunking", "build"):
                ch = chunk_data(self.data, ts_col="ts", key_cols=["rec"], max_gap=self.MAX_GAP)
            with sp.span("chunking", "exec"):
                chunks = ch.toPandas()
            with sp.span("features", "build"):
                out = self.fc.calculate(
                    proc, ts_col="ts", key_cols=["rec"], approve_sparsity=True
                )
            with sp.span("features", "exec"):
                feats = out.toPandas()
            self.last_df = out
            op.note(True, "sensor pipeline")
            return {"chunks": chunks, "features": feats}
        except Exception as e:  # a failed call is a failed operation
            op.note(False, f"sensor pipeline: {type(e).__name__}: {e}"[:300])
            return {}

    def check(self, res: dict, op: Op) -> None:
        if not res:
            return
        # chunk boundaries: one chunk per stretch between planted gaps
        chunks = res["chunks"]
        bad = []
        for r, f in self.frames.items():
            c = chunks[chunks["rec"] == r]
            t = _ts_us(f["ts"])
            want_s = [t[0], *(b for _, b in self.gaps[r])]
            want_e = [*(a for a, _ in self.gaps[r]), t[-1]]
            if not (
                list(_ts_us(c["chunk_start"])) == want_s
                and list(_ts_us(c["chunk_end"])) == want_e
                and int(c["n_samples"].sum()) == len(f)
            ):
                bad.append(r)
        op.note(not bad and len(chunks) == sum(len(g) + 1 for g in self.gaps.values()),
                f"sensor_grid chunks differ from planted gaps on recordings {bad}")
        got = res["features"]
        got = got[got["rec"].isin(self.CHECK_RECS)].copy()
        got["ts"] = _ts_us(got["ts"])
        why = _frames_match(got, self.want, ["rec", "ts"], rtol=1e-9, atol=1e-6)
        op.note(not why, f"sensor_grid windows: {why}")


# ----------------------------------------------------------- corpus_dedup
def _shingles(text: str, k: int) -> set:
    t = " ".join(text.lower().split())
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


class CorpusDedup:
    """``dedup_exact`` then ``minhash_dedup`` over a generated corpus with
    planted exact and near duplicates."""

    PLAN_LAYER = "datapipe"
    WARMUP_PASSES = 1
    N_DOCS = 1000
    THRESHOLD, NUM_HASHES, NUM_BANDS, SHINGLE_K = 0.8, 64, 16, 5
    MIN_RECALL = 0.99

    def __init__(self, spark, data_dir: str, seed: int, spans) -> None:
        self.spark, self.dir, self.seed, self.spans = spark, data_dir, seed, spans
        self.last_df = None  # the last output frame, for its physical plan

    def setup(self) -> dict:
        c = make_corpus(self.seed, self.N_DOCS)
        self.path = _write(c.frame, os.path.join(self.dir, "docs.parquet"))
        self._expect(c)
        self.data = self.spark.read.parquet(self.path)
        return {"rows": len(c.frame), "hash": content_hash(c.frame)}

    def _expect(self, c) -> None:
        """Exact losers: every copy but the min id of each identical text.
        Near losers: exact survivors with a lower-id survivor of the same
        planted cluster at exact shingle Jaccard >= threshold."""
        text = dict(zip(c.frame["id"], c.frame["text"]))
        root = {**c.exact_of, **c.near_of}
        clusters: dict = {}
        for i in text:
            clusters.setdefault(root.get(i, i), []).append(i)
        self.exact_losers, self.near_losers = set(), set()
        for members in clusters.values():
            by_text: dict = {}
            for i in members:
                by_text.setdefault(text[i], []).append(i)
            keep = sorted(min(g) for g in by_text.values())
            for g in by_text.values():
                self.exact_losers.update(sorted(g)[1:])
            sh = {i: _shingles(text[i], self.SHINGLE_K) for i in keep}
            for j, d in enumerate(keep):
                for p in keep[:j]:
                    jac = len(sh[d] & sh[p]) / len(sh[d] | sh[p])
                    if jac >= self.THRESHOLD:
                        self.near_losers.add(d)
                        break
        self.all_ids = set(text)

    def run_once(self, op: Op) -> dict:
        from tsflex_spark.datapipe.dedup import dedup_exact, minhash_dedup

        sp = self.spans
        try:
            with sp.span("datapipe", "build"):
                ex = dedup_exact(self.data, "text", id_col="id")
            with sp.span("datapipe", "exec"):
                ex_ids = ex.select("id").toPandas()
            with sp.span("datapipe", "build"):
                nd = minhash_dedup(
                    ex, "text", "id", threshold=self.THRESHOLD, num_hashes=self.NUM_HASHES,
                    num_bands=self.NUM_BANDS, shingle_k=self.SHINGLE_K,
                )
            with sp.span("datapipe", "exec"):
                nd_ids = nd.select("id").toPandas()
            self.last_df = nd
            op.note(True, "dedup")
            return {"exact": set(ex_ids["id"]), "near": set(nd_ids["id"])}
        except Exception as e:
            op.note(False, f"dedup: {type(e).__name__}: {e}"[:300])
            return {}

    def check(self, res: dict, op: Op) -> None:
        if not res:
            return
        ex_losers = self.all_ids - res["exact"]
        op.note(ex_losers == self.exact_losers,
                f"corpus_dedup exact losers: {len(ex_losers)} != planted {len(self.exact_losers)}")
        near = res["exact"] - res["near"]
        wrong = near - self.near_losers
        op.note(not wrong, f"corpus_dedup: {len(wrong)} near losers without a planted partner")
        recall = len(near & self.near_losers) / max(len(self.near_losers), 1)
        op.note(recall >= self.MIN_RECALL, f"corpus_dedup recall {recall:.4f} < {self.MIN_RECALL}")


WORKLOADS = {"sensor_grid": SensorGrid, "corpus_dedup": CorpusDedup}
