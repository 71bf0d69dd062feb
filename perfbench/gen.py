"""Seeded input generators: sensor recordings and a text corpus.

Everything here is numpy/pandas only — the library under test never sees
the generator, only the parquet files it writes. The same seed gives
byte-identical frames, and ``content_hash`` lets two runs show that they
measured the same inputs.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
# recordings: dropped stretches per recording and their fixed length, so
# every seed gives the same number of samples
N_GAPS, GAP_MIN = 3, 4.0
# corpus: mean words per document, shares of exact and near copies, share
# of words a near copy replaces, vocabulary size and Zipf exponent
WORDS_PER_DOC, EXACT_FRAC, NEAR_FRAC, EDIT_FRAC = 200, 0.1, 0.1, 0.02
VOCAB, ZIPF_A = 30_000, 1.1


def content_hash(df: pd.DataFrame) -> str:
    """Order-sensitive hash of a frame's values (16 hex chars)."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


# ------------------------------------------------------------- recordings
@dataclass
class Recordings:
    """Wide sensor frame ``(rec, ts, acc, hr)`` plus the planted gaps.

    ``gaps[rec]`` lists ``(last_ts_before_us, first_ts_after_us)`` of every
    planted gap, in time order.
    """

    frame: pd.DataFrame
    gaps: dict = field(default_factory=dict)


def make_recordings(seed: int, n_rec: int, hours: float, fs_hz: float) -> Recordings:
    """``n_rec`` recordings of ``hours`` at ``fs_hz`` with timestamp jitter
    of up to ±20% of the period and ``N_GAPS`` dropped stretches of
    ``GAP_MIN`` minutes each.

    Recording r starts at ``T0 + r`` days plus a random sub-hour offset, so
    recordings never overlap in time and their window grids differ."""
    rng = np.random.default_rng([seed, 1])
    period = int(round(1_000_000 / fs_hz))
    jit = period // 5
    n = int(hours * 3600 * fs_hz)
    frames, gaps = [], {}
    for r in range(n_rec):
        start = T0_US + r * 86_400_000_000 + int(rng.integers(0, 3_600_000_000))
        ts = start + np.arange(n, dtype=np.int64) * period
        ts += rng.integers(-jit, jit + 1, size=n)
        keep = np.ones(n, dtype=bool)
        # each gap sits in its own slice of the middle 80%, so gaps never
        # merge and never touch the recording's ends
        edges = np.linspace(0.1 * n, 0.9 * n, N_GAPS + 1).astype(int)
        length = int(GAP_MIN * 60 * fs_hz)
        rec_gaps = []
        for g in range(N_GAPS):
            lo = int(rng.integers(edges[g], edges[g + 1] - length))
            keep[lo : lo + length] = False
            rec_gaps.append((int(ts[lo - 1]), int(ts[lo + length])))
        gaps[r] = rec_gaps
        t = np.arange(n) / fs_hz
        acc = (
            np.sin(2 * np.pi * t / rng.uniform(20, 120))
            + 0.3 * rng.standard_normal(n)
            + np.cumsum(rng.standard_normal(n)) * 0.01
        )
        hr = 70 + 10 * np.sin(2 * np.pi * t / rng.uniform(600, 1800)) + rng.standard_normal(n)
        frames.append(
            pd.DataFrame(
                {
                    "rec": np.full(keep.sum(), r, dtype=np.int32),
                    "ts": pd.to_datetime(ts[keep], unit="us"),
                    "acc": np.round(acc[keep], 4),
                    "hr": np.round(hr[keep], 3),
                }
            )
        )
    return Recordings(pd.concat(frames, ignore_index=True), gaps)


# ----------------------------------------------------------------- corpus
@dataclass
class Corpus:
    """Documents ``(id, text)`` and the planted duplicate structure.

    ``exact_of[i]`` is the id of the document that ``i`` copies verbatim;
    ``near_of[i]`` the id of the document that ``i`` is an edited copy of.
    """

    frame: pd.DataFrame
    exact_of: dict = field(default_factory=dict)
    near_of: dict = field(default_factory=dict)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=size)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """Zipf-distributed word documents; ``EXACT_FRAC`` of them verbatim
    copies and ``NEAR_FRAC`` copies with ``EDIT_FRAC`` of words replaced.
    Ids are a random permutation, so a copy's id may sit below its
    source's."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(rng, VOCAB)
    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_base = n_docs - n_exact - n_near

    def draw(k: int) -> np.ndarray:
        idx = rng.zipf(ZIPF_A, size=4 * k) - 1
        idx = idx[idx < len(words)]
        while len(idx) < k:  # the Zipf tail beyond the vocabulary is redrawn
            more = rng.zipf(ZIPF_A, size=4 * k) - 1
            idx = np.concatenate([idx, more[more < len(words)]])
        return idx[:k]

    base = [draw(int(rng.integers(WORDS_PER_DOC // 2, 3 * WORDS_PER_DOC // 2))) for _ in range(n_base)]
    toks = list(base)
    src_exact = rng.integers(0, n_base, size=n_exact)
    toks += [base[s] for s in src_exact]
    src_near = rng.integers(0, n_base, size=n_near)
    for s in src_near:
        t = base[s].copy()
        pos = rng.choice(len(t), size=max(1, int(len(t) * EDIT_FRAC)), replace=False)
        # a replacement word never equals the one it replaces
        t[pos] = (t[pos] + 1 + rng.integers(0, len(words) - 1, size=len(pos))) % len(words)
        toks.append(t)
    ids = rng.permutation(n_docs).astype(np.int64)
    texts = [" ".join(words[t]) for t in toks]
    exact_of = {int(ids[n_base + i]): int(ids[s]) for i, s in enumerate(src_exact)}
    near_of = {int(ids[n_base + n_exact + i]): int(ids[s]) for i, s in enumerate(src_near)}
    frame = pd.DataFrame({"id": ids, "text": texts}).sort_values("id", ignore_index=True)
    return Corpus(frame, exact_of, near_of)
