"""Byte-pair encoding: corpus-trained subword tokenizer (Sennrich et al.
2016, arXiv:1508.07909) with a Spark-scale split of responsibilities:

- **Pair statistics come from a word-FREQUENCY table, not raw text.** The
  merge loop only ever needs ``{word: count}``; that table is computed
  distributed (split → explode → groupBy — one shuffle of (word, count)
  rows) and only its top ``max_words`` rows are collected. 100 TB of text
  collapses to a bounded driver-side dict, the same train-on-a-summary
  shape as the IVF coarse quantizer.
- **The merge loop runs driver-side** over that bounded dict (
  ``num_merges`` × |words| work, no Spark jobs), fully deterministic:
  ties on pair frequency break lexicographically.
- **Encoding is the distributed pass**: one Arrow ``mapInPandas`` with
  the merge ranks in the task closure and a per-batch word cache —
  natural-language word repetition makes the effective cost ~O(unique
  words per batch), not O(tokens).

The learned artifact (``BPETokenizer``) is JSON-serializable: train
once, ship the merges to any later job (the ``IVFIndex`` pattern).
"""

from __future__ import annotations

import json
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EOW = "</w>"  # end-of-word marker: makes "low"+"er" ≠ "lower" suffixes


class BPETokenizer:
    """Learned merge list + derived vocabulary (stable ids)."""

    def __init__(
        self,
        merges: List[Tuple[str, str]],
        lowercase: bool = True,
        alphabet: Optional[List[str]] = None,
    ):
        self.merges = [tuple(m) for m in merges]
        self.lowercase = lowercase
        self.alphabet = sorted(alphabet) if alphabet else []
        self.ranks = {pair: i for i, pair in enumerate(self.merges)}
        # vocab: the training alphabet (single characters) + every merge
        # product; chars unseen in training map to id -1 at encode time.
        symbols = set(self.alphabet)
        for a, b in self.merges:
            symbols.update((a, b, a + b))
        symbols.add(_EOW)
        self.vocab = {s: i for i, s in enumerate(sorted(symbols))}

    def encode_word(self, word: str) -> List[str]:
        syms = list(word) + [_EOW]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = self.ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    def encode_text(self, text: str, cache: Optional[dict] = None) -> List[str]:
        if self.lowercase:
            text = text.lower()
        out: List[str] = []
        for w in text.split():
            if cache is not None:
                toks = cache.get(w)
                if toks is None:
                    toks = self.encode_word(w)
                    cache[w] = toks
            else:
                toks = self.encode_word(w)
            out.extend(toks)
        return out

    def decode(self, tokens: List[str]) -> str:
        return "".join(tokens).replace(_EOW, " ").strip()

    def to_json(self) -> str:
        return json.dumps(
            {
                "merges": self.merges,
                "lowercase": self.lowercase,
                "alphabet": self.alphabet,
            }
        )

    @staticmethod
    def from_json(s: str) -> "BPETokenizer":
        d = json.loads(s)
        return BPETokenizer(
            d["merges"], lowercase=d["lowercase"], alphabet=d.get("alphabet")
        )

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @staticmethod
    def load(path: str) -> "BPETokenizer":
        with open(path) as f:
            return BPETokenizer.from_json(f.read())


def word_frequencies(
    df: DataFrame, text_col: str, lowercase: bool = True, max_words: int = 50_000
) -> DataFrame:
    """Distributed ``(word, count)`` table, top ``max_words`` by count
    (ties: lexicographic) — the only statistic BPE training needs."""
    from tsflex_spark.datapipe.text import _tokens
    from tsflex_spark.utils.data import fan_out

    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = fan_out(df).select(F.explode(_tokens(t)).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))
    # TakeOrderedAndProject: per-partition heap + driver merge, no global sort
    return counts.orderBy(F.col("count").desc(), F.col("word")).limit(max_words)


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int = 200,
    max_words: int = 50_000,
    lowercase: bool = True,
) -> BPETokenizer:
    """Learn ``num_merges`` BPE merges from the corpus word-frequency
    table (see module docstring for the scale split). Deterministic:
    same corpus → same merges, independent of partitioning."""
    rows = word_frequencies(df, text_col, lowercase, max_words).collect()
    vocab = {tuple(r["word"]) + (_EOW,): r["count"] for r in rows}
    alphabet = sorted({c for r in rows for c in r["word"]})
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict = {}
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = freq
        vocab = new_vocab
    return BPETokenizer(merges, lowercase=lowercase, alphabet=alphabet)


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tokenizer: BPETokenizer,
    out_col: str = "tokens",
    ids: bool = False,
) -> DataFrame:
    """Distributed encode: ``(id, tokens array<string>|array<int>,
    n_tokens)``. One Arrow stage; merge ranks ride the task closure (a
    few KB), a per-batch word cache amortizes repeated words. With
    ``ids=True`` tokens map through the stable vocab (unseen symbols →
    -1), ready for sequence packing."""
    import pandas as pd

    tok_json = tokenizer.to_json()
    schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        + (f"{out_col} array<int>, " if ids else f"{out_col} array<string>, ")
        + "n_tokens int"
    )
    narrow = df.select(id_col, text_col)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = BPETokenizer.from_json(tok_json)
        vocab = tok.vocab
        cache: dict = {}
        for pdf in batches:
            toks = [tok.encode_text(t or "", cache) for t in pdf[text_col]]
            if ids:
                toks_out = [[vocab.get(s, -1) for s in ts] for ts in toks]
            else:
                toks_out = toks
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: toks_out,
                    "n_tokens": [len(ts) for ts in toks],
                }
            )

    return narrow.mapInPandas(encode, schema)
