"""Exact duplicated-span detection/removal and benchmark decontamination.

The ExactSubstr operation of "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022) removes any span of >= k
tokens that appears more than once in the corpus, keeping one
occurrence.  The paper builds a single-node suffix array; the
Spark-native re-expression here is rolling-hash k-token windows:

    tokens -> one (doc_id, pos, h1, h2) row per k-token window
           -> groupBy the 16-byte double-hash key, keep keys seen
              >= min_count times (one shuffle, map-side partial agg)
           -> 1:1 join back (no row explosion: every window matches
              exactly one key row)

At 100 TB this is linear work: ~one window row per corpus token,
shuffled once on a uniform 16-byte key (rolling hashes of distinct
spans are uniform, so no inherent skew; a boilerplate span that occurs
millions of times still aggregates map-side — the groupBy output is
one row per DISTINCT span).  Two independent 64-bit polynomial hashes
make a false span match ~2^-128; the DuckDB oracle for the driver
entry groups by the window STRING itself, so a collision would fail
the hash-compare rather than hide.

``remove_duplicate_spans`` keeps the globally-first occurrence (min
(doc_id, pos)) of each duplicated span and excises every other
covered token, merging overlaps per document; text is rebuilt from the
surviving tokens single-space-joined (token-space semantics — the
whitespace-normalized analog of the paper's byte cuts).

``contaminated_ids`` is the train/test decontamination sweep: flag
training docs sharing any k-token window (k=13 after the GPT-3
report's 13-gram rule) with a benchmark table — a broadcast semi-join
when the benchmark key set fits the byte budget, a shuffle semi-join
otherwise.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .dedup import BROADCAST_BUDGET_BYTES

# two independent polynomial bases (odd -> invertible mod 2^64, so the
# rolling recurrence loses no state); the token pre-hash for the second
# stream is additionally mixed so the pair never degenerates together
_B1 = np.uint64(1000003)
_B2 = np.uint64(0x100000001B3)
_MIX = np.uint64(0x9E3779B97F4A7C15)
_TOKEN_RE = re.compile(r"[ \t\n\r\f\v]+")

_POS_CHUNK = 1 << 16  # bound the (positions x k) sliding-window temp


def _tokenize(text: str) -> list[str]:
    """ASCII-whitespace tokenization, empties dropped — deterministic
    and expressible in the DuckDB oracle (string_split on normalized
    single spaces), unlike str.split()'s unicode whitespace set."""
    return [t for t in _TOKEN_RE.split(text) if t]


def _token_hashes(tokens: list[str]) -> np.ndarray:
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = np.uint64(0)
        for b in t.encode("utf-8"):
            h = h * _B1 + np.uint64(b)
        out[i] = h + np.uint64(1)  # never 0: '' vs absent stay distinct
    return out


def _window_hashes(th: np.ndarray, k: int, base: np.uint64) -> np.ndarray:
    """All k-token window hashes of one doc, vectorized + chunked:
    win(i) = sum th[i+j] * base^(k-1-j) mod 2^64."""
    n = len(th) - k + 1
    pows = np.empty(k, dtype=np.uint64)
    pows[k - 1] = np.uint64(1)
    for j in range(k - 2, -1, -1):
        pows[j] = pows[j + 1] * base
    out = np.empty(n, dtype=np.uint64)
    view = np.lib.stride_tricks.sliding_window_view(th, k)
    for s in range(0, n, _POS_CHUNK):
        e = min(s + _POS_CHUNK, n)
        out[s:e] = (view[s:e] * pows).sum(axis=1, dtype=np.uint64)
    return out


def span_windows(docs: DataFrame, k: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """One row per k-token window: (doc_id, pos, n_tokens, h1, h2).

    Output volume ~= corpus token count (linear); the downstream
    shuffle key is the (h1, h2) pair.  Docs shorter than k tokens emit
    nothing.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with np.errstate(over="ignore"):
            for pdf in batches:
                ids, poss, nts, h1s, h2s = [], [], [], [], []
                for rec in pdf.itertuples(index=False):
                    toks = _tokenize(str(getattr(rec, text_col)))
                    if len(toks) < k:
                        continue
                    th = _token_hashes(toks)
                    th2 = (th ^ (th >> np.uint64(31))) * _MIX
                    w1 = _window_hashes(th, k, _B1)
                    w2 = _window_hashes(th2, k, _B2)
                    n = len(w1)
                    ids.extend([getattr(rec, id_col)] * n)
                    poss.extend(range(n))
                    nts.extend([len(toks)] * n)
                    h1s.append(w1)
                    h2s.append(w2)
                yield pd.DataFrame({
                    "doc_id": pd.Series(ids, dtype="str"),
                    "pos": pd.Series(poss, dtype="int32"),
                    "n_tokens": pd.Series(nts, dtype="int32"),
                    "h1": np.concatenate(h1s).view(np.int64) if h1s else
                        pd.Series([], dtype="int64"),
                    "h2": np.concatenate(h2s).view(np.int64) if h2s else
                        pd.Series([], dtype="int64"),
                })

    return docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)).mapInPandas(
        kernel, "doc_id string, pos int, n_tokens int, h1 long, h2 long")


def duplicate_span_windows(docs: DataFrame, k: int, min_count: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Windows whose exact k-token content occurs >= min_count times
    corpus-wide: (doc_id, pos, h1, h2, n_occurrences, keep) — ``keep``
    marks the one globally-first occurrence per span.

    One shuffle (groupBy the double hash; partial agg runs map-side)
    plus a 1:1 shuffle join back.
    """
    wins = span_windows(docs, k, id_col=id_col, text_col=text_col)
    grp = (wins.groupBy("h1", "h2")
           .agg(F.count(F.lit(1)).alias("n_occurrences"),
                F.min(F.struct("doc_id", "pos")).alias("keeper"))
           .where(F.col("n_occurrences") >= min_count))
    j = wins.join(grp, ["h1", "h2"])
    keep = (F.col("doc_id") == F.col("keeper.doc_id")) & (
        F.col("pos") == F.col("keeper.pos"))
    return j.select("doc_id", "pos", "n_tokens", "h1", "h2",
                    "n_occurrences", keep.alias("keep"))


def remove_duplicate_spans(docs: DataFrame, k: int, min_count: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Excise every non-canonical duplicated k-token span; returns
    (doc_id, text, n_tokens_removed) with text rebuilt from surviving
    tokens (single-space joined).  Docs with nothing to cut pass
    through with their normalized token stream intact.
    """
    dup = duplicate_span_windows(docs, k, min_count, id_col, text_col)
    cuts = (dup.where(~F.col("keep"))
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("cut_pos")))
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    joined = src.join(cuts, "doc_id", "left")

    def rebuild(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_text, out_n = [], [], []
            for rec in pdf.itertuples(index=False):
                toks = _tokenize(str(rec.text))
                cut = rec.cut_pos
                if cut is None or (isinstance(cut, float) and pd.isna(cut)) \
                        or len(cut) == 0:
                    out_id.append(rec.doc_id)
                    out_text.append(" ".join(toks))
                    out_n.append(0)
                    continue
                # mark covered token indices via a difference array:
                # O(n_tokens + n_cuts), no per-cut k-wide writes
                n = len(toks)
                diff = np.zeros(n + 1, dtype=np.int64)
                for p in cut:
                    diff[p] += 1
                    diff[min(p + k, n)] -= 1
                covered = np.cumsum(diff[:n]) > 0
                kept = [t for t, c in zip(toks, covered) if not c]
                out_id.append(rec.doc_id)
                out_text.append(" ".join(kept))
                out_n.append(int(covered.sum()))
            yield pd.DataFrame({"doc_id": pd.Series(out_id, dtype="str"),
                                "text": pd.Series(out_text, dtype="str"),
                                "n_tokens_removed": pd.Series(out_n, dtype="int64")})

    return joined.mapInPandas(
        rebuild, "doc_id string, text string, n_tokens_removed long")


def contaminated_ids(train: DataFrame, benchmark: DataFrame, k: int = 13,
                     id_col: str = "doc_id", text_col: str = "text",
                     bench_id_col: str = "doc_id",
                     bench_text_col: str = "text",
                     broadcast_keys: bool | None = None) -> DataFrame:
    """Training docs sharing any exact k-token window with a benchmark
    table: (doc_id, n_contaminated_windows).

    The benchmark key set (distinct double hashes) broadcasts when its
    estimated size (24 B/key) fits the byte budget — the common case:
    eval suites are tiny next to a crawl — else a shuffle LEFT SEMI
    join on the same key.  ``broadcast_keys`` forces either path.
    """
    keys = (span_windows(benchmark, k, id_col=bench_id_col,
                         text_col=bench_text_col)
            .select("h1", "h2").distinct())
    if broadcast_keys is None:
        broadcast_keys = keys.count() * 24 <= BROADCAST_BUDGET_BYTES
    if broadcast_keys:
        keys = F.broadcast(keys)
    wins = span_windows(train, k, id_col=id_col, text_col=text_col)
    hit = wins.join(keys, ["h1", "h2"], "left_semi")
    return hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated_windows"))
