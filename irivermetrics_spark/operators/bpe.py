"""From-scratch byte-level BPE tokenizer — distributed train + encode.

Replaces the ``bpe_like_token_count`` pre-tokenizer stand-in
(textops.py) with a real trained merge table, so the token-budget
operators (chunk_documents L31, pack_sequences L23) can run on true
token counts.

Spark-first split of work (the 100 TB shape):

- **Train** = ONE distributed pass: pre-tokenize (pure JVM
  ``regexp_extract_all``) -> explode -> ``groupBy(word).count()``.
  That corpus-sized shuffle is the only part that scales with data;
  the distinct-word frequency table is bounded (Heaps' law) and is
  further capped to the ``max_distinct_words`` most frequent words via
  a distributed top-k (TakeOrderedAndProject — no full sort lands on
  the driver). The merge loop itself then runs driver-side over that
  bounded table with incremental pair-count maintenance — the same
  design as every production BPE trainer (Sennrich's subword-nmt,
  HuggingFace tokenizers, SentencePiece-BPE all reduce the corpus to a
  word-frequency dict first), because per-merge distributed rounds
  would cost ``vocab_size`` full shuffles for a table that fits in
  memory by construction.
- **Encode** = one Arrow-batched ``mapInPandas`` pass against the
  broadcast merge table (vocab_size pairs — a few KB), with a
  per-worker distinct-word memo (words repeat heavily; the memo is
  size-capped so a 100 TB crawl cannot grow it unboundedly).

Byte-level (GPT-2 style): initial symbols are the 256 byte values,
merge ``i`` creates token id ``256 + i``, so any unicode text
round-trips exactly and there is no OOV. The pre-tokenizer uses the
same segment classes as ``bpe_like_token_count`` — letter runs /
single digits / single punctuation / whitespace runs — which
PARTITION the text (every char falls in exactly one class), so
``decode(encode(text)) == text`` holds for arbitrary input.

Reference parity: the reference engine has no tokenizer surface; this
lives on the LLM side (SURVEY §2.12 L33).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Pre-tokenizer segment pattern. Same classes as textops'
# BPE_LIKE_PATTERN but with the whitespace set spelled as an EXPLICIT
# ASCII class: Java regex \s is ASCII-only while Python's is Unicode,
# so a \s-based pattern would make the JVM word-count (train) and the
# Python merge kernel (encode) disagree on e.g. NBSP. With the
# explicit class, Java, Python and RE2 segment identically, and the
# four classes still partition any string (class 3 and 4 are exact
# complements over the ASCII-ws set), so decode(encode(x)) == x.
BPE_PRETOKEN_PATTERN = (
    r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\t\n\x0B\f\r ]|[\t\n\x0B\f\r ]+")

# worker-side encode memo cap (distinct words); cleared when exceeded
_MEMO_CAP = 1 << 20


def _count_words(docs: DataFrame, text_col: str,
                 max_distinct_words: int) -> list[tuple[str, int]]:
    """Distributed word-frequency table: the one corpus-sized pass of
    training. Returns the ``max_distinct_words`` most frequent
    pre-tokenizer segments with counts (deterministic tiebreak on the
    word itself)."""
    wc = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col),
                                     F.lit(BPE_PRETOKEN_PATTERN), 0)
            ).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = (wc.orderBy(F.col("n").desc(), F.col("word").asc())
            .limit(int(max_distinct_words))
            .collect())
    return [(r["word"], r["n"]) for r in rows]


def _merge_word(sym: list[int], a: int, b: int, new_id: int) -> list[int]:
    """Replace every (a, b) adjacency with new_id, left to right in one
    pass — the same order the encoder uses, so train and encode agree
    on overlapping runs like 'aaa'."""
    out = []
    i = 0
    n = len(sym)
    while i < n:
        if i < n - 1 and sym[i] == a and sym[i + 1] == b:
            out.append(new_id)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def train_bpe(docs: DataFrame, vocab_size: int, text_col: str = "text",
              max_distinct_words: int = 1_000_000) -> dict:
    """Train a byte-level BPE merge table on a document corpus.

    ``vocab_size`` includes the 256 base bytes, so the number of
    learned merges is ``vocab_size - 256``. Deterministic: each round
    picks the highest-count pair, ties broken by the numerically
    smallest ``(left_id, right_id)`` — a pure function of the
    word-frequency table, which is itself a pure function of the
    corpus. Returns ``{"merges": [(a, b), ...], "pattern": str,
    "vocab_size": int}`` — feed to :func:`with_bpe_tokens` /
    :func:`encode_text` / :func:`decode_ids`.
    """
    if vocab_size <= 256:
        raise ValueError("vocab_size must exceed the 256 base bytes")
    table = _count_words(docs, text_col, max_distinct_words)
    words = [list(w.encode("utf-8")) for w, _ in table]
    freqs = [int(n) for _, n in table]

    # incremental pair stats: count per pair + the set of word indices
    # containing the pair (so a merge only touches affected words)
    pair_counts: dict[tuple[int, int], int] = {}
    pair_where: dict[tuple[int, int], set[int]] = {}
    for wi, (sym, f) in enumerate(zip(words, freqs)):
        for p in zip(sym, sym[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_where.setdefault(p, set()).add(wi)

    merges: list[tuple[int, int]] = []
    n_merges = int(vocab_size) - 256
    while len(merges) < n_merges and pair_counts:
        best_n = max(pair_counts.values())
        best = min(p for p, c in pair_counts.items() if c == best_n)
        new_id = 256 + len(merges)
        merges.append(best)
        a, b = best
        for wi in sorted(pair_where.get(best, ())):
            sym, f = words[wi], freqs[wi]
            for p in zip(sym, sym[1:]):
                c = pair_counts[p] - f
                if c > 0:
                    pair_counts[p] = c
                else:
                    del pair_counts[p]
                s = pair_where.get(p)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        del pair_where[p]
            sym = _merge_word(sym, a, b, new_id)
            words[wi] = sym
            for p in zip(sym, sym[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + f
                pair_where.setdefault(p, set()).add(wi)
    return {"merges": merges, "pattern": BPE_PRETOKEN_PATTERN,
            "vocab_size": 256 + len(merges)}


def merge_ranks(model: dict) -> dict[tuple[int, int], int]:
    return {tuple(p): i for i, p in enumerate(model["merges"])}


def vocab_bytes(model: dict) -> dict[int, bytes]:
    """Token id -> byte string (merge i defines id 256 + i)."""
    vocab = {i: bytes([i]) for i in range(256)}
    for i, (a, b) in enumerate(model["merges"]):
        vocab[256 + i] = vocab[a] + vocab[b]
    return vocab


def _encode_word(word: str, ranks: dict[tuple[int, int], int]) -> list[int]:
    """GPT-2 merge loop: repeatedly merge ALL occurrences of the
    lowest-rank adjacent pair (id of merge r is 256 + r)."""
    sym = list(word.encode("utf-8"))
    while len(sym) >= 2:
        best_rank = None
        best = None
        for p in zip(sym, sym[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best = p
        if best is None:
            break
        sym = _merge_word(sym, best[0], best[1], 256 + best_rank)
    return sym


def encode_text(text: str, model: dict,
                _ranks: dict | None = None) -> list[int]:
    """Driver-side encode of one string (the per-row kernel the Spark
    path vectorizes). Pre-tokenize with the model's pattern, then run
    the merge loop per word."""
    import re

    ranks = _ranks if _ranks is not None else merge_ranks(model)
    ids: list[int] = []
    for word in re.findall(model["pattern"], text):
        ids.extend(_encode_word(word, ranks))
    return ids


def decode_ids(ids, model: dict, _vocab: dict | None = None) -> str:
    vocab = _vocab if _vocab is not None else vocab_bytes(model)
    return b"".join(vocab[int(i)] for i in ids).decode("utf-8")


def with_bpe_tokens(docs: DataFrame, model: dict, text_col: str = "text",
                    with_ids: bool = True) -> DataFrame:
    """Adds ``bpe_n_tokens`` (int) and, with ``with_ids``, ``bpe_ids``
    (array<int>) from the trained merge table. One Arrow pass; the
    merge table rides a broadcast (a few KB at any vocab size); NULL
    text yields NULL outputs. Set ``with_ids=False`` when only budgets
    are needed — token-id arrays are ~4 bytes/token of shuffle weight
    downstream."""
    import re

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(
        {"ranks": merge_ranks(model), "pattern": model["pattern"]})
    cols = list(docs.columns)
    tail = ", bpe_n_tokens int" + (", bpe_ids array<int>" if with_ids else "")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + tail

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value["ranks"]
        pat = re.compile(bc.value["pattern"])
        memo: dict[str, list[int]] = {}
        for pdf in batches:
            n_out = []
            ids_out = []
            for text in pdf[text_col]:
                if text is None or (isinstance(text, float) and text != text):
                    n_out.append(None)
                    ids_out.append(None)
                    continue
                ids: list[int] = []
                for word in pat.findall(text):
                    got = memo.get(word)
                    if got is None:
                        if len(memo) >= _MEMO_CAP:
                            memo.clear()
                        got = _encode_word(word, ranks)
                        memo[word] = got
                    ids.extend(got)
                n_out.append(len(ids))
                ids_out.append(ids)
            out = pdf[cols].copy()
            out["bpe_n_tokens"] = pd.array(n_out, dtype="Int32")
            if with_ids:
                out["bpe_ids"] = ids_out
            yield out

    return docs.mapInPandas(kernel, out_schema)


def bpe_to_json(model: dict) -> str:
    """Checkpoint-friendly serialization (merges + pattern only — the
    vocab is derived)."""
    import json

    return json.dumps({"merges": [list(p) for p in model["merges"]],
                       "pattern": model["pattern"],
                       "vocab_size": model["vocab_size"]})


def bpe_from_json(s: str) -> dict:
    import json

    d = json.loads(s)
    return {"merges": [tuple(p) for p in d["merges"]],
            "pattern": d["pattern"], "vocab_size": d["vocab_size"]}
