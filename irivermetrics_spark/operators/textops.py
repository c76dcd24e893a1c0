"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side built-in expressions (codegen'd, shuffle-light) except the
document fingerprint, which is a vectorized pandas UDF (polynomial
rolling hash — no SQL equivalent). Operates on the ``documents`` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small marker lexicon for the n-gram language heuristic
EN_MARKERS = [" the ", " and ", " of ", " a "]


def token_count(text: Column) -> Column:
    """Whitespace token count (limit -1 keeps trailing empties so the
    result matches ANSI string_split semantics exactly)."""
    return F.size(F.split(text, " ", -1)).cast("bigint")


BPE_LIKE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]|\s+"


def bpe_like_token_count(text: Column) -> Column:
    """GPT-2-style pre-tokenizer segment count (letters run | single
    digit | punctuation char | whitespace run) — the cheap stand-in for
    a real BPE vocab when budgeting token counts at corpus scale. Pure
    JVM regexp (codegen'd), DuckDB-oracle-expressible."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_LIKE_PATTERN), 0)).cast("bigint")


def punct_ratio(text: Column) -> Column:
    """Fraction of punctuation characters."""
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1))


def marker_score(text: Column, markers: list[str] = EN_MARKERS) -> Column:
    """Language-ID heuristic: total occurrences of marker n-grams per
    100 chars (occurrences counted via length-difference — pure SQL)."""
    occ = None
    for m in markers:
        c = (F.length(text) - F.length(F.replace(text, F.lit(m), F.lit("")))) / F.lit(len(m))
        occ = c if occ is None else occ + c
    return occ * 100.0 / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite quality score: length band + punctuation sanity +
    marker density (the usual cheap pretraining filters)."""
    n = F.length(text)
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.2, 1.0).otherwise(0.0)
    markers = F.least(marker_score(text) / 5.0, F.lit(1.0))
    return (len_ok + punct_ok + markers) / 3.0


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (
        docs.withColumn("n_tokens", token_count(t))
        .withColumn("punct_ratio", punct_ratio(t))
        .withColumn("marker_score", marker_score(t))
        .withColumn("quality", quality_score(t))
    )


FP_BASE = np.uint64(1000003)
_FP_BLOCK = 4096
# B^0 .. B^4096 mod 2^64 (uint64 wraparound is numpy's native semantics)
with np.errstate(over="ignore"):  # uint64 wraparound is the hash definition
    _FP_POW = np.empty(_FP_BLOCK + 1, dtype=np.uint64)
    _FP_POW[0] = np.uint64(1)
    for _i in range(1, _FP_BLOCK + 1):
        _FP_POW[_i] = _FP_POW[_i - 1] * FP_BASE
    del _i


def fingerprint_series(texts: pd.Series) -> pd.Series:
    """Deterministic 64-bit polynomial rolling hash of normalized text.

    Fully vectorized (the r1 version ran an interpreted Python loop per
    BYTE — a scale-killer on long documents): each 4096-byte block is a
    dot product against the precomputed power table, blocks combine as
    h = h * B^len(block) + block_hash; all arithmetic is native uint64
    wraparound (mod 2^64).
    """
    out = np.empty(len(texts), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i, s in enumerate(texts):
            data = np.frombuffer(" ".join(str(s).lower().split()).encode("utf-8"), dtype=np.uint8)
            h = np.uint64(0)
            arr = data.astype(np.uint64)
            for chunk_start in range(0, len(arr), _FP_BLOCK):
                chunk = arr[chunk_start : chunk_start + _FP_BLOCK]
                n = chunk.shape[0]
                block = np.multiply(chunk, _FP_POW[n - 1 :: -1], dtype=np.uint64).sum(dtype=np.uint64)
                h = h * _FP_POW[n] + block
            out[i] = np.int64(h)
    return pd.Series(out)


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    fp = F.pandas_udf(fingerprint_series, "long")
    return docs.withColumn("fingerprint", fp(F.col(text_col)))


def dup_line_fraction(text: Column) -> Column:
    """Fraction of lines that are duplicates of an earlier line — the
    Gopher/C4 repetition filter family (Rae et al. 2021 §A1.1:
    documents whose duplicate-line fraction exceeds ~0.3 are boiler-
    plate/menu pages). Pure JVM expressions: split -> trim/filter ->
    1 - distinct/total. Empty/one-line docs score 0.0."""
    # CRLF-aware split + FULL whitespace trim: Spark's F.trim strips
    # only ASCII spaces, which left '\r' on every non-final line of a
    # CRLF document (so no two lines ever matched) and let tab-only
    # lines count as content (r5 review)
    lines = F.filter(
        F.transform(F.split(text, "\r?\n", -1),
                    lambda l: F.regexp_replace(l, r"(?U)^\s+|\s+$", "")),
        lambda l: F.length(l) > 0)
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    return F.when(n > 1, F.lit(1.0) - nd.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def top_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of the document's word n-grams occupied by the single
    most frequent n-gram (Gopher §A1.1 top-n-gram filter: a page whose
    top 2-gram covers >20% of it is usually templated). JVM-side:
    words -> zip_with shifted copies -> array_sort -> linear run-length
    aggregate (max equal-adjacent run = top count). Documents with
    fewer than ``n`` words score 0.0."""
    # (?U): Java \s is ASCII-only by default; web text joins words
    # with U+00A0 etc., which must split like the Python oracle does
    words = F.filter(F.split(F.lower(text), r"(?U)\s+", -1), lambda w: F.length(w) > 0)
    nw = F.size(words)
    if n == 1:
        grams = words
    else:
        # n-gram i = words[i] .. words[i+n-1]; build by zipping the
        # array with its slice offsets (no explode/shuffle)
        grams = words
        for k in range(1, n):
            grams = F.zip_with(
                F.slice(grams, 1, F.greatest(nw - k, F.lit(0))),
                F.slice(words, k + 1, F.greatest(nw - k, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b))
    total = F.size(grams)
    # top count = longest run of equal adjacent elements in the SORTED
    # gram array: O(n log n) sort + O(n) run-length aggregate with a
    # two-field accumulator — linear state, no per-doc count map (a
    # map-building aggregate is O(n^2) on long documents)
    s = F.array_sort(grams)
    eq = F.zip_with(
        F.slice(s, 1, F.greatest(total - 1, F.lit(0))),
        F.slice(s, 2, F.greatest(total - 1, F.lit(0))),
        lambda a, b: a == b)
    run = F.aggregate(
        eq,
        F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
        lambda acc, e: F.struct(
            F.when(e, acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(acc["best"], F.when(e, acc["cur"] + 1).otherwise(F.lit(1))).alias("best")),
    )
    return F.when(total >= 1, run["best"].cast("double") / total.cast("double")).otherwise(F.lit(0.0))


# PII redaction rules, applied IN ORDER to the progressively redacted
# text (order matters: an email's numeric host must not be re-matched
# as an IP after the email is already a placeholder). Patterns are
# deliberately alternation-free, ASCII-only, and lookaround-free so
# Java regex (Spark, leftmost-first greedy) and RE2 (DuckDB/re2,
# leftmost-longest) agree on every match — that cross-engine equality
# is pinned by tests/test_textops_pii.py against DuckDB.
PII_RULES = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def with_pii_redaction(docs: DataFrame, text_col: str = "text",
                       rules: list[tuple[str, str, str]] | None = None) -> DataFrame:
    """PII scrub for web-corpus curation: emails, IPv4 addresses,
    SSN-shaped ids, NANP-shaped phone numbers (the C4/RefinedWeb-style
    conservative pass — precision over recall; a learned NER pass is a
    downstream concern). Adds ``redacted_text``, one ``n_pii_<kind>``
    count per rule, and ``has_pii``.

    100 TB design: a pure chain of ``regexp_replace`` /
    ``regexp_extract_all`` JVM expressions — whole-stage codegen, zero
    Python, zero shuffle, runs in the same scan as the other quality
    signals. Counts are per-rule on the text as already redacted by
    the preceding rules, so overlapping matches are never
    double-counted and the counts always sum to the number of
    placeholders inserted.
    """
    rules = PII_RULES if rules is None else rules
    cur = F.col(text_col)
    counts: dict[str, Column] = {}
    for kind, pat, tok in rules:
        counts[f"n_pii_{kind}"] = F.size(
            F.regexp_extract_all(cur, F.lit(pat), 0)).cast("bigint")
        cur = F.regexp_replace(cur, pat, tok)
    out = docs.withColumn("redacted_text", cur)
    for name, c in counts.items():
        out = out.withColumn(name, c)
    total = None
    for name in counts:
        n = F.col(name)
        total = n if total is None else total + n
    return out.withColumn("has_pii", total > 0)


def with_repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition columns: ``dup_line_frac`` and
    ``top_bigram_frac`` — the standard web-corpus boilerplate filters
    next to the length/punct/stopword quality features. All JVM
    higher-order functions: zero Python, zero shuffle, codegen'd."""
    t = F.col(text_col)
    return docs.withColumn("dup_line_frac", F.round(dup_line_fraction(t), 6)) \
               .withColumn("top_bigram_frac", F.round(top_ngram_fraction(t, 2), 6))


# ---- CCNet-style perplexity filter (char-trigram LM) ----------------
#
# Wenzek et al. 2020 (CCNet) rank web pages by LM perplexity and keep
# the low-perplexity head. The real thing uses a 5-gram KenLM; the
# engine ships the same *pipeline shape* with a character-trigram
# model it can train on the corpus itself in one pass — no external
# model artifact, fully deterministic, and every stage is a DataFrame
# op that survives 100 TB: training is extract->explode->groupBy
# (map-side partial counts), scoring is explode -> broadcast-gated
# join -> re-aggregate by doc_id (docs are contiguous within
# partitions, so partial aggregation collapses the per-gram rows back
# to ~one row per doc BEFORE the shuffle).

PPL_SMOOTH = 0.5


def char_trigrams(text: Column) -> Column:
    """Normalized character trigrams (lowercase, whitespace collapsed
    to single spaces) as an array column — JVM sequence/transform, no
    explode, no Python. Documents shorter than 3 normalized chars
    yield an empty array."""
    norm = F.regexp_replace(F.lower(text), r"(?U)\s+", " ")
    n = F.length(norm)
    # sequence(1, 0) AUTO-DESCENDS in Spark ([1, 0], default step -1),
    # so the too-short case must be guarded explicitly, not clamped
    return F.when(
        n >= 3,
        F.transform(F.sequence(F.lit(1), n - 2), lambda i: norm.substr(i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))


def train_char_lm(docs: DataFrame, text_col: str = "text",
                  smooth: float = PPL_SMOOTH) -> tuple[DataFrame, float, float]:
    """Train the trigram model: returns ``(model, oov_logp, log_denom)``
    where ``model`` is a (gram, logp) frame with
    ``logp = ln((count + smooth) / (total + smooth * (V + 1)))`` over
    add-k smoothing (the +1 reserves mass for unseen grams, whose
    shared ``oov_logp`` is the count=0 value of the same formula).

    One extract + one explode + one groupBy; counts combine map-side.
    The model has at most V distinct trigrams — character-level V is
    bounded by charset^3, so the model frame broadcasts (the scoring
    join below hints it)."""
    grams = docs.select(F.explode(char_trigrams(F.col(text_col))).alias("gram"))
    # persisted: the scalar (total, V) agg below materializes the full
    # corpus scan; without the persist the returned model frame would
    # re-run the identical extract/explode/groupBy lineage when first
    # scored — doubling the most expensive stage. The model frame built
    # on top stays small (<= V rows); callers persist/unpersist IT.
    counts = grams.groupBy("gram").agg(F.count("*").alias("c")).persist()
    total, v = counts.agg(
        F.sum("c").cast("double"), F.count("*").cast("double")).first()
    total = float(total or 0.0)
    v = float(v or 0.0)
    import math

    log_denom = math.log(total + smooth * (v + 1.0)) if total else 0.0
    model = counts.select(
        "gram", (F.log(F.col("c") + F.lit(smooth)) - F.lit(log_denom)).alias("logp"))
    oov_logp = math.log(smooth) - log_denom if total else 0.0
    return model, oov_logp, log_denom


def with_perplexity(docs: DataFrame, model: DataFrame, oov_logp: float,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adds ``avg_logp`` and ``perplexity`` (= exp(-avg_logp)) per
    document; empty/too-short docs get nulls. Plan shape: explode the
    trigram array, LEFT join the broadcast model (unseen grams fall
    back to ``oov_logp`` via coalesce), re-aggregate by ``id_col``,
    join the two scalar columns back — gram rows never cross a
    shuffle un-aggregated."""
    grams = docs.select(F.col(id_col),
                        F.explode(char_trigrams(F.col(text_col))).alias("gram"))
    scored = (
        grams.join(F.broadcast(model), "gram", "left")
        .groupBy(id_col)
        .agg(F.avg(F.coalesce(F.col("logp"), F.lit(oov_logp))).alias("avg_logp"))
    )
    out = docs.join(scored, id_col, "left")
    return out.withColumn("perplexity", F.round(F.exp(-F.col("avg_logp")), 6)) \
              .withColumn("avg_logp", F.round(F.col("avg_logp"), 6))


def cap_per_key(docs: DataFrame, key_col: str = "source", cap: int = 100,
                id_col: str = "doc_id", seed: int = 0,
                auto_thin: bool = True, hot_factor: int = 50,
                thin_safety: float = 8.0) -> DataFrame:
    """Corpus balancing: keep at most ``cap`` documents per key (the
    per-domain cap of web-curation pipelines — one hot domain must not
    dominate the training mix). Deterministic: rows rank by
    ``xxhash64(id, seed)`` within their key, so re-runs and different
    partitionings keep the SAME winners (ties broken by id).

    Exact-cap needs a per-key global order — one shuffle on the key
    (window row_number), and a 10^8-row hot key would serialize on one
    window task. With ``auto_thin`` (default) the operator gates
    itself: one map-side-combinable ``groupBy(key).count()`` finds keys
    with ``n > hot_factor * cap`` (that hot dim is bounded by
    ``total_rows / (hot_factor*cap)`` keys, so it always broadcasts),
    and rows of hot keys are pre-filtered to the ones whose rank hash
    falls below a per-key threshold sized for ``thin_safety * cap``
    expected survivors. The thin condition uses the SAME hash the
    window orders by, so the ``cap`` smallest rank values always
    survive whenever at least ``cap`` rows do — winners are IDENTICAL
    to the unthinned result, not approximately so. A per-partition
    survivor count guards the (astronomically unlikely, ~e^-cap) hash
    fluctuation where a hot key keeps fewer than ``cap`` rows and
    raises instead of silently dropping winners; seeds are fixed, so a
    run that passes once passes always.
    """
    from pyspark.sql import Window

    rank_key = F.xxhash64(F.col(id_col).cast("string"), F.lit(seed))
    frame = docs
    hot_join = False
    if auto_thin:
        hot_threshold = int(hot_factor) * int(cap)
        hot = (docs.groupBy(key_col)
               .agg(F.count(F.lit(1)).alias("__key_n"))
               .where(F.col("__key_n") > hot_threshold))
        # per-key keep fraction -> threshold in xxhash64's signed
        # 64-bit space (double rounding here only nudges the expected
        # survivor count by ~1 ulp — thin_safety dwarfs it)
        frac = F.least(F.lit(1.0),
                       F.lit(float(thin_safety) * cap) / F.col("__key_n"))
        thr = (F.lit(-9.223372036854776e18) +
               frac * F.lit(1.8446744073709552e19)).cast("bigint")
        hot = hot.withColumn("__thr", thr)
        frame = (docs.join(F.broadcast(hot), on=key_col, how="left")
                 .where(F.col("__thr").isNull() | (rank_key < F.col("__thr"))))
        hot_join = True
    w = Window.partitionBy(key_col).orderBy(rank_key.asc(), F.col(id_col).asc())
    out = frame.withColumn("_rn", F.row_number().over(w))
    if hot_join:
        n_surv = F.count(F.lit(1)).over(
            Window.partitionBy(key_col)
            .orderBy(rank_key.asc(), F.col(id_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        bad = (F.col("__thr").isNotNull() &
               (n_surv < F.least(F.lit(int(cap)), F.col("__key_n"))))
        out = (out.withColumn(
                   "_chk",
                   F.when(bad, F.raise_error(F.lit(
                       "cap_per_key auto-thin kept fewer than cap rows for a "
                       "hot key; raise thin_safety"))).otherwise(F.lit(1)))
               .where(F.col("_chk") == 1)
               .drop("_chk", "__thr", "__key_n"))
    # the hot-dim join moves key_col first — restore the input order
    return out.where(F.col("_rn") <= cap).drop("_rn").select(*docs.columns)


def seeded_hash_ppm(id_col: str, seed: int) -> Column:
    """The seeded keep/drop hash ``split_by_hash`` compares against:
    pmod(xxhash64(cast(id as string), seed), 10^6) — a uniform integer
    in [0, 1e6) that is a pure function of (id, seed), so the same
    (id, seed) gets the same decision on every run."""
    return F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(int(seed))),
                  F.lit(1_000_000))


def split_by_hash(docs: DataFrame, weights: dict[str, float] | None = None,
                  id_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """Deterministic dataset splitting: adds a ``split`` column
    assigning each row to exactly one named split by seeded id-hash
    range (train/val/test and friends). Unlike ``DataFrame.randomSplit``
    this is STABLE — the same (id, seed) lands in the same split on
    every run, machine, and partitioning, and adding rows later never
    reassigns existing ones (the leakage-safety property holdout sets
    need). Pure filter expression: no shuffle, no Python.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    h = seeded_hash_ppm(id_col, seed)
    expr, lo = None, 0.0
    names = list(weights)
    for name in names[:-1]:
        lo += weights[name] / total * 1_000_000
        cond = h < int(lo)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return docs.withColumn("split", last)


# edge-trim class for the cross-document line-dedup identity: an
# explicit ASCII set (space, tab, FF, VT, CR) rather than \s so the
# Java regex engine (Spark) and RE2 (the DuckDB oracle) agree
# byte-for-byte — Java spells vertical tab \x0B, RE2 spells it \v
_LINE_TRIM_JAVA = "[ \\t\\f\\x0B\\r]"


def remove_repeated_lines(docs: DataFrame, min_df: int = 2,
                          mode: str = "drop_all",
                          scope_col: str | None = None,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Cross-document boilerplate line removal — the C4 / MassiveText /
    RefinedWeb corpus-dedup step that strips nav menus, cookie banners
    and footers repeated across a crawl (C4, Raffel et al. 2020 §2.2
    drops repeated lines corpus-wide; RefinedWeb §G runs it per
    domain — pass ``scope_col="source"`` for that variant).

    Two policies over the line's ASCII-edge-trimmed form:

    - ``mode="drop_all"``: drop EVERY occurrence of any non-blank line
      appearing in >= ``min_df`` distinct documents (document
      frequency, not occurrence count — a line repeated inside one doc
      is the within-doc repetition signal's job, not boilerplate).
    - ``mode="keep_first"``: keep only the first occurrence corpus-wide
      (ordered by ``(id_col, position)``), C4's "all but one" rule;
      ``min_df`` is ignored.

    Blank lines are never dedup targets (document structure, not
    boilerplate). Line content is preserved verbatim — the trim only
    defines the match identity — but line ENDINGS are normalized to
    ``\\n`` on rebuild. Returns ``docs`` with ``text_col`` rewritten
    and an int ``lines_removed`` column.

    Scale shape (no driver state, no collect): posexplode is narrow;
    the document-frequency count is one map-side-combinable shuffle on
    the line key; the ban is a left-anti join co-partitioned on that
    same key (AQE broadcasts it when the banned dim is small); rebuild
    is one groupBy(id) shuffle + an id-key join back onto ``docs``. A
    100 TB deployment would pre-hash the line key to xxhash64 to
    narrow the two line-key shuffles; the string key is kept here so
    the result is exactly string-equality semantics.
    """
    if mode not in ("drop_all", "keep_first"):
        raise ValueError(f"mode must be drop_all or keep_first, got {mode!r}")
    if mode == "drop_all" and min_df < 2:
        raise ValueError("min_df < 2 would ban every non-blank line")
    scope = [scope_col] if scope_col else []
    lines = docs.select(
        F.col(id_col), *[F.col(c) for c in scope],
        F.posexplode(F.split(F.col(text_col), r"\r?\n", -1)).alias("pos", "line"))
    norm = F.regexp_replace(
        F.regexp_replace(F.col("line"), f"^{_LINE_TRIM_JAVA}+", ""),
        f"{_LINE_TRIM_JAVA}+$", "")
    lines = lines.withColumn("nline", norm)
    keys = scope + ["nline"]
    if mode == "drop_all":
        banned = (
            lines.where(F.col("nline") != "")
            .groupBy(*keys)
            .agg(F.countDistinct(id_col).alias("line_df"))
            .where(F.col("line_df") >= int(min_df))
            .select(*[F.col(k).alias(f"__b_{k}") for k in keys]))
        # null-safe equality on the scope key: groupBy banks a NULL
        # scope group, but a plain anti-join would never match it back
        # (NULL != NULL), silently keeping that slice's boilerplate
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__b_{k}"))
            cond = c if cond is None else cond & c
        kept = lines.join(banned, cond, "left_anti")
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(id_col), F.col("pos"))
        kept = (
            lines.withColumn("rn", F.row_number().over(w))
            .where((F.col("nline") == "") | (F.col("rn") == 1))
            .drop("rn"))
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"])).alias("__new_text"),
            F.count(F.lit(1)).alias("__n_kept")))
    n_lines = F.size(F.split(F.col(text_col), r"\r?\n", -1))
    return (
        docs.join(rebuilt, id_col, "left")
        .withColumn("lines_removed",
                    (n_lines - F.coalesce(F.col("__n_kept"), F.lit(0))).cast("int"))
        .withColumn(text_col, F.coalesce(F.col("__new_text"), F.lit("")))
        .drop("__new_text", "__n_kept"))


def chunk_documents(docs: DataFrame, max_tokens: int, overlap: int = 0,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    r"""Split long documents into token windows — the context-window
    chunking every pretraining / RAG pipeline runs before packing or
    embedding (documents longer than the model context become
    ``max_tokens``-token chunks overlapping by ``overlap`` tokens so
    no boundary context is lost).

    Tokens are Unicode-whitespace words (the same ``(?U)\s+`` split
    the repetition signals use — NOT ``token_count``'s single-space
    split, which keeps empty segments; swap a real tokenizer at the
    split expression). Output: one row per chunk with ``chunk_idx``,
    ``chunk_text`` and ``chunk_tokens``; every input doc with at least
    one token yields >= 1 chunk, empty/whitespace docs yield none
    (posexplode drops them). The final window is the only one allowed
    shorter than ``max_tokens``, and a trailing stub entirely covered
    by the previous window is not emitted.

    Pure JVM expressions end-to-end: split -> filter -> sequence of
    window starts -> transform(slice + concat_ws) -> posexplode. The
    only shuffle-free narrow op in the chunking family — Catalyst
    pipelines it into the scan."""
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    words = F.filter(F.split(F.col(text_col), r"(?U)\s+", -1),
                     lambda w: F.length(w) > 0)
    n = F.size(words)
    # last start = the largest multiple of step strictly below n —
    # guarantees the tail window is non-empty and not fully contained
    # in the previous one
    last = (F.ceil(F.greatest(n - F.lit(max_tokens), F.lit(0)) /
                   F.lit(step)) * step).cast("int")
    starts = F.when(n > 0, F.sequence(F.lit(0), last, F.lit(step)))
    chunks = F.transform(
        starts,
        lambda s: F.concat_ws(" ", F.slice(words, s + 1, max_tokens)))
    out = docs.select(
        F.col(id_col), *[c for c in docs.columns if c not in (id_col, text_col)],
        n.alias("__nw"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    # arithmetic, not a re-split: window i holds tokens [i*step,
    # i*step + max_tokens) clipped to n — re-scanning every chunk
    # string would double the per-row work
    return (out.withColumn(
        "chunk_tokens",
        F.least(F.lit(max_tokens),
                F.col("__nw") - F.col("chunk_idx") * step).cast("int"))
        .drop("__nw"))
