"""Conversation → training-text formatting (SFT corpus prep): flatten
``array<struct<role, content>>`` message lists into templated text and
emit the assistant-content character spans a trainer needs for loss
masking (only assistant tokens get loss in instruction tuning).

Why JVM-first matters at 100 TB: this runs over every SFT document —
the whole operator is built from ``transform``/``aggregate``/
``concat`` column expressions, so it stays inside whole-stage codegen
with zero Python workers and zero shuffles (it pipelines into the
scan). The span arithmetic is a single left-fold over the rendered
turns (cumulative offset + span list in one accumulator struct).

Template model: per-role ``(prefix, suffix)`` string pairs — the shape
every public chat template reduces to for corpus-prep purposes
(ChatML-style ``<|role|>\\n...<|end|>\\n`` is the default here).
Unknown roles fall back to the ``"*"`` entry. NULL message lists and
NULL contents yield NULL text (dead-letterable), not errors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_TEMPLATE = {
    "system": ("<|system|>\n", "<|end|>\n"),
    "user": ("<|user|>\n", "<|end|>\n"),
    "assistant": ("<|assistant|>\n", "<|end|>\n"),
    "*": ("<|other|>\n", "<|end|>\n"),
}


def _rendered(msgs: Column, template: dict, loss_role: str) -> Column:
    """array<struct<role,content>> -> array<struct<pre,content,suf>>
    with the per-role template applied (literal CASE chain — the
    template dict is tiny and known at plan time)."""
    fallback = template.get("*", ("", ""))

    def pick(idx: int):  # 0 = prefix, 1 = suffix
        def f(m: Column) -> Column:
            expr = F.lit(fallback[idx])
            for role, pair in template.items():
                if role == "*":
                    continue
                expr = F.when(m["role"] == role, F.lit(pair[idx])) \
                    .otherwise(expr)
            return expr
        return f

    return F.transform(
        msgs,
        lambda m: F.struct(
            pick(0)(m).alias("pre"),
            m["content"].alias("content"),
            pick(1)(m).alias("suf"),
            (m["role"] == loss_role).alias("is_assistant"),
        ))


def format_chat(docs: DataFrame, messages_col: str = "messages",
                template: dict | None = None,
                out_col: str = "text",
                spans_col: str = "assistant_spans",
                loss_role: str = "assistant") -> DataFrame:
    """Adds ``text`` (the templated conversation) and
    ``assistant_spans`` (array<struct<start,end>> — character offsets
    of each ``loss_role`` turn's CONTENT inside ``text``, half-open)
    plus ``n_turns``. ``loss_role`` names the role whose tokens get
    loss (ShareGPT-style data uses 'gpt'); when a custom template is
    supplied without a matching role entry, that's almost certainly a
    mistake — rejected loudly rather than emitting empty loss masks.
    Purely JVM column expressions: no Python stage, no shuffle. Rows
    whose message list is NULL, empty, or contains a NULL role/content
    get NULL text/spans (filter or dead-letter them)."""
    template = template or DEFAULT_TEMPLATE
    if loss_role not in template:
        raise ValueError(
            f"loss_role {loss_role!r} is not a role in the template "
            f"({sorted(k for k in template if k != '*')}) — every span "
            "would be empty; pass loss_role= matching your data's "
            "assistant-role name")
    msgs = F.col(messages_col)
    r = _rendered(msgs, template, loss_role)

    # one left-fold: accumulator = (offset so far, spans so far, text so far)
    acc0 = F.struct(
        F.lit(0).cast("bigint").alias("off"),
        F.array().cast("array<struct<start:bigint,end:bigint>>").alias("spans"),
        F.lit("").alias("text"),
    )

    def step(acc: Column, m: Column) -> Column:
        start = acc["off"] + F.length(m["pre"])
        end = start + F.length(m["content"])
        return F.struct(
            (end + F.length(m["suf"])).alias("off"),
            F.when(m["is_assistant"],
                   F.concat(acc["spans"], F.array(F.struct(
                       start.alias("start"), end.alias("end")))))
            .otherwise(acc["spans"]).alias("spans"),
            F.concat(acc["text"], m["pre"], m["content"], m["suf"])
            .alias("text"),
        )

    folded = F.aggregate(r, acc0, step)
    valid = msgs.isNotNull() & (F.size(msgs) > 0) & \
        ~F.exists(msgs, lambda m: m["content"].isNull() | m["role"].isNull())
    return (docs
            .withColumn(out_col, F.when(valid, folded["text"]))
            .withColumn(spans_col, F.when(valid, folded["spans"]))
            .withColumn("n_turns", F.when(valid, F.size(msgs)).cast("int")))
