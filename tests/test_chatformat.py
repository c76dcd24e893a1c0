"""Chat/SFT formatting (operators/chatformat.py): Python-reference
parity on text + span offsets, unicode, custom templates, dead-letter
rows, and a zero-Python zero-Exchange plan."""

import pytest
from pyspark.sql import functions as F

from irivermetrics_spark.operators import chatformat as cf


def _py_reference(messages, template):
    """Independent straight-line reimplementation."""
    text = ""
    spans = []
    for m in messages:
        pre, suf = template.get(m["role"], template["*"])
        start = len(text) + len(pre)
        end = start + len(m["content"])
        if m["role"] == "assistant":
            spans.append((start, end))
        text += pre + m["content"] + suf
    return text, spans


CONVOS = [
    [{"role": "system", "content": "Be helpful."},
     {"role": "user", "content": "Hi é中 👋"},
     {"role": "assistant", "content": "Hello!"},
     {"role": "user", "content": ""},
     {"role": "assistant", "content": "Still here."}],
    [{"role": "user", "content": "one-shot"},
     {"role": "assistant", "content": "answer"}],
    [{"role": "tool", "content": "unknown role -> fallback"},
     {"role": "assistant", "content": "ok"}],
]


def test_parity_with_python_reference(spark):
    rows = [(i, [(m["role"], m["content"]) for m in c]) for i, c in enumerate(CONVOS)]
    df = spark.createDataFrame(
        rows, "doc_id int, messages array<struct<role:string,content:string>>")
    out = {r.doc_id: r for r in cf.format_chat(df).collect()}
    for i, c in enumerate(CONVOS):
        text, spans = _py_reference(c, cf.DEFAULT_TEMPLATE)
        assert out[i].text == text, i
        assert [(s.start, s.end) for s in out[i].assistant_spans] == spans, i
        assert out[i].n_turns == len(c)
        # the spans really do address the assistant content
        for (s, e), m in zip(spans,
                             [m for m in c if m["role"] == "assistant"]):
            assert text[s:e] == m["content"]


def test_custom_template(spark):
    tpl = {"user": ("U: ", "\n"), "assistant": ("A: ", "\n"), "*": ("? ", "\n")}
    df = spark.createDataFrame(
        [(1, [("user", "q"), ("assistant", "a")])],
        "doc_id int, messages array<struct<role:string,content:string>>")
    row = cf.format_chat(df, template=tpl).collect()[0]
    assert row.text == "U: q\nA: a\n"
    assert [(s.start, s.end) for s in row.assistant_spans] == [(8, 9)]


def test_dead_letter_rows(spark):
    df = spark.createDataFrame(
        [(1, [("user", "ok"), ("assistant", None)]),  # NULL content
         (2, None),                                    # NULL list
         (3, []),                                      # empty list
         (4, [("user", "fine"), ("assistant", "yes")])],
        "doc_id int, messages array<struct<role:string,content:string>>")
    out = {r.doc_id: r for r in cf.format_chat(df).collect()}
    for bad in (1, 2, 3):
        assert out[bad].text is None and out[bad].assistant_spans is None
    assert out[4].text is not None and len(out[4].assistant_spans) == 1


def test_plan_is_jvm_only(spark):
    df = spark.createDataFrame(
        [(1, [("user", "q"), ("assistant", "a")])],
        "doc_id int, messages array<struct<role:string,content:string>>")
    plan = cf.format_chat(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_loss_role_parameter(spark):
    """r7 review find: span extraction must follow the data's
    assistant-role name (ShareGPT uses human/gpt), and a loss_role
    missing from a custom template is a loud error, not an empty
    mask."""
    tpl = {"human": ("H: ", "\n"), "gpt": ("G: ", "\n"), "*": ("? ", "\n")}
    df = spark.createDataFrame(
        [(1, [("human", "q"), ("gpt", "a")])],
        "doc_id int, messages array<struct<role:string,content:string>>")
    row = cf.format_chat(df, template=tpl, loss_role="gpt").collect()[0]
    assert row.text == "H: q\nG: a\n"
    assert [(s.start, s.end) for s in row.assistant_spans] == [(8, 9)]
    with pytest.raises(ValueError, match="loss_role"):
        cf.format_chat(df, template=tpl)  # default 'assistant' absent
