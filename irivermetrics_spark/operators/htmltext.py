"""HTML -> text extraction — the crawl front door before every text
operator (VERDICT r6 missing #2). A 100 TB web corpus arrives as
markup; quality scores, dedup shingles and token budgets are all
meaningless until tags, scripts and boilerplate are stripped.

From scratch (no bs4/lxml in the sandbox, and a from-scratch parser is
the brief): a single-pass O(n) state machine tokenizes tags / comments
/ doctypes / CDATA, drops raw-text element content (script, style,
noscript, template, iframe, svg), decodes character references (named
table + decimal/hex numeric with range guards), breaks text into
blocks at block-level tags, and then applies a jusText-style
boilerplate cut: blocks dominated by anchor text (nav menus, footers,
"related links") or shorter than ``min_block_chars`` are dropped,
everything else is kept verbatim with intra-block whitespace
collapsed.

Spark shape: ONE Arrow-batched ``mapInPandas`` stage (plan-asserted in
tests) — the parser is per-document Python, which is the parallel
grain at crawl scale (same argument as the image codecs: files are
independent, executors scan linearly). Never raises: any internal
error lands in the ``html_error`` dead-letter column and the row
survives with NULL text, mirroring the codec quarantine contract.

Reference: the reference engine has no text surface; this lives on the
LLM side (SURVEY §2.12 L34). Boilerplate heuristic follows the public
jusText/trafilatura link-density idea, reimplemented.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# content of these elements is dropped wholesale (raw-text or non-content)
_DROP_CONTENT = {"script", "style", "noscript", "template", "iframe", "svg"}

# tags that terminate a text block (HTML block-level + structural)
_BLOCK_TAGS = {
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "details", "div", "dl", "dt", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hr", "html", "li", "main", "menu", "nav", "ol", "option", "p", "pre",
    "section", "select", "summary", "table", "tbody", "td", "tfoot", "th",
    "thead", "title", "tr", "ul",
}

# the common named character references (the full WHATWG table is ~2k
# names; these cover real-world crawl text — unknown names pass through
# literally, which is the lossless choice)
_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
    "nbsp": " ", "copy": "©", "reg": "®", "trade": "™",
    "mdash": "—", "ndash": "–", "hellip": "…",
    "lsquo": "‘", "rsquo": "’", "ldquo": "“",
    "rdquo": "”", "laquo": "«", "raquo": "»",
    "deg": "°", "middot": "·", "bull": "•",
    "sect": "§", "para": "¶", "plusmn": "±",
    "times": "×", "divide": "÷", "frac12": "½",
    "frac14": "¼", "sup2": "²", "sup3": "³",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedil": "ç", "uuml": "ü", "ouml": "ö",
    "auml": "ä", "szlig": "ß", "ntilde": "ñ",
    "aacute": "á", "iacute": "í", "oacute": "ó",
    "uacute": "ú", "euro": "€", "pound": "£",
    "yen": "¥", "cent": "¢", "shy": "­",
    "zwnj": "‌", "zwj": "‍",
}

def _decode_entities(s: str) -> str:
    if "&" not in s:
        return s
    out = []
    i = 0
    n = len(s)
    while True:
        j = s.find("&", i)
        if j < 0:
            out.append(s[i:])
            break
        out.append(s[i:j])
        # numeric: &#123; or &#x1F600;
        if s.startswith("#", j + 1):
            k = j + 2
            hexa = k < n and s[k] in "xX"
            if hexa:
                k += 1
            d0 = k
            digits = "0123456789abcdefABCDEF" if hexa else "0123456789"
            while k < n and s[k] in digits:
                k += 1
            if k > d0 and k - d0 <= 7:
                cp = int(s[d0:k], 16 if hexa else 10)
                if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                    out.append(chr(cp))
                    i = k + 1 if (k < n and s[k] == ";") else k
                    continue
            out.append("&")
            i = j + 1
            continue
        # named: &amp;  (semicolon required — bare ampersands are text)
        k = j + 1
        while k < n and k - j <= 10 and (s[k].isalnum()):
            k += 1
        if k < n and s[k] == ";" and s[j + 1:k] in _ENTITIES:
            out.append(_ENTITIES[s[j + 1:k]])
            i = k + 1
        else:
            out.append("&")
            i = j + 1
    return "".join(out)


def _find_tag_end(s: str, i: int) -> int:
    """Index just past the tag's '>', honouring quoted attribute values
    (so <a title="a > b"> parses as one tag). Returns len(s) if the
    tag never closes (truncated markup)."""
    n = len(s)
    quote = None
    while i < n:
        c = s[i]
        if quote is not None:
            if c == quote:
                quote = None
        elif c in "\"'":
            quote = c
        elif c == ">":
            return i + 1
        i += 1
    return n


def html_blocks(html: str) -> list[tuple[str, int]]:
    """Parse markup into text blocks. Returns ``[(block_text,
    n_anchor_chars), ...]`` with entities decoded and intra-block
    whitespace collapsed; blocks split at block-level tags. Defensive:
    consumes arbitrary garbage without raising."""
    blocks: list[tuple[str, int]] = []
    buf: list[str] = []
    anchor_chars = 0
    link_depth = 0
    i = 0
    n = len(html)
    low = None  # lowercased copy, built lazily at most once per document

    def flush():
        nonlocal anchor_chars
        text = " ".join("".join(buf).split())
        if text:
            blocks.append((text, anchor_chars))
        buf.clear()
        anchor_chars = 0

    while i < n:
        j = html.find("<", i)
        if j < 0:
            j = n
        if j > i:
            span = _decode_entities(html[i:j])
            buf.append(span)
            if link_depth > 0:
                anchor_chars += len("".join(span.split()))  # ws-free count
        if j >= n:
            break
        # markup constructs
        if html.startswith("<!--", j):
            e = html.find("-->", j + 4)
            i = n if e < 0 else e + 3
            continue
        if html.startswith("<![CDATA[", j):
            e = html.find("]]>", j + 9)
            i = n if e < 0 else e + 3
            continue
        if html.startswith("<!", j) or html.startswith("<?", j):
            i = _find_tag_end(html, j + 2)
            continue
        # tag?
        k = j + 1
        closing = k < n and html[k] == "/"
        if closing:
            k += 1
        t0 = k
        while k < n and (html[k].isalnum() or html[k] in "-:"):
            k += 1
        if k == t0:  # lone '<' — literal text
            buf.append("<")
            if link_depth > 0:
                anchor_chars += 1
            i = j + 1
            continue
        name = html[t0:k].lower()
        i = _find_tag_end(html, k)
        if not closing and name in _DROP_CONTENT:
            # skip to the matching close tag (case-insensitive); the
            # lowercased copy is built at most ONCE per document — per
            # open tag it was O(tags x doc_len) on script/style-heavy or
            # hostile markup (same quadratic class as the r7 sitemap fix)
            if low is None:
                low = html.lower()
            e = low.find("</" + name, i)
            i = n if e < 0 else _find_tag_end(html, e + 2 + len(name))
            continue
        if name == "a":
            link_depth = max(0, link_depth + (-1 if closing else 1))
        if name in _BLOCK_TAGS:
            flush()
    flush()
    return blocks


def extract_text(html: str, max_link_density: float = 0.4,
                 min_block_chars: int = 2) -> tuple[str, int, int]:
    """Extract main text from one document. Returns ``(text,
    n_blocks_kept, n_blocks_dropped)``; blocks are joined by single
    newlines. A block is boilerplate (dropped) when anchor text makes
    up more than ``max_link_density`` of its non-whitespace characters
    or it is shorter than ``min_block_chars``."""
    blocks = html_blocks(html)
    kept = []
    for text, anchor in blocks:
        solid = len("".join(text.split()))
        if solid < min_block_chars:
            continue
        if anchor / max(solid, 1) > max_link_density:
            continue
        kept.append(text)
    return "\n".join(kept), len(kept), len(blocks) - len(kept)


def with_html_text(docs: DataFrame, html_col: str = "html",
                   out_col: str = "text",
                   max_link_density: float = 0.4,
                   min_block_chars: int = 2) -> DataFrame:
    """Adds ``out_col`` (extracted text), ``html_blocks_kept``,
    ``html_blocks_dropped`` and ``html_error`` (dead-letter, NULL on
    success) in ONE mapInPandas stage. NULL markup yields NULL text
    with error 'null'; parser failures quarantine the row instead of
    failing the job."""
    clash = {out_col, "html_blocks_kept", "html_blocks_dropped",
             "html_error"} & set(docs.columns)
    if clash:
        raise ValueError(f"output columns already present: {sorted(clash)}")
    cols = list(docs.columns)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + (f", {out_col} string, html_blocks_kept int,"
         " html_blocks_dropped int, html_error string")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, keptc, dropc, errs = [], [], [], []
            for h in pdf[html_col]:
                if h is None or not isinstance(h, str):
                    texts.append(None)
                    keptc.append(None)
                    dropc.append(None)
                    errs.append("null" if h is None else
                                f"not a string: {type(h).__name__}")
                    continue
                try:
                    t, k, d = extract_text(h, max_link_density,
                                           min_block_chars)
                    texts.append(t)
                    keptc.append(k)
                    dropc.append(d)
                    errs.append(None)
                except Exception as exc:  # defensive: quarantine, never fail
                    texts.append(None)
                    keptc.append(None)
                    dropc.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            out = pdf[cols].copy()
            out[out_col] = texts
            out["html_blocks_kept"] = pd.array(keptc, dtype="Int32")
            out["html_blocks_dropped"] = pd.array(dropc, dtype="Int32")
            out["html_error"] = errs
            yield out

    return docs.mapInPandas(kernel, out_schema)
