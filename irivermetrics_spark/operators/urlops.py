"""URL operators for crawl-scale training-data pipelines (SURVEY
§2.12 L36) — the companion to the HTML front door: before a crawl can
be deduplicated or balanced, its URLs must be canonicalized (the same
page arrives as ``HTTP://Example.com:80/a?utm_source=feed#top`` and
``http://example.com/a``), grouped by registered domain (per-site caps,
blocklists) and filtered.

Everything here is pure-JVM column expressions (codegen'd, zero
Python, zero shuffle for the normalization itself) so the whole
surface pipelines into the parquet scan. The parsing grammar is the
RFC 3986 appendix-B regex restricted to absolute URLs with an
authority, written to behave identically under Java regex (Spark) and
RE2 (DuckDB): no lookarounds, no backrefs, anchored alternations.

Normalization spec (documented contract, applied in this order):

1. trim ASCII whitespace; valid iff ``scheme://host`` parse succeeds
   with non-empty scheme and host
2. scheme and host lowercased; single trailing dot on host dropped
3. userinfo (``user:pw@``) stripped — it is both a dedup confound and
   a PII leak
4. default ports dropped (http:80, https:443); other ports kept
5. empty path becomes ``/``; non-empty paths kept verbatim (path
   semantics are site-specific; collapsing ``//`` or decoding percent
   escapes can change the resource)
6. query: parameters split on ``&``, empty params and tracking params
   (``utm_*``, ``fbclid``, ``gclid``, …) dropped, the rest sorted
   bytewise and rejoined; an emptied query loses its ``?``
7. fragment dropped

Registered-domain extraction uses an embedded subset of the public
suffix list (the ~50 highest-traffic two-label suffixes). The rule is
the PSL rule — registrable domain = public suffix + one label — with
the subset documented as swappable for the full list at production
scale (it is a broadcast-sized table either way).

Reference: the reference engine has no web surface; this is
beyond-reference LLM-pipeline infrastructure (builder's brief).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RFC 3986 appendix B, restricted to scheme://authority forms.
# groups: 1 scheme, 2 authority, 3 path, 4 ?query, 5 #fragment
_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"

# tracking parameters dropped during normalization (lowercased name,
# full-match regex — anchored so RLIKE/regexp_matches find == match)
TRACKING_PARAM_RE = (
    r"^(utm_.*|fbclid|gclid|msclkid|yclid|igshid|mc_eid|mkt_tok"
    r"|_ga|_gl|ref|ref_src|spm|cmpid|icid)$"
)

# embedded public-suffix-list subset: two-label suffixes under which
# a THIRD label is the registrable domain. Swap for the full PSL in
# production — the lookup stays a broadcast either way.
MULTI_LABEL_SUFFIXES = [
    "ac.in", "ac.jp", "ac.uk", "co.id", "co.il", "co.in", "co.jp",
    "co.kr", "co.nz", "co.th", "co.uk", "co.za", "com.ar", "com.au",
    "com.br", "com.cn", "com.co", "com.eg", "com.hk", "com.mx",
    "com.my", "com.ng", "com.pe", "com.ph", "com.pk", "com.pl",
    "com.sa", "com.sg", "com.tr", "com.tw", "com.ua", "com.vn",
    "edu.au", "go.jp", "gov.au", "gov.br", "gov.cn", "gov.in",
    "gov.uk", "ne.jp", "net.au", "net.br", "net.cn", "net.in",
    "net.nz", "net.uk", "or.jp", "or.kr", "org.au", "org.br",
    "org.cn", "org.in", "org.nz", "org.uk", "org.za",
]


def _part(url: Column, group: int) -> Column:
    return F.regexp_extract(F.trim(url), _URL_RE, group)


def url_scheme(url: Column) -> Column:
    return F.lower(_part(url, 1))


def url_host(url: Column) -> Column:
    """Lowercased host: authority minus userinfo minus port, single
    trailing dot dropped."""
    host_port = F.regexp_replace(_part(url, 2), "^.*@", "")
    host = F.regexp_replace(host_port, ":[0-9]+$", "")
    return F.regexp_replace(F.lower(host), r"\.$", "")


def url_port(url: Column) -> Column:
    """Explicit port as a string ('' when absent)."""
    host_port = F.regexp_replace(_part(url, 2), "^.*@", "")
    return F.regexp_extract(host_port, ":([0-9]+)$", 1)


def url_path(url: Column) -> Column:
    return _part(url, 3)


def url_query(url: Column) -> Column:
    """Raw query string without the leading '?' ('' when absent)."""
    return F.regexp_replace(_part(url, 4), r"^\?", "")


# allowed host characters after lowering: DNS labels, dots, IPv6
# bracket literals. Unicode hosts must arrive punycoded (the canonical
# transport form) — a raw-unicode or embedded-whitespace host is
# flagged invalid rather than silently normalized.
_HOST_OK_RE = r"^([a-z0-9._-]+|\[[0-9a-f:.]+\])$"


def url_valid(url: Column) -> Column:
    host = url_host(url)
    return (
        url.isNotNull() & (url_scheme(url) != "") & (host != "")
        & host.rlike(_HOST_OK_RE)
    )


def _normalized_query_col(q: Column) -> Column:
    params = F.split(q, "&", -1)
    kept = F.filter(
        params,
        lambda p: (p != "")
        & ~F.substring_index(F.lower(p), "=", 1).rlike(TRACKING_PARAM_RE),
    )
    return F.array_join(F.array_sort(kept), "&")


def normalized_url(url: Column) -> Column:
    """The full canonical form per the module spec; NULL when the URL
    does not parse."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when((port == "") | default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path = url_path(url)
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    q = _normalized_query_col(url_query(url))
    q_part = F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q))
    norm = F.concat(scheme, F.lit("://"), host, port_part, path_part, q_part)
    return F.when(url_valid(url), norm)


def registered_domain(host: Column) -> Column:
    """PSL-rule registrable domain over the embedded suffix subset:
    last two labels, or last three when the last two form a known
    multi-label public suffix. IP-literal hosts pass through whole.
    NULL for empty input."""
    labels = F.split(host, r"\.", -1)
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    is_ip = host.rlike(r"^[0-9.]+$") | host.startswith("[")
    return (
        F.when(host.isNull() | (host == ""), F.lit(None).cast("string"))
        .when(is_ip | (n <= 2), F.when(n == 2, last2).otherwise(host))
        .when(last2.isin(MULTI_LABEL_SUFFIXES), last3)
        .otherwise(last2)
    )


def host_suffix_chain(host: Column) -> Column:
    """Array of every label-boundary suffix of the host
    (``a.b.co.uk`` → [a.b.co.uk, b.co.uk, co.uk, uk]) — the join key
    family for arbitrary-depth blocklists."""
    labels = F.split(host, r"\.", -1)
    n = F.size(labels)
    idx = F.sequence(F.lit(1), n)
    return F.transform(idx, lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."))


def with_url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``url_valid``, ``url_scheme``, ``url_host``, ``url_port``,
    ``url_path``, ``url_registered_domain`` and ``url_norm``. One
    projection, zero shuffle — pipelines into the scan."""
    u = F.col(url_col)
    valid = url_valid(u)
    host = F.when(valid, url_host(u))
    return df.select(
        "*",
        valid.alias("url_valid"),
        F.when(valid, url_scheme(u)).alias("url_scheme"),
        host.alias("url_host"),
        F.when(valid, url_port(u)).alias("url_port"),
        F.when(valid, url_path(u)).alias("url_path"),
        registered_domain(host).alias("url_registered_domain"),
        normalized_url(u).alias("url_norm"),
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked,
    host_col: str = "url_host",
    mode: str = "block",
) -> DataFrame:
    """Removes (``mode='block'``) or keeps (``mode='allow'``) rows whose
    host falls under any listed domain, matched at label boundaries
    (``ads.example.com`` matches a listed ``example.com``; a listed
    ``ample.com`` does NOT).

    ``blocked`` may be a Python list (embedded as a literal array —
    fine to ~thousands of entries, one codegen'd ``arrays_overlap``) or
    a single-column DataFrame (suffix-chain explode + broadcast join —
    the path for a real blocklist table). Hosts are matched lowercase.
    """
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    chain = host_suffix_chain(F.lower(F.col(host_col)))
    if isinstance(blocked, DataFrame):
        bcol = blocked.columns[0]
        dim = blocked.select(F.lower(F.col(bcol)).alias("_blocked_domain")).distinct()
        hit = (
            df.select(F.explode(chain).alias("_suffix"), *df.columns)
            .join(F.broadcast(dim), F.col("_suffix") == F.col("_blocked_domain"), "inner")
            .select(*df.columns)
            .distinct()
        )
        how = "left_anti" if mode == "block" else "left_semi"
        return df.join(hit, on=df.columns, how=how)
    lits = F.array(*[F.lit(str(b).lower()) for b in blocked])
    overlap = F.arrays_overlap(chain, lits)
    keep = ~F.coalesce(overlap, F.lit(False)) if mode == "block" else F.coalesce(
        overlap, F.lit(False)
    )
    return df.filter(keep)


def dedup_by_url(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Exact URL dedup after normalization: one row per canonical URL,
    min-id keeper (same contract as dedup.exact_duplicates). Invalid
    URLs are kept as-is (NULL norm never groups rows together)."""
    norm = normalized_url(F.col(url_col))
    tagged = df.select("*", norm.alias("_url_norm"))
    invalid = tagged.filter(F.col("_url_norm").isNull()).drop("_url_norm")
    keeper = (
        tagged.filter(F.col("_url_norm").isNotNull())
        .groupBy("_url_norm")
        .agg(F.min(id_col).alias("_keep_id"))
    )
    kept = (
        tagged.join(
            keeper,
            (tagged["_url_norm"] == keeper["_url_norm"])
            & (tagged[id_col] == keeper["_keep_id"]),
            "inner",
        )
        .select(*[tagged[c] for c in df.columns])
    )
    return kept.unionByName(invalid)


def cap_per_domain(df: DataFrame, cap: int, url_col: str = "url",
                   id_col: str = "doc_id", seed: int = 7, **kw) -> DataFrame:
    """Per-registered-domain corpus cap: deterministic seeded sample of
    at most ``cap`` rows per domain. Delegates to
    textops.cap_per_key (which auto-pre-thins hot domains) over the
    extracted registered domain; rows with no parseable domain pass
    through uncapped."""
    from irivermetrics_spark.operators import textops

    tagged = df.select(
        "*", registered_domain(F.when(url_valid(F.col(url_col)), url_host(F.col(url_col))))
        .alias("_reg_domain")
    )
    good = tagged.filter(F.col("_reg_domain").isNotNull())
    bad = tagged.filter(F.col("_reg_domain").isNull()).drop("_reg_domain")
    capped = textops.cap_per_key(
        good, key_col="_reg_domain", cap=cap, id_col=id_col, seed=seed, **kw
    ).drop("_reg_domain")
    return capped.unionByName(bad)
