"""URL canonicalization, SURT keys and the oracle's XXH64 (SURVEY §2.I F5 + §7 M4).

The reference extracts hostnames with a WHATWG parser
(/root/reference/internal/warc/metadata_helpers.go:49-56, with
``--lax-host-parsing`` at cmd/internal/flag/warcrecordoptions_flags.go:22-24).
The frontier (north rule) additionally needs a *canonical* URL and a
SURT-style sort/partition key.

Canonicalization spec (every implementation here agrees with it on every
input, backslashes included; the tests fuzz all four against each other):

1. trim; only ``http``/``https`` schemes are crawlable -> others yield NULL;
   scheme-relative ``//host/..`` and bare ``host/path`` get ``http://``.
2. scheme and host lowercased; userinfo stripped; trailing ``.`` in host
   stripped; default ports (http:80 / https:443) removed.
3. fragment removed; empty path -> ``/``.
4. query params split on ``&``, empties dropped, sorted lexicographically,
   rejoined; an empty query drops its ``?``.
5. ``url_canon = scheme://host[:port]path[?query]``
6. ``surt = rev(host labels, ',') + ')' + path [+ '?' + query]`` — scheme
   dropped so http/https collapse, matching SURT practice.

Implementations:

- ``_STAGES`` — the production spec, written once as ordered JVM column
  stages (builtin expressions, whole-stage codegen). ``with_canonical``
  applies them as successive projections: the staged JVM parse the
  frontier and the bench.py kernel run, once per row. ``canonicalize_url``,
  ``surt_key`` and ``canonical_parts`` are the same stages substituted
  into one nested Column, for select lists (the registry, ``ls``).
- ``canonicalize_url_arrow`` — the same spec as an Arrow-batched pandas
  UDF, kept as the A/B candidate for the frontier's parse.
- ``canonicalize_py`` — the pure-Python oracle used by the sequential
  crawl oracle.

``xxhash64_py`` is a pure-Python XXH64 (seed 42) used by the sequential
parity oracle and tested to match Spark's builtin ``xxhash64`` bit-for-bit.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*):"
_AUTH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def _with_scheme(c: Column) -> Column:
    """Ensure an explicit scheme so the component regexes apply.

    startswith('//') not rlike('^//'): byte-scan intrinsic, no
    Pattern.matcher allocation (r4 A/B, BENCH/ab_parse.json)."""
    t = F.trim(c)
    return (
        F.when(t.startswith("//"), F.concat(F.lit("http:"), t))
        .when(t.rlike(_SCHEME_RE), t)
        .otherwise(F.concat(F.lit("http://"), t))
    )


# The JVM spec, written once: ordered stages, each mapping new column
# names to expressions over the input URL ("_in") and earlier stages'
# columns, read through ``c`` (name -> Column). ``with_canonical`` applies
# the stages as successive projections; the Column builders substitute
# them into one nested tree. Byte-scan ``substring_index`` replaces a regex
# wherever it is equivalent (r4 A/B `jvm_intrinsics`: +34% on 4 cores, +21%
# on 16 over the all-regex chain, fuzz-verified bit-identical):
# - scheme: after ``_with_scheme`` the FIRST ':' always terminates the
#   scheme (scheme chars exclude ':'), so no anchor regex is needed;
# - userinfo strip: segment after the LAST '@' == greedy ``^.*@`` strip;
# - host: prefix before the first ':' == ``^([^:]*)``.
# The auth/path/query extractions stay compiled regexes: the r2 shootout
# showed chains of many allocating intrinsics LOSE to few compiled regex
# passes. sort_array/array_remove, NOT array_sort/filter-with-lambda:
# lambda higher-order functions are CodegenFallback (interpreted eval).
# ``(?d)`` (UNIX_LINES) gives Java's ``$`` Python's meaning, end or before
# a final "\n": Java's own ``$`` also matches before a final "\r", U+0085,
# U+2028 or U+2029, so the JVM took ``http://f\x85`` for a crawlable host.
# Digits are ``[0-9]``: Python's ``\d`` also matches non-ASCII digits.
_STAGES = (
    lambda c: {"_u": _with_scheme(c("_in"))},
    lambda c: {
        "_scheme": F.lower(F.substring_index(c("_u"), ":", 1)),
        "_hp": F.substring_index(F.regexp_extract(c("_u"), _AUTH_RE, 1), "@", -1),
        "_path": F.regexp_extract(c("_u"), _PATH_RE, 1),
        "_query": F.sort_array(
            F.array_remove(F.split(F.regexp_extract(c("_u"), _QUERY_RE, 1), "&"), "")
        ),
    },
    lambda c: {
        "_host": F.lower(F.regexp_replace(F.substring_index(c("_hp"), ":", 1), r"(?d)\.$", "")),
        "_port": F.regexp_extract(c("_hp"), r"(?d):([0-9]+)$", 1),
    },
    lambda c: {
        "_ok": c("_scheme").isin("http", "https")
        & (c("_host") != "")
        & c("_host").rlike(r"(?d)^[a-z0-9.\-]+$"),
        "_portpart": F.when(
            (c("_port") == "")
            | ((c("_scheme") == "http") & (c("_port") == "80"))
            | ((c("_scheme") == "https") & (c("_port") == "443")),
            F.lit(""),
        ).otherwise(F.concat(F.lit(":"), c("_port"))),
        "_tail": F.concat(
            F.when(c("_path") == "", F.lit("/")).otherwise(c("_path")),
            F.when(F.size(c("_query")) > 0, F.concat(F.lit("?"), F.array_join(c("_query"), "&")))
            .otherwise(F.lit("")),
        ),
    },
    lambda c: {
        "url_canon": F.when(
            c("_ok"), F.concat(c("_scheme"), F.lit("://"), c("_host"), c("_portpart"), c("_tail"))
        ),
        "surt": F.when(
            c("_ok"),
            F.concat(
                F.array_join(F.reverse(F.split(c("_host"), r"\.")), ","),
                c("_portpart"), F.lit(")"), c("_tail"),
            ),
        ),
        "host": F.when(c("_ok"), c("_host")),
    },
)


def with_canonical(df: DataFrame, url: Column | str) -> DataFrame:
    """``df`` plus url_canon, surt and host per the module spec, keeping
    only the crawlable rows: the frontier's parse, once per row.

    Each stage is its own projection. A nested Column is a tree to
    Catalyst, so every consumer gets its own copy of the parse, and a
    null filter on its output is pushed below the projection with the
    whole parse inlined: the fused codegen method then outgrows HotSpot's
    8,000-byte JIT limit and runs interpreted. Staged, ``CollapseProject``
    keeps an expensive column with several consumers in its own
    projection. Rows are dropped by exploding a 0-or-1 element array on
    ``_ok``, not by a Filter: Catalyst would push a Filter below the
    stages, inlining ``_ok``'s subtree (the authority regex included).
    """
    src = F.col(url) if isinstance(url, str) else url
    stages = (_STAGES[0](lambda _: src), *_named_stages())
    for cols in stages:
        df = df.withColumns(cols)
    return df.drop("_keep", *[name for cols in stages[:-1] for name in cols])


@functools.cache
def _named_stages() -> tuple[dict[str, Column], ...]:
    """The stages after the first, over column names, the last one with
    the ``_keep`` explode. They do not depend on the input, so they are
    built once per process: each Column is a py4j round trip, and
    rebuilding them took ~70 ms per parse (warm local[2], 4 cores)."""
    stages = [stage(F.col) for stage in _STAGES[1:]]
    keep = F.explode(F.when(F.col("_ok"), F.array(F.lit(True))))
    return (*stages[:-1], {"_keep": keep, **stages[-1]})


def _canonical_fields(url: Column | str) -> dict[str, Column]:
    """url_canon, surt and host per the module spec, each NULL for a
    non-http(s) or hostless URL: ``_STAGES`` substituted into one tree.

    The public builders take the fields they need from here rather than
    indexing the canonical_parts struct: both give the same optimized
    plan, but analysis and optimization walk the unpruned struct first,
    which added ~20 ms of planning per select (surt_key plus a null
    filter, warm local[2] session on 4 cores: 0.047 -> 0.070 s).
    """
    env = {"_in": F.col(url) if isinstance(url, str) else url}
    for stage in _STAGES:
        env.update(stage(env.__getitem__))
    return env


def canonical_parts(url: Column | str) -> Column:
    """Struct<url_canon, surt, host> per the module spec, all NULL for a
    non-http(s) or hostless URL."""
    f = _canonical_fields(url)
    return F.struct(*[f[name].alias(name) for name in ("url_canon", "surt", "host")])


def canonicalize_url(url: Column | str) -> Column:
    """Canonical URL per the module spec; NULL for non-http(s)/hostless."""
    return _canonical_fields(url)["url_canon"]


def surt_key(url: Column | str) -> Column:
    """SURT-style key: ``com,example)/path?query`` (scheme dropped)."""
    return _canonical_fields(url)["surt"]


# ---------------------------------------------------------------------------
# Arrow-batched path (pandas UDF, vectorized str ops)
# ---------------------------------------------------------------------------


def _canonicalize_pd_strict(s: pd.Series) -> pd.Series:
    """Spec-exact vectorized canonicalization: reproduces the JVM column
    chain (and canonicalize_py) bit-for-bit on EVERY input, including the
    component-regex quirks — userinfo strips greedily to the LAST ``@``,
    the query is the first ``?`` ANYWHERE (even after a ``#``), a port is
    only digits running to the end of the authority. One multi-group
    extract for scheme/auth/path + short vectorized passes over the
    authority — the Arrow-side step-1 candidate (A/B: BENCH/ab_parse.json).
    """
    t = s.fillna("").str.strip(" ")  # ASCII space only = Spark trim()
    has_scheme = t.str.match(_SCHEME_RE)
    protocol_rel = t.str.match(r"^//")
    t = t.mask(protocol_rel, "http:" + t)
    t = t.mask(~has_scheme & ~protocol_rel, "http://" + t)
    m = t.str.extract(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://([^/?#]*)([^?#]*)")
    scheme = m[0].str.lower().fillna("")
    auth = m[1].fillna("")
    hostport = auth.str.replace(r"^.*@", "", regex=True)  # greedy: last @
    host = (
        hostport.str.split(":", n=1).str[0].str.lower()
        .str.replace(r"\.$", "", regex=True)
    )
    port = hostport.str.extract(r":([0-9]+)$")[0].fillna("")
    port = port.mask(
        ((scheme == "http") & (port == "80")) | ((scheme == "https") & (port == "443")),
        "",
    )
    path = m[2].fillna("")
    path = path.mask(path == "", "/")
    query = t.str.extract(_QUERY_RE)[0].fillna("")  # re.search semantics
    qsorted = query.str.split("&").map(
        lambda xs: "&".join(sorted(x for x in xs if x)) if isinstance(xs, list) else ""
    )
    canon = (
        scheme + "://" + host
        + (":" + port).where(port != "", "")
        + path
        + ("?" + qsorted).where(qsorted != "", "")
    )
    ok = scheme.isin(["http", "https"]) & (host != "") & host.str.match(r"^[a-z0-9.\-]+$")
    return canon.where(ok, None)


@F.pandas_udf(T.StringType())
def canonicalize_url_arrow(s: pd.Series) -> pd.Series:
    """Spec-exact Arrow-batched canonicalization (_canonicalize_pd_strict):
    bit-identical to the JVM ``canonicalize_url`` on every input
    (property-fuzzed incl. backslashes), but one multi-group extract +
    short authority passes instead of the ~10 per-component JVM regex
    evaluations — BENCH/ab_parse.json decides which one step-1 uses."""
    return _canonicalize_pd_strict(s)


# ---------------------------------------------------------------------------
# Pure-Python XXH64 (seed 42) — the oracle's hash; matches Spark's xxhash64.
# Implemented from the public xxHash spec (github.com/Cyan4973/xxHash).
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, val: int) -> int:
    acc = (acc + val * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxhash64_py(data: bytes | str, seed: int = 42) -> int:
    """XXH64 as a *signed* int64, matching Spark's ``xxhash64`` on strings."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1, v2, v3, v4 = (seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge(_merge(_merge(_merge(h, v1), v2), v3), v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------------------
# Pure-Python canonicalization — the sequential oracle's twin of
# canonicalize_url/surt_key. Must match the JVM implementation exactly.
# ---------------------------------------------------------------------------


def canonicalize_py(url: str | None) -> tuple[str, str, str] | None:
    """Returns (url_canon, surt, host) or None for non-crawlable URLs."""
    if not url:
        return None
    import re as _re

    t = url.strip(" ")  # ASCII space only = Spark trim() semantics
    if t.startswith("//"):
        t = "http:" + t
    elif not _re.match(_SCHEME_RE, t):
        t = "http://" + t
    m = _re.match(_SCHEME_RE, t)
    scheme = m.group(1).lower() if m else ""
    m = _re.match(_AUTH_RE, t)
    auth = m.group(1) if m else ""
    hostport = _re.sub(r"^.*@", "", auth)
    hm = _re.match(r"^([^:]*)", hostport)
    host = _re.sub(r"\.$", "", (hm.group(1) if hm else "").lower())
    pm = _re.search(r":([0-9]+)$", hostport)
    port = pm.group(1) if pm else ""
    if (scheme == "http" and port == "80") or (scheme == "https" and port == "443"):
        port = ""
    m = _re.match(_PATH_RE, t)
    path = m.group(1) if m else ""
    if path == "":
        path = "/"
    m = _re.search(_QUERY_RE, t)
    query = m.group(1) if m else ""
    query = "&".join(sorted(x for x in query.split("&") if x))
    if scheme not in ("http", "https") or not host or not _re.match(r"^[a-z0-9.\-]+$", host):
        return None
    portpart = f":{port}" if port else ""
    qpart = f"?{query}" if query else ""
    canon = f"{scheme}://{host}{portpart}{path}{qpart}"
    surt = ",".join(reversed(host.split("."))) + portpart + ")" + path + qpart
    return canon, surt, host

