"""URL canonicalization — C1 + F3 (session-id strip) + F4 (query cleanup).

Re-expresses the reference's processor chain
``htmllinkextractor(urljoin) -> stripsessions -> cleanupquerystring``
(src/spyder/processor/{htmllinkextractor,stripsessions,cleanupquerystring}.py —
see SURVEY §2.8 C1) as ONE vectorized pandas UDF. The plain-Python core
(:func:`canonicalize_one`) is kept separate so golden/property tests and
the DuckDB oracle harness can call it without Spark.

Canonical form (pinned as spec by tests/golden — /root/reference was
empty at build time, SURVEY §0):
  1. resolve relative URL against base (``urllib.parse.urljoin``)
  2. drop the fragment
  3. lowercase scheme + host; strip default ports (http:80 / https:443)
  4. strip session-id path segments (``;jsessionid=...``) and query
     params whose lowercased name contains one of SESSION_TOKENS
  5. drop empty query params, preserve remaining param order
     (CleanupQueryString: strip trailing ``?``/``&``)
  6. empty path -> "/"
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# F3: reference StripSessionIds token list (SURVEY F3).
SESSION_TOKENS = ("jsessionid", "phpsessid", "aspsessionid", "sid")

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def strip_session_ids(query_pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """F3: drop params whose lowercased name contains a session token."""
    return [
        (k, v)
        for k, v in query_pairs
        if not any(tok in k.lower() for tok in SESSION_TOKENS)
    ]


def canonicalize_one(url: str, base: str | None = None) -> str | None:
    """Canonicalize a single URL (the spec; vectorized path wraps this).

    Unparseable URLs (malformed port like ``http://h:0x/``, invalid
    IPv6 brackets — things wild HTML really contains) return None, and
    every consumer filters None links: a bad href must cost one dropped
    link, never a crashed extract task."""
    if url is None:
        return None
    url = url.strip()
    try:
        if base:
            url = urljoin(base, url)
        parts = urlsplit(url)
        port = parts.port  # raises ValueError on a non-numeric port
        host = parts.hostname
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = host.lower() if host else ""
    # .hostname drops an IPv6 literal's brackets; without them the
    # output's port parse fails and a re-canonicalization returns None
    netloc = f"[{host}]" if ":" in host else host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{netloc}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    path = parts.path or "/"
    # F3 on path params: drop ;jsessionid=... style segments
    if ";" in path:
        segs = []
        for seg in path.split("/"):
            if ";" in seg:
                head, *params = seg.split(";")
                params = [
                    p
                    for p in params
                    if not any(p.lower().startswith(tok + "=") for tok in SESSION_TOKENS)
                ]
                seg = ";".join([head, *params])
            segs.append(seg)
        path = "/".join(segs)
    # F4 + F3 on the query string
    pairs = parse_qsl(parts.query, keep_blank_values=False)
    pairs = strip_session_ids(pairs)
    query = urlencode(pairs)
    # "" drops the fragment. A dropped query/fragment can leave the path
    # ending in whitespace ("http://h/ #"), which the leading strip()
    # would remove on a second pass: strip it now, so the output is a
    # fixed point and its url_hash is the one stored.
    return urlunsplit((scheme, netloc, path, query, "")).rstrip()


# Fast-path predicate: URLs canonicalize_one provably maps to themselves —
# lowercase http(s) scheme, lowercase host (no port/userinfo: ':' '@'
# excluded by the charsets), a non-empty plain path, no ';' segment
# params, no query, no fragment. Everything else takes the full parse.
# Anchored with \Z, NOT '$': '$' also matches before a single trailing
# newline, so 'http://h/a\n' would take the fast path unchanged while
# canonicalize_one strips it — one logical URL, two url_hash values.
# Equivalence is property-tested (tests/test_urlnorm.py): for any string
# matching this regex, canonicalize_one(u) == u.
_FAST_CANON_RE = re.compile(r"https?://[a-z0-9.\-]+/[A-Za-z0-9/._~%\-]*\Z")


def canonicalize_series(urls: pd.Series, bases: pd.Series | None = None) -> pd.Series:
    """Vectorized canonicalization over a pandas batch.

    Most discovered links are already canonical; one C-level regex pass
    skips the per-row urlsplit/parse/unsplit for those (the dominant
    Python cost of the per-link hot path), and only the misses take
    :func:`canonicalize_one`."""
    if bases is None:
        mask = urls.str.match(_FAST_CANON_RE, na=False)
        out = urls.copy()
        slow = ~mask
        if slow.any():
            out[slow] = urls[slow].map(
                lambda u: canonicalize_one(u) if u is not None else None
            )
        return out
    return pd.Series(
        [
            canonicalize_one(u, b) if u is not None else None
            for u, b in zip(urls, bases)
        ],
        index=urls.index,
    )


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_series(urls)


_CANON_HOST_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
    ]
)


# host of an already-CANONICAL url (lowercased netloc, optional
# userinfo/port): one vectorized regex extract; rows it can't handle
# (bracketed IPv6, no match) fall back to urlsplit.
_HOST_OF_CANON_RE = re.compile(r"^[a-z0-9+.\-]+://(?:[^/?#@]*@)?([^/?#:\[]*)")


def _host_one(u: str | None) -> str | None:
    if u is None:
        return None
    h = urlsplit(u).hostname
    return h.lower() if h else ""


def host_of_canonical_series(canon: pd.Series) -> pd.Series:
    # .str.lower() keeps the fast path correct for not-yet-canonical
    # input too (urlsplit().hostname lowercases); idempotent on
    # canonical hosts.
    hosts = canon.str.extract(_HOST_OF_CANON_RE, expand=False).str.lower()
    bad = (hosts.isna() & canon.notna()) | (hosts == "")
    if bad.any():
        hosts[bad] = canon[bad].map(_host_one)
    return hosts


@F.pandas_udf(_CANON_HOST_SCHEMA)
def canonicalize_with_host_udf(urls: pd.Series) -> pd.DataFrame:
    """Fused canonicalize + host extraction: ONE Arrow round-trip instead
    of two chained string UDFs (the hot path runs per discovered link);
    both halves are vectorized with C-level regex fast paths."""
    canon = canonicalize_series(urls)
    return pd.DataFrame({"url": canon, "host": host_of_canonical_series(canon)})


# ---------------------------------------------------------------------------
# JVM fast class: canonicalization as pure Catalyst expressions.
#
# The Python fast path above still pays the Arrow round-trip: every URL
# string is serialized to a Python worker and back even when the work per
# row is one C regex match. For the class of URLs below, canonicalization
# is expressible ENTIRELY with built-in column functions (whole-stage
# codegen, zero Python bytes moved):
#
#   scheme     http/https, any case            -> lowercased
#   authority  [A-Za-z0-9.-]+ (no port, no userinfo, no IPv6)  -> lowercased
#   path       chars from [A-Za-z0-9/._~%-], optionally interleaved with
#              ;<session-token>=<value> params (the ONLY ';' params
#              admitted — anything else falls through to Python) -> session
#              params stripped, empty path -> "/"
#   query      none admitted (parse_qsl/urlencode re-encoding is Python's)
#   fragment   #... -> dropped
#
# All quantifiers are POSSESSIVE (Java regex ++/*+): the gate runs on
# wild-HTML link strings inside executors, and the segment/param
# alternation would otherwise backtrack exponentially on adversarial
# near-misses. Anchored \z, not '$' — Java '$' shares Python's
# before-trailing-newline match (the r2 ADVICE bug class). '.' does not
# match \n/\r, so any embedded newline fails the gate into the Python
# path, which strips it exactly like canonicalize_one.
#
# Equivalence with canonicalize_one over this class is pinned by
# tests/test_urlnorm.py::test_jvm_fast_path_matches_python (handpicked
# edges + seeded random fast-class corpus, compared row-for-row).
_SESSION_PARAM_JAVA = r";(?:jsessionid|phpsessid|aspsessionid|sid)=[A-Za-z0-9._~%\-]*+"
JVM_FAST_CANON_PATTERN = (
    # \A…\z double anchor: RLIKE is Java find() — substring-match
    # semantics — so an unanchored start would match ' http://h/a'
    # from index 1 (and '$'/'\Z' alone would admit trailing newlines).
    r"(?i)\Ahttps?://[A-Za-z0-9.\-]++"
    r"(?:/(?:[A-Za-z0-9/._~%\-]++|" + _SESSION_PARAM_JAVA + r")*+)?+"
    r"(?:#.*)?\z"
)

def _jvm_canon_host_struct(u):
    """(url, host) struct for rows matched by JVM_FAST_CANON_PATTERN.

    Valid ONLY under that gate; callers wrap it in F.when(is_fast, ...).
    """
    no_frag = F.substring_index(u, "#", 1)
    scheme_auth = F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/]*", 0)
    raw_path = no_frag.substr(
        F.length(scheme_auth) + F.lit(1), F.length(no_frag)
    )
    path = F.when(raw_path == "", F.lit("/")).otherwise(
        F.regexp_replace(raw_path, "(?i)" + _SESSION_PARAM_JAVA, "")
    )
    return F.struct(
        F.concat(F.lower(scheme_auth), path).alias("url"),
        F.lower(F.regexp_extract(no_frag, r"^[A-Za-z]+://([^/]*)", 1)).alias("host"),
    )


def with_canonical_host(df, url_col: str = "url",
                        out_url: str = "url", out_host: str = "host"):
    """C1+Q2-key hot path, hybrid JVM/Python, ONE pass over the input.

    Fast-class rows are canonicalized by codegen'd column expressions;
    the pandas UDF receives NULL for them (the CASE WHEN sits INSIDE the
    UDF argument), so Arrow ships only the slow minority's string bytes
    to Python. No split/union — upstream (often a mapInPandas extractor)
    is scanned exactly once. NULL input and unparseable URLs come back
    as NULL url, exactly like canonicalize_with_host_udf alone.
    """
    u = F.col(url_col)
    is_fast = u.rlike(JVM_FAST_CANON_PATTERN)
    slow = canonicalize_with_host_udf(
        F.when(is_fast, F.lit(None).cast("string")).otherwise(u)
    )
    ch = F.when(is_fast, _jvm_canon_host_struct(u)).otherwise(slow)
    # Surface the two struct fields through inline_outer (a Generate
    # node) instead of two field-extraction projections: projection
    # collapse would inline the struct expression into BOTH extracted
    # columns, and once a downstream filter splits the consumers the
    # duplicated UDF calls get extracted into TWO ArrowEvalPython
    # nodes — double the Arrow traffic. A generator evaluates its
    # input exactly once per row (plan-gated in tests/test_plans.py).
    # inline_outer, not inline: a NULL struct must keep its row.
    keep = [c for c in df.columns if c not in (out_url, out_host)]
    return df.select(
        *keep, F.inline_outer(F.array(ch)).alias(out_url, out_host)
    )


def host_of_canonical_col(u):
    """Lowercased ``urlsplit(u).hostname`` ('' when there is none, NULL
    for NULL) in pure Catalyst expressions: no Python lane, so it stays
    inside whole-stage codegen. It mirrors urlsplit step by step: strip
    leading C0/space, drop tab/CR/LF, take an optional scheme (a letter,
    then scheme characters, up to the first ':'), then the authority
    after '//' up to the first '/', '?' or '#'; the host is what follows
    the authority's last '@', inside the first '[...]' if there is one,
    else up to the first ':'. Where urlsplit would raise (unbalanced or
    invalid IPv6 brackets) this returns that same split instead."""
    s = F.regexp_replace(F.regexp_replace(u, r"^[\x00-\x20]+", ""), r"[\t\r\n]", "")
    netloc = F.regexp_extract(s, r"^(?:[A-Za-z][A-Za-z0-9+.\-]*:)?//([^/?#]*)", 1)
    hostinfo = F.substring_index(netloc, "@", -1)
    host = F.when(
        hostinfo.contains("["), F.regexp_extract(hostinfo, r"\[([^\]]*)", 1)
    ).otherwise(F.substring_index(hostinfo, ":", 1))
    return F.lower(host)
