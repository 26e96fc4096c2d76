"""C1/F3/F4 canonicalization spec tests (SURVEY §2.8; hard-part #3)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkcrawl.functions.urlnorm import canonicalize_one


CASES = [
    # fragments dropped
    ("http://a.example/p#frag", None, "http://a.example/p"),
    # scheme+host lowercased, default port stripped
    ("HTTP://A.Example:80/P", None, "http://a.example/P"),
    ("https://a.example:443/x", None, "https://a.example/x"),
    ("http://a.example:8080/x", None, "http://a.example:8080/x"),
    # empty path -> /
    ("http://a.example", None, "http://a.example/"),
    # session ids stripped from query (F3)
    ("http://a.example/p?sid=123", None, "http://a.example/p"),
    ("http://a.example/p?a=1&PHPSESSID=x&b=2", None, "http://a.example/p?a=1&b=2"),
    # ;jsessionid path param stripped (F3)
    ("http://a.example/p;jsessionid=ABC", None, "http://a.example/p"),
    ("http://a.example/p;x=1;jsessionid=ABC/q", None, "http://a.example/p;x=1/q"),
    # empty params dropped, order preserved (F4)
    ("http://a.example/p?", None, "http://a.example/p"),
    ("http://a.example/p?b=2&a=1", None, "http://a.example/p?b=2&a=1"),
    ("http://a.example/p?a=&b=2", None, "http://a.example/p?b=2"),
    # relative resolution against base (C1)
    ("/page/5", "http://h.example/section/", "http://h.example/page/5"),
    ("page/5", "http://h.example/section/", "http://h.example/section/page/5"),
    ("../up", "http://h.example/a/b/", "http://h.example/a/up"),
    ("http://abs.example/x", "http://h.example/", "http://abs.example/x"),
    # unparseable (malformed port): None, never a raised exception —
    # wild-web hrefs must cost a dropped link, not a crashed task
    ("http://a.example:badport/x", None, None),
    ("http://a.example:00;jsessionid=A", None, None),
]


@pytest.mark.parametrize("url,base,expected", CASES)
def test_canonicalize_cases(url, base, expected):
    assert canonicalize_one(url, base) == expected


def test_fast_path_rejects_trailing_newline():
    """Regression (r2 ADVICE): '$' in the fast-path regex matches before
    a trailing newline, letting 'http://h/a\\n' through unchanged while
    canonicalize_one strips it — one logical URL, two url_hash values.
    The \\Z anchor must route such rows to the slow path."""
    import pandas as pd

    from sparkcrawl.functions.urlnorm import canonicalize_series

    urls = ["http://h.example/a\n", "http://h.example/a", "http://h.example/a\nx"]
    got = list(canonicalize_series(pd.Series(urls)))
    want = [canonicalize_one(u) for u in urls]
    assert got == want
    assert got[0] == "http://h.example/a"  # newline stripped, same hash key


# userinfo, bracketed IPv6 hosts, ports, and whitespace in front of a
# query or fragment that canonicalization drops
_IDEMPOTENT_URL_RE = (
    r"(https?|HTTP)://([a-zA-Z]{1,3}(:[a-z0-9]{0,3})?@)?"
    r"([a-zA-Z]{1,8}\.example|\[(::1|2001:[dD]b8::[0-9a-f]{1,4}|FE80::[0-9A-F]{1,2})\])"
    r"(:[0-9]{0,5})?"
    r"(/[a-zA-Z0-9/_.;=%-]{0,20})?[ \t]{0,2}"
    r"(\?([a-z]{1,4}=[0-9 ]{0,2}&?|sid=[0-9]&?| )*)?"
    r"(#[a-z0-9 ]{0,5})?[ ]{0,2}"
)


@given(st.one_of(
    # the earlier generator (bare keys, empty keys, doubled '=' in the
    # query) plus the shapes above
    st.from_regex(r"http://[a-z]{1,8}\.example(:[0-9]{2,4})?/[a-zA-Z0-9/_.-]{0,20}(\?[a-z]=[0-9]&?[a-z]?=?[0-9]?)?(#[a-z0-9]{0,5})?", fullmatch=True),
    st.from_regex(_IDEMPOTENT_URL_RE, fullmatch=True),
))
@settings(max_examples=400, deadline=None)
def test_canonicalize_idempotent(url):
    """The superstep dedups on the hash of a link's canonical form and
    stores that same form, so canonicalization must be a fixed point."""
    once = canonicalize_one(url)
    assert canonicalize_one(once) == once


@pytest.mark.parametrize("url,expected", [
    ("http://a.example/ #", "http://a.example/"),
    ("http://a.example/p ?sid=1", "http://a.example/p"),
    ("http://[2001:db8::1]:8080/a", "http://[2001:db8::1]:8080/a"),
    ("http://[::1]", "http://[::1]/"),
    ("http://u:p@[FE80::1]:80/x", "http://u:p@[fe80::1]/x"),
])
def test_canonicalize_fixed_point_cases(url, expected):
    assert canonicalize_one(url) == expected
    assert canonicalize_one(expected) == expected


@given(
    st.lists(
        st.from_regex(
            r"(https?|HTTP)://[a-zA-Z0-9.\-]{1,12}(\.example)?(:[0-9]{2,4})?"
            r"(/[a-zA-Z0-9/_.~%\-]{0,16}(;jsessionid=[A-Z]{1,4})?)?"
            r"(\?[a-z]{1,4}=[0-9]{0,3})?(#[a-z0-9]{0,4})?",
            fullmatch=True,
        ),
        min_size=1, max_size=20,
    )
)
@settings(max_examples=150, deadline=None)
def test_vectorized_series_matches_scalar(urls):
    """The fast-path regex in canonicalize_series must NEVER change the
    result: batch output == per-row canonicalize_one, and the fused host
    extraction == urlsplit hostname of the canonical form."""
    import pandas as pd

    from sparkcrawl.functions.urlnorm import (
        canonicalize_series,
        host_of_canonical_series,
    )
    from urllib.parse import urlsplit

    s = pd.Series(urls)
    got = list(canonicalize_series(s))
    want = [canonicalize_one(u) for u in urls]
    assert got == want

    hosts = list(host_of_canonical_series(pd.Series(want)))
    expect = [
        (urlsplit(c).hostname or "").lower() if c is not None else None
        for c in want
    ]
    assert hosts == expect


def test_spark_udf_matches_python(spark):
    from pyspark.sql import functions as F

    from sparkcrawl.functions.urlnorm import canonicalize_udf

    urls = [u for u, b, _ in CASES if b is None]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {r["url"]: r["canon"] for r in df.withColumn("canon", canonicalize_udf(F.col("url"))).collect()}
    for u in urls:
        assert got[u] == canonicalize_one(u)


# ---------------------------------------------------------------------------
# JVM fast class (with_canonical_host) and host_of_canonical_col: the
# Catalyst expressions must reproduce canonicalize_one / urlsplit-hostname
# byte-for-byte over BOTH fast-class and slow-class inputs (slow rows of
# with_canonical_host route through the pandas UDF inside the same column,
# so the whole surface is one test).

JVM_EDGE_URLS = [
    # fast class: identity / lowercase / session-strip / fragment-strip
    "http://h.example/a",
    "http://HOST3.Example/e/5/0;jsessionid=99#top",   # the bench raw-URL shape
    "HTTPS://H.Example",                               # no path -> "/"
    "http://h.example",
    "http://h.example#frag",
    "http://h.example/;sid=ABC/x;PHPSESSID=9",
    "http://h.example/a;JSESSIONID=x;jsessionid=y/b",
    "http://h.example/a%2Fb.c_d~e-f",
    "http://h.example./a",                             # trailing-dot host
    "http://h.example/a;sid=ecar1",                    # sid= prefix, odd value
    "http://h.example/deep/.././p#f#g",                # dot-segments NOT resolved (parity)
    # slow class: must fall through to the pandas UDF, same answers
    "http://h.example/a;sidecar=1",                    # non-session ';' param
    "http://a.example:8080/x",                         # explicit port
    "http://a.example:80/x",                           # default port (stripped)
    "http://user:pw@h.example/x",                      # userinfo
    "http://h.example/p?a=1&PHPSESSID=x&b=2",          # query cleanup
    "http://h_x.example/a",                            # '_' host
    "http://h.example/a b",                            # space in path
    " http://h.example/a",                             # leading space (strip)
    "http://h.example/a\n",                            # trailing newline (r2 ADVICE class)
    "http://h.example/a#f\nx",                         # newline inside fragment
    "ftp://h.example/a",                               # non-http scheme
    "http://[::1]:80/x",                               # IPv6
    "http://a.example:badport/x",                      # unparseable -> NULL
    "",
    None,
]


def _random_fast_class_urls(n=300, seed=42):
    import random

    rng = random.Random(seed)
    toks = ["jsessionid", "PHPSESSID", "AspSessionId", "sid", "SID"]
    hostchars = "abcXYZ019.-"
    pathchars = "abcXYZ019._~%-"
    out = []
    for _ in range(n):
        scheme = rng.choice(["http", "https", "HTTP", "HttpS"])
        host = "".join(rng.choice(hostchars) for _ in range(rng.randint(1, 12)))
        parts = []
        for _seg in range(rng.randint(0, 4)):
            seg = "".join(rng.choice(pathchars) for _ in range(rng.randint(0, 6)))
            if rng.random() < 0.4:
                val = "".join(rng.choice(pathchars) for _ in range(rng.randint(0, 5)))
                seg += ";%s=%s" % (rng.choice(toks), val)
            parts.append(seg)
        path = "/" + "/".join(parts) if parts or rng.random() < 0.5 else ""
        frag = "#x%d" % rng.randint(0, 9) if rng.random() < 0.3 else ""
        out.append("%s://%s%s%s" % (scheme, host, path, frag))
    return out


def test_jvm_fast_path_matches_python(spark):
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from sparkcrawl.functions.urlnorm import with_canonical_host

    urls = JVM_EDGE_URLS + _random_fast_class_urls()
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], ["i", "url"]
    ).repartition(4)
    got = {
        r["i"]: (r["url"], r["host"])
        for r in with_canonical_host(df).collect()
    }
    for i, u in enumerate(urls):
        canon = canonicalize_one(u) if u is not None else None
        if canon is None:
            host = None
        else:
            h = urlsplit(canon).hostname
            host = h.lower() if h else ""
        assert got[i] == (canon, host), "url=%r got=%r want=%r" % (
            u, got[i], (canon, host)
        )


def test_with_canonical_host_plan_shape(spark):
    """One ArrowEvalPython (the NULL-gated slow path), zero row-at-a-time
    BatchEvalPython: the fast class must stay inside codegen."""
    from sparkcrawl.functions.urlnorm import with_canonical_host

    df = spark.createDataFrame([("http://h.example/a",)], ["url"])
    plan = with_canonical_host(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def _random_canonicalizer_inputs(n=300, seed=7):
    """Raw links with userinfo, IPv6 literals, ports, queries, fragments
    and stray whitespace — the shapes the extractor's canonicalizer
    turns into the crawl's discovered links."""
    import random

    rng = random.Random(seed)
    hosts = ["h.example", "UP.Example", "a-b.c0.example", "[::1]",
             "[2001:DB8::7]", "[fe80::1:2]", "127.0.0.1", "x_y.example"]
    out = []
    for _ in range(n):
        user = rng.choice(["", "u@", "u:p@", "U:@", "a%40b@"])
        port = rng.choice(["", "", ":80", ":443", ":8080", ":1"])
        path = rng.choice(["", "/", "/a", "/a b", "/a;x=1", "/p;jsessionid=9/q",
                           "/%7Ex", "/a:b@c"])
        query = rng.choice(["", "", "?a=1", "?sid=2", "?a=&b=2", "?q=x y"])
        frag = rng.choice(["", "", "#f", "#"])
        ws = rng.choice(["", "", " ", "\t"])
        out.append(f"{rng.choice(['http', 'HTTPS'])}://{user}"
                   f"{rng.choice(hosts)}{port}{path}{ws}{query}{frag}")
    return out


def test_host_of_canonical_col_matches_python(spark):
    """The pure-JVM host column equals urlsplit's lowercased hostname on
    raw URLs and on every canonical form canonicalize_one produces (the
    discovered-link path), with no Python lane in the plan."""
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from sparkcrawl.functions.urlnorm import host_of_canonical_col

    raw = JVM_EDGE_URLS + _random_fast_class_urls() + _random_canonicalizer_inputs() + [
        "https://h.example", "http://user@h.example/x", "HTTP://H.Example/x",
        "http://UPPER.Host/a", "http://h.example/p?q=1#f", "weird",
        "http://a@b@c.example:1/x", "//h.example/x", "1http://x.example/",
        "mailto:u@h.example", "http:\t//h.example/", "\x01 http://h.example/",
        "http://u@[FE80::1%25Eth0]:8/x", "http://h.example:8:9/", "h.example:80",
        "http://[::1",  # urlsplit raises: no oracle, but no crash either
    ]
    canon = {c for u in raw if u is not None for c in [canonicalize_one(u)] if c}
    urls = sorted(set(u for u in raw if u is not None) | canon) + [None]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["i", "url"])
    col = host_of_canonical_col(F.col("url"))
    got = {r["i"]: r["host"] for r in df.withColumn("host", col).collect()}
    checked = 0
    for i, u in enumerate(urls):
        if u is None:
            assert got[i] is None
            continue
        try:
            h = urlsplit(u).hostname
        except ValueError:
            continue
        assert got[i] == (h.lower() if h else ""), "url=%r got=%r" % (u, got[i])
        checked += 1
    assert checked == len(urls) - 2
    assert "[2001:db8::7]" in " ".join(canon)  # IPv6 literals kept bracketed
    assert "ArrowEvalPython" not in \
        df.select(col)._jdf.queryExecution().executedPlan().toString()
