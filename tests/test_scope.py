"""F2 scope filter: the codegen lane for literal patterns keeps exactly
the URLs Python ``re.search`` keeps."""

import re

import pytest
from pyspark.sql import functions as F

from sparkcrawl.functions.scope import in_scope

URLS = [
    "http://a.example/x", "https://a.example/private/x", "ftp://a.example/",
    "HTTP://A.Example/", "http", "", "xhttp://a/", "http://a/b.png",
    "http://a/\\path", "http://a/%7E;x=1", None,
]


def _python_keep(url, positive, negative):
    if url is None:
        return False
    if positive and not any(re.search(p, url) for p in positive):
        return False
    return not any(re.search(n, url) for n in negative)


@pytest.mark.parametrize("positive,negative,python_lane", [
    ((r"^http",), (), False),                       # the config default
    ((r"^https://", r"^ftp:"), (r"/private/",), False),
    ((), (r"\.png", r"\\path"), False),             # escaped punctuation
    ((r"^",), (r"%7E;x=1",), False),
    ((r"^http://[^/]*\.example/",), (), True),      # a real regex
    ((r"^http",), (r"\.png$",), True),              # '$' is not endswith
])
def test_in_scope_matches_python_re(spark, positive, negative, python_lane):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(URLS)],
                               "i int, url string")
    kept = df.select("i", in_scope(F.col("url"), positive, negative).alias("k"))
    got = {r["i"]: r["k"] for r in kept.collect()}
    assert got == {i: _python_keep(u, positive, negative)
                   for i, u in enumerate(URLS)}
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert ("ArrowEvalPython" in plan) == python_lane, plan
