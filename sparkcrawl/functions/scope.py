"""Scope filter — F2 (src/spyder/processor/scoper.py::RegexScoper).

Keep a link iff it matches at least one positive regex and no negative
regex. General patterns run as a vectorized pandas UDF because the
reference compiles Python ``re`` patterns and Java's regex dialect
differs (SURVEY F2) — byte parity of the kept-URL set matters for the
seen-set golden. Literal prefix/substring patterns stay in codegen.
"""

from __future__ import annotations

import operator
import re
from functools import reduce

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scope_filter_udf(positive: tuple[str, ...], negative: tuple[str, ...]):
    pos_src, neg_src = list(positive), list(negative)

    @F.pandas_udf(T.BooleanType())
    def _in_scope(urls: pd.Series) -> pd.Series:
        pos = [re.compile(p) for p in pos_src]
        neg = [re.compile(p) for p in neg_src]

        def ok(u: str | None) -> bool:
            if u is None:
                return False
            if pos and not any(p.search(u) for p in pos):
                return False
            return not any(n.search(u) for n in neg)

        return urls.map(ok)

    return _in_scope


# An optional leading '^' plus literal characters (a backslash-escaped
# ASCII punctuation character is literal too) means the same in Python
# re as a plain prefix or substring test — the default scope "^http" is
# one — so such patterns need no Python lane.
_LITERAL_PATTERN = re.compile(r"(\^?)((?:[A-Za-z0-9:/_~%=&,;@!'\-]|\\[!-/:-@\[-`{-~])*)\Z")


def _literal_test(url: Column, pattern: str) -> Column | None:
    m = _LITERAL_PATTERN.match(pattern)
    if m is None:
        return None
    lit = re.sub(r"\\(.)", r"\1", m.group(2))
    return url.startswith(lit) if m.group(1) else url.contains(lit)


def in_scope(url: Column, positive: tuple[str, ...], negative: tuple[str, ...]) -> Column:
    """Keep-flag column: codegen prefix/substring tests when every
    pattern is literal, else the Python ``re`` lane."""
    pos = [_literal_test(url, p) for p in positive]
    neg = [_literal_test(url, p) for p in negative]
    if any(t is None for t in pos + neg):
        return scope_filter_udf(positive, negative)(url)
    keep = reduce(operator.or_, pos) if pos else F.lit(True)
    if neg:
        keep = keep & ~reduce(operator.or_, neg)
    return F.coalesce(keep, F.lit(False))  # a NULL url is out of scope
