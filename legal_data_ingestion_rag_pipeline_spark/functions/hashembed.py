"""The docket product's hash embedding, as Spark SQL text.

``plans.rag.HashEmbedder`` wraps these strings in ``F.expr`` for the
corpus side, and embeds the query with :func:`hash_embed`, the same
arithmetic in Python.  The registry's two-dialect builders
(``functions.portable``) emit exactly these strings for Spark, so the
DuckDB oracle checks the SQL the product runs.
"""

from __future__ import annotations

import math
import re

#: Modulus for all polynomial hashing: largest prime < 2^30 squared is
#: safe; we use the classic 1e9+7.  a*h+b with a,h < P stays < ~1e18 < 2^63.
P = 1_000_000_007
POLY_INIT = 7
POLY_MULT = 31

#: Python-twin whitespace, pinned to what BOTH SQL engines' `\s`
#: means: Java regex (Spark) \s = [ \t\n\x0B\f\r]; RE2 (DuckDB) \s is
#: the same ASCII class.  Python's re is Unicode-aware — its \s also
#: matches \x1c-\x1f (including the \x1f pair-encoding SEP!) and
#: Unicode spaces (\xa0,  , ...), so a twin using r"\s+" would
#: tokenize differently from the engines on such characters.  Every
#: sparkless twin splits on THIS pattern.
PY_WS = "[ \\t\\n\\x0b\\f\\r]+"

#: PY_WS inside a Spark SQL string literal, whose parser consumes one
#: level of backslash escapes.
_SQL_WS = PY_WS.replace("\\", "\\\\")


def hash_embed(text: str, dim: int) -> list[float]:
    """Unit-normalized bag-of-token-hash embedding of one string — the
    Python twin of ``plans.rag.HashEmbedder.embed`` (and the registry's
    RAG oracle), bit-equal to both.

    Tokens are ``lower(text)`` split on :data:`PY_WS` with empties
    dropped; each token folds its code points into a :func:`poly_hash`
    value, slot ``h % dim`` counts the tokens landing there, and the
    counts divide by ``sqrt`` of their fold-left sum of squares (the
    :func:`dot_double` order).  No tokens -> the all-zero vector.
    """
    v = [0.0] * dim
    for tok in re.split(PY_WS, text.lower()):
        if not tok:
            continue
        h = POLY_INIT
        for c in tok:
            h = (h * POLY_MULT + ord(c)) % P
        v[h % dim] += 1.0
    s = 0.0
    for x in v:
        s = s + x * x
    if s == 0.0:
        return v
    n = math.sqrt(s)
    return [x / n for x in v]


def poly_hash(expr: str) -> str:
    """Polynomial rolling hash of a string expression -> bigint in [0, P).

    h = fold(chars, 7, (acc, c) -> (acc*31 + codepoint(c)) % P)
    """
    codes = f"transform(split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))"
    return (
        f"aggregate({codes}, CAST({POLY_INIT} AS BIGINT), "
        f"(acc, x) -> (acc * {POLY_MULT} + x) % {P})"
    )


def tokens(expr: str) -> str:
    """Lowercased :data:`PY_WS` tokens with empties removed."""
    return f"filter(split(lower({expr}), '{_SQL_WS}'), t -> t != '')"


def hash_array(grams_expr: str) -> str:
    """Map a string-array expression to its polynomial-hash array."""
    return f"transform({grams_expr}, g -> {poly_hash('g')})"


def dot_double(a: str, b: str) -> str:
    """Dot product of two float arrays, each element cast to double and
    the products folded left in array order."""
    prods = f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    return f"aggregate({prods}, CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
