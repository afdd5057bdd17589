"""Portable SQL expression builders (Spark SQL + DuckDB dialects).

The driver's correctness gate runs every declared query on Spark AND
its oracle on DuckDB, comparing value hashes.  Hash-bearing operators
(MinHash, SimHash, fingerprints) therefore need *bit-identical* hash
arithmetic in both engines.  Neither engine exposes the other's native
hash (Spark: Murmur3/xxhash64; DuckDB: its own), so we use a polynomial
rolling hash over Unicode code points — pure int64 arithmetic both
engines evaluate identically (verified: no intermediate exceeds 2^63).

Every builder emits a SQL string for a given dialect; the Spark side
wraps it in ``F.expr`` so it still runs fully codegen'd on the JVM.
"""

from __future__ import annotations

import math
import re

SPARK = "spark"
DUCKDB = "duckdb"

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


def split_chars(expr: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"split({expr}, '')"
    return f"string_split({expr}, '')"


def transform(arr: str, lam: str, dialect: str) -> str:
    fn = "transform" if dialect == SPARK else "list_transform"
    return f"{fn}({arr}, {lam})"


def filter_(arr: str, lam: str, dialect: str) -> str:
    fn = "filter" if dialect == SPARK else "list_filter"
    return f"{fn}({arr}, {lam})"


def reduce_(arr: str, init: str, lam: str, dialect: str) -> str:
    """Fold with an explicit initial value.

    DuckDB's list_reduce has no init argument, so the init is prepended
    to the list — same evaluation order, same result.
    """
    if dialect == SPARK:
        return f"aggregate({arr}, {init}, {lam})"
    return f"list_reduce(list_prepend({init}, {arr}), {lam})"


def array_min(arr: str, dialect: str) -> str:
    fn = "array_min" if dialect == SPARK else "list_min"
    return f"{fn}({arr})"


def array_max(arr: str, dialect: str) -> str:
    fn = "array_max" if dialect == SPARK else "list_max"
    return f"{fn}({arr})"


def array_contains(arr: str, value: str, dialect: str) -> str:
    fn = "array_contains" if dialect == SPARK else "list_contains"
    return f"{fn}({arr}, {value})"


def sequence(lo: str, hi_inclusive: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"sequence({lo}, {hi_inclusive})"
    return f"range({lo}, ({hi_inclusive}) + 1)"


def array_join(arr: str, sep: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"concat_ws('{sep}', {arr})"
    return f"array_to_string({arr}, '{sep}')"


def slice_(arr: str, start_1based: str, length: int, dialect: str) -> str:
    if dialect == SPARK:
        return f"slice({arr}, {start_1based}, {length})"
    return f"list_slice({arr}, {start_1based}, ({start_1based}) + {length - 1})"


def size_(arr: str, dialect: str) -> str:
    fn = "size" if dialect == SPARK else "len"
    return f"{fn}({arr})"


def idiv(num: str, den: str, dialect: str) -> str:
    """Exact BIGINT floor-division of non-negative integers — the
    micro-snap for rationals whose numerator/denominator are both
    exact: no double ever exists, so no libm and no ULP divergence.
    (Spark DIV and DuckDB // both truncate; restrict to >= 0 operands
    where truncation == floor.)"""
    if dialect == SPARK:
        return f"(({num}) DIV ({den}))"
    return f"(({num}) // ({den}))"


def shiftright(expr: str, bits: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"shiftright({expr}, {bits})"
    return f"(({expr}) >> ({bits}))"


def shiftleft(expr: str, bits: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"shiftleft(CAST(1 AS BIGINT), {bits})"
    return f"(CAST(1 AS BIGINT) << ({bits}))"


# ---------------------------------------------------------------------------
# Composite builders
# ---------------------------------------------------------------------------

def poly_hash(expr: str, dialect: str) -> str:
    """Polynomial rolling hash of a string expression -> bigint in [0, P).

    h = fold(chars, 7, (acc, c) -> (acc*31 + codepoint(c)) % P)
    """
    chars = split_chars(expr, dialect)
    codes = transform(chars, "c -> CAST(ascii(c) AS BIGINT)", dialect)
    return reduce_(
        codes,
        f"CAST({POLY_INIT} AS BIGINT)",
        f"(acc, x) -> (acc * {POLY_MULT} + x) % {P}",
        dialect,
    )


def tokens(expr: str, dialect: str) -> str:
    """Lowercased whitespace tokens with empties removed.

    The whitespace class is the EXPLICIT ``PY_WS`` ASCII set, not
    ``\\s``: Java regex (Spark) \\s includes \\x0B where RE2's
    (DuckDB) does not, so '\\s+' names two different tokenizers.
    Spark SQL string literals process backslash escapes (hence the
    doubling); DuckDB's do not, RE2 sees the escapes directly."""
    if dialect == SPARK:
        arr = f"split(lower({expr}), '{_sql_escaped_ws()}')"
    else:
        arr = f"string_split_regex(lower({expr}), '{PY_WS}')"
    return filter_(arr, "t -> t != ''", dialect)


def _sql_escaped_ws() -> str:
    return PY_WS.replace("\\", "\\\\")


def word_ngrams(tokens_expr: str, n: int, dialect: str) -> str:
    """Space-joined word n-grams of a token array expression."""
    nt = size_(tokens_expr, dialect)
    idx = sequence("1", f"greatest({nt} - {n - 1}, 0)", dialect)
    gram = array_join(slice_("__t", "CAST(i AS INT)", n, dialect), " ", dialect)
    # Bind the token array once via a lambda over a 1-element wrapper is
    # clumsy in SQL; instead the caller should pass a column/CTE alias as
    # tokens_expr.  Here we inline it (both engines fold it).
    gram_inline = gram.replace("__t", tokens_expr)
    return transform(idx, f"i -> {gram_inline}", dialect)


def char_ngrams(expr: str, n: int, dialect: str) -> str:
    """Character n-gram (shingle) array of a string expression."""
    ln = f"length({expr})"
    idx = sequence("1", f"greatest({ln} - {n - 1}, 0)", dialect)
    if dialect == SPARK:
        sub = f"substring({expr}, CAST(i AS INT), {n})"
    else:
        sub = f"substr({expr}, CAST(i AS INT), {n})"
    return transform(idx, f"i -> {sub}", dialect)


def element_at_1based(arr: str, idx: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"element_at({arr}, CAST({idx} AS INT))"
    return f"{arr}[{idx}]"


def word_ngram_hashes(hashes_col: str, n: int, dialect: str) -> str:
    """n-gram hashes computed directly from a token-hash array column —
    a polynomial fold over the n token hashes instead of re-hashing the
    joined string char-by-char (10x fewer array allocations; the
    dominant cost in MinHash at scale).

    gram_hash(i) = fold over hashes[i..i+n-1] of (acc*31 + h) % P.

    Spark formulation uses zip_with over shifted slices, NOT per-index
    element_at: Catalyst's CollapseProject inlines column expressions
    into each reference, so an element_at-per-gram version recomputes
    the full token-hash array O(grams) times (measured 12x slower).
    With slices the column is referenced n+1 times total.
    """
    if dialect == SPARK:
        m = f"greatest({size_(hashes_col, dialect)} - {n - 1}, 0)"
        acc = f"transform(slice({hashes_col}, 1, {m}), x -> ((CAST({POLY_INIT} AS BIGINT) * {POLY_MULT} + x) % {P}))"
        for j in range(1, n):
            nxt = f"slice({hashes_col}, {j + 1}, {m})"
            acc = f"zip_with({acc}, {nxt}, (h, x) -> ((h * {POLY_MULT} + x) % {P}))"
        return acc
    expr = f"CAST({POLY_INIT} AS BIGINT)"
    for j in range(n):
        at = element_at_1based(hashes_col, f"i + {j}", dialect)
        expr = f"((({expr}) * {POLY_MULT} + {at}) % {P})"
    nt = size_(hashes_col, dialect)
    idx = sequence("1", f"greatest({nt} - {n - 1}, 0)", dialect)
    return transform(idx, f"i -> {expr}", dialect)


def _perm_constants(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal-hash family
    h_i(x) = (a_i * x + b_i) mod P.  Constants are fixed (seeded by i),
    identical on both sides by construction."""
    out = []
    for i in range(n_hashes):
        a = (2_654_435_761 * (i + 1) + 1) % P
        b = (40_503 * (i + 1) + 17) % P
        out.append((a or 1, b))
    return out


def hash_array(grams_expr: str, dialect: str) -> str:
    """Map a string-array expression to its polynomial-hash array."""
    return transform(grams_expr, f"g -> {poly_hash('g', dialect)}", dialect)


def minhash_from_hashes(hashes_expr: str, n_hashes: int, dialect: str) -> str:
    """MinHash signature array<bigint>[n_hashes] over a *precomputed*
    hash-array expression (pass a column name so the base hashes are
    computed once, not once per slot)."""
    slots = []
    for a, b in _perm_constants(n_hashes):
        permuted = transform(hashes_expr, f"h -> (h * {a} + {b}) % {P}", dialect)
        slots.append(array_min(permuted, dialect))
    if dialect == SPARK:
        return "array(" + ", ".join(slots) + ")"
    return "[" + ", ".join(slots) + "]"


def minhash_signature(grams_expr: str, n_hashes: int, dialect: str) -> str:
    """MinHash signature over a gram-array expression.

    base = poly_hash(gram); sig[i] = min over grams of (a_i*base+b_i)%P.
    Empty gram arrays produce nulls in every slot (callers filter).
    Prefer minhash_from_hashes with a materialized hash column when the
    expression is evaluated per-row at scale.
    """
    return minhash_from_hashes(hash_array(grams_expr, dialect), n_hashes, dialect)


def simhash_from_hashes(hashes: str, bits: int, dialect: str) -> str:
    """SimHash over a *precomputed* hash-array expression using `bits`
    bits (<= 30 keeps the per-bit vote sums comfortably in int64).

    bit j set iff sum over tokens of (2*((h>>j)&1) - 1) > 0.
    """
    terms = []
    for j in range(bits):
        vote = reduce_(
            hashes,
            "CAST(0 AS BIGINT)",
            f"(acc, h) -> acc + (2 * ({shiftright('h', str(j), dialect)} & 1) - 1)",
            dialect,
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {shiftleft('1', str(j), dialect)} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash64(tokens_expr: str, bits: int, dialect: str) -> str:
    """SimHash of a token-array expression (hashes computed inline —
    prefer simhash_from_hashes with a materialized hash column)."""
    return simhash_from_hashes(hash_array(tokens_expr, dialect), bits, dialect)


def round6(expr: str, dialect: str) -> str:
    """Engine-independent 6-decimal rounding: floor(x*1e6 + 0.5)/1e6.

    round() differs at exact halves (Spark HALF_UP vs DuckDB half-even);
    this formula is the same double arithmetic in both engines.

    Spark floor(double) returns BIGINT and `1000000.0` parses as a
    DECIMAL literal, so the division must be forced back to double or
    the result comes out DECIMAL (different canonical form than the
    oracle's double).
    """
    return f"(CAST(floor(({expr}) * 1000000.0 + 0.5) AS DOUBLE) / CAST(1000000.0 AS DOUBLE))"


def vec_csv6(arr: str, dialect: str) -> str:
    """Serialize a double array as comma-joined fixed '%.6f' strings.

    Gate-facing queries must not return raw array columns (the driver's
    pandas canonicalizer cannot sort/hash list values), so vectors are
    emitted as a deterministic string.  Each element is first stabilized
    with :func:`round6` (identical double arithmetic both engines), after
    which the value is never an exact decimal half at 6 places, so Java's
    HALF_UP ``format_string`` and C's round-to-nearest ``printf`` print
    the same text.
    """
    item = round6("CAST(x AS DOUBLE)", dialect)
    if dialect == SPARK:
        strs = f"transform({arr}, x -> format_string('%.6f', {item}))"
    else:
        strs = f"list_transform({arr}, x -> printf('%.6f', {item}))"
    return array_join(strs, ",", dialect)


def dot_double(a: str, b: str, dialect: str) -> str:
    """Element-wise double-precision dot product of two float arrays.

    DuckDB's list_dot_product computes in float32 — NOT used; both sides
    cast each element to double and fold in array order, giving
    bit-identical sums.
    """
    if dialect == SPARK:
        prods = f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    else:
        prods = transform(
            f"list_zip({a}, {b})",
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)",
            dialect,
        )
    return reduce_(prods, "CAST(0.0 AS DOUBLE)", "(s, x) -> s + x", dialect)


def sq_l2_q6(a: str, b: str, dialect: str, guard: bool = True) -> str:
    """EXACT-BIGINT squared L2 distance between two float arrays after
    micro-quantization: each element snaps to FLOOR(x*1e6 + 0.5), the
    squared differences sum as BIGINTs — an order-independent,
    engine-exact distance for ranking (ties then break on an id).

    Overflow bound: a quantized element is about |x|*1e6, a squared
    diff up to (2*|x|max*1e6)^2, and dim of them sum — safe iff
    dim * (2e6*|x|max)^2 < 2^63, i.e. |x|max <= sqrt(2^63/dim)/2e6:
    ~33.5 at dim 2048, ~190 at dim 64.  (The earlier claim that
    |elem| < 1e3 was safe at dim 2048 was WRONG — that input wraps
    silently in non-ANSI Spark.)  With ``guard`` (default), the
    Spark-dialect expression raise_errors on any |elem| > 33 instead
    of wrapping; the DuckDB twin stays unguarded — it is an oracle
    replay over the same (already-guarded) in-bound data, and equal
    RESULTS are the contract, not equal SQL.  Embedding callers
    (operators/valuation.py KNN-Shapley, the round-12 distance
    queries) feed unit-scale vectors, far inside the bound.
    """
    q = "CAST(FLOOR(CAST({v} AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
    if dialect == SPARK and guard:
        q = (
            "IF(abs(CAST({v} AS DOUBLE)) <= 33.0D, " + q + ", "
            "CAST(raise_error('sq_l2_q6: |elem| > 33 would overflow "
            "BIGINT at dim 2048') AS BIGINT))"
        )
    qa, qb = q.format(v="x"), q.format(v="y")
    if dialect == SPARK:
        diffs = f"zip_with({a}, {b}, (x, y) -> ({qa}) - ({qb}))"
    else:
        qa = q.format(v="p[1]")
        qb = q.format(v="p[2]")
        diffs = transform(
            f"list_zip({a}, {b})", f"p -> ({qa}) - ({qb})", dialect
        )
    return reduce_(
        diffs, "CAST(0 AS BIGINT)", "(s, d) -> s + d * d", dialect
    )
