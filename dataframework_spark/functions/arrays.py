"""Vector / token expression helpers used by similarity, dedup, and text ops.

Every helper comes in two flavors that MUST stay semantically identical:

* a Spark ``Column``/SQL-expression builder (JVM-side, whole-stage-codegen
  friendly — no Python UDFs anywhere in these hot paths), and
* a DuckDB SQL fragment builder used to assemble the oracle strings.

The reference has no vector math beyond NumPy means
(``/root/reference/DFW/preprocess.py:76-84``); these exist for the
north-star LLM-pipeline operators (SURVEY.md §2.10).

Key hashing lives here and nowhere else in the engine: the seeded
md5-prefix id (:func:`tid_sql` / :func:`duck_tid_sql`), the 64-bit shingle
fold (:func:`fold_keys`) and the normalized-text fingerprint
(:func:`text_fp` / :data:`DUCK_TEXT_FP_SQL`) are the only declarations of
how a key becomes an integer or a digest; ``tests/test_source_policy.py``
fails if an operator spells one out again.

Scale notes: all expressions are per-row (narrow) — they vectorize inside
codegen and never shuffle.  Cosine over ``array<float>`` is computed in
double on both engines so the oracle hash cannot be flipped by f32 noise.
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization (documents.text → array<string>)
# ---------------------------------------------------------------------------

#: Spark SQL fragment: whitespace tokens of a trimmed text column.
TOKENS_SQL = r"split(trim(text), '\\s+')"

#: DuckDB twin of :data:`TOKENS_SQL`.
DUCK_TOKENS_SQL = r"regexp_split_to_array(trim(text), '\s+')"


def tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def shingles_sql(toks_sql: str, n: int = 3) -> str:
    """Spark SQL: distinct word n-gram shingles of a token-array expression.

    Pure array expression (``sequence`` + ``transform`` stay inside
    codegen); nothing leaves the row, so cost is linear in tokens per doc.
    ``array_join(slice(...))`` measures ~2.6× faster than the
    ``concat_ws(element_at...)`` formulation (one array op per shingle vs
    n interpreted lookups).  The ``size < n`` guard matters because
    Spark's ``sequence(1, 0)`` produces a *descending* range rather than
    an empty one.
    """
    return (
        f"case when size({toks_sql}) < {n} then array() "
        f"else array_distinct(transform(sequence(1, size({toks_sql}) - {n - 1}), "
        f"i -> array_join(slice({toks_sql}, i, {n}), ' '))) end"
    )


def ordered_pairs(arr: str, a: str, b: str) -> Column:
    """Every ``i < j`` pair of the array column ``arr`` as
    ``array<struct<a, b>>``, expanded inside the row (nested
    ``sequence``/``transform``: no join, no exchange).  On a sorted,
    distinct array each pair comes out once with ``a < b``.  Callers
    explode it over rows with ``size(arr) >= 2``: at size 1 Spark's
    ``sequence(1, 0)`` runs descending."""
    return F.expr(
        f"flatten(transform(sequence(1, size({arr}) - 1), "
        f"i -> transform(sequence(i + 1, size({arr})), "
        f"j -> struct(element_at({arr}, i) as {a}, element_at({arr}, j) as {b}))))"
    )


def duck_shingles_sql(toks_sql: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles_sql` (1-based list indexing)."""
    parts = " || ' ' || ".join(f"({toks_sql})[i + {k}]" for k in range(n))
    return (
        f"case when len({toks_sql}) < {n} then [] "
        f"else list_distinct(list_transform(generate_series(1, len({toks_sql}) - {n - 1}), "
        f"i -> {parts})) end"
    )


# ---------------------------------------------------------------------------
# Key hashing (key → bounded bigint or digest, identical on both engines)
# ---------------------------------------------------------------------------

# MinHash/SimHash need an integer id per shingle/token.  A dictionary
# (global row_number over the distinct vocabulary) is a single-partition
# sort of the whole corpus vocabulary — the r1 scale-killer.  Instead both
# engines hash the term directly: the first 15 hex digits of md5 (60 bits,
# < int64), optionally reduced mod a caller-chosen modulus.  Collisions
# (~|V|²/2m) map the SAME term to the SAME id on both engines, so oracles
# stay exact; for signature math a rare shared id merely perturbs one
# minhash slot.  The same id, salted, is every seeded split, sample and
# synthetic key in the engine.


def _key_parts(parts: tuple[str, ...], cast: str) -> list[str]:
    # a quoted salt literal ('cms', '31:') goes in as is; any other part is
    # a SQL expression, cast to string
    def is_salt(p: str) -> bool:
        return p[0] == p[-1] == "'" and "'" not in p[1:-1]

    return [p if is_salt(p) else cast.format(p) for p in parts]


def tid_sql(*parts: str, mod: int | None = None) -> str:
    """Spark SQL: the seeded md5-prefix id of the key ``parts``
    concatenated, a bigint in ``[0, 2^60)``, or in ``[0, mod)`` with a
    modulus.  A part is a salt literal (``"'cms'"``) or a SQL expression,
    cast to string; a NULL part gives a NULL id (``concat``)."""
    key = ", ".join(_key_parts(parts, "cast({} as string)"))
    if len(parts) > 1:
        key = f"concat({key})"
    h = f"cast(conv(substring(md5({key}), 1, 15), 16, 10) as bigint)"
    return h if mod is None else f"{h} % {mod}"


def duck_tid_sql(*parts: str, mod: int | None = None) -> str:
    """DuckDB twin of :func:`tid_sql` (hex-literal cast instead of conv;
    ``||`` is NULL when a part is)."""
    key = " || ".join(_key_parts(parts, "CAST({} AS VARCHAR)"))
    h = f"CAST('0x' || substr(md5({key}), 1, 15) AS BIGINT)"
    return h if mod is None else f"{h} % {mod}"


def fold_keys(arr: str) -> str:
    """Spark SQL: an array of string keys folded to 64-bit ``xxhash64`` ids
    inside the row, so exchanges and exact set intersections run on 8-byte
    longs.  The one place the fold width is set (collision budget:
    ``SCALE.md``, 64-bit key-folding).  DuckDB has no twin: the oracles
    compare the key strings themselves."""
    return f"transform({arr}, x -> xxhash64(x))"


# The fingerprint's whitespace class and case fold, spelled so both engines
# read them alike: Java's ``\s`` matches U+000B and RE2's does not, and the
# two ``lower`` functions differ on ``İ`` and a final ``Σ``.
_FP_SPACE = r"[\t\n\x0B\f\r ]+"
_UPPER, _LOWER = string.ascii_uppercase, string.ascii_lowercase


def text_fp() -> Column:
    """Spark: the exact-dup fingerprint — md5 of ``text`` with every run of
    ASCII whitespace (tab, LF, VT, FF, CR, space) collapsed to one space,
    trimmed, and ASCII letters A-Z folded to a-z; every other character,
    non-ASCII letters and spaces included, is kept as is."""
    return F.md5(F.translate(F.trim(F.regexp_replace("text", _FP_SPACE, " ")), _UPPER, _LOWER))


#: DuckDB twin of :func:`text_fp`.
DUCK_TEXT_FP_SQL = (
    f"md5(translate(trim(regexp_replace(text, '{_FP_SPACE}', ' ', 'g')), '{_UPPER}', '{_LOWER}'))"
)


# ---------------------------------------------------------------------------
# Vector math (embeddings.embedding: array<float>)
# ---------------------------------------------------------------------------


def as_double(col: str = "embedding") -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def dot_sql(a: str, b: str) -> str:
    """Spark SQL: dot product of two array<double> expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def cosine_sql(a: str, b: str) -> str:
    """Spark SQL: cosine similarity of two array<double> expressions."""
    na = f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"
    nb = f"sqrt(aggregate({b}, 0D, (acc, v) -> acc + v * v))"
    return f"({dot_sql(a, b)}) / (({na}) * ({nb}))"


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def norm_sql(a: str) -> str:
    """Spark SQL: L2 norm of an array<double> expression — the exact
    per-side subexpression of :func:`cosine_sql`."""
    return f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"


def cosine_prenorm_sql(a: str, b: str, na: str, nb: str) -> str:
    """Spark SQL: cosine similarity with the two norms PRECOMPUTED
    (``na``/``nb`` are column names holding :func:`norm_sql` values).

    r12 optimization-round helper (guide §1.2 per-task work): inside a
    (query × corpus) pair loop, :func:`cosine_sql` re-evaluates both norm
    aggregates per PAIR — three O(d) interpreted higher-order-function
    passes where one suffices.  Hoisting ``norm_sql`` to one evaluation per
    row and dividing by the product keeps the IDENTICAL IEEE shape
    (same dot, same ``(na) * (nb)`` product, same division, same op order),
    so every cosine is bit-equal to the un-hoisted form and rounded ranking
    keys cannot move."""
    return f"({dot_sql(a, b)}) / (({na}) * ({nb}))"


def duck_cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine_sql` — forced to double precision."""
    return f"list_cosine_similarity(({a})::DOUBLE[], ({b})::DOUBLE[])"


def duck_dot_sql(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"
