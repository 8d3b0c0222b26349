"""Vector scalar functions as Catalyst Column expressions.

The reference computes euclidean distance in 3 lines of JS over
``number[]`` (reference src/database.ts:218-220) and encodes distances as
fixed-width sort-key strings (src/database.ts:223-225).  Here every
function is a *pure Column expression* built from Spark higher-order array
functions — JVM-side, no Python in the hot path, fully pushdown/codegen
friendly.  All arithmetic is done in DOUBLE (each float32 widens exactly)
and summation is sequential over the array, which keeps results
bit-comparable with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _double_text(x: float) -> str:
    """The text Java's ``Double.parseDouble`` reads back as exactly ``x``:
    Python's repr is the shortest decimal that round-trips, and the parse
    is correctly rounded.  NaN and the infinities in Java's spelling."""
    x = float(x)
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Infinity" if x > 0 else "-Infinity"
    return repr(x)


def double_sql(x: float) -> str:
    """SQL text of one DOUBLE literal, bit-exact (see ``_double_text``).
    NaN and the infinities, which have no numeric literal, become casts."""
    t = _double_text(x)
    return f"{t}D" if t[-1].isdigit() else f"CAST('{t}' AS DOUBLE)"


def double_array_sql(values: list[float]) -> str:
    """SQL text of an ``array<double>`` literal, bit-exact: ONE string
    token, split and cast to doubles.  The parser reads it as a single
    token, where a list of numeric literals walks the expression grammar
    once per element (about 25 ms for 384 elements, against 2.5 ms);
    the cast is foldable, so the optimizer turns it into the literal
    array once per query."""
    if not values:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    body = ",".join(_double_text(x) for x in values)
    return f"CAST(split('{body}', ',') AS ARRAY<DOUBLE>)"


def lit_double_array(values: list[float]) -> Column:
    """``array<double>`` literal via ONE parsed SQL expression.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round trip per element —
    measured 3.2s of pure driver time for a 16x384 centroid block (6144
    lits).  ``double_array_sql`` hands the whole literal to the JVM
    parser at once."""
    return F.expr(double_array_sql(values))


def _dbl(x: Column) -> Column:
    return x.cast("double")


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """``sqrt(Σ (a_i - b_i)^2)`` — reference src/database.ts:218-220.

    Sequential fold in array order (same order DuckDB's list functions use),
    differences squared via multiplication (not pow) for cross-engine
    determinism.
    """
    a, b = _as_col(a), _as_col(b)
    diffsq = F.zip_with(a, b, lambda x, y: (_dbl(x) - _dbl(y)) * (_dbl(x) - _dbl(y)))
    return F.sqrt(F.aggregate(diffsq, F.lit(0.0), lambda acc, v: acc + v))


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product Σ a_i*b_i."""
    a, b = _as_col(a), _as_col(b)
    prods = F.zip_with(a, b, lambda x, y: _dbl(x) * _dbl(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    a = _as_col(a)
    sq = F.transform(a, lambda x: _dbl(x) * _dbl(x))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize, as the reference's embedding step does
    (src/vector.ts:35-38, ``normalize: true``)."""
    a = _as_col(a)
    n = l2_norm(a)
    return F.transform(a, lambda x: _dbl(x) / n)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (‖a‖‖b‖).  For unit vectors equals the dot product."""
    a, b = _as_col(a), _as_col(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def index_nr_to_string_sql(nr: str) -> str:
    """Compat encoding of the reference's fixed-width index key, as SQL
    text over the expression ``nr``:
    ``((nr*10) + '').slice(0, 10).padEnd(10, '0')`` — src/database.ts:223-225.

    Reproduced for fidelity tests only; the scale path indexes the raw
    DOUBLE distance instead because the string key is lexicographically
    mis-ordered across integer-digit-count regimes (SURVEY.md §1.3 quirk).

    JS number stringification differs from SQL's CAST(double AS STRING) in
    general, but for values in [0, 20] printed to ≤10 significant chars the
    shortest-roundtrip digits agree; we strip a trailing ``.0`` the way JS
    prints integral doubles (``5`` not ``5.0``) before slicing.
    """
    return (
        f"rpad(substring(regexp_replace(CAST(CAST({nr} AS DOUBLE) * 10.0D "
        "AS STRING), '\\\\.0$', ''), 1, 10), 10, '0')"
    )


def index_nr_to_string(col: str) -> Column:
    """``index_nr_to_string_sql`` over the column named ``col``."""
    return F.expr(index_nr_to_string_sql("`" + col.replace("`", "``") + "`"))
