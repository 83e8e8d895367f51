"""The fixed-point dot kernel and the cosine built on it.

Capability parity with the reference's Qdrant distance metrics: DOT
(tier1, ``app/services/qdrant_service.py:51``) and COSINE (tier2,
``app/services/qdrant_service.py:79``), reproduced EXACTLY: every
elementwise product is floored to a BIGINT at the 1e-9 scale before
summation, so the reduction is order-independent and Spark and DuckDB
produce bit-identical scores however partitions reduce. The only double
math (sqrt, division) runs on identical integer inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FIX9 = 1_000_000_000.0  # dot/norm fixed-point scale


def dot_fix(a: str, b: str) -> Column:
    """Fixed-point dot of the array columns named ``a`` and ``b``: each
    elementwise double product times 1e9, floored to BIGINT, summed
    exactly.

    NULL when either array is NULL, when any element is NULL or NaN,
    or when the arrays differ in length (``zip_with`` pads the shorter
    side with NULLs). ±Inf is outside the contract: its product floors
    to a BIGINT limit, and the sum then usually overflows (an
    ARITHMETIC_OVERFLOW error under ANSI mode).

    One SQL expression parsed on the JVM, not a Python-lambda
    ``zip_with``/``aggregate`` chain: building it costs no py4j round
    trip per lambda. Higher-order functions run interpreted (outside
    whole-stage codegen) either way."""
    return F.expr(_dot_sql(a, b))


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> "
        f"floor(nanvl(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * {FIX9}D, NULL))), "
        "0L, (acc, p) -> acc + p)"
    )


def cosine_sql(dot: str, na: str, nb: str) -> str:
    """SQL text of the cosine from a fixed-point dot and the two squared
    norms, each given as SQL text (scales cancel); 0.0 on zero norms
    (V3's pinned degenerate semantics). ``na`` and ``nb`` each appear
    twice, so pass column names or lambda fields, not folds."""
    return (
        f"CASE WHEN ({na}) = 0 OR ({nb}) = 0 THEN 0D "
        f"ELSE CAST({dot} AS DOUBLE) / "
        f"(sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))) END"
    )


def cosine_from_fix(dot: str, na: str, nb: str) -> Column:
    """:func:`cosine_sql` as a column."""
    return F.expr(cosine_sql(dot, na, nb))


def with_cosine(
    df: DataFrame, a: str, b: str, out: str = "score",
    na: str | None = None, nb: str | None = None,
) -> DataFrame:
    """``df`` plus ``out``, the exact cosine of array columns ``a`` and
    ``b``. ``na``/``nb`` name squared-norm columns a caller computed
    once per side; a norm not given is added here as ``na_fix`` /
    ``nb_fix``. The score reads each norm twice, so the norms stay
    columns of their own: Catalyst does not inline a costly expression
    into a projection that reads it twice, and each dot runs once per
    row."""
    if na is None:
        na = "na_fix"
        df = df.withColumn(na, dot_fix(a, a))
    if nb is None:
        nb = "nb_fix"
        df = df.withColumn(nb, dot_fix(b, b))
    return df.withColumn(out, cosine_from_fix(_dot_sql(a, b), f"`{na}`", f"`{nb}`"))
