"""Vector column functions (embedding similarity).

All JVM-side Catalyst expressions, built as SQL text (one py4j round
trip per projection; Column callers use ``F.expr(builder("col"))``).
Folds are sequential left-to-right, matching DuckDB's ``list_reduce``
order, so dot products and norms are bit-identical across engines
(both promote float elements to double before accumulating).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_sql(a: str, b: str) -> str:
    """Dot product of two numeric arrays (SQL text; arguments are
    column names or SQL fragments).

    Per-ELEMENT double casts inside the lambdas: callers pass raw
    float arrays (an upfront array<double> cast would be inlined by
    CollapseProject into the fold and re-cast the whole vector per
    element), and the per-element cast keeps products and norms in
    double precision so near-tie top-k rank boundaries agree with a
    double-precision oracle. ``0.0D`` is the double zero literal (a
    bare SQL ``0.0`` parses as DECIMAL)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def norm2_sql(a: str) -> str:
    """Euclidean norm of a numeric array (same casts as :func:`dot_sql`)."""
    return (
        f"SQRT(aggregate({a}, 0.0D, "
        f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def cosine_similarity_sql(a: str, b: str) -> str:
    """Cosine similarity; zero-norm vectors give NaN (0/0)."""
    return f"{dot_sql(a, b)} / ({norm2_sql(a)} * {norm2_sql(b)})"


def sq_euclidean_sql(a: str, b: str) -> str:
    """Squared euclidean distance (same casts as :func:`dot_sql`)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, (acc, x) -> acc + x)"
    )


def sq_euclidean_int_sql(a: str, b: str) -> str:
    """Squared euclidean over integer-quantized vectors (integer math
    in the fold; one cast at the end). Elements widen to int before
    the difference — tinyint-tinyint can reach ±254 and would throw
    under ANSI arithmetic."""
    return (
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS INT) - CAST(y AS INT)) * (CAST(x AS INT) - CAST(y AS INT))), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)"
    )
