"""Vector math as pure Catalyst column expressions (no UDFs).

The reference's entire query surface is top-k *cosine* similarity over
fixed-dim float vectors (reference `vectrekker/main.py:23` sets
``metric="cosine"``; dim at `:22`). Here every metric is a whole-stage-codegen
expression over ``array<float>`` — JVM-side, vectorizable, and (crucial for
the DuckDB oracle) computed as an in-order double-precision accumulation,
which is bit-identical to ``SUM(x*y)`` over ``UNNEST(list)::DOUBLE`` in
DuckDB. Do NOT use DuckDB's ``list_cosine_similarity`` as an oracle — it
accumulates in float32.

Every function takes column NAMES, parsed as ``F.col`` parses them. Each
``*_sql`` builder returns Spark SQL text for ``selectExpr``; the Column form
is one ``F.expr`` of it (one JVM parse, not a py4j call per lambda node).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_name(name: str) -> str:
    """``name`` as SQL text for the column ``F.col(name)`` names: each
    dot-separated part backticked, so qualified names and names with spaces
    or (backticked) dots resolve."""
    return ".".join(f"`{q or p}`" for q, p in re.findall(r"`((?:[^`]|``)*)`|([^.`]+)", name))


# Lambda variables are named so that no plausible column is shadowed inside
# a lambda body (l2_normalize's norm reads its column from within one).
def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({sql_name(a)}, {sql_name(b)}, (__x, __y) -> CAST(__x AS DOUBLE)"
        " * CAST(__y AS DOUBLE)), 0.0D, (__acc, __v) -> __acc + __v)"
    )


def sumsq_sql(a: str) -> str:
    return (
        f"aggregate({sql_name(a)}, 0.0D, (__acc, __x) -> "
        "__acc + CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))"
    )


def norm_sql(a: str) -> str:
    return f"SQRT({sumsq_sql(a)})"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)}) / ({norm_sql(a)} * {norm_sql(b)})"


def l2_dist_sql(a: str, b: str) -> str:
    d = "(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))"
    return (
        f"SQRT(aggregate(zip_with({sql_name(a)}, {sql_name(b)}, (__x, __y) -> {d} * {d}),"
        " 0.0D, (__acc, __v) -> __acc + __v))"
    )


def dot(a: str, b: str) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    """L2 norm, double precision."""
    return F.expr(norm_sql(a))


def cosine_sim(a: str, b: str) -> Column:
    """Cosine similarity; computed as dot/(‖a‖·‖b‖) so the oracle can mirror
    the exact operation order."""
    return F.expr(cosine_sql(a, b))


def l2_dist(a: str, b: str) -> Column:
    """Euclidean distance, double precision, in-order accumulation."""
    return F.expr(l2_dist_sql(a, b))


def l2_normalize(a: str) -> Column:
    """Unit-normalize; zero vectors pass through unchanged (no NaNs)."""
    n, v = norm_sql(a), sql_name(a)
    return F.expr(
        f"CASE WHEN {n} = 0.0D THEN CAST({v} AS ARRAY<DOUBLE>) "
        f"ELSE transform({v}, __e -> CAST(__e AS DOUBLE) / {n}) END"
    )


def dim_ok(a: str, expected_dim: int) -> Column:
    """Fixed-dimension constraint check — the engine analog of the reference's
    ``dimension=1536`` index DDL (`vectrekker/main.py:162-167`). Spark SQL has
    no fixed-length vector type, so enforce by predicate."""
    return F.size(a) == expected_dim
