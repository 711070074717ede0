"""Embedding quantization — 4× storage/IO reduction for vector indexes.

At 100 TB the embedding column dominates index size (a 1536-dim float32
vector is 6 KB/row; the reference's Pinecone index stores exactly that,
`vectrekker/main.py:22,165`). Symmetric per-vector int8 scalar quantization
cuts it 4× with bounded reconstruction error: each vector stores
(scale = max|x|/127, int8 codes), dequantizes as code·scale, and cosine
rankings survive (error per component ≤ scale/2 ≈ max|x|/254).

Pure Catalyst expressions (aggregate/transform, as SQL text) — no UDF, no
shuffle; the quantize/dequantize pair composes with every vector operator
in this repo (exact kNN over dequantized vectors, IVF coarse search over
codes). The standard scale path: coarse-search int8, re-rank the top
candidates with the full-precision vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.functions.vector import sql_name


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Append `{out_col}` (array<tinyint>) and `{out_col}_scale` (double).

    scale = max|x|/127; codes = round(x/scale) ∈ [-127, 127]. All-zero
    vectors get scale 0 and all-zero codes (dequantizes to zero exactly).
    """
    v, s = sql_name(vec_col), sql_name(f"{out_col}_scale")
    absmax = f"aggregate({v}, 0.0D, (__acc, __x) -> greatest(__acc, abs(CAST(__x AS DOUBLE))))"
    df = df.withColumn(f"{out_col}_scale", F.expr(f"{absmax} / 127.0D"))
    return df.withColumn(out_col, F.expr(
        f"CASE WHEN {s} = 0.0D THEN transform({v}, __x -> CAST(0 AS TINYINT)) "
        f"ELSE transform({v}, __x -> CAST(ROUND(CAST(__x AS DOUBLE) / {s}) AS TINYINT)) END"
    ))


def dequantize_int8(
    df: DataFrame, qvec_col: str = "qvec", out_col: str = "embedding_deq"
) -> DataFrame:
    """Reconstruct array<double> from (codes, scale)."""
    c, s = sql_name(qvec_col), sql_name(f"{qvec_col}_scale")
    return df.withColumn(out_col, F.expr(f"transform({c}, __c -> CAST(__c AS DOUBLE) * {s})"))
