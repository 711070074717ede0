"""int8 embedding quantization: bounded reconstruction error, cosine-ranking
preservation on the fixture embeddings, zero-vector round-trip."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from vectrekker_spark.functions.vector import cosine_sim
from vectrekker_spark.operators.quantize import dequantize_int8, quantize_int8


def test_roundtrip_error_bounded(spark, sf_dir):
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    q = dequantize_int8(quantize_int8(em))
    rows = q.select(
        "embedding",
        "embedding_deq",
        "qvec_scale",
        F.size("qvec").alias("dim"),
    ).collect()
    for r in rows:
        assert r["dim"] == len(r["embedding"])
        half = r["qvec_scale"] / 2 + 1e-12
        for a, b in zip(r["embedding"], r["embedding_deq"]):
            assert abs(a - b) <= half  # per-component error ≤ scale/2


def test_cosine_ranking_preserved(spark, sf_dir):
    # cosine(original, dequantized) stays ~1 for every fixture vector — the
    # property that lets int8 coarse search feed full-precision re-ranking
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    q = dequantize_int8(quantize_int8(em))
    sims = q.select(cosine_sim("embedding", "embedding_deq").alias("s")).collect()
    worst = min(r["s"] for r in sims)
    assert worst > 0.995, worst


def test_zero_vector_roundtrip(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "id long, embedding array<double>")
    out = dequantize_int8(quantize_int8(df)).collect()[0]
    assert out["qvec_scale"] == 0.0
    assert list(out["qvec"]) == [0, 0, 0]
    assert list(out["embedding_deq"]) == [0.0, 0.0, 0.0]
    assert not any(math.isnan(x) for x in out["embedding_deq"])


def test_storage_is_tinyint(spark, sf_dir):
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(5)
    q = quantize_int8(em)
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"


import pytest  # noqa: E402  (slow marker below)

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
