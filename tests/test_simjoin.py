"""similarity_join_blas broadcast guard + similarity_join_bucketed recall.

The bucketed route is the documented 100 TB escape hatch for the BLAS join's
driver-collect; these tests pin (a) the guard actually trips instead of
collecting an oversized side, and (b) on planted near-duplicates the bucketed
route returns the IDENTICAL pair set (ids and rounded scores) as the exact
brute-force join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectrekker_spark.operators.knn import (
    similarity_join_blas,
    similarity_join_bucketed,
)

DIM = 64


@pytest.fixture(scope="module")
def planted(spark):
    """200 random unit-ish vectors + 15 planted near-dup partners (≥0.99
    cosine), seeded; returns the DataFrame."""
    rng = np.random.default_rng(42)
    base = rng.standard_normal((200, DIM))
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(15):
        noisy = base[j] + 0.02 * rng.standard_normal(DIM)
        rows.append((1000 + j, noisy.tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf).repartition(8)


def test_bucketed_matches_bruteforce_on_planted_dups(planted):
    # Exact set-equality between the probabilistic bucketed join and brute
    # force DEPENDS on the planted pairs being ≥0.99 cosine under the seeded
    # RNG (per-pair miss prob ~7e-7 at the defaults). If this fixture is ever
    # changed to plant pairs near the 0.95 threshold, weaken the assert to
    # b ⊆ e plus equality on the planted-id subset — at 0.95 the expected
    # recall is ~0.9985, which WILL eventually flake as exact equality.
    exact = similarity_join_blas(
        planted, planted, threshold=0.95,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    bucketed = similarity_join_bucketed(
        planted, threshold=0.95, dim=DIM, id_col="vec_id", vec_col="embedding"
    )
    e = {(r["l_id"], r["r_id"], r["score"]) for r in exact.collect()}
    b = {(r["l_id"], r["r_id"], r["score"]) for r in bucketed.collect()}
    assert len(e) >= 15  # every planted pair is over threshold
    assert b == e


def test_bucketed_partition_invariant(planted):
    a = similarity_join_bucketed(planted, 0.95, DIM, "vec_id", "embedding")
    b = similarity_join_bucketed(
        planted.repartition(3), 0.95, DIM, "vec_id", "embedding"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_blas_guard_raises_on_oversized_right(planted):
    with pytest.raises(ValueError, match="max_collect_rows"):
        similarity_join_blas(
            planted, planted, threshold=0.9,
            left_id="vec_id", left_vec="embedding",
            right_id="vec_id", right_vec="embedding",
            max_collect_rows=10,
        )


def test_blas_byte_budget_trips_on_dim(planted):
    # the collect guard is a BYTE budget too: at rows × dim × 8 bytes a
    # high-dim column must trip even when the row cap would allow it (the
    # assign_centroids max_centroid_bytes idiom, VERDICT r5 §1)
    n = planted.count()
    with pytest.raises(ValueError, match="max_collect_bytes"):
        similarity_join_blas(
            planted, planted, threshold=0.9,
            left_id="vec_id", left_vec="embedding",
            right_id="vec_id", right_vec="embedding",
            max_collect_bytes=DIM * 8 * (n - 1),  # one row short
        )
    # a budget that covers the side passes (row cap untouched)
    out = similarity_join_blas(
        planted, planted, threshold=0.9,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
        max_collect_bytes=DIM * 8 * n,
    )
    assert out.count() >= 0


def test_auto_route_byte_budget_routes_to_bucketed(planted):
    # past the byte budget (but under the row cap) the self-join router
    # must pick the bucketed kernel instead of letting the BLAS guard raise
    from vectrekker_spark.operators.knn import similarity_join_self_auto

    out = similarity_join_self_auto(
        planted, 0.95, "vec_id", "embedding",
        max_exact_bytes=DIM * 8 * 2,
    )
    assert out.count() >= 15  # planted dups still found


def test_auto_route_picks_exact_under_cap(planted):
    from vectrekker_spark.operators.knn import similarity_join_self_auto

    auto = similarity_join_self_auto(planted, 0.95, "vec_id", "embedding")
    exact = similarity_join_blas(
        planted, planted, 0.95,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, exact.collect()))


def test_auto_route_picks_bucketed_over_cap(planted):
    from vectrekker_spark.operators.knn import similarity_join_self_auto

    # force the bucketed branch with a tiny cap; planted dups still found
    out = similarity_join_self_auto(
        planted, 0.95, "vec_id", "embedding", max_exact_rows=10
    )
    assert out.count() >= 15


def test_auto_route_over_cap_matches_blas_end_to_end(planted):
    # The q28-family guard END-TO-END: when the corpus exceeds
    # max_exact_rows, the router's bucketed result must equal the exact
    # BLAS pair set on this fixture — ids AND rounded scores. Valid as set
    # EQUALITY because the planted partners are ≥0.99 cosine (per-pair LSH
    # miss prob ~7e-7 at the defaults; see the bucketed-vs-bruteforce test's
    # recall note). This pins the router decision + both kernels in one
    # path, not just the two endpoints separately.
    from vectrekker_spark.operators.knn import similarity_join_self_auto

    routed = similarity_join_self_auto(
        planted, 0.95, "vec_id", "embedding",
        max_exact_rows=planted.count() - 1,  # corpus is larger than the cap
    )
    exact = similarity_join_blas(
        planted, planted, 0.95,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    r = {(x["l_id"], x["r_id"], x["score"]) for x in routed.collect()}
    e = {(x["l_id"], x["r_id"], x["score"]) for x in exact.collect()}
    assert len(e) >= 15
    assert r == e


def test_blas_guard_allows_exact_cap(planted):
    n = planted.count()
    out = similarity_join_blas(
        planted, planted, threshold=0.95,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
        max_collect_rows=n,
    )
    assert out.count() >= 15


def test_bucketed_cap_raises_on_planted_hot_bucket(spark):
    # 300 IDENTICAL vectors: every LSH table hashes them into one bucket, the
    # pathological skew shape. With a 100-row cap the kernel must raise with
    # guidance instead of building the n×n matrix in one task.
    rows = [(i, [1.0] * DIM) for i in range(300)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf).repartition(4)
    with pytest.raises(Exception, match="max_bucket_rows"):
        similarity_join_bucketed(
            df, 0.95, DIM, "vec_id", "embedding", max_bucket_rows=100
        ).count()


def test_bucketed_tiled_kernel_matches_untiled(planted, monkeypatch):
    # shrink the tile budget so every bucket splits into many row tiles —
    # the result must equal the default (one-tile) run: tiling is a pure
    # memory-shaping change, scores stay bit-identical
    import vectrekker_spark.operators.knn as knn_mod

    default = similarity_join_bucketed(planted, 0.95, DIM, "vec_id", "embedding")
    d = sorted(map(tuple, default.collect()))
    monkeypatch.setattr(knn_mod, "_TILE_ENTRIES", 8)  # tile = 1-2 rows
    tiled = similarity_join_bucketed(planted, 0.95, DIM, "vec_id", "embedding")
    assert sorted(map(tuple, tiled.collect())) == d


def test_blas_tiled_kernel_matches_untiled(planted, monkeypatch):
    # Regression for the round-8 NameError: the blas score kernel tiles its
    # matmul under _SCORE_TILE_ENTRIES, which MUST exist at module level and
    # be bound at build time so this shrink takes effect. Shrunk to 1-2 rows
    # per tile the result must equal the default (few-tile) run — tiling is a
    # pure memory-shaping change, scores stay bit-identical.
    import vectrekker_spark.operators.knn as knn_mod

    kwargs = dict(
        threshold=0.95,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    default = similarity_join_blas(planted, planted, **kwargs)
    d = sorted(map(tuple, default.collect()))
    assert len(d) >= 15  # planted pairs present — not comparing empty sets
    monkeypatch.setattr(knn_mod, "_SCORE_TILE_ENTRIES", 256)  # tile = 1 row
    tiled = similarity_join_blas(planted, planted, **kwargs)
    assert sorted(map(tuple, tiled.collect())) == d


def test_auto_route_null_first_vector(spark):
    # a NULL vector in row 0 must not crash the bucketed-route dim probe
    from vectrekker_spark.operators.knn import similarity_join_self_auto

    rows = [(0, None)] + [(i, [float(i)] * DIM) for i in range(1, 30)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
    out = similarity_join_self_auto(df, 0.999, "vec_id", "embedding", max_exact_rows=5)
    assert out.count() > 0  # parallel vectors are all cosine 1.0

    # all-null vectors (regardless of the caps): since r7 the router's own
    # dim probe sees there is nothing scorable and returns the correct
    # EMPTY result with the right schema — previously this raised only
    # because the pre-probe router had to hand the bucketed kernel a
    # dimension it couldn't derive
    nulls = spark.createDataFrame(
        [(0, None), (1, None), (2, None)],
        schema="vec_id long, embedding array<double>",
    )
    out = similarity_join_self_auto(nulls, 0.9, "vec_id", "embedding", max_exact_rows=1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["l_id", "r_id", "score"]


def test_blas_route_tolerates_null_vectors(spark):
    # finding from review: the auto-router's NULL safety must hold on BOTH
    # routes — the exact blas path used to crash on a None embedding
    from vectrekker_spark.operators.knn import similarity_join_self_auto

    rows = [(0, None)] + [(i, [float(i)] * DIM) for i in range(1, 30)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    out = similarity_join_self_auto(df, 0.999, "vec_id", "embedding")  # blas route
    assert out.count() > 0


def test_blas_left_repartitions_only_when_compute_bound(spark):
    """A compute-bound matmul must not inherit byte-based file packing:
    past the 8 MB right-matrix gate the left side spreads to the session
    parallelism (the sf1 q28 serialization bug); below it the plan keeps
    its partitioning (bench-scale fixtures stay shuffle-free)."""
    from vectrekker_spark.operators.knn import similarity_join_blas

    dim = 64

    def corpus(n):
        rows = [
            (i, [float((i * 7 + j) % 13 + 1) for j in range(dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    big = corpus(17000)  # 17000 × 64 × 8 ≈ 8.3 MB > gate
    out = similarity_join_blas(
        big.coalesce(1), big, threshold=0.9999,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    small = corpus(200)
    out_small = similarity_join_blas(
        small.coalesce(1), small, threshold=0.9999,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    assert out_small.rdd.getNumPartitions() == 1

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
