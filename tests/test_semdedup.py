"""Semantic dedup (operators/semdedup.py, SURVEY C15).

Verification strategy (since r9 ALSO driver-oracle-checked as
d26_semantic_dedup — a fixed sign-pattern quantizer makes the greedy
recursion SQL-expressible as a per-cell recursive CTE; these tests keep the
general path covered):
- brute-force Python oracle equivalence on the single-cluster path,
- greedy invariants on clustered runs (kept pairs below threshold within a
  cell, every dropped row names a kept same-cell dup_of at/above it),
- partition invariance, determinism, null handling, cap guard,
- plan shape (no cartesian product, single cid shuffle into the kernel).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectrekker_spark.operators import semdedup
from vectrekker_spark.operators.semdedup import (
    semantic_dedup,
    semantic_dedup_decisions,
)


def _unit(v):
    a = np.asarray(v, dtype=np.float64)
    n = np.linalg.norm(a)
    return (a / n).tolist() if n else a.tolist()


def _mk(spark, rows, num_partitions=None):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df.repartition(num_partitions) if num_partitions else df


def _greedy_oracle(rows, threshold):
    """Independent row-by-row greedy over id-sorted rows: keep iff round-6
    cosine vs every already-kept < threshold; dup_of = first argmax."""
    rows = sorted((r for r in rows if r[1] is not None), key=lambda r: r[0])
    kept, out = [], {}
    for rid, vec in rows:
        u = np.asarray(_unit(vec))
        best_s, best_j = -2.0, None
        for kid, ku in kept:
            s = float(np.round(ku @ u, 6))
            if s > best_s:
                best_s, best_j = s, kid
        if kept and best_s >= threshold:
            out[rid] = (False, best_j, best_s)
        else:
            kept.append((rid, u))
            out[rid] = (True, None, None)
    return out


def _planted_rows(seed=0, n_base=24, dim=8):
    """Vectors in two tight groups plus noise; ids interleaved so min-id
    winners are spread across the input order."""
    rng = np.random.default_rng(seed)
    rows = []
    g1 = rng.standard_normal(dim)
    g2 = -g1 + rng.standard_normal(dim) * 0.01
    for i in range(n_base):
        base = g1 if i % 2 == 0 else g2
        rows.append((i, _unit(base + rng.standard_normal(dim) * 0.005)))
    for i in range(n_base, n_base + 10):
        rows.append((i, _unit(rng.standard_normal(dim))))
    return rows


def test_single_cluster_matches_bruteforce_oracle(spark):
    rows = _planted_rows()
    got = {
        r["vec_id"]: (r["keep"], r["dup_of"], r["score"])
        for r in semantic_dedup_decisions(
            _mk(spark, rows, 5), threshold=0.9, n_clusters=1
        ).collect()
    }
    want = _greedy_oracle(rows, 0.9)
    assert got == want
    # the planted groups actually deduplicate
    assert sum(1 for k, _, _ in got.values() if not k) >= 20


def test_invariants_with_clustering(spark):
    rows = _planted_rows(seed=3, n_base=30)
    dec = semantic_dedup_decisions(
        _mk(spark, rows, 7), threshold=0.92, n_clusters=4
    ).collect()
    by_id = {r["vec_id"]: r for r in dec}
    assert set(by_id) == {r[0] for r in rows}
    vecs = {r[0]: np.asarray(_unit(r[1])) for r in rows}
    # every dropped row names a kept, same-cell dup_of at/above threshold
    for r in dec:
        if not r["keep"]:
            d = by_id[r["dup_of"]]
            assert d["keep"] and d["cid"] == r["cid"] and d["vec_id"] < r["vec_id"]
            s = float(np.round(vecs[r["dup_of"]] @ vecs[r["vec_id"]], 6))
            assert s == pytest.approx(r["score"]) and s >= 0.92
    # kept pairs within a cell all score below threshold
    kept = [(r["cid"], r["vec_id"]) for r in dec if r["keep"]]
    for cid, a in kept:
        for cid2, b in kept:
            if cid == cid2 and a < b:
                assert float(np.round(vecs[a] @ vecs[b], 6)) < 0.92


def test_partition_invariance_and_determinism(spark):
    # Given a FIXED quantizer, decisions are a pure function of the
    # (id, vec) set — layout-independent. (MLlib KMeans itself is seeded
    # but layout-SENSITIVE — k-means|| init samples per partition — which
    # is why the operator docstring tells incremental runs to persist and
    # reuse centroids.)
    rows = _planted_rows(seed=7)
    rng = np.random.default_rng(5)
    cents = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(3)],
        "cid long, cvec array<double>",
    )
    a = sorted(
        map(tuple, semantic_dedup_decisions(
            _mk(spark, rows, 2), threshold=0.9, centroids=cents
        ).collect())
    )
    b = sorted(
        map(tuple, semantic_dedup_decisions(
            _mk(spark, rows, 9), threshold=0.9, centroids=cents
        ).collect())
    )
    assert a == b
    # and the auto-KMeans path is deterministic for a fixed layout
    c = sorted(
        map(tuple, semantic_dedup_decisions(
            _mk(spark, rows, 4), threshold=0.9, n_clusters=3
        ).collect())
    )
    d = sorted(
        map(tuple, semantic_dedup_decisions(
            _mk(spark, rows, 4), threshold=0.9, n_clusters=3
        ).collect())
    )
    assert c == d


def test_semantic_dedup_filters_corpus(spark):
    rows = _planted_rows()
    df = _mk(spark, rows, 4)
    kept = semantic_dedup(df, threshold=0.9, n_clusters=1)
    dec = semantic_dedup_decisions(df, threshold=0.9, n_clusters=1)
    want = sorted(r["vec_id"] for r in dec.collect() if r["keep"])
    assert sorted(r["vec_id"] for r in kept.collect()) == want
    assert kept.columns == df.columns


def test_null_vectors_kept_with_null_cid(spark):
    rows = [(1, _unit([1.0, 0.0])), (2, None), (3, _unit([1.0, 1e-7]))]
    dec = {r["vec_id"]: r for r in semantic_dedup_decisions(
        _mk(spark, rows), threshold=0.99, n_clusters=1
    ).collect()}
    assert dec[2]["keep"] and dec[2]["cid"] is None and dec[2]["dup_of"] is None
    assert dec[1]["keep"] and not dec[3]["keep"] and dec[3]["dup_of"] == 1


def test_precomputed_centroids_respected(spark):
    # two orthogonal cells; identical vectors land in the same cell and dedup
    rows = [
        (10, _unit([1.0, 0.0, 0.0])),
        (11, _unit([1.0, 0.001, 0.0])),
        (20, _unit([0.0, 1.0, 0.0])),
        (21, _unit([0.0, 1.0, 0.001])),
    ]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], "cid long, cvec array<double>"
    )
    dec = {r["vec_id"]: r for r in semantic_dedup_decisions(
        _mk(spark, rows), threshold=0.999, centroids=cents
    ).collect()}
    assert dec[10]["keep"] and dec[20]["keep"]
    assert dec[11]["dup_of"] == 10 and dec[21]["dup_of"] == 20
    assert {dec[10]["cid"], dec[11]["cid"]} == {0}
    assert {dec[20]["cid"], dec[21]["cid"]} == {1}


def test_driver_side_centroid_rows_match_dataframe_form(spark):
    # the (cid, vector) list fast path (no validation/probe/collect jobs)
    # must produce decisions IDENTICAL to the DataFrame centroids form —
    # same scoring arithmetic, same tie rules (ann.assign_from_rows)
    rows = _planted_rows(seed=7, n_base=30)  # dim-8 vectors
    cent_rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    cents_df = spark.createDataFrame(cent_rows, "cid long, cvec array<double>")
    via_df = sorted(map(tuple, semantic_dedup_decisions(
        _mk(spark, rows, 3), threshold=0.9, centroids=cents_df
    ).collect()))
    via_rows = sorted(map(tuple, semantic_dedup_decisions(
        _mk(spark, rows, 3), threshold=0.9, centroids=cent_rows
    ).collect()))
    assert via_rows == via_df
    # unsorted + null-vector rows: sorted and skipped exactly like the
    # DataFrame form's collect
    shuffled = [cent_rows[2], (3, None), cent_rows[0], cent_rows[1]]
    via_shuffled = sorted(map(tuple, semantic_dedup_decisions(
        _mk(spark, rows, 3), threshold=0.9, centroids=shuffled
    ).collect()))
    assert via_shuffled == via_df


def test_driver_side_centroid_rows_guards(spark):
    rows = [(1, _unit([1.0, 0.0])), (2, _unit([0.0, 1.0]))]
    with pytest.raises(ValueError, match="no non-null"):
        semantic_dedup_decisions(_mk(spark, rows), centroids=[])
    with pytest.raises(ValueError, match="no non-null"):
        semantic_dedup_decisions(_mk(spark, rows), centroids=[(0, None)])


def test_cell_cap_guard(spark):
    rows = [(i, _unit([1.0, float(i)])) for i in range(12)]
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_decisions(
            _mk(spark, rows), threshold=0.99, n_clusters=1, max_cluster_rows=5
        ).collect()


def test_tiled_and_blocked_paths_match(spark, monkeypatch):
    # shrink BOTH kernel constants so the 40-row cell runs multiple greedy
    # blocks (cross-block kept_global GEMM + strict-`>` merge) and multiple
    # row tiles per block — the production 1024/16M values would leave both
    # merge paths unexecuted at test scale
    monkeypatch.setattr(semdedup, "_TILE_ENTRIES", 64)
    monkeypatch.setattr(semdedup, "_BLOCK_ROWS", 7)
    rows = _planted_rows(seed=11, n_base=40)
    got = {
        r["vec_id"]: (r["keep"], r["dup_of"], r["score"])
        for r in semantic_dedup_decisions(
            _mk(spark, rows, 3), threshold=0.9, n_clusters=1
        ).collect()
    }
    assert got == _greedy_oracle(rows, 0.9)


def test_empty_user_centroids_raise(spark):
    rows = [(1, _unit([1.0, 0.0])), (2, _unit([0.0, 1.0]))]
    empty = spark.createDataFrame([], "cid long, cvec array<double>")
    with pytest.raises(ValueError, match="no non-null cvec"):
        semantic_dedup_decisions(_mk(spark, rows), centroids=empty)
    nulls = spark.createDataFrame([(0, None)], "cid long, cvec array<double>")
    with pytest.raises(ValueError, match="no non-null cvec"):
        semantic_dedup(_mk(spark, rows), centroids=nulls)


def test_null_centroid_rows_skipped(spark):
    # a NULL cvec row among real centroids must not crash the broadcast
    # collect; assignment sees only the non-null centroids
    rows = [(10, _unit([1.0, 0.0])), (20, _unit([0.0, 1.0]))]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "cid long, cvec array<double>",
    )
    dec = {r["vec_id"]: r for r in semantic_dedup_decisions(
        _mk(spark, rows), threshold=0.999, centroids=cents
    ).collect()}
    assert dec[10]["cid"] == 0 and dec[20]["cid"] == 2
    assert dec[10]["keep"] and dec[20]["keep"]


def test_plan_no_cartesian_single_shuffle(spark):
    rows = _planted_rows()
    dec = semantic_dedup_decisions(_mk(spark, rows, 4), threshold=0.9, n_clusters=1)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_empty_and_all_null_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup_decisions(empty, n_clusters=1).count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)], "vec_id long, embedding array<double>")
    dec = semantic_dedup_decisions(nulls).collect()
    assert sorted(r["vec_id"] for r in dec) == [1, 2]
    assert all(r["keep"] for r in dec)


# ---- semantic_dedup_against (incremental) ----


def _fixed_cents(spark, rows, k=3):
    """Deterministic stride centroids over the given rows (fixed quantizer
    for incremental tests)."""
    from vectrekker_spark.operators.ann import ivf_centroids

    return ivf_centroids(_mk(spark, rows), n_centroids=k, method="stride")


def test_against_equals_oneshot_on_append_only_ids(spark):
    from vectrekker_spark.operators.semdedup import semantic_dedup_against

    rows = _planted_rows(seed=7, n_base=26)
    cents = _fixed_cents(spark, rows).cache()
    split = 18  # history = ids < split, batch = ids >= split
    history = [r for r in rows if r[0] < split]
    batch = [r for r in rows if r[0] >= split]

    oneshot = {
        r["vec_id"]: (r["keep"], r["dup_of"], r["score"])
        for r in semantic_dedup_decisions(
            _mk(spark, rows, 4), threshold=0.9, centroids=cents
        ).collect()
    }
    hist_dec = semantic_dedup_decisions(
        _mk(spark, history, 3), threshold=0.9, centroids=cents
    )
    kept_hist = _mk(spark, history, 3).join(
        hist_dec.where("keep").select("vec_id"), "vec_id", "left_semi"
    )
    got = {
        r["vec_id"]: (r["keep"], r["dup_of"], r["score"])
        for r in semantic_dedup_against(
            _mk(spark, batch, 3), kept_hist, cents, threshold=0.9
        ).collect()
    }
    assert set(got) == {r[0] for r in batch}
    for rid in got:
        assert got[rid] == oneshot[rid], rid
    cents.unpersist()


def test_against_multi_batch_accumulation(spark):
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.semdedup import semantic_dedup_against

    rows = _planted_rows(seed=13, n_base=30)
    cents = _fixed_cents(spark, rows, k=2).cache()
    oneshot_kept = {
        r["vec_id"]
        for r in semantic_dedup_decisions(
            _mk(spark, rows), threshold=0.9, centroids=cents
        ).collect()
        if r["keep"]
    }
    kept = _mk(spark, [])  # empty history
    for lo, hi in ((0, 12), (12, 25), (25, 40)):
        batch = [r for r in rows if lo <= r[0] < hi]
        dec = semantic_dedup_against(
            _mk(spark, batch, 2), kept, cents, threshold=0.9
        )
        survivors = _mk(spark, batch, 2).join(
            dec.where("keep").select("vec_id"), "vec_id", "left_semi"
        )
        kept = kept.unionByName(survivors)
    assert {r["vec_id"] for r in kept.collect()} == oneshot_kept
    cents.unpersist()


def test_against_dup_of_names_history(spark):
    from vectrekker_spark.operators.semdedup import semantic_dedup_against

    hist = [(1, _unit([1.0, 0.0])), (2, _unit([0.0, 1.0]))]
    batch = [
        (10, _unit([1.0, 1e-5])),   # dup of history 1
        (11, _unit([0.7, 0.7])),    # novel (threshold-wise)
        (12, _unit([0.7001, 0.7])), # dup of newly-kept 11, not history
        (13, None),                 # null vec: kept, cid NULL
    ]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, cvec array<double>"
    )
    dec = {r["vec_id"]: r for r in semantic_dedup_against(
        _mk(spark, batch), _mk(spark, hist), cents, threshold=0.99
    ).collect()}
    assert set(dec) == {10, 11, 12, 13}
    assert not dec[10]["keep"] and dec[10]["dup_of"] == 1
    assert dec[11]["keep"]
    assert not dec[12]["keep"] and dec[12]["dup_of"] == 11
    assert dec[13]["keep"] and dec[13]["cid"] is None


def test_against_kept_assigned_fast_path(spark):
    from vectrekker_spark.operators.semdedup import semantic_dedup_against
    from vectrekker_spark.operators.ann import assign_centroids

    rows = _planted_rows(seed=5, n_base=20)
    cents = _fixed_cents(spark, rows).cache()
    history = [r for r in rows if r[0] < 14]
    batch = [r for r in rows if r[0] >= 14]
    ka = assign_centroids(
        _mk(spark, history), cents, carry_vec=True
    )
    via_assigned = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in semantic_dedup_against(
            _mk(spark, batch), _mk(spark, []), cents,
            threshold=0.9, kept_assigned=ka,
        ).collect()
    }
    via_frame = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in semantic_dedup_against(
            _mk(spark, batch), _mk(spark, history), cents, threshold=0.9
        ).collect()
    }
    assert via_assigned == via_frame
    cents.unpersist()


def test_against_guards(spark):
    from vectrekker_spark.operators.semdedup import semantic_dedup_against

    rows = [(1, _unit([1.0, 0.0]))]
    empty_c = spark.createDataFrame([], "cid long, cvec array<double>")
    with pytest.raises(ValueError, match="no non-null cvec"):
        semantic_dedup_against(_mk(spark, rows), _mk(spark, []), empty_c)
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cid long, cvec array<double>")
    hist = [(i, _unit([1.0, float(i)])) for i in range(8)]
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_against(
            _mk(spark, rows), _mk(spark, hist), cents, max_cluster_rows=5
        ).collect()


def test_against_assignment_cached_and_exposed(spark):
    from vectrekker_spark.operators.semdedup import semantic_dedup_against

    rows = [(1, _unit([1.0, 0.0])), (2, _unit([0.0, 1.0]))]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, cvec array<double>"
    )
    dec = semantic_dedup_against(_mk(spark, rows), _mk(spark, []), cents)
    cache = getattr(dec, "_cached_assign", None)
    assert cache is not None and cache.is_cached
    dec.collect()
    cache.unpersist()


def test_ivf_centroids_k1_skips_null_vectors(spark):
    from vectrekker_spark.operators.ann import ivf_centroids

    df = _mk(spark, [(1, None), (2, _unit([1.0, 2.0]))])
    rows = ivf_centroids(df, n_centroids=1).collect()
    assert len(rows) == 1 and rows[0]["cvec"] is not None
