"""Approximate-NN recall properties (SURVEY.md §2.2 V5, §5.2): IVF vs the
exact brute-force result.

Bar: default IVF ≥ 0.8 at n_probe=5/10 cells. The fixtures are
near-uniform random 64-dim vectors — the hardest case for cell-based ANN
since true neighbors spread across cells; the measured ceiling at lower
probe counts is ~0.67 (n_probe=3) / ~0.79 (n_probe=4), which is why the
0.8-bar assertion probes 5. The stride
build keeps a lower sanity bar: it exists for cross-version determinism, not
recall.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectrekker_spark.operators.ann import ivf_build, ivf_search
from vectrekker_spark.operators.knn import knn_join, topk_nn

K = 10
N_QUERIES = 10


@pytest.fixture(scope="module")
def em(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _exact(spark, em):
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = knn_join(q, em, k=K).collect()
    out: dict[int, set[int]] = {}
    for r in res:
        out.setdefault(r["qid"], set()).add(r["vec_id"])
    return out


def _recall(approx_rows, exact) -> float:
    got: dict[int, set[int]] = {}
    for r in approx_rows:
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    return sum(len(got.get(q_, set()) & exact[q_]) for q_ in exact) / (K * len(exact))


def _queries(em):
    return em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def test_ivf_default_recall_meets_declared_bar(spark, em):
    exact = _exact(spark, em)
    centroids, assign = ivf_build(em, n_centroids=10)  # lloyd default (r15)
    approx = ivf_search(_queries(em), em, centroids, assign, k=K, n_probe=5).collect()
    recall = _recall(approx, exact)
    assert recall >= 0.8, f"default-IVF recall@{K} = {recall}"


def test_ivf_kmeans_low_probe_recall(spark, em):
    exact = _exact(spark, em)
    centroids, assign = ivf_build(em, n_centroids=10)
    approx = ivf_search(_queries(em), em, centroids, assign, k=K, n_probe=3).collect()
    recall = _recall(approx, exact)
    assert recall >= 0.6, f"default-IVF n_probe=3 recall@{K} = {recall}"


def test_ivf_stride_sanity_recall(spark, em):
    exact = _exact(spark, em)
    centroids, assign = ivf_build(em, n_centroids=10, method="stride")
    approx = ivf_search(_queries(em), em, centroids, assign, k=K, n_probe=3).collect()
    recall = _recall(approx, exact)
    assert recall >= 0.5, f"stride-IVF recall@{K} = {recall}"


@pytest.mark.slow
def test_full_probe_and_exact_scan_find_the_self_match(spark, em):
    # probing every cell makes IVF exhaustive → it must find the self-match
    # the exact scan ranks first
    qvec = em.filter(F.col("vec_id") == 0).first()["embedding"]
    assert topk_nn(em, qvec, k=5).first()["vec_id"] == 0
    centroids, assign = ivf_build(em, n_centroids=4, assign_k=2)
    q = em.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    top = ivf_search(q, em, centroids, assign, k=5, n_probe=4).collect()
    assert top[0]["vec_id"] == 0 and top[0]["rank"] == 1


def test_ivf_assignment_covers_corpus(spark, em):
    _, assign = ivf_build(em, n_centroids=10, method="stride")
    assert assign.count() == em.count()
    assert assign.select("vec_id").distinct().count() == em.count()


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_multi_assignment_shape_and_recall_gain(spark, em, tmp_path):
    # assign_k=2 indexes every vector into exactly 2 distinct cells, and at a
    # comparable candidate budget beats single assignment (the bench setting:
    # 25 cells / assign 2 / probe 8).
    from vectrekker_spark.operators.ann import (
        assign_centroids,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    exact = _exact(spark, em)
    centroids, assign2 = ivf_build(em, n_centroids=10, assign_k=2)
    n = em.count()
    assert assign2.count() == 2 * n
    assert assign2.select("vec_id").distinct().count() == n
    assert assign2.distinct().count() == 2 * n  # the 2 cells per vector differ
    approx = ivf_search(_queries(em), em, centroids, assign2, k=K, n_probe=4).collect()
    recall2 = _recall(approx, exact)
    _, assign1 = ivf_build(em, n_centroids=10, assign_k=1)
    approx1 = ivf_search(_queries(em), em, centroids, assign1, k=K, n_probe=4).collect()
    recall1 = _recall(approx1, exact)
    assert recall2 >= 0.8, f"multi-assign IVF recall@{K} = {recall2}"
    assert recall2 >= recall1, (recall2, recall1)

    # the saved index over the same centroids: a query that probes both
    # cells of a vector sees it twice, and the ranking window must keep one
    path = str(tmp_path / "ivf2")
    ivf_save(centroids, assign2, em, path, assign_k=2)
    lc, cells = ivf_load(spark, path)
    probed = {
        (r["qid"], r["cid"])
        for r in assign_centroids(
            _queries(em), centroids, assign_k=4, id_col="qid", vec_col="qvec"
        ).collect()
    }
    cells_of: dict[int, set[int]] = {}
    for r in assign2.collect():
        cells_of.setdefault(r["vec_id"], set()).add(r["cid"])
    qids = {q_ for q_, _ in probed}
    assert any(
        all((q_, c) in probed for c in cs) for cs in cells_of.values() for q_ in qids
    ), "no query probes both cells of any vector; the dedupe is not exercised"
    got = ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=4).collect()
    for q_ in qids:
        mine = [r for r in got if r["qid"] == q_]
        assert len({r["vec_id"] for r in mine}) == len(mine) == K, q_
        assert sorted(r["rank"] for r in mine) == list(range(1, K + 1)), q_
    assert sorted(map(tuple, got)) == sorted(map(tuple, approx))


def test_assign_centroids_ties_and_guard(spark):
    import pytest

    from vectrekker_spark.operators.ann import assign_centroids

    # two identical centroids: the tie must resolve to the LOWER cid
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(3, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "cid long, cvec array<double>",
    )
    got = {r["vec_id"]: r["cid"] for r in assign_centroids(corpus, cents).collect()}
    assert got == {0: 1, 1: 2}  # tie → cid 1 (not 3); null vector dropped
    # assign_k=2 emits both tied cells in cid order
    multi = sorted(
        (r["vec_id"], r["cid"])
        for r in assign_centroids(corpus, cents, assign_k=2).collect()
    )
    assert multi == [(0, 1), (0, 3), (1, 1), (1, 2)] or multi[0:2] == [(0, 1), (0, 3)]
    # centroid-side guard trips instead of collecting an unbounded side
    with pytest.raises(ValueError, match="max_centroids"):
        assign_centroids(corpus, cents, max_centroids=2)


def test_ivf_search_cells_plan_is_jvm_single_exchange(spark, tmp_path):
    # Probe, cell join, dedupe and ranking all run in the JVM, and the
    # multi-assignment dedupe is folded into the ranking window: the only
    # exchanges are keyed by qid alone, none by (qid, id).
    from vectrekker_spark.operators.ann import ivf_load, ivf_save, ivf_search_cells

    corpus = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id"), F.lit(0.5)).alias("embedding"),
    )
    centroids, assign = ivf_build(corpus, n_centroids=4, method="stride", assign_k=2)
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, corpus, path, assign_k=2)
    lc, cells = ivf_load(spark, path)
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.5])], "qid long, qvec array<double>")
    res = ivf_search_cells(q, lc, cells, k=3, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in ("InPandas", "Python", "InArrow") if n in plan], plan
    keys = [
        l.split("hashpartitioning(")[1].split(")")[0].split(", ")[:-1]
        for l in plan.splitlines()
        if "Exchange hashpartitioning(" in l
    ]
    assert keys and all(len(k_) == 1 and k_[0].startswith("qid#") for k_ in keys), plan
    got = sorted((r["rank"], r["vec_id"]) for r in res.collect())
    assert [r for r, _ in got] == [1, 2, 3] and len({v for _, v in got}) == 3


def test_ivf_search_cells_reads_queries_once_and_releases_probes(spark, tmp_path):
    # A Python-RDD query frame (what createDataFrame(list) plans) costs a
    # Python task per read: the probes are materialized once, so the cid
    # collect and the final plan do not re-read the queries. The
    # materialized probes are released with the returned frame. IVF-PQ
    # runs the same probe step after its LUT collect: two reads, with or
    # without refine. The IVF-SQ8 exact re-rank adds no read.
    import gc
    import time

    from vectrekker_spark.operators.ann import (
        _probe_cells,
        _topk_by_score,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )
    from vectrekker_spark.operators.pq import ivfpq_save, ivfpq_search_cells, pq_encode

    corpus = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id"), F.lit(0.5)).alias("embedding"),
    )
    centroids, assign = ivf_build(corpus, n_centroids=6, method="stride", assign_k=2)
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, corpus, path, assign_k=2)
    lc, cells = ivf_load(spark, path)
    # a 1-bit codebook per dimension: m=3 subspaces of one dim, 2 codes each
    cb = spark.createDataFrame(
        [(j, c, [v]) for j in range(3) for c, v in enumerate((-0.5, 0.5))],
        "subspace int, code int, cvec array<double>",
    )
    pq_path = str(tmp_path / "ivfpq")
    ivfpq_save(pq_path, cb, centroids, assign, pq_encode(corpus, cb), assign_k=2)
    rows = [(i, [float(i % 3) - 1.0, 1.0 - i / 7, 0.5]) for i in range(7)]
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def bump(r):
        reads.add(1)
        return r

    q = spark.createDataFrame(
        sc.parallelize(rows, 2).map(bump), "qid long, qvec array<double>"
    )

    def persisted_ids():
        # ids from SparkContext's weak-value registry: getPersistentRDDs()
        # hands back a JVM map of strong RDD wrappers, and that copy kept
        # the checkpointed probes reachable for seconds after `del res`
        ids = spark._jsc.sc().persistentRdds().keySet().mkString(",")
        return {int(i) for i in ids.split(",") if i}

    def assert_released(persisted_before):
        new = None
        for _ in range(100):
            gc.collect()
            spark._jvm.System.gc()
            new = persisted_ids() - persisted_before
            if not new:
                break
            time.sleep(0.1)
        assert not new, new

    persisted_before = persisted_ids()
    cache_was_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    res = ivf_search_cells(q, lc, cells, k=4, n_probe=2)
    got = sorted(tuple(r) for r in res.collect())
    assert reads.value == len(rows)

    # the two-pass plan (probes read by the cid collect and again by the join)
    probes = _probe_cells(q, lc, 2)
    probed = [r[0] for r in probes.select("cid").distinct().collect()]
    cands = probes.join(cells.filter(F.col("cid").isin(probed)), "cid")
    want = sorted(
        tuple(r) for r in _topk_by_score(cands, 4, "vec_id", "embedding", dedupe=True).collect()
    )
    assert got == want and len({r[0] for r in got}) == len(rows)

    del res
    assert_released(persisted_before)

    # IVF-PQ: the LUT collect, then the probes — its refine arm takes the
    # query vectors from the probes, so refine adds no read
    for refine in (0, 2):
        persisted_before, reads_before = persisted_ids(), reads.value
        res = ivfpq_search_cells(q, pq_path, k=4, n_probe=2, refine=refine, corpus=corpus)
        got = res.collect()
        assert reads.value - reads_before == 2 * len(rows), refine
        assert len({r["qid"] for r in got}) == len(rows)
        del res
        assert_released(persisted_before)

    # the IVF-SQ8 exact re-rank reads the queries once as well
    sq_path = str(tmp_path / "ivfsq")
    ivf_save(centroids, assign, corpus, sq_path, assign_k=2, quantize=True)
    sq_cents, sq_cells = ivf_load(spark, sq_path)
    persisted_before, reads_before = persisted_ids(), reads.value
    res = ivf_search_cells(q, sq_cents, sq_cells, k=4, n_probe=2, corpus=corpus)
    got = res.collect()
    assert reads.value - reads_before == len(rows)
    assert len({r["qid"] for r in got}) == len(rows)
    del res
    assert_released(persisted_before)
    if cache_was_empty:
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _small_ivf(spark, tmp_path, n=60, n_centroids=6):
    from vectrekker_spark.operators.ann import ivf_load, ivf_save

    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id"), F.lit(0.5)).alias("embedding"),
    )
    centroids, assign = ivf_build(corpus, n_centroids=n_centroids, method="stride")
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, corpus, path)
    lc, cells = ivf_load(spark, path)
    return corpus, centroids, assign, lc, cells


def _local_queries(spark, n=5):
    from vectrekker_spark.session import local_frame

    rows = [(i, [float(i % 3) - 1.0, 1.0 - i / 7, 0.5]) for i in range(n)]
    return local_frame(spark, rows, "qid long, qvec array<double>")


def test_ivf_search_cells_reads_centroids_once(spark, tmp_path):
    # No size-guard job ahead of the probe: a Python-RDD centroid frame is
    # read once, by the materialized probes.
    from vectrekker_spark.operators.ann import ivf_search_cells

    corpus, centroids, _, lc, cells = _small_ivf(spark, tmp_path)
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def bump(r):
        reads.add(1)
        return r

    rows = [tuple(r) for r in lc.collect()]
    cents = spark.createDataFrame(
        sc.parallelize(rows, 2).map(bump), "cid long, cvec array<double>"
    )
    q = _local_queries(spark)
    got = _rows(ivf_search_cells(q, cents, cells, k=4, n_probe=2))
    assert reads.value == len(rows)
    assert got == _rows(ivf_search_cells(q, lc, cells, k=4, n_probe=2))


def test_ivf_search_cells_over_centroid_cap_matches_ivf_search(spark, tmp_path, monkeypatch):
    # _centroid_cap bounds driver collects only; a probe over a centroid
    # table past it still searches, with ivf_search's rows
    from vectrekker_spark.operators import ann

    corpus, centroids, assign, lc, cells = _small_ivf(spark, tmp_path)
    monkeypatch.setattr(ann, "_MAX_CENTROID_BYTES", 3 * 8 * 2)  # 2 rows at dim 3
    with pytest.raises(ValueError, match="max_centroid_bytes"):
        ann._centroid_cap(3, n=6)
    q = _local_queries(spark)
    got = _rows(ann.ivf_search_cells(q, lc, cells, k=4, n_probe=2))
    assert got and got == _rows(ivf_search(q, corpus, centroids, assign, k=4, n_probe=2))


def test_probe_broadcasts_no_centroids_without_broadcast_threshold(spark, tmp_path):
    # no broadcast hint: with autoBroadcastJoinThreshold=-1 the planner
    # gathers no centroid table to the driver, and the rows do not change
    import contextlib

    from vectrekker_spark.operators.ann import _probe_cells, ivf_search_cells

    @contextlib.contextmanager
    def conf(key, value):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, old)

    _, _, _, lc, cells = _small_ivf(spark, tmp_path)
    q = _local_queries(spark)
    want = _rows(ivf_search_cells(q, lc, cells, k=4, n_probe=2))
    with conf("spark.sql.autoBroadcastJoinThreshold", "-1"):
        plan = _probe_cells(q, lc, 2)._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" not in plan, plan
        assert _rows(ivf_search_cells(q, lc, cells, k=4, n_probe=2)) == want


def test_assign_centroids_byte_budget(spark):
    """The collect guard is a BYTE budget, not just a row count: a high-dim
    quantizer trips at rows × dim × 8 bytes even when the row cap would
    allow it (VERDICT r5 §What's-wrong #1)."""
    import pytest

    from vectrekker_spark.operators.ann import assign_centroids

    dim = 128
    corpus = spark.createDataFrame(
        [(0, [1.0] * dim)], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(i, [float(i)] * dim) for i in range(3)], "cid long, cvec array<double>"
    )
    # budget fits exactly 2 rows of dim-128 float64 → 3 centroids must raise,
    # and the message states the derived row allowance
    with pytest.raises(ValueError, match="max_centroid_bytes"):
        assign_centroids(corpus, cents, max_centroid_bytes=dim * 8 * 2)
    # same table passes once the budget covers it (row cap untouched)
    got = assign_centroids(
        corpus, cents, max_centroid_bytes=dim * 8 * 3
    ).collect()
    assert len(got) == 1


# --- persisted inverted-list index: save / load / prune / append -----------


def _rows(df):
    return sorted((r["qid"], r["vec_id"], r["score"], r["rank"]) for r in df.collect())


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_save_load_search_roundtrip(spark, em, tmp_path):
    from vectrekker_spark.operators.ann import (
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    centroids, assign = ivf_build(em, n_centroids=10, method="stride")
    expected = _rows(ivf_search(_queries(em), em, centroids, assign, k=K, n_probe=3))

    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, em, path)
    lc, cells = ivf_load(spark, path)
    got = _rows(ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=3))
    assert got == expected

    # on-disk layout: one directory per cell (partitioned by cid) inside
    # the CURRENT-pointed version dir
    import os

    from vectrekker_spark.operators.ann import cells_location

    dirs = sorted(
        d for d in os.listdir(cells_location(path)) if d.startswith("cid=")
    )
    assert len(dirs) == 10


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_cells_probe_prunes_partitions(spark, em, tmp_path):
    from vectrekker_spark.operators.ann import ivf_load, ivf_save, ivf_search_cells
    from vectrekker_spark.plans import partition_filters

    centroids, assign = ivf_build(em, n_centroids=10, method="stride")
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, em, path)
    lc, cells = ivf_load(spark, path)
    res = ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=3)
    pf = [f for f in partition_filters(res) if "cid" in f]
    # the cell scan carries a static cid predicate → only probed partitions read
    assert pf and any("IN" in f or "in(" in f for f in pf), pf

    # a many-cell probe (every cell) still filters statically on the
    # collected cids — they are bounded by the centroid count — and ranks
    # exactly like the in-memory search over the same index
    res_all = ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=10)
    pf_all = [f for f in partition_filters(res_all) if "cid" in f]
    assert pf_all and any("IN" in f or "in(" in f for f in pf_all), pf_all
    assert _rows(res_all) == _rows(
        ivf_search(_queries(em), em, centroids, assign, k=K, n_probe=10)
    )


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_append_matches_full_rebuild(spark, em, tmp_path):
    from vectrekker_spark.operators.ann import (
        assign_centroids,
        ivf_append,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    n = em.count()
    initial = em.filter(F.col("vec_id") < n // 2)
    delta = em.filter(F.col("vec_id") >= n // 2)

    centroids, assign0 = ivf_build(initial, n_centroids=8, method="stride")
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign0, initial, path)
    ivf_append(delta, path)

    lc, cells = ivf_load(spark, path)
    assert cells.count() == n  # every vector indexed exactly once
    got = _rows(ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=3))

    # oracle: same centroids, assignment over the FULL corpus in one shot
    full_assign = assign_centroids(em, centroids)
    expected = _rows(ivf_search(_queries(em), em, centroids, full_assign, k=K, n_probe=3))
    assert got == expected


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_compact_dedupes_reappended_batch(spark, em, tmp_path):
    from vectrekker_spark.operators.ann import (
        ivf_append,
        ivf_compact,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    n = em.count()
    centroids, assign = ivf_build(em, n_centroids=8, method="stride")
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, em, path)
    # re-append an already-indexed slice: duplicates land (at-least-once)
    dup = em.filter(F.col("vec_id") < 50)
    ivf_append(dup, path)
    lc, cells = ivf_load(spark, path)
    assert cells.count() == n + 50
    before = _rows(ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=3))

    removed = ivf_compact(spark, path)
    assert removed == 50
    lc2, cells2 = ivf_load(spark, path)
    assert cells2.count() == n
    # search results unchanged by compaction
    assert _rows(ivf_search_cells(_queries(em), lc2, cells2, k=K, n_probe=3)) == before


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_append_inherits_saved_assign_k(spark, em, tmp_path):
    # an index built multi-assigned must keep multi-assigning its appends
    # without every call site re-stating assign_k (it's in the saved meta)
    from vectrekker_spark.operators.ann import (
        ivf_append,
        ivf_load,
        ivf_meta,
        ivf_save,
    )

    n = em.count()
    initial = em.filter(F.col("vec_id") < n - 10)
    centroids, assign = ivf_build(initial, n_centroids=8, method="stride", assign_k=2)
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, initial, path, assign_k=2)
    assert ivf_meta(spark, path)["assign_k"] == 2

    ivf_append(em.filter(F.col("vec_id") >= n - 10), path)  # no args: meta-driven
    _, cells = ivf_load(spark, path)
    appended = cells.filter(F.col("vec_id") >= n - 10)
    assert appended.count() == 20  # 10 vectors x assign_k=2 cells each
    assert appended.select("vec_id").distinct().count() == 10


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_search_cells_infers_columns_from_schema(spark, tmp_path):
    # an ann-build-style index keyed by 'id' searches without the caller
    # re-stating column names (VERDICT-class bug: facade hardcoded vec_id)
    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    corpus = spark.createDataFrame(
        [(f"doc{i}", [float(i == j) for j in range(4)]) for i in range(4)],
        "id string, embedding array<double>",
    )
    centroids, assign = ivf_build(
        corpus.withColumn("n", F.monotonically_increasing_id()),
        n_centroids=2, id_col="id",
    )
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, corpus, path, id_col="id")
    lc, cells = ivf_load(spark, path)
    q = corpus.limit(1).selectExpr("id as qid", "embedding as qvec")
    res = ivf_search_cells(q, lc, cells, k=1, n_probe=2).collect()
    assert res and res[0]["id"] == "doc0" and res[0]["rank"] == 1


def test_ivf_load_rejects_pre_versioning_layouts(spark, tmp_path):
    """Every writer commits a three-token CURRENT-v* pointer; bare
    cells/centroids dirs and a two-token pointer are older layouts that
    ivf_load rejects instead of reading."""
    import os

    from vectrekker_spark.operators.ann import ivf_load

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid long, cvec array<double>"
    )
    cells = spark.createDataFrame(
        [(0, 7, [1.0, 0.0])], "cid long, vec_id long, embedding array<double>"
    )
    bare, two = str(tmp_path / "bare"), str(tmp_path / "two")
    for path, suffix in ((bare, ""), (two, "-v0")):
        centroids.write.parquet(f"{path}/centroids{suffix}")
        cells.write.partitionBy("cid").parquet(f"{path}/cells{suffix}")
    with open(os.path.join(two, "CURRENT-v0"), "w") as f:
        f.write("cells-v0 centroids-v0\n")
    for path in (bare, two):
        with pytest.raises(ValueError, match="rebuild the index with ivf_save"):
            ivf_load(spark, path)


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_compact_keeps_old_version_readable(spark, em, tmp_path):
    # ADVICE r5: a reader whose plan already resolved the old cells dir must
    # survive a concurrent compact — the pointer flips, the old version
    # stays on disk as the grace copy until the NEXT rewrite prunes it.
    import os

    from vectrekker_spark.operators.ann import (
        cells_dirname,
        ivf_append,
        ivf_compact,
        ivf_load,
        ivf_save,
    )

    n = em.count()
    centroids, assign = ivf_build(em, n_centroids=4, method="stride")
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, em, path)
    ivf_append(em.filter(F.col("vec_id") < 30), path)  # create duplicates

    _, old_reader = ivf_load(spark, path)  # plan bound to the old version
    old_name = cells_dirname(path)
    assert ivf_compact(spark, path) == 30
    # old version still fully readable by the in-flight plan...
    assert old_reader.count() == n + 30
    assert os.path.exists(os.path.join(path, old_name))
    # ...and a fresh load sees the deduped new version
    _, fresh = ivf_load(spark, path)
    assert fresh.count() == n
    assert cells_dirname(path) != old_name
    # next rewrite prunes the grace copy (bounded retention)
    ivf_compact(spark, path)
    assert not os.path.exists(os.path.join(path, old_name))


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_delete_supersedes_rows_partition_locally(spark, em, tmp_path):
    # The delete half of a vector upsert: target rows vanish, untouched
    # partitions are hardlinked into the new version (same inodes — no data
    # rewrite), and search stops returning the deleted ids.
    import os

    from vectrekker_spark.operators.ann import (
        cells_location,
        ivf_delete,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    n = em.count()
    centroids, assign = ivf_build(em, n_centroids=8, method="stride")
    path = str(tmp_path / "ivf")
    ivf_save(centroids, assign, em, path)
    old_loc = cells_location(path)
    old_files = {
        d: {f: os.stat(os.path.join(old_loc, d, f)).st_ino
            for f in os.listdir(os.path.join(old_loc, d))}
        for d in os.listdir(old_loc) if d.startswith("cid=")
    }

    _, cells0 = ivf_load(spark, path)
    victim_cids = {
        r["cid"] for r in cells0.filter(F.col("vec_id") < 20).select("cid").collect()
    }
    assert ivf_delete(spark, path, em.filter(F.col("vec_id") < 20).select("vec_id")) == 20
    lc, cells = ivf_load(spark, path)
    assert cells.count() == n - 20
    assert cells.filter(F.col("vec_id") < 20).count() == 0
    # unaffected partitions share inodes with the old version (hardlinks)
    new_loc = cells_location(path)
    assert new_loc != old_loc
    for d, files in old_files.items():
        cid = int(d.split("=")[1])
        if cid in victim_cids:
            continue
        for f, ino in files.items():
            assert os.stat(os.path.join(new_loc, d, f)).st_ino == ino, (d, f)
    got = ivf_search_cells(_queries(em), lc, cells, k=K, n_probe=8).collect()
    assert all(r["vec_id"] >= 20 for r in got)
    # deleting ids that aren't indexed is a no-op
    assert ivf_delete(
        spark, path, em.filter(F.col("vec_id") < 0).select("vec_id")
    ) == 0


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_quantized_index(spark, em, tmp_path):
    """IVF-SQ8: int8 cells are ~4x smaller, approximate search stays within
    the reconstruction error, and the corpus re-rank returns exact scores."""
    import os

    from vectrekker_spark.operators.ann import (
        ivf_append,
        ivf_load,
        ivf_meta,
        ivf_save,
        ivf_search_cells,
    )

    centroids, assign = ivf_build(em, n_centroids=8, method="stride")
    full, q8 = str(tmp_path / "full"), str(tmp_path / "q8")
    ivf_save(centroids, assign, em, full)
    ivf_save(centroids, assign, em, q8, quantize=True)
    assert ivf_meta(spark, q8)["quantized"] is True

    def dirsize(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        )

    from vectrekker_spark.operators.ann import cells_location

    assert dirsize(cells_location(q8)) < 0.5 * dirsize(cells_location(full))

    lc, fcells = ivf_load(spark, full)
    _, qcells = ivf_load(spark, q8)
    exact = _rows(ivf_search_cells(_queries(em), lc, fcells, k=K, n_probe=3))
    exact_ids = {(q, i) for q, i, _, _ in exact}

    # codes-only search: same candidates, scores off by <= the int8 error
    approx = ivf_search_cells(_queries(em), lc, qcells, k=K, n_probe=3).collect()
    approx_ids = {(r["qid"], r["vec_id"]) for r in approx}
    assert len(approx_ids & exact_ids) / len(exact_ids) >= 0.9

    # full-precision re-rank: identical rows (scores exact, same tie-breaks)
    rer = _rows(
        ivf_search_cells(_queries(em), lc, qcells, k=K, n_probe=3, corpus=em)
    )
    assert rer == exact

    # appends to a quantized index stay quantized
    n_before = qcells.count()
    ivf_append(em.limit(5), q8)
    _, qcells2 = ivf_load(spark, q8)
    assert qcells2.count() == n_before + 5
    assert "codes_scale" in qcells2.columns


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_quantized_rerank_infers_nondefault_vec_col(spark, tmp_path):
    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, vec array<double>",
    )
    centroids, assign = ivf_build(corpus, n_centroids=2, vec_col="vec")
    path = str(tmp_path / "q8")
    ivf_save(centroids, assign, corpus, path, vec_col="vec", quantize=True)
    lc, cells = ivf_load(spark, path)
    q = corpus.limit(1).selectExpr("vec_id as qid", "vec as qvec")
    # no vec_col passed: the re-rank takes the corpus's unique array column
    res = ivf_search_cells(q, lc, cells, k=1, n_probe=2, corpus=corpus).collect()
    assert res and res[0]["vec_id"] == 0 and res[0]["score"] == 1.0


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_recall_estimate_detects_centroid_drift(spark, tmp_path):
    """The stats-verb recall canary: build on 4 tight clusters (near-perfect
    cells), then append a drifted batch that straddles the stale centroid
    boundaries — the estimate must fall below the build-time value, because
    bisector vectors split across two cells while n_probe=1 reads one."""
    import numpy as np

    from vectrekker_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_recall_estimate,
        ivf_save,
    )

    rng = np.random.default_rng(7)
    dim, per = 8, 30
    base = []
    for c in range(4):
        center = np.zeros(dim)
        center[c] = 1.0
        for i in range(per):
            base.append((c * per + i, (center + rng.normal(0, 0.05, dim)).tolist()))
    base_df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    path = str(tmp_path / "drift")
    centroids, assign = ivf_build(base_df, n_centroids=4)
    ivf_save(centroids, assign, base_df, path)
    before = ivf_recall_estimate(spark, path, sample=240, k=5, n_probe=1)
    assert before["sampled"] == 4 * per
    assert before["recall"] > 0.9, before

    drift = []
    for gi, (a, b) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        center = np.zeros(dim)
        center[a] = center[b] = 1.0
        for i in range(per):
            drift.append(
                (1000 + gi * per + i, (center + rng.normal(0, 0.15, dim)).tolist())
            )
    ivf_append(
        spark.createDataFrame(drift, "vec_id long, embedding array<double>"), path
    )
    after = ivf_recall_estimate(spark, path, sample=240, k=5, n_probe=1)
    assert after["sampled"] == 8 * per
    assert after["recall"] < before["recall"] - 0.05, (before, after)


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_rebuild_keeps_old_centroids_readable(spark, em, tmp_path):
    """A full rebuild over an existing index must not overwrite the live
    centroids in place: a reader holding the old (centroids, cells) pair
    keeps getting consistent results, and a fresh load pairs the NEW
    centroids with the NEW cells (never new-centroids/old-cells)."""
    import os

    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    path = str(tmp_path / "rb")
    centroids, assign = ivf_build(em, n_centroids=5, method="stride")
    ivf_save(centroids, assign, em, path)
    old_c, old_cells = ivf_load(spark, path)
    q = em.limit(3).selectExpr("vec_id as qid", "embedding as qvec")
    want = _rows(ivf_search_cells(q, old_c, old_cells, k=5, n_probe=2))

    # rebuild with a DIFFERENT centroid count → different cid space
    c2, a2 = ivf_build(em, n_centroids=8, method="stride")
    ivf_save(c2, a2, em, path)
    # the old reader's plans still resolve their directories (grace copies)
    got_old = _rows(ivf_search_cells(q, old_c, old_cells, k=5, n_probe=2))
    assert got_old == want
    # a fresh load is internally consistent on the new version
    new_c, new_cells = ivf_load(spark, path)
    assert new_c.count() == 8
    res = _rows(ivf_search_cells(q, new_c, new_cells, k=5, n_probe=2))
    assert len(res) == 15  # 3 queries x k=5 — probes resolve real cells
    # second rebuild prunes the first version's tables (grace policy)
    c3, a3 = ivf_build(em, n_centroids=6, method="stride")
    ivf_save(c3, a3, em, path)
    dirs = set(os.listdir(path))
    assert sum(1 for d in dirs if d.startswith("cells")) == 2
    assert sum(1 for d in dirs if d.startswith("centroids")) == 2


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_delete_all_rows_keeps_index_usable(spark, em, tmp_path):
    """Deleting every id (e.g. an embed-version migration re-embedding the
    whole corpus) must leave a loadable, searchable, appendable EMPTY index,
    not an uninferrable data-less directory."""
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_compact,
        ivf_delete,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    sub = em.filter(F.col("vec_id") < 50)
    path = str(tmp_path / "empty")
    centroids, assign = ivf_build(sub, n_centroids=3, method="stride")
    ivf_save(centroids, assign, sub, path)
    removed = ivf_delete(spark, path, sub.select("vec_id"))
    assert removed == 50
    lc, cells = ivf_load(spark, path)  # schema recovered from meta sidecar
    assert cells.count() == 0
    assert [c for c in cells.columns if c != "cid"][0] == "vec_id"
    q = sub.limit(2).selectExpr("vec_id as qid", "embedding as qvec")
    assert ivf_search_cells(q, lc, cells, k=3, n_probe=2).count() == 0
    assert ivf_compact(spark, path) == 0  # compacting empty is a no-op
    # appends repopulate the same index in place
    from vectrekker_spark.operators.ann import ivf_append

    ivf_append(sub, path)
    lc2, cells2 = ivf_load(spark, path)
    assert cells2.count() == 50
    res = ivf_search_cells(q, lc2, cells2, k=1, n_probe=3).collect()
    assert res and res[0]["score"] == 1.0


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_orphan_centroids_never_mispaired(spark, em, tmp_path):
    """A crashed rebuild leaves an orphan centroids-v{N} with no pointer
    flip. A later compact must carry the LIVE pairing forward (recorded in
    the pointer), not adopt the orphan — and must reclaim it."""
    import os

    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_compact,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    path = str(tmp_path / "orphan")
    centroids, assign = ivf_build(em, n_centroids=5, method="stride")
    ivf_save(centroids, assign, em, path)
    # simulate the crash: a rebuild wrote its centroids (8 of them, a
    # different cid space) but died before writing cells / flipping
    c8, _ = ivf_build(em, n_centroids=8, method="stride")
    c8.write.parquet(f"{path}/centroids-v99")

    ivf_compact(spark, path)  # allocates a fresh cells version
    lc, cells = ivf_load(spark, path)
    assert lc.count() == 5  # still the live build's centroids, not the orphan
    q = em.limit(2).selectExpr("vec_id as qid", "embedding as qvec")
    res = ivf_search_cells(q, lc, cells, k=1, n_probe=5).collect()
    assert res and all(r["score"] == 1.0 for r in res)
    # the orphan was unreferenced garbage: the rewrite pruned it
    assert "centroids-v99" not in os.listdir(path)


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_read_corruption_not_masked_as_empty(spark, em, tmp_path):
    """_read_cells' empty-index fallback must not swallow real read
    failures: a cells dir whose data files are corrupt raises instead of
    silently loading as an empty index (which a later compact would make
    permanent)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        cells_location,
        ivf_build,
        ivf_load,
        ivf_save,
    )

    path = str(tmp_path / "corrupt")
    centroids, assign = ivf_build(em.limit(50), n_centroids=2, method="stride")
    ivf_save(centroids, assign, em.limit(50), path)
    live = cells_location(path)
    # wreck every data file (truncated footers), keeping files present
    for root, _dirs, files in os.walk(live):
        for fn in files:
            if not fn.startswith(("_", ".")):
                with open(os.path.join(root, fn), "wb") as f:
                    f.write(b"not a parquet file")
    with pytest.raises(Exception):
        ivf_load(spark, path)[1].collect()


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_recall_estimate_quantized_index(spark, em, tmp_path):
    """The recall canary measures a quantized index in its own dequantized
    space — no full-precision corpus needed, and sane values come back."""
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_recall_estimate,
        ivf_save,
    )

    sub = em.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "q8r")
    centroids, assign = ivf_build(sub, n_centroids=4, method="stride")
    ivf_save(centroids, assign, sub, path, quantize=True)
    r = ivf_recall_estimate(spark, path, sample=20, k=5, n_probe=4)
    assert r["sampled"] == 20
    # n_probe = all cells → candidates are the whole corpus → recall exact
    assert r["recall"] == 1.0, r


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_ivf_orphan_meta_never_adopted(spark, em, tmp_path):
    """An aborted rebuild's meta-v{N}.json (written before the crash, never
    referenced by a flip) must not change what ivf_meta reports, and the
    next rewrite reclaims it — metadata stays in lockstep with the pointer."""
    import json
    import os

    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_compact,
        ivf_meta,
        ivf_save,
    )

    sub = em.filter(F.col("vec_id") < 50)
    path = str(tmp_path / "ometa")
    centroids, assign = ivf_build(sub, n_centroids=2, method="stride")
    ivf_save(centroids, assign, sub, path)
    assert ivf_meta(spark, path).get("quantized") is False
    # simulate: a quantized rebuild wrote its meta then died pre-flip
    with open(os.path.join(path, "meta-v99.json"), "w") as f:
        json.dump({"id_col": "vec_id", "vec_col": "embedding",
                   "quantized": True}, f)
    assert ivf_meta(spark, path).get("quantized") is False  # pointer rules
    ivf_compact(spark, path)
    assert ivf_meta(spark, path).get("quantized") is False
    assert "meta-v99.json" not in os.listdir(path)  # orphan reclaimed


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_index_lifecycle_is_rename_free(spark, em, tmp_path, monkeypatch):
    """The whole pointer lifecycle — save, load, search, append, delete,
    compact — must never rename or overwrite-in-place (os.replace/os.rename
    banned for the duration): the protocol that makes it safe on an object
    store, where immutable PUT + LIST-highest is all you get."""
    import os

    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_compact,
        ivf_delete,
        ivf_append,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )

    def _banned(*a, **k):
        raise AssertionError("rename/replace used in the index lifecycle")

    monkeypatch.setattr(os, "replace", _banned)
    monkeypatch.setattr(os, "rename", _banned)

    sub = em.filter(F.col("vec_id") < 80)
    path = str(tmp_path / "norename")
    centroids, assign = ivf_build(sub, n_centroids=4, method="stride")
    ivf_save(centroids, assign, sub, path)

    q = sub.limit(3).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    lc, cells = ivf_load(spark, path)
    assert ivf_search_cells(q, lc, cells, k=3, n_probe=4).count() == 9

    delta = em.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    ivf_append(delta, path)
    removed = ivf_delete(spark, path, sub.limit(5).select("vec_id"))
    assert removed >= 5
    assert ivf_compact(spark, path) >= 0
    lc, cells = ivf_load(spark, path)
    assert ivf_search_cells(q, lc, cells, k=3, n_probe=4).count() == 9

    # pruning kept the live + grace pointers only, and no legacy file exists
    pointers = sorted(d for d in os.listdir(path) if d.startswith("CURRENT"))
    assert "CURRENT" not in pointers
    assert 1 <= len(pointers) <= 2, pointers


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_torn_pointer_write_falls_back_to_previous_version(spark, em, tmp_path):
    """A pointer file without the trailing-newline commit marker (a torn
    local write) is skipped; the reader takes the next-lower version, which
    still names the grace artifact set."""
    import os

    from pyspark.sql import functions as F

    from vectrekker_spark.commit import pointer_tokens
    from vectrekker_spark.operators.ann import ivf_load, ivf_save

    sub = em.filter(F.col("vec_id") < 50)
    path = str(tmp_path / "tornptr")
    centroids, assign = ivf_build(sub, n_centroids=2, method="stride")
    ivf_save(centroids, assign, sub, path)
    good = pointer_tokens(path)
    top = max(
        int(d.split("-v")[1]) for d in os.listdir(path) if d.startswith("CURRENT-v")
    )
    with open(os.path.join(path, f"CURRENT-v{top + 1}"), "w") as f:
        f.write("cells-v999 centroids-v999")  # no newline: uncommitted
    assert pointer_tokens(path) == good
    _, cells = ivf_load(spark, path)
    assert cells.count() == sub.count()


@pytest.mark.slow  # index-lifecycle QA tail (pytest.ini)
def test_prune_after_torn_pointer_keeps_committed_grace(spark, em, tmp_path):
    """A torn (uncommitted) top pointer must not shift the prune window:
    after the next flip, a COMMITTED older pointer survives as the grace
    pointer and the torn file is removed — never the reverse (review
    finding: a numeric cutoff deleted the last readable pointer and kept
    the unreadable torn one)."""
    import os
    import re

    from pyspark.sql import functions as F

    from vectrekker_spark.commit import pointer_tokens
    from vectrekker_spark.operators.ann import ivf_compact, ivf_load, ivf_save

    sub = em.filter(F.col("vec_id") < 50)
    path = str(tmp_path / "tornprune")
    centroids, assign = ivf_build(sub, n_centroids=2, method="stride")
    ivf_save(centroids, assign, sub, path)  # CURRENT-v0 (committed)
    top = max(
        int(d.split("-v")[1]) for d in os.listdir(path) if d.startswith("CURRENT-v")
    )
    torn = os.path.join(path, f"CURRENT-v{top + 1}")
    with open(torn, "w") as f:
        f.write("cells-v999 centroids-v999")  # crashed flip: no newline

    ivf_compact(spark, path)  # next rewrite flips past the torn version

    pointers = {
        d: int(d.split("-v")[1])
        for d in os.listdir(path)
        if re.fullmatch(r"CURRENT-v(\d+)", d)
    }
    assert not os.path.exists(torn), pointers  # torn file reclaimed
    committed = sorted(pointers.values())
    # new live pointer + the committed grace pointer both present
    assert len(committed) == 2 and committed[0] == top, pointers
    assert pointer_tokens(path)  # and the index still resolves
    _, cells = ivf_load(spark, path)
    assert cells.count() == sub.count()


def test_similarity_join_rejects_zero_dim_vectors(spark):
    # an empty-array (non-null) embedding must fail loudly, not
    # ZeroDivisionError inside the byte-budget arithmetic
    import pytest
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.knn import (
        similarity_join_blas,
        similarity_join_self_auto,
    )

    df = spark.createDataFrame(
        [(0, []), (1, [])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="zero-dimension"):
        similarity_join_blas(
            df, df, 0.5,
            left_id="vec_id", left_vec="embedding",
            right_id="vec_id", right_vec="embedding",
        )
    with pytest.raises(ValueError, match="zero-dimension"):
        similarity_join_self_auto(df, 0.5, "vec_id", "embedding")


# --- method="lloyd": the driver-side quantizer fit -------------------------
# The coarse quantizer is √N-small by construction, so fitting it is
# driver-scale work; ann._lloyd_fit is also the PQ and OPQ fit. These pin
# recall, layout invariance, determinism, the k ≤ n clamp, the
# no-scorable-rows guard and the method check.


def test_ivf_centroids_rejects_unknown_method(spark):
    from vectrekker_spark.operators.ann import ivf_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    # "kmeans" named the deleted MLlib fit; no name falls through to stride
    for method in ("kmeans", "Lloyd", ""):
        for k in (1, 2):
            with pytest.raises(ValueError, match="unknown method"):
                ivf_centroids(df, n_centroids=k, method=method)
    with pytest.raises(ValueError, match="unknown method"):
        ivf_build(df, n_centroids=2, method="kmeans")


def test_ivf_lloyd_recall_meets_declared_bar(spark, em):
    exact = _exact(spark, em)
    centroids, assign = ivf_build(em, n_centroids=10, method="lloyd")
    approx = ivf_search(_queries(em), em, centroids, assign, k=K, n_probe=5).collect()
    recall = _recall(approx, exact)
    assert recall >= 0.8, f"lloyd-IVF recall@{K} = {recall}"


def test_ivf_lloyd_layout_invariant_and_deterministic(spark, em):
    from vectrekker_spark.operators.ann import ivf_centroids

    a = ivf_centroids(em, n_centroids=8, method="lloyd").collect()
    b = ivf_centroids(em.repartition(7), n_centroids=8, method="lloyd").collect()
    c = ivf_centroids(em.coalesce(1), n_centroids=8, method="lloyd").collect()
    key = lambda rows: sorted((r.cid, tuple(r.cvec)) for r in rows)  # noqa: E731
    assert key(a) == key(b) == key(c)


def test_ivf_lloyd_sample_is_byte_budgeted(spark, monkeypatch):
    """The Lloyd sample obeys the module's driver-collect byte budget:
    ``_centroid_cap(dim)`` rows with the lowest xxhash64(id), fitted in id
    order — not every row of a corpus that fits a fixed row cap."""
    import numpy as np

    from vectrekker_spark.operators import ann

    dim, n, budget_rows, k = 8, 120, 40, 4
    g = np.random.default_rng(3)
    rows = [(i, [float(x) for x in g.standard_normal(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(ann, "_MAX_CENTROID_BYTES", budget_rows * dim * 8)

    got = sorted(
        (r.cid, list(r.cvec)) for r in ann.ivf_centroids(df, n_centroids=k).collect()
    )
    prefix = sorted(
        r.vec_id
        for r in df.orderBy(F.xxhash64("vec_id"), "vec_id").limit(budget_rows).collect()
    )
    def unit(vs):
        X = np.asarray(vs, dtype=np.float64)
        return X / np.sqrt((X * X).sum(axis=1))[:, None]

    want = [
        (cid, [float(x) for x in c])
        for cid, c in enumerate(ann._lloyd_fit(unit([rows[i][1] for i in prefix]), k))
    ]
    assert len(prefix) == budget_rows
    assert got == want
    # the budget is what shaped the fit: the whole corpus fits elsewhere
    full = ann._lloyd_fit(unit([v for _, v in rows]), k)
    assert [c for _, c in want] != [[float(x) for x in c] for c in full]


def test_ivf_lloyd_clamps_k_to_sample_size(spark):
    from vectrekker_spark.operators.ann import ivf_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    rows = ivf_centroids(df, n_centroids=10, method="lloyd").collect()
    assert len(rows) == 2  # k clamped to the 2 scorable rows
    assert sorted(r.cid for r in rows) == [0, 1]


def test_ivf_lloyd_no_scorable_rows_raises(spark):
    from vectrekker_spark.operators.ann import ivf_centroids

    df = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="non-null"):
        ivf_centroids(df, n_centroids=2, method="lloyd")


def test_ivf_lloyd_k1_short_circuits_to_min_id_vector(spark):
    from vectrekker_spark.operators.ann import ivf_centroids

    df = spark.createDataFrame(
        [(2, [0.0, 1.0]), (1, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = ivf_centroids(df, n_centroids=1, method="lloyd").collect()
    assert [(r.cid, list(r.cvec)) for r in rows] == [(0, [1.0, 0.0])]


def test_ivf_lloyd_duplicate_points_fewer_distinct_than_k(spark):
    # 3 distinct points, k=5 → clamped to 5? no: n=6 rows, k=5 stays, but
    # only 3 distinct locations — empty-cell reseeding must not loop or
    # emit NaN centers
    import math

    from vectrekker_spark.operators.ann import ivf_centroids

    pts = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]] * 2
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    rows = ivf_centroids(df, n_centroids=5, method="lloyd").collect()
    assert len(rows) == 5
    for r in rows:
        assert all(math.isfinite(x) for x in r.cvec)
