"""Product quantization (operators/pq.py): codebook geometry, encode
determinism, ADC correctness against a numpy oracle, recall vs exact
kNN (ADC-only and refined), and the validation guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectrekker_spark.operators.knn import knn_join
from vectrekker_spark.operators.pq import (
    _codebooks_np,
    pq_encode,
    pq_search,
    pq_train,
)


@pytest.fixture(scope="module")
def em(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = df.select("vec_id", "embedding").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def pq(spark, em):
    cb = pq_train(em, m=16, nbits=6).cache()
    codes = pq_encode(em, cb).cache()
    codes.count()
    yield cb, codes
    cb.unpersist()
    codes.unpersist()


def test_codebook_geometry_and_guards(spark, em):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(em, m=7)
    with pytest.raises(ValueError, match="no non-NULL"):
        pq_train(em.where(F.lit(False)), m=8)


def test_codebooks_dense_grid(pq):
    cb, _ = pq
    arr = _codebooks_np(cb)
    assert arr.shape == (16, 64, 4)  # dim 64, m=16, nbits=6
    assert np.isfinite(arr).all()


def test_encode_shape_and_determinism(spark, em, pq):
    cb, codes = pq
    rows = codes.collect()
    assert len(rows) == em.count()  # fixture has no NULL embeddings
    assert all(len(r["codes"]) == 16 for r in rows)
    assert all(0 <= c <= 63 for r in rows for c in r["codes"])
    again = {r["vec_id"]: list(r["codes"])
             for r in pq_encode(em.repartition(7), cb).collect()}
    first = {r["vec_id"]: list(r["codes"]) for r in rows}
    assert first == again  # partition-layout invariant


def test_adc_matches_numpy_oracle(spark, em, pq):
    """pq_search's ADC scores must equal the straightforward numpy
    reconstruction: score(q, x) = normalized(q) · dequantized(codes(x))."""
    cb, codes = pq
    arr = _codebooks_np(cb)
    q = em.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r.qid, r.vec_id): r.score
        for r in pq_search(q, codes, cb, k=5).collect()
    }
    code_map = {r["vec_id"]: np.array(r["codes"]) for r in codes.collect()}
    qv = {
        r.qid: np.asarray(r.qvec, dtype=np.float64)
        for r in q.collect()
    }
    for (qid, vid), score in got.items():
        qn = qv[qid] / np.linalg.norm(qv[qid])
        recon = np.concatenate(
            [arr[j, code_map[vid][j]] for j in range(16)]
        )
        assert score == pytest.approx(float(qn @ recon), abs=2e-6)


def test_recall_adc_and_refined(spark, em, pq):
    """Measured recall@10 vs exact kNN over the first 20 queries on the
    sf0.001 fixture (600 vectors, dim 64): ADC-only must clear 0.55 —
    measured 0.68 (m=16 x 64-way codebooks; this fixture's embeddings are
    near-random, PQ's hardest case); refine=5 must clear 0.9 — measured
    0.99. Bounds leave slack for k-means seed drift across library
    versions, not for regressions."""
    cb, codes = pq
    q = em.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact: dict[int, set] = {}
    for r in knn_join(q, em, k=10).collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])

    def recall(res):
        got: dict[int, set] = {}
        for r in res.collect():
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        return sum(
            len(got.get(x, set()) & exact[x]) for x in exact
        ) / (10 * len(exact))

    r_adc = recall(pq_search(q, codes, cb, k=10))
    assert r_adc >= 0.55, r_adc
    r_ref = recall(pq_search(q, codes, cb, k=10, refine=5, corpus=em))
    assert r_ref >= 0.9, r_ref
    assert r_ref >= r_adc  # the rerank can only help


def test_refined_scores_are_exact_cosine(spark, em, pq):
    """With refine, surviving rows carry the TRUE round-6 cosine — the
    knn_join score contract, so downstream thresholds transfer."""
    cb, codes = pq
    q = em.where(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        r.vec_id: r.score
        for r in pq_search(q, codes, cb, k=5, refine=10, corpus=em).collect()
    }
    want = {
        r["vec_id"]: r["score"]
        for r in knn_join(q, em, k=600).collect()
        if r["vec_id"] in got
    }
    assert got == want


def test_refined_search_reads_python_rdd_queries_once(spark, em, pq):
    """The LUT collect is the only read of the caller's query frame: the
    refine arm scores against a local frame of the collected rows, with
    the original vectors and column types, so its exact scores do not
    change."""
    cb, codes = pq
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def bump(r):
        reads.add(1)
        return r

    local = em.where(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    rows = [tuple(r) for r in local.collect()]
    q = spark.createDataFrame(sc.parallelize(rows, 2).map(bump), local.schema)
    for refine in (0, 2):
        before = reads.value
        got = sorted(map(tuple, pq_search(
            q, codes, cb, k=5, refine=refine, corpus=em
        ).collect()))
        assert reads.value - before == len(rows), refine
        assert got == sorted(map(tuple, pq_search(
            local, codes, cb, k=5, refine=refine, corpus=em
        ).collect()))


def test_pq_train_is_partition_layout_invariant(spark, em, pq):
    cb, _ = pq
    again = pq_train(em.repartition(7), m=16, nbits=6)
    assert np.array_equal(_codebooks_np(cb), _codebooks_np(again))


def _unit_rows(x):
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def test_pq_train_pads_degenerate_subspaces(spark):
    """A zero dimension (one distinct point in its subspace) and a corpus
    with fewer rows than 2^nbits both give a full, finite (m, 2^nbits,
    dsub) grid: a subspace with fewer than k distinct points takes those
    points, cycled, so its quantization is exact."""
    g = np.random.default_rng(17)
    zero_dim = g.standard_normal((40, 8))
    zero_dim[:, 0] = 0.0
    nbits = 4
    # (vectors, m, the subspaces with fewer than 2^nbits distinct points)
    for x, m, flat in ((zero_dim, 8, [0]), (zero_dim[:5], 4, range(4))):
        k, dsub = 1 << nbits, x.shape[1] // m
        corpus = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x)],
            "vec_id long, embedding array<double>",
        )
        cb = pq_train(corpus, m=m, nbits=nbits)
        grid = _codebooks_np(cb)
        assert grid.shape == (m, k, dsub) and np.isfinite(grid).all()
        codes = {r.vec_id: list(r.codes) for r in pq_encode(corpus, cb).collect()}
        xs = _unit_rows(x).reshape(len(x), m, dsub)
        for j in flat:
            distinct = np.unique(xs[:, j, :], axis=0)
            assert len(distinct) < k
            # the distinct points, sorted, cycled up to k
            assert np.array_equal(grid[j], distinct[np.arange(k) % len(distinct)])
            recon = np.asarray([grid[j, codes[i][j]] for i in range(len(x))])
            assert np.allclose(recon, xs[:, j, :], rtol=0, atol=1e-12)


def test_search_query_cap(spark, em, pq):
    cb, codes = pq
    q = em.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    with pytest.raises(ValueError, match="max_queries"):
        pq_search(q, codes, cb, k=3, max_queries=10)


def test_pq_save_load_roundtrip_and_guards(spark, em, pq, tmp_path):
    from vectrekker_spark.operators.pq import pq_load, pq_save

    cb, codes = pq
    path = str(tmp_path / "pqidx")
    meta = pq_save(cb, codes, path)
    assert meta == {"version": 0, "m": 16, "nbits": 6, "dsub": 4,
                    "dim": 64, "id_col": "vec_id", "rotated": False}
    cb2, codes2, meta2 = pq_load(spark, path)
    assert meta2 == meta
    q = em.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = sorted(map(tuple, pq_search(q, codes, cb, k=5).collect()))
    b = sorted(map(tuple, pq_search(q, codes2, cb2, k=5).collect()))
    assert a == b

    # a torn (newline-less) top pointer → the previous committed version;
    # a corrupt meta the pointer names → loud error; no pointer → reads
    # as no index, naming the rebuild verb
    import os

    from vectrekker_spark.commit import pointer_tokens

    live = pointer_tokens(path)
    with open(f"{path}/CURRENT-v1", "w") as f:
        f.write("codebooks-v9 codes-v9 meta-v9.json")
    _, codes3, meta3 = pq_load(spark, path)
    assert meta3 == meta and codes3.count() == codes.count()
    meta_file = next(t for t in live if t.startswith("meta-"))
    with open(f"{path}/{meta_file}") as f:
        good = f.read()
    with open(f"{path}/{meta_file}", "w") as f:
        f.write('{"m": 16')
    with pytest.raises(ValueError):
        pq_load(spark, path)
    with open(f"{path}/{meta_file}", "w") as f:
        f.write(good)
    for d in os.listdir(path):
        if d.startswith("CURRENT-v"):
            os.remove(f"{path}/{d}")
    with pytest.raises(ValueError, match=r"no index at .*CLI: pq-build"):
        pq_load(spark, path)


def _qframe(em, n, qid="qid", qvec="qvec"):
    return em.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias(qid), F.col("embedding").alias(qvec)
    )


def test_ivfpq_full_probe_equals_pq_search(spark, em, pq, tmp_path):
    """With n_probe = n_centroids the candidate set is the whole index,
    so the persisted IVF∘PQ search must EQUAL plain pq_search row-for-row,
    ADC and refined — the composition adds pruning, never different
    scoring. The index is multi-assigned, so every vector is a candidate
    twice and the ranking window must count it once."""
    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import ivfpq_save, ivfpq_search_cells

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=10, assign_k=2)
    path = str(tmp_path / "ivfpq")
    meta = ivfpq_save(path, cb, centroids, assign, codes, assign_k=2)
    assert meta["version"] == 0 and meta["dim"] == 64
    q = _qframe(em, 8)
    full = ivfpq_search_cells(q, path, k=7, n_probe=10)
    assert dict(full.dtypes)["rank"] == "bigint"
    plain = pq_search(q, codes, cb, k=7)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, plain.collect()))
    full_r = ivfpq_search_cells(q, path, k=5, n_probe=10, refine=3, corpus=em)
    plain_r = pq_search(q, codes, cb, k=5, refine=3, corpus=em)
    assert sorted(map(tuple, full_r.collect())) == sorted(map(tuple, plain_r.collect()))


def test_ivfpq_prunes_and_recalls(spark, em, pq, tmp_path):
    """Partial probe: every result must come from a probed cell, and
    recall@10 vs exact stays useful (measured 0.68 ADC / 0.97 refined
    at n_probe=6/10 with multi-assign 2 on the near-random fixture —
    pruning cost ~0 here because multi-assign covers the loss; gate 0.45)."""
    from vectrekker_spark.operators.ann import assign_centroids, ivf_build
    from vectrekker_spark.operators.pq import ivfpq_save, ivfpq_search_cells

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=10, assign_k=2)
    path = str(tmp_path / "ivfpq")
    ivfpq_save(path, cb, centroids, assign, codes, assign_k=2)
    q = _qframe(em, 20)
    res = ivfpq_search_cells(q, path, k=10, n_probe=6).collect()
    # every hit's cell ∈ its query's probed cells
    probed = {
        (r["qid"], r["cid"])
        for r in assign_centroids(
            q, centroids, assign_k=6, id_col="qid", vec_col="qvec"
        ).collect()
    }
    member = {}
    for r in assign.collect():
        member.setdefault(r["vec_id"], set()).add(r["cid"])
    for r in res:
        assert any((r["qid"], c) in probed for c in member[r["vec_id"]]), r

    exact = knn_join(q, em, k=10)
    rec = _recall_at(spark.createDataFrame(res), exact)
    assert rec >= 0.45, rec

    # refined variant returns exact cosine and can only improve
    ref = ivfpq_search_cells(q, path, k=10, n_probe=6, refine=5, corpus=em)
    assert _recall_at(ref, exact) >= rec - 1e-9


def test_ivfpq_nondefault_column_names(spark, em, pq, tmp_path):
    """Advisor r13: the probe step once passed the CALLER's id/vec names
    where only the codes table's columns exist — non-default names raised
    a missing-column AnalysisException. Renamed everything end-to-end
    (index id, query id/vector, refine corpus); results must equal the
    default-named run."""
    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import ivfpq_save, ivfpq_search_cells

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=10, assign_k=1)
    em2 = em.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("emb"))
    renamed = str(tmp_path / "renamed")
    ivfpq_save(
        renamed, cb, centroids,
        assign.select(F.col("vec_id").alias("doc_id"), "cid"),
        pq_encode(em2, cb, id_col="doc_id", vec_col="emb"),
        id_col="doc_id",
    )
    default = str(tmp_path / "default")
    ivfpq_save(default, cb, centroids, assign, codes)
    q2 = _qframe(em, 5, qid="query_id", qvec="qv")
    for refine, corpus2, corpus in ((0, None, None), (3, em2, em)):
        got = ivfpq_search_cells(
            q2, renamed, k=7, n_probe=4, refine=refine, corpus=corpus2,
            qid_col="query_id", qvec_col="qv", vec_col="emb",
        )
        assert got.columns == ["query_id", "doc_id", "score", "rank"]
        want = ivfpq_search_cells(
            _qframe(em, 5), default, k=7, n_probe=4, refine=refine, corpus=corpus
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_search_cells_plan_prunes_partitions(spark, em, pq, tmp_path):
    """The probed-cid isin filter must reach the code scan as a PARTITION
    filter — the scan reads only the probed cells' directories."""
    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import ivfpq_load, ivfpq_save

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=10, assign_k=1)
    path = str(tmp_path / "ivfpq")
    ivfpq_save(path, cb, centroids, assign, codes)
    _, _, loaded_codes, _ = ivfpq_load(spark, path)
    plan = (
        loaded_codes.filter(F.col("cid").isin([1, 3]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cid" in plan.split(
        "PartitionFilters", 1)[1][:200], plan


def test_ivfpq_append_equals_full_rebuild(spark, em, pq, tmp_path):
    """Append under the pinned codebooks/centroids ≡ saving the full
    corpus in one shot — row-for-row, including search results."""
    from vectrekker_spark.operators.ann import assign_centroids, ivf_build
    from vectrekker_spark.operators.pq import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_save,
        ivfpq_search_cells,
        pq_encode,
    )

    cb, _ = pq
    centroids, assign_full = ivf_build(em, n_centroids=10, assign_k=1)
    half1 = em.where(F.col("vec_id") % 2 == 0)
    half2 = em.where(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    ivfpq_save(
        inc, cb, centroids,
        assign_centroids(half1, centroids, assign_k=1),
        pq_encode(half1, cb),
    )
    ivfpq_append(half2, inc)

    full = str(tmp_path / "full")
    ivfpq_save(full, cb, centroids, assign_full, pq_encode(em, cb))

    _, _, codes_inc, _ = ivfpq_load(spark, inc)
    _, _, codes_full, _ = ivfpq_load(spark, full)
    rows_inc = sorted((r["cid"], r["vec_id"], tuple(r["codes"]))
                      for r in codes_inc.collect())
    rows_full = sorted((r["cid"], r["vec_id"], tuple(r["codes"]))
                       for r in codes_full.collect())
    assert rows_inc == rows_full

    q = em.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = sorted(map(tuple, ivfpq_search_cells(q, inc, k=6, n_probe=3).collect()))
    want = sorted(map(tuple, ivfpq_search_cells(q, full, k=6, n_probe=3).collect()))
    assert got == want

    # at-least-once: re-appending the same batch must not change results
    ivfpq_append(half2, inc)
    again = sorted(map(tuple, ivfpq_search_cells(q, inc, k=6, n_probe=3).collect()))
    assert again == want


def test_ivfpq_persistence_guards(spark, em, pq, tmp_path):
    import os

    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_save,
    )

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=5, assign_k=1)
    path = str(tmp_path / "g")
    # no committed pointer → no index, naming the rebuild verb
    os.makedirs(path, exist_ok=True)
    with pytest.raises(ValueError, match=r"no index at .*CLI: ivfpq-build"):
        ivfpq_load(spark, path)
    ivfpq_save(path, cb, centroids, assign, codes)
    # a torn (newline-less) top pointer → the committed version still loads
    with open(os.path.join(path, "CURRENT-v1"), "w") as f:
        f.write("codebooks-v9 centroids-v9 codes-v9")
    assert ivfpq_load(spark, path)[3]["version"] == 0
    # the next save flips past the torn pointer and reclaims it
    assert ivfpq_save(path, cb, centroids, assign, codes)["version"] == 1
    assert not os.path.exists(os.path.join(path, "CURRENT-v1"))
    assert ivfpq_load(spark, path)[3]["version"] == 1
    # wrong-dim append refuses before writing anything
    bad = em.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="dim 32"):
        ivfpq_append(bad, path)


def test_ivfpq_save_versions_and_prunes(spark, em, pq, tmp_path):
    """Re-saving bumps the version, keeps the previous one as the grace
    copy, and prunes older ones."""
    import os

    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import ivfpq_load, ivfpq_save

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=5, assign_k=1)
    path = str(tmp_path / "v")
    for expect in (0, 1, 2):
        meta = ivfpq_save(path, cb, centroids, assign, codes)
        assert meta["version"] == expect
    names = set(os.listdir(path))
    assert "codes-v2" in names and "codes-v1" in names  # live + grace
    assert "codes-v0" not in names
    assert ivfpq_load(spark, path)[3]["version"] == 2


def _recall_at(res_df, exact_df, k=10):
    exact = {}
    for r in exact_df.collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])
    got = {}
    for r in res_df.collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    return sum(len(got.get(q, set()) & s) for q, s in exact.items()) / (
        k * len(exact)
    )


def test_opq_rotation_is_orthogonal_and_deterministic(spark, em):
    from vectrekker_spark.operators.pq import opq_train

    R, cb = opq_train(em, m=16, nbits=4, iters=3)
    assert R.shape == (64, 64)
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-9)
    R2, _ = opq_train(em.repartition(7), m=16, nbits=4, iters=3)
    assert np.array_equal(R, R2)  # layout-invariant (sorted bounded sample)


def test_opq_recall_on_near_random_fixture(spark, em):
    """ADC-only recall through the rotation must clear the plain-PQ gate
    on the near-random fixture (rotation can't help much here — the
    check is it doesn't HURT)."""
    from vectrekker_spark.operators.pq import (
        opq_train,
        pq_encode,
        pq_search,
        rotate_vectors,
    )

    R, cb = opq_train(em, m=16, nbits=6, iters=4)
    rot = rotate_vectors(em, R)
    codes = pq_encode(rot, cb)
    q = rotate_vectors(
        em.where(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        ),
        R, vec_col="qvec",
    )
    res = pq_search(q, codes, cb, k=10)
    exact = knn_join(
        em.where(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        ),
        em, k=10,
    )
    rec = _recall_at(res, exact)
    print(f"OPQ ADC recall@10 (near-random fixture): {rec:.3f}")
    assert rec >= 0.55, rec


def test_opq_beats_plain_pq_on_correlated_dims(spark):
    """The fixture OPQ exists for: anisotropic vectors whose principal
    axes straddle the subspace split (x = z·M with decaying spectrum and
    a random mixing rotation). Plain PQ quantizes high-variance
    directions split across subspaces; the learned rotation re-aligns
    them, measurably lifting ADC recall."""
    from vectrekker_spark.operators.pq import (
        opq_train,
        pq_encode,
        pq_search,
        rotate_vectors,
    )

    g = np.random.default_rng(140)
    d, n = 32, 800
    # variance concentrated in 8 dims that the axis-order split packs
    # into just TWO subspaces (16 codes for a 4-d high-variance blob ≈
    # 1 bit/dim) — the rotation's job is to spread them one per subspace
    spectrum = np.where(np.arange(d) < 8, 1.0, 0.05)
    x = g.standard_normal((n, d)) * spectrum
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    qsrc = corpus.where(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = knn_join(qsrc, corpus, k=10)

    plain_cb = pq_train(corpus, m=8, nbits=4)
    plain = pq_search(qsrc, pq_encode(corpus, plain_cb), plain_cb, k=10)
    rec_plain = _recall_at(plain, exact)

    R, opq_cb = opq_train(corpus, m=8, nbits=4, iters=8)
    rot = rotate_vectors(corpus, R)
    rq = rotate_vectors(qsrc, R, vec_col="qvec")
    opq = pq_search(rq, pq_encode(rot, opq_cb), opq_cb, k=10)
    rec_opq = _recall_at(opq, exact)

    print(f"correlated-dims ADC recall@10: plain={rec_plain:.3f} "
          f"opq={rec_opq:.3f}")
    assert rec_opq >= rec_plain + 0.05, (rec_plain, rec_opq)
    corpus.unpersist()


def test_rotate_vectors_contract(spark, em):
    from vectrekker_spark.operators.pq import rotate_vectors

    R = np.eye(64)
    df = em.unionByName(
        spark.createDataFrame([(99999, None)],
                              "vec_id long, embedding array<double>")
    )
    out = rotate_vectors(df, R)
    rows = {r["vec_id"]: r["embedding"] for r in out.collect()}
    assert rows[99999] is None  # NULL stays NULL
    orig = {r["vec_id"]: r["embedding"] for r in em.collect()}
    assert np.allclose(rows[0], orig[0])  # identity rotation is a no-op
    # narrow plan
    plan = rotate_vectors(em, R)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="square"):
        rotate_vectors(em, np.zeros((3, 4)))


def test_opq_guards(spark, em):
    from vectrekker_spark.operators.pq import opq_train

    with pytest.raises(ValueError, match="not divisible"):
        opq_train(em, m=7)
    with pytest.raises(ValueError, match="max_rows"):
        opq_train(em, m=16, max_rows=10)
    with pytest.raises(ValueError, match="no non-NULL"):
        opq_train(em.where(F.lit(False)), m=16)


def test_ivfpq_rotated_index_end_to_end(spark, tmp_path):
    """OPQ rotation pinned WITH the persisted index: save stores it,
    search applies it to the LUTs automatically (probing/refine stay in
    original space — rotation preserves cosine), append encodes deltas
    rotated, and the whole path beats the unrotated index on the
    correlated-dims fixture."""
    from vectrekker_spark.operators.ann import assign_centroids, ivf_build
    from vectrekker_spark.operators.pq import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_save,
        ivfpq_search_cells,
        opq_train,
        pq_encode,
        rotate_vectors,
    )

    g = np.random.default_rng(141)
    d, n = 32, 600
    spectrum = np.where(np.arange(d) < 8, 1.0, 0.05)
    x = g.standard_normal((n, d)) * spectrum
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    centroids, assign = ivf_build(corpus, n_centroids=6, assign_k=2)
    R, cb = opq_train(corpus, m=8, nbits=4, iters=8)

    path = str(tmp_path / "opq_idx")
    half1 = corpus.where(F.col("vec_id") % 2 == 0)
    half2 = corpus.where(F.col("vec_id") % 2 == 1)
    ivfpq_save(
        path, cb, centroids,
        assign_centroids(half1, centroids, assign_k=2),
        pq_encode(rotate_vectors(half1, R), cb),
        assign_k=2, rotation=R,
    )
    _, _, _, meta = ivfpq_load(spark, path)
    assert meta["rotated"] and meta["rotation_matrix"].shape == (32, 32)

    # append is rotation-aware: append ≡ one-shot full save
    ivfpq_append(half2, path)
    full = str(tmp_path / "opq_full")
    ivfpq_save(
        full, cb, centroids, assign,
        pq_encode(rotate_vectors(corpus, R), cb),
        assign_k=2, rotation=R,
    )
    q = corpus.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = sorted(map(tuple, ivfpq_search_cells(q, path, k=8, n_probe=6).collect()))
    want = sorted(map(tuple, ivfpq_search_cells(q, full, k=8, n_probe=6).collect()))
    assert got == want

    # the rotation measurably lifts recall vs the same index unrotated
    plain_cb = pq_train(corpus, m=8, nbits=4)
    plain_path = str(tmp_path / "plain_idx")
    ivfpq_save(plain_path, plain_cb, centroids, assign,
               pq_encode(corpus, plain_cb), assign_k=2)
    exact = knn_join(q, corpus, k=8)
    rec_opq = _recall_at(ivfpq_search_cells(q, path, k=8, n_probe=6),
                         exact, k=8)
    rec_plain = _recall_at(ivfpq_search_cells(q, plain_path, k=8, n_probe=6),
                           exact, k=8)
    print(f"persisted ivfpq recall@8: plain={rec_plain:.3f} opq={rec_opq:.3f}")
    assert rec_opq >= rec_plain + 0.05, (rec_plain, rec_opq)

    # refine arm: exact round-6 cosine out, original-space corpus
    ref = ivfpq_search_cells(q, path, k=5, n_probe=6, refine=4,
                             corpus=corpus).collect()
    from vectrekker_spark.functions.vector import cosine_sim

    pairs = spark.createDataFrame(
        [(r["qid"], r["vec_id"], r["score"]) for r in ref],
        "qid long, vec_id long, score double",
    )
    chk = (
        pairs.join(corpus, "vec_id")
        .join(q.withColumnRenamed("qid", "qid2"),
              F.col("qid") == F.col("qid2"))
        .select(
            (F.round(cosine_sim("embedding", "qvec"), 6)
             == F.col("score")).alias("ok")
        )
    )
    assert all(r["ok"] for r in chk.collect())
    corpus.unpersist()


def test_ivfpq_save_rotation_guards(spark, em, pq, tmp_path):
    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import ivfpq_save

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=5, assign_k=1)
    with pytest.raises(ValueError, match="rotation shape"):
        ivfpq_save(str(tmp_path / "x"), cb, centroids, assign, codes,
                   rotation=np.eye(16))


def test_flat_pq_rotated_save_load_search(spark, tmp_path):
    """Flat persisted PQ carries its OPQ rotation too: pq_search with
    rotation= equals the manual rotate-the-queries composition, and the
    refine arm stays exact in ORIGINAL space."""
    from vectrekker_spark.operators.pq import (
        opq_train,
        pq_load,
        pq_save,
        pq_search,
        rotate_vectors,
    )

    g = np.random.default_rng(142)
    d, n = 32, 400
    spectrum = np.where(np.arange(d) < 8, 1.0, 0.05)
    x = g.standard_normal((n, d)) * spectrum
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    R, cb = opq_train(corpus, m=8, nbits=4, iters=5)
    codes = pq_encode(rotate_vectors(corpus, R), cb)
    path = str(tmp_path / "flat_opq")
    meta = pq_save(cb, codes, path, rotation=R)
    assert meta["rotated"]
    cb2, codes2, meta2 = pq_load(spark, path)
    assert np.array_equal(meta2["rotation_matrix"], R)

    q = corpus.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    auto = sorted(map(tuple, pq_search(
        q, codes2, cb2, k=6, rotation=meta2["rotation_matrix"]
    ).collect()))
    manual = sorted(map(tuple, pq_search(
        rotate_vectors(q, R, vec_col="qvec"), codes, cb, k=6
    ).collect()))
    assert auto == manual

    # refine: original-space queries + corpus, exact round-6 cosine out
    ref = pq_search(q, codes2, cb2, k=3, refine=5, corpus=corpus,
                    rotation=meta2["rotation_matrix"]).collect()
    exact = {(r["qid"], r["vec_id"]): r["score"]
             for r in knn_join(q, corpus, k=400).collect()}
    for r in ref:
        assert r["score"] == exact[(r["qid"], r["vec_id"])]


def test_ivfpq_compact_reclaims_duplicates(spark, em, pq, tmp_path):
    """Re-appended batches leave (cid, id) duplicates; compact reclaims
    them in a NEW codes version (pointer flips, grace kept), and search
    results are identical before and after."""
    import os

    from vectrekker_spark.operators.ann import assign_centroids, ivf_build
    from vectrekker_spark.operators.pq import (
        ivfpq_append,
        ivfpq_compact,
        ivfpq_load,
        ivfpq_save,
        ivfpq_search_cells,
    )

    cb, codes = pq
    centroids, assign = ivf_build(em, n_centroids=8, assign_k=1)
    path = str(tmp_path / "c")
    ivfpq_save(path, cb, centroids, assign, codes)
    half = em.where(F.col("vec_id") % 2 == 0)
    ivfpq_append(half, path)  # duplicates every even id
    n_half = half.count()

    q = em.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = sorted(map(tuple, ivfpq_search_cells(q, path, k=5,
                                                  n_probe=4).collect()))
    removed = ivfpq_compact(spark, path)
    assert removed == n_half
    _, _, codes2, meta2 = ivfpq_load(spark, path)
    assert meta2["version"] == 1
    assert codes2.count() == em.count()
    after = sorted(map(tuple, ivfpq_search_cells(q, path, k=5,
                                                 n_probe=4).collect()))
    assert after == before
    # idempotent on a clean index
    assert ivfpq_compact(spark, path) == 0
    # grace version kept, not the one before it
    names = set(os.listdir(path))
    assert "codes-v2" in names and "codes-v1" in names
    assert "codes-v0" not in names


# ------------------------------------------------------ r14s3 review pins


def test_search_null_and_empty_queries(spark, pq):
    """One junk query row must not kill the job: NULL-id / NULL-vector
    queries drop (the corpus NULL rule), an all-dropped set returns an
    EMPTY typed frame, and a wrong-dim vector raises a clear error."""
    from vectrekker_spark.operators.pq import pq_search

    cb, codes = pq
    mixed = spark.createDataFrame(
        [(None, [0.1] * 64), ("q_null_vec", None)],
        "qid string, qvec array<double>",
    )
    out = pq_search(mixed, codes, cb, k=3)
    assert out.count() == 0
    assert out.columns == ["qid", "vec_id", "score", "rank"]
    empty = spark.createDataFrame([], "qid string, qvec array<double>")
    assert pq_search(empty, codes, cb, k=3).count() == 0
    bad = spark.createDataFrame(
        [("q", [0.1] * 7)], "qid string, qvec array<double>"
    )
    with pytest.raises(ValueError, match="64-dim"):
        pq_search(bad, codes, cb, k=3)


def test_pq_resave_is_versioned_and_prunes_with_grace(spark, pq, tmp_path):
    """Re-saves must never pair old meta with overwritten artifacts: each
    save writes NEW versioned files, keeps the previous committed version
    for mid-scan readers, and prunes older ones."""
    import os

    from vectrekker_spark.operators.pq import pq_load, pq_save

    cb, codes = pq
    path = str(tmp_path / "resave")
    m0 = pq_save(cb, codes, path)
    m1 = pq_save(cb, codes.limit(10), path)
    m2 = pq_save(cb, codes.limit(5), path)
    assert (m0["version"], m1["version"], m2["version"]) == (0, 1, 2)
    listing = sorted(os.listdir(path))
    # v2 (live) + v1 (grace) survive; v0 pruned
    assert "codes-v2" in listing and "codes-v1" in listing
    assert "codes-v0" not in listing
    _, codes2, meta2 = pq_load(spark, path)
    assert meta2["version"] == 2 and codes2.count() == 5


def test_ivfpq_save_grace_protects_committed_not_torn(spark, pq, tmp_path):
    """Grace pruning keys off the COMMITTED version: a torn higher-
    numbered save must not cause the live version's files to be deleted."""
    import os

    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import ivfpq_load, ivfpq_save

    cb, codes = pq
    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids, assign = ivf_build(em, n_centroids=4)
    path = str(tmp_path / "ivfpq")
    m0 = ivfpq_save(path, cb, centroids, assign, codes)
    assert m0["version"] == 0
    # simulate a TORN later save: artifacts for v1 exist, the pointer
    # still names v0
    os.makedirs(os.path.join(path, "codes-v1"), exist_ok=True)
    open(os.path.join(path, "codes-v1", "part-junk"), "w").write("x")
    m2 = ivfpq_save(path, cb, centroids, assign, codes.limit(10))
    # new save is v2 (listing-derived, never repeats); committed v0 kept
    # for grace, torn v1 pruned
    assert m2["version"] == 2
    listing = os.listdir(path)
    assert any(d.startswith("codes-v0") for d in listing)
    assert not any(d == "codes-v1" for d in listing)
    _, _, codes2, meta2 = ivfpq_load(spark, path)
    assert meta2["version"] == 2 and codes2.count() == 10


def test_ivfpq_search_accepts_rotation(spark, tmp_path):
    """A saved OPQ-rotated IVF∘PQ index applies its stored rotation to
    the LUTs: with full probing, results equal pq_search over the same
    codes with the same rotation (the composition-equivalence contract)."""
    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.operators.pq import (
        ivfpq_save,
        ivfpq_search_cells,
        opq_train,
        rotate_vectors,
    )

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sub = em.limit(300).cache()
    R, cb_r = opq_train(sub, m=16, nbits=4, iters=2, kmeans_iters=5)
    codes_r = pq_encode(rotate_vectors(sub, R), cb_r)
    centroids, assign = ivf_build(sub, n_centroids=3)
    path = str(tmp_path / "opq")
    ivfpq_save(path, cb_r, centroids, assign, codes_r, rotation=R)
    q = sub.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = sorted(
        (r["qid"], r["rank"], r["vec_id"])
        for r in ivfpq_search_cells(q, path, k=5, n_probe=3).collect()
    )
    b = sorted(
        (r["qid"], r["rank"], r["vec_id"])
        for r in pq_search(q, codes_r, cb_r, k=5, rotation=R).collect()
    )
    assert a == b
    sub.unpersist()


# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
