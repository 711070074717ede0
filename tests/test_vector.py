from __future__ import annotations

import math

from pyspark.sql import functions as F

from vectrekker_spark.functions.vector import cosine_sim, dim_ok, l2_normalize, norm
from vectrekker_spark.operators.knn import knn_join, similarity_join_self_auto, topk_nn


def test_l2_normalize_zero_vector_no_nan(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0]), (2, [3.0, 4.0])], "id long, v array<double>")
    out = {r["id"]: r["n"] for r in df.select("id", l2_normalize("v").alias("n")).collect()}
    assert out[1] == [0.0, 0.0]
    assert [round(x, 6) for x in out[2]] == [0.6, 0.8]


def test_norm_and_cosine(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 1.0]), (2, [1.0, 1.0], [1.0, 1.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id", norm("a").alias("na"), cosine_sim("a", "b").alias("cs")
        ).collect()
    }
    assert rows[1]["cs"] == 0.0
    assert abs(rows[2]["cs"] - 1.0) < 1e-12
    assert abs(rows[2]["na"] - math.sqrt(2)) < 1e-12


def _lambda_oracles():
    """The vector functions as Python-lambda higher-order functions: the
    same in-order double accumulation, built node by node."""
    d = "double"

    def dot(a, b):
        prod = F.zip_with(a, b, lambda x, y: x.cast(d) * y.cast(d))
        return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)

    def norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast(d) * x.cast(d)))

    def l2(a, b):
        diff = lambda x, y: (x.cast(d) - y.cast(d)) * (x.cast(d) - y.cast(d))  # noqa: E731
        return F.sqrt(F.aggregate(F.zip_with(a, b, diff), F.lit(0.0), lambda acc, v: acc + v))

    def unit(a):
        n = norm(a)
        scaled = F.transform(a, lambda x: x.cast(d) / n)
        return F.when(n == 0.0, a.cast("array<double>")).otherwise(scaled)

    return {
        "dot": dot, "norm": norm, "cosine_sim": lambda a, b: dot(a, b) / (norm(a) * norm(b)),
        "l2_dist": l2, "l2_normalize": unit,
    }


def test_vector_functions_equal_lambda_forms_bit_for_bit(spark):
    # Each function, as a Column (and as selectExpr text where a *_sql
    # builder exists), equals its lambda
    # form bit for bit: float and double arrays, a NULL array, a NULL
    # element, a zero vector and mismatched dims, over a qualified name
    # (t.f), a dotted name (`x.y`) and a name with a space.
    import random

    from vectrekker_spark.functions import vector as V

    rng = random.Random(7)
    def vec():
        return [rng.uniform(-1, 1) for _ in range(48)]

    rows = [(i, vec(), vec()) for i in range(40)]
    rows += [
        (40, None, [1.0, 2.0]),
        (41, [1.0, None, 2.0], [0.5, 0.5, 0.5]),
        (42, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
        (43, [1.0, 2.0], [1.0, 2.0, 3.0]),
        (44, [3.0, 4.0], None),
    ]
    df = spark.createDataFrame(rows, "id long, f array<float>, `x.y` array<double>").withColumn(
        "my vec", F.col("`x.y`")
    ).alias("t")
    oracle = _lambda_oracles()
    got = {}
    for a, b in [("t.f", "`x.y`"), ("my vec", "t.f"), ("`x.y`", "my vec")]:
        ca, cb = F.col(a), F.col(b)
        want = df.select(
            "id",
            *(oracle[n](ca, cb).alias(n) for n in ("dot", "cosine_sim", "l2_dist")),
            *(oracle[n](ca).alias(n) for n in ("norm", "l2_normalize")),
        ).collect()
        cols = df.select(
            "id",
            *(getattr(V, n)(a, b).alias(n) for n in ("dot", "cosine_sim", "l2_dist")),
            *(getattr(V, n)(a).alias(n) for n in ("norm", "l2_normalize")),
        ).collect()
        text = df.selectExpr(
            "id",
            f"{V.dot_sql(a, b)} AS dot",
            f"{V.cosine_sql(a, b)} AS cosine_sim",
            f"{V.l2_dist_sql(a, b)} AS l2_dist",
            f"{V.norm_sql(a)} AS norm",
        ).collect()
        assert cols == want, (a, b)
        assert text == [r[:-1] for r in want], (a, b)
        got[a] = {r["id"]: r for r in cols}
    edge = got["t.f"]
    assert edge[40]["norm"] is None and edge[41]["dot"] is None and edge[43]["l2_dist"] is None
    assert edge[42]["l2_normalize"] == [0.0, 0.0, 0.0] and edge[42]["cosine_sim"] is None


def test_cosine_sim_builds_in_three_py4j_round_trips(spark):
    # one F.expr parse, not a py4j call per lambda node
    from py4j.clientserver import ClientServerConnection

    from vectrekker_spark.functions.vector import cosine_sim as build

    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    build("a", "b")  # warm any lazily resolved JVM handles
    ClientServerConnection.send_command = counted
    try:
        build("a", "b")
    finally:
        ClientServerConnection.send_command = send
    assert 0 < len(calls) <= 3, len(calls)


def test_dim_ok(spark):
    df = spark.createDataFrame([(1, [1.0] * 4), (2, [1.0] * 3)], "id long, v array<double>")
    ok = {r["id"]: r["ok"] for r in df.select("id", dim_ok("v", 4).alias("ok")).collect()}
    assert ok == {1: True, 2: False}


def test_topk_deterministic_ties(spark):
    # Three identical corpus vectors: ties must break by id ascending.
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in (5, 3, 9)], "vec_id long, embedding array<double>"
    )
    out = topk_nn(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [3, 5]


def test_knn_join_self_match_first(spark, sf_dir):
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = knn_join(q, em, k=1).collect()
    assert {r["qid"]: r["vec_id"] for r in res} == {0: 0, 1: 1, 2: 2}
    assert all(abs(r["score"] - 1.0) < 1e-9 for r in res)


# a NULL embedding scores NULL under both metrics; the zero vector scores
# NULL under cosine (0/0) and a real distance under l2
_NULLISH = [
    [1.0, 2.0, 0.0, 1.0], [0.0, 0.0, 0.0, 0.0], None, [3.0, -1.0, 2.0, 0.0],
    [2.0, 2.0, 2.0, 2.0], None, [-1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 3.0],
]
_NULLISH_Q = {0: [1.0, 0.0, 2.0, 1.0], 1: [0.0, -1.0, 1.0, 2.0]}


def _brute_topk(metric, k):
    """numpy brute force: round-6 score, NULL scores after every real one,
    ties by id ascending."""
    import numpy as np

    out = []
    for qid, qv in _NULLISH_Q.items():
        q = np.asarray(qv)
        scored = []
        for vid, v in enumerate(_NULLISH):
            s = None
            if v is not None:
                v = np.asarray(v)
                if metric == "l2":
                    s = float(np.sqrt(((v - q) ** 2).sum()))
                elif np.linalg.norm(v) > 0:
                    s = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            scored.append((s is None, (s if metric == "l2" else -s) if s is not None else 0.0, vid, s))
        for rank, (_, _, vid, s) in enumerate(sorted(scored)[:k], 1):
            out.append((qid, vid, None if s is None else round(s, 6), rank))
    return sorted(out)


def test_knn_join_ranks_null_scores_last(spark):
    # 2 rows per partition, so a NULL score survives every partition's
    # local top-k and reaches the final ranking
    corpus = spark.createDataFrame(
        list(enumerate(_NULLISH)), "vec_id long, embedding array<double>"
    ).repartition(4)
    q = spark.createDataFrame(list(_NULLISH_Q.items()), "qid long, qvec array<double>")
    for metric in ("cosine", "l2"):
        for k in (3, 6, len(_NULLISH)):
            got = sorted(
                (r["qid"], r["vec_id"], r["score"], r["rank"])
                for r in knn_join(q, corpus, k=k, metric=metric).collect()
            )
            want = _brute_topk(metric, k)
            assert [g[:2] + g[3:] for g in got] == [w[:2] + w[3:] for w in want], (metric, k)
            for g, w in zip(got, want):
                assert (g[2] is None) == (w[2] is None), (metric, k, g, w)
                assert g[2] is None or abs(g[2] - w[2]) <= 1e-6, (metric, k, g, w)
    # the single-query operator shares the order (its dim probe reads row 0)
    unsplit = spark.createDataFrame(list(enumerate(_NULLISH)), "vec_id long, embedding array<double>")
    top = topk_nn(unsplit, _NULLISH_Q[0], k=len(_NULLISH), metric="l2").collect()
    want = sorted((w[3], w[1]) for w in _brute_topk("l2", len(_NULLISH)) if w[0] == 0)
    assert [r["vec_id"] for r in top] == [vid for _, vid in want]


_PYTHON_NODE = ("InPandas", "Python", "InArrow")


def test_knn_join_plan_is_jvm_two_phase_topk(spark):
    # The top-k runs in the JVM: no Python node anywhere, and every map task
    # keeps its per-query top-k BEFORE the shuffle (WindowGroupLimit in
    # Partial mode below the Exchange), so P·N·k rows cross it, not N·M.
    corpus = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    ).repartition(4)
    q = spark.createDataFrame([("q", [1.0, 0.5])], "qid string, qvec array<double>")
    plan = knn_join(q, corpus, k=5)._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in _PYTHON_NODE if n in plan], plan
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines) if "WindowGroupLimit" in l and "Partial" in l]
    exchange = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert partial and exchange, plan
    assert max(partial) > min(exchange), plan  # deeper = below the exchange


def test_similarity_join_ordering_and_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity_join_self_auto(df, 0.9, "vec_id", "embedding").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["l_id"], r["r_id"]) == (1, 2) and r["score"] > 0.99


def test_topk_dim_mismatch_raises(spark, sf_dir):
    import pytest as _pytest

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="dim"):
        topk_nn(em, [1.0, 2.0], k=3)


def test_q28_exact_cap_registry_policy(spark, tmp_path, monkeypatch):
    """VERDICT r11 #8: past Q28_EXACT_CAP the registered q28 runs the SAME
    exact kernel over the deterministic vec_id < cap slice; at/below the
    cap it is the full exact join. Equivalence is exactness on the slice:
    the capped result must equal the full run's result restricted to
    l_id/r_id < cap."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectrekker_spark.queries import vector as V

    rng = np.random.default_rng(11)
    n, dim = 60, 8
    vecs = rng.standard_normal((n, dim))
    tbl = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "doc_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
    })
    d = tmp_path / "sfP"
    d.mkdir()
    pq.write_table(tbl, d / "embeddings.parquet")

    full = {(r.l_id, r.r_id): r.score
            for r in V.q28_sim_dedup(spark, str(d)).collect()}

    monkeypatch.setattr(V, "Q28_EXACT_CAP", 40)
    capped = {(r.l_id, r.r_id): r.score
              for r in V.q28_sim_dedup(spark, str(d)).collect()}
    expected = {k: v for k, v in full.items() if k[0] < 40 and k[1] < 40}
    assert capped == expected and len(capped) < len(full)

    # at/below the cap: untouched full exact join
    monkeypatch.setattr(V, "Q28_EXACT_CAP", n)
    assert {(r.l_id, r.r_id): r.score
            for r in V.q28_sim_dedup(spark, str(d)).collect()} == full
