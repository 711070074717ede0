"""Small driver-built frames on the index/search loop plan as LocalRelations
(session.local_frame), so reading them runs no Python-worker task, and
keep the column types the Python-list build gave them."""

from __future__ import annotations

from pyspark.sql import functions as F


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_cli_text_query_is_a_local_relation(spark, tmp_path, monkeypatch, capsys):
    import vectrekker_spark.operators.knn as knn
    from vectrekker_spark.cli import main

    index = str(tmp_path / "index")
    spark.range(3).select(
        F.concat(F.lit("doc"), F.col("id").cast("string")).alias("id"),
        F.array_repeat((F.col("id") + 1).cast("double"), 64).alias("embedding"),
    ).write.parquet(index)
    seen = []
    real = knn.knn_join

    def spy(q, *a, **kw):
        seen.append(q)
        return real(q, *a, **kw)

    monkeypatch.setattr(knn, "knn_join", spy)
    assert main(["search", "--index", index, "--text", "some query", "-k", "2"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 2
    (q,) = seen
    assert _leaf(q) == "LocalRelation"
    assert q.dtypes == [("qid", "string"), ("qvec", "array<double>")]


def test_loop_frames_are_local_relations(spark):
    from vectrekker_spark.operators.ann import ivf_build
    from vectrekker_spark.pipeline import INDEX_SCHEMA, STATE_SCHEMA, _read_or_empty

    for schema in (STATE_SCHEMA, INDEX_SCHEMA):
        empty = _read_or_empty(spark, "/nonexistent/vectrekker-state", schema)
        assert _leaf(empty) == "LocalRelation" and empty.schema == schema
        assert empty.count() == 0

    corpus = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id")).alias("embedding"),
    )
    centroids, _ = ivf_build(corpus, n_centroids=3, method="lloyd")
    assert _leaf(centroids) == "LocalRelation"
    assert centroids.dtypes == [("cid", "bigint"), ("cvec", "array<double>")]
    assert sorted(r["cid"] for r in centroids.collect()) == [0, 1, 2]
