"""Catalog memoization: same DataFrame per (session, dir, table) while the
file is unchanged; a rewritten file invalidates the entry (no stale file
metadata served)."""

from __future__ import annotations

import os

from vectrekker_spark.catalog import load_table


def test_load_table_memoizes_and_invalidates(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(p)
    # single-file layout like the fixtures: point at the part file's dir —
    # catalog reads <dir>/<name>.parquet, so place it accordingly
    d1 = load_table(spark, str(tmp_path), "t")
    d2 = load_table(spark, str(tmp_path), "t")
    assert d1 is d2  # memoized while unchanged
    assert [r["v"] for r in d1.collect()] == ["a"]

    # rewrite the table: the cache must refresh, not serve stale metadata
    spark.createDataFrame(
        [(1, "b"), (2, "c")], "id long, v string"
    ).write.mode("overwrite").parquet(p)
    os.utime(p)  # ensure the dir mtime ticks even on coarse clocks
    d3 = load_table(spark, str(tmp_path), "t")
    assert d3 is not d1
    assert sorted(r["v"] for r in d3.collect()) == ["b", "c"]


def test_register_views_match_load_tables(spark, sf_dir):
    # SQL over the registered views and the DataFrame catalog read the
    # same table
    from vectrekker_spark.catalog import load_tables, register_views

    register_views(spark, sf_dir)
    via_sql = spark.sql("SELECT COUNT(*) AS n FROM embeddings").first()["n"]
    assert via_sql == load_tables(spark, sf_dir)["embeddings"].count() > 0

import pytest  # noqa: E402  (slow marker below)

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
