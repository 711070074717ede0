"""Partition-aware MERGE: correctness + the only-touched-buckets-rewritten
property (delta-proportional merge cost)."""

from __future__ import annotations

import os

import pytest

from vectrekker_spark.operators.delta import (
    merge_upsert_partitioned,
    read_partitioned_table,
)


def _bucket_mtimes(path):
    return {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }


def test_partitioned_merge_values(spark, tmp_path):
    path = str(tmp_path / "table")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, v string"
    )
    merge_upsert_partitioned(spark, path, base, key="id", n_buckets=16)
    upd = spark.createDataFrame(
        [(5, "NEW5"), (999, "NEW999")], "id long, v string"
    )
    touched = merge_upsert_partitioned(spark, path, upd, key="id", n_buckets=16)
    out = {r["id"]: r["v"] for r in read_partitioned_table(spark, path).collect()}
    assert out[5] == "NEW5" and out[999] == "NEW999" and out[6] == "v6"
    assert len(out) == 201
    assert 1 <= len(touched) <= 2


def test_only_touched_buckets_rewritten(spark, tmp_path):
    path = str(tmp_path / "table")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], "id long, v string"
    )
    merge_upsert_partitioned(spark, path, base, key="id", n_buckets=16)
    before = _bucket_mtimes(path)
    assert len(before) == 16  # 500 keys cover all 16 buckets

    import time

    time.sleep(1.1)  # ensure mtime resolution separates the writes
    upd = spark.createDataFrame([(42, "CHANGED")], "id long, v string")
    touched = merge_upsert_partitioned(spark, path, upd, key="id", n_buckets=16)
    after = _bucket_mtimes(path)

    rewritten = {d for d in after if after[d] != before[d]}
    assert rewritten == {f"__bucket={b}" for b in touched}
    assert len(touched) == 1  # one key → one bucket rewritten, 15 untouched


def _debris(path):
    """Hidden dirs a merge leaves until its cleanup: staging and the
    swapped-out old bucket copies."""
    return [
        d for d in os.listdir(path)
        if d.startswith(".staging_") or d.endswith(".__swap_old")
    ]


def test_mid_swap_crash_restores_trashed_bucket(spark, tmp_path):
    # Simulate a merge that died BETWEEN its two renames: the live bucket dir
    # was moved to its hidden old sibling but the staged dir was never
    # promoted. The old sibling now holds the ONLY copy of that bucket's
    # rows — the next merge must restore it before sweeping debris, or those
    # rows are lost forever.
    import shutil

    from vectrekker_spark.commit import swap_old_path

    path = str(tmp_path / "table")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, v string"
    )
    merge_upsert_partitioned(spark, path, base, key="id", n_buckets=16)
    expected = {r["id"]: r["v"] for r in read_partitioned_table(spark, path).collect()}

    bucket_dirs = [d for d in os.listdir(path) if d.startswith("__bucket=")]
    victim = bucket_dirs[0]
    os.rename(os.path.join(path, victim), swap_old_path(os.path.join(path, victim)))
    # the dead run also left a staging dir (contents irrelevant — swept)
    os.makedirs(os.path.join(path, ".staging_deadrun", victim))

    # table is currently missing the bucket; the retry merge must heal it
    upd = spark.createDataFrame([(5, "NEW5")], "id long, v string")
    merge_upsert_partitioned(spark, path, upd, key="id", n_buckets=16)
    out = {r["id"]: r["v"] for r in read_partitioned_table(spark, path).collect()}
    expected[5] = "NEW5"
    assert out == expected  # every pre-crash row survived
    assert not _debris(path)
    shutil.rmtree(path)


def test_crash_between_commit_and_cleanup_is_recoverable(spark, tmp_path, monkeypatch):
    # Kill the merge after the per-bucket swaps but before old-copy/staging
    # cleanup: the table must still read the MERGED values (old copies are
    # dot-prefixed → invisible to parquet discovery) and a re-run of the same
    # merge must succeed and converge to the same state.
    import vectrekker_spark.operators.delta as delta_mod

    path = str(tmp_path / "table")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, v string"
    )
    merge_upsert_partitioned(spark, path, base, key="id", n_buckets=16)

    def boom(paths):
        # the entry debris-sweep also routes through _cleanup_dirs but with an
        # empty list on a clean table; only the post-commit call has debris
        if paths:
            raise RuntimeError("injected crash before cleanup")

    monkeypatch.setattr(delta_mod, "_cleanup_dirs", boom)
    upd = spark.createDataFrame([(5, "NEW5"), (999, "NEW999")], "id long, v string")
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_upsert_partitioned(spark, path, upd, key="id", n_buckets=16)

    # readable, and the commit already landed (swap precedes cleanup)
    out = {r["id"]: r["v"] for r in read_partitioned_table(spark, path).collect()}
    assert out[5] == "NEW5" and out[999] == "NEW999" and out[6] == "v6"
    assert len(out) == 201
    assert _debris(path)  # the crash really did leave debris behind

    # re-runnable: the at-least-once retry merges cleanly and sweeps the
    # crashed run's debris
    monkeypatch.undo()
    merge_upsert_partitioned(spark, path, upd, key="id", n_buckets=16)
    out2 = {r["id"]: r["v"] for r in read_partitioned_table(spark, path).collect()}
    assert out2 == out
    assert not _debris(path)

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
