"""What an incremental re-index reads: the state table through its known
schema (a pre-versioning table included) and only the index buckets the
delta touches (merge_upsert_partitioned's touched-bucket read)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from vectrekker_spark.operators.delta import (
    merge_upsert_partitioned,
    read_partitioned_table,
)
from vectrekker_spark.pipeline import PipelineConfig, run_pipeline
from vectrekker_spark.sources.files import scan_directory

N_BUCKETS = 16


def _live_buckets(path) -> set[int]:
    return {
        int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("__bucket=")
    }


def _bucket_of(spark, keys) -> dict:
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    rows = df.select(
        "k", F.pmod(F.xxhash64(F.col("k")), F.lit(N_BUCKETS)).alias("b")
    ).collect()
    return {r["k"]: int(r["b"]) for r in rows}


def _bucket_bytes(path, buckets) -> dict:
    out = {}
    for b in buckets:
        d = os.path.join(path, f"__bucket={b}")
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[(b, f)] = fh.read()
    return out


def test_pre_versioning_state_is_read_with_null_versions(spark, tmp_path):
    # A state table from before versioning has only (path, last_edit_time).
    # An unversioned run must see it as up to date; a versioned run must
    # treat every row's missing version as stale and re-embed it.
    content = tmp_path / "c"
    content.mkdir()
    (content / "a.md").write_text("alpha doc")
    (content / "b.md").write_text("beta doc")
    base = dict(
        content_dir=str(content),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
    )
    assert run_pipeline(spark, PipelineConfig(**base))["indexed"] == 2
    old = [
        (r["path"], r["mtime"])
        for r in scan_directory(spark, str(content)).select("path", "mtime").collect()
    ]
    spark.createDataFrame(old, "path string, last_edit_time long").write.mode(
        "overwrite"
    ).parquet(base["state_path"])
    assert spark.read.parquet(base["state_path"]).columns == ["path", "last_edit_time"]

    assert run_pipeline(spark, PipelineConfig(**base))["changed"] == 0
    c = run_pipeline(spark, PipelineConfig(**base, embed_version="v1"))
    assert c["changed"] == c["indexed"] == 2
    state = spark.read.parquet(base["state_path"]).collect()
    assert {r["embed_version"] for r in state} == {"v1"}
    assert run_pipeline(spark, PipelineConfig(**base, embed_version="v1"))["changed"] == 0
    assert read_partitioned_table(spark, base["index_path"]).count() == 2


def test_upsert_into_buckets_with_no_live_dir(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame([("k0", "v0"), ("k1", "v1")], "k string, v string")
    merge_upsert_partitioned(spark, path, base, key="k", n_buckets=N_BUCKETS)
    live = _live_buckets(path)
    cand = _bucket_of(spark, [f"n{i}" for i in range(100)])
    new = sorted(k for k, b in cand.items() if b not in live)[:3]
    assert new  # keys whose buckets hold no directory yet
    before = _bucket_bytes(path, live)

    upd = spark.createDataFrame([(k, "x") for k in new], "k string, v string")
    touched = merge_upsert_partitioned(spark, path, upd, key="k", n_buckets=N_BUCKETS)

    assert set(touched) == {cand[k] for k in new} and not set(touched) & live
    assert _live_buckets(path) == live | set(touched)
    out = {r["k"]: r["v"] for r in read_partitioned_table(spark, path).collect()}
    assert out == {"k0": "v0", "k1": "v1", **{k: "x" for k in new}}
    assert _bucket_bytes(path, live) == before  # untouched buckets, byte-for-byte


def test_delete_groups_empties_bucket_then_refills(spark, tmp_path):
    path = str(tmp_path / "t")
    docs = [f"d{i}" for i in range(12)]
    rows = [(f"{d}#{j}", d, f"{d}-{j}") for d in docs for j in range(2)]
    schema = "id string, doc string, v string"
    merge_upsert_partitioned(
        spark, path, spark.createDataFrame(rows, schema), key="id",
        n_buckets=N_BUCKETS, group_col="doc",
    )
    bucket = _bucket_of(spark, docs)
    # a doc that is alone in its bucket: deleting it empties the bucket
    lone = next(d for d in docs if sum(b == bucket[d] for b in bucket.values()) == 1)
    others = _live_buckets(path) - {bucket[lone]}
    before = _bucket_bytes(path, others)

    touched = merge_upsert_partitioned(
        spark, path, spark.createDataFrame([], schema), key="id",
        n_buckets=N_BUCKETS, group_col="doc",
        delete_groups=spark.createDataFrame([(lone,)], "doc string"),
    )
    assert touched == [bucket[lone]]
    assert bucket[lone] not in _live_buckets(path)
    out = read_partitioned_table(spark, path).collect()
    assert sorted(r["id"] for r in out) == sorted(r[0] for r in rows if r[1] != lone)
    assert _bucket_bytes(path, others) == before

    # the emptied bucket has no live dir: the next merge into it reads none
    back = spark.createDataFrame([(f"{lone}#9", lone, "back")], schema)
    merge_upsert_partitioned(
        spark, path, back, key="id", n_buckets=N_BUCKETS, group_col="doc"
    )
    got = read_partitioned_table(spark, path).filter(F.col("doc") == lone).collect()
    assert [(r["id"], r["v"]) for r in got] == [(f"{lone}#9", "back")]
    assert _bucket_bytes(path, others) == before


@pytest.mark.parametrize("into_live_bucket", [True, False])
def test_stored_schema_mismatch_still_raises(spark, tmp_path, into_live_bucket):
    path = str(tmp_path / "t")
    base = spark.createDataFrame([("k0", "v0"), ("k1", "v1")], "k string, v string")
    merge_upsert_partitioned(spark, path, base, key="k", n_buckets=N_BUCKETS)
    live = _live_buckets(path)
    cand = _bucket_of(spark, ["k0"] + [f"n{i}" for i in range(100)])
    key = next(k for k, b in cand.items() if (b in live) == into_live_bucket)
    upd = spark.createDataFrame([(key, 1)], "k string, w int")
    with pytest.raises(AnalysisException):
        merge_upsert_partitioned(spark, path, upd, key="k", n_buckets=N_BUCKETS)
    assert _live_buckets(path) == live
