"""Sink writers with the partitioning/bucketing layout a 100 TB corpus needs.

- `write_partitioned`: hive-style partition directories → partition pruning
  on read (queries filtering the partition column scan only their dirs).
- `write_bucketed`: bucketed+sorted table on the join key → co-located,
  shuffle-free joins between tables bucketed the same way.
- `write_index`: the vector-index layout — embeddings bucketed by id so the
  MERGE upsert and point lookups shuffle nothing (the engine's analog of the
  reference's Pinecone index, vectrekker/main.py:162-167).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
    path: str | None = None,
    sort: bool = True,
) -> str:
    """Persist as a bucketed (optionally in-bucket-sorted) parquet table.

    Joins/aggregations on `bucket_col` between same-bucketed tables skip the
    shuffle entirely — the one write-time shuffle is amortized over every
    later join on the key, the single biggest shuffle win available at
    100 TB. Point/IN filters on the bucket key also prune buckets at scan
    time (`SelectedBucketsCount` in the plan — requires
    `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` for plans
    with no join/agg, see tests/test_bucketing.py).

    Sizing at scale: N ≈ table_bytes / 256 MB, shared by every table that
    joins on the key (matching counts required, or a divisor via
    `spark.sql.bucketing.coalesceBucketsInJoin.enabled`). ``path`` makes the
    table external (data at the given location). Returns the table name.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
    return table


def colocated_join(
    spark,
    left_table: str,
    right_table: str,
    on,
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key.

    The merge hint pins SortMergeJoin so the bucket layout is actually used:
    on small local fixtures Spark would otherwise pick a broadcast join
    (also shuffle-free, but proving nothing about co-location); at real
    scale neither side fits broadcast and SMJ is what the optimizer picks
    anyway, with zero Exchange thanks to the matching bucketing.
    """
    return spark.table(left_table).hint("merge").join(spark.table(right_table), on, how)


def write_index(df: DataFrame, table: str, n_buckets: int = 16) -> None:
    write_bucketed(df, table, bucket_col="id", n_buckets=n_buckets)


def write_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    order_col: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Export a training set as bounded-size shards — the layout data
    loaders consume (each worker streams whole files; shard size bounds
    loader memory and restart granularity).

    `maxRecordsPerFile` does the splitting file-side, so no exact-count
    repartition (a full shuffle + count) is needed. With ``order_col`` the
    rows are range-sorted first (e.g. the seeded-shuffle hash): each shard
    then holds a contiguous slice of the training order, and shard files
    enumerate in that order. ``fmt``: parquet | json (JSONL) | text.
    """
    out = df.orderBy(order_col) if order_col else df
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", rows_per_shard)
        .format(fmt)
        .save(path)
    )


def write_manifest(spark, path: str, fmt: str = "parquet") -> dict:
    """Emit `{path}/_manifest.json`: one line per shard file with its row
    count and byte size, plus a trailing totals line — the bookkeeping a
    training data loader needs to plan epochs/resume without opening every
    footer. Counts come from ONE metadata-level scan grouped by
    `input_file_name()` (parquet answers from footers, no data read).
    Returns the totals. Excludes `_`-prefixed files (incl. this manifest),
    so re-running is idempotent. The manifest itself is written locally
    (commit.write_text_atomic: temp file + rename, so a crash never leaves
    a truncated manifest); on an object store, write the returned totals
    through the store's own API."""
    import json as _json
    import os as _os
    import urllib.parse as _up

    from pyspark.sql import functions as F

    from vectrekker_spark.commit import write_text_atomic

    df = spark.read.format(fmt).load(path)
    per_file = (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    entries = []
    for r in sorted(per_file, key=lambda r: r["file"]):
        # input_file_name() is a percent-encoded URI ("my dir" → my%20dir)
        local = _up.unquote(_up.urlsplit(r["file"]).path)
        name = _os.path.basename(local)
        if name.startswith("_") or name.startswith("."):
            continue
        try:
            size = _os.path.getsize(local)
        except OSError:
            size = None  # non-local FS: sizes come from the store's listing
        entries.append({"file": name, "rows": r["rows"], "bytes": size})
    totals = {
        "files": len(entries),
        "rows": sum(e["rows"] for e in entries),
        "bytes": sum(e["bytes"] or 0 for e in entries),
        "format": fmt,
    }
    write_text_atomic(
        _os.path.join(path, "_manifest.json"),
        "".join(_json.dumps(e) + "\n" for e in [*entries, totals]),
    )
    return totals


def compact_parquet(
    spark, path: str, target_file_mb: int = 256, sort_col: str | None = None
) -> int:
    """Rewrite a parquet dataset into ~target-sized files (small-files
    compaction — incremental MERGE runs accrete small files; at 100 TB
    unmanaged small files destroy scan throughput). Optionally sort for
    better column compression + row-group pruning. Returns new file count."""
    import math
    import os as _os

    from vectrekker_spark.commit import atomic_replace

    df = spark.read.parquet(path)
    size_b = sum(
        _os.path.getsize(_os.path.join(dp, f))
        for dp, _, fs in _os.walk(path)
        for f in fs
    )
    n_files = max(1, math.ceil(size_b / (target_file_mb * 1024 * 1024)))
    out = (
        df.sort(sort_col).coalesce(n_files)
        if sort_col
        else df.repartition(n_files)
    )
    atomic_replace(out, path)
    return n_files
