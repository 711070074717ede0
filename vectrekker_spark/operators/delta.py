"""Incremental change detection and upsert — the reference's core semantic
loop made set-oriented (SURVEY.md §2.1 D1–D3, K2; §2.2 P1/P2).

Reference semantics preserved exactly (`vectrekker/main.py:106-111,143-147`):
- unknown path ⇒ cached mtime 0 (every new file selected)
- strictly-greater comparison (`>`, not `>=`) on int-second mtimes
- state written only after the sink write succeeds (at-least-once)

At scale: the state table is keyed by path; the delta join broadcasts state
when small, otherwise it's a shuffle-hash join on the key. With streaming
(vectrekker_spark.streaming) the file-source checkpoint replaces the state
table natively.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_changes(
    scan: DataFrame,
    state: DataFrame,
    key: str = "path",
    scan_ts: str = "mtime",
    state_ts: str = "last_edit_time",
) -> DataFrame:
    """Rows of `scan` that are new or strictly newer than `state`.

    ≙ `scan LEFT JOIN state ON key WHERE coalesce(state.ts, 0) < scan.ts`
    (the reference's per-file loop at `vectrekker/main.py:143-147`,
    set-oriented). Output: all scan columns + `cached_ts`.
    """
    st = state.select(F.col(key), F.col(state_ts).alias("__cached_ts"))
    return (
        scan.join(st, key, "left")
        .withColumn("cached_ts", F.coalesce(F.col("__cached_ts"), F.lit(0)))
        .drop("__cached_ts")
        .where(F.col("cached_ts") < F.col(scan_ts))
    )


def detect_changes_versioned(
    scan: DataFrame,
    state: DataFrame,
    version: str,
    key: str = "path",
    scan_ts: str = "mtime",
    state_ts: str = "last_edit_time",
    version_col: str = "embed_version",
) -> DataFrame:
    """detect_changes, plus artifact-version staleness: a row is selected
    when its mtime is strictly newer OR its stored `version_col` differs
    from `version` (null-safe — rows from a pre-versioning state, or never
    processed, count as stale).

    This closes the incremental pipeline's model-upgrade hole: with
    mtime-only detection, switching embedders silently keeps every stale
    vector (the reference shares the flaw — its SQLite cache is keyed on
    mtime alone, `vectrekker/main.py:97-100,143-147`). A version bump
    re-processes the corpus incrementally at RUN granularity: state commits
    once per successful run, so a crashed run redoes its own selection and
    nothing more; bound each run's slice (PipelineConfig.max_changed) to
    make a huge migration a sequence of small resumable runs. A state table
    from before versioning (no `version_col` column) is backfilled with
    nulls here, so every caller upgrades transparently. Output: all scan
    columns + `cached_ts`.
    """
    if not version:
        return detect_changes(scan, state, key, scan_ts, state_ts)
    if version_col not in state.columns:  # pre-versioning state table
        state = state.withColumn(version_col, F.lit(None).cast("string"))
    st = state.select(
        F.col(key),
        F.col(state_ts).alias("__cached_ts"),
        F.col(version_col).alias("__cached_ver"),
    )
    return (
        scan.join(st, key, "left")
        .withColumn("cached_ts", F.coalesce(F.col("__cached_ts"), F.lit(0)))
        .where(
            (F.col("cached_ts") < F.col(scan_ts))
            | ~F.col("__cached_ver").eqNullSafe(F.lit(version))
        )
        .drop("__cached_ts", "__cached_ver")
    )


def _update_row_hash(updates: DataFrame):
    """Stable per-row hash for deterministic dup-key resolution. Map columns
    are excluded — Spark forbids hashing maps (hashcode not well-defined)."""
    from pyspark.sql.types import MapType

    hashable = [
        f.name for f in updates.schema.fields if not isinstance(f.dataType, MapType)
    ]
    return F.xxhash64(F.struct(*hashable)) if hashable else F.lit(0)


def _dedup_updates(updates: DataFrame, key: str) -> DataFrame:
    """One row per key, chosen by the stable row-hash order — THE
    last-writer-wins tie-break rule, shared by merge_upsert's anti branch
    and merge_upsert_delta (where it is a correctness requirement: Delta
    raises on multiple source rows matching one target row). A single
    definition keeps the parquet and Delta branches resolving duplicate
    keys identically."""
    from pyspark.sql import Window  # noqa: PLC0415

    wu = Window.partitionBy(key).orderBy(_update_row_hash(updates))
    return (
        updates.withColumn("__rn", F.row_number().over(wu))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str,
    strategy: str = "auto",
    updates_unique: bool = False,
    broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Last-writer-wins MERGE: update rows replace base rows on `key`;
    unmatched update rows are inserts (`INSERT OR REPLACE` semantics of
    `vectrekker/main.py:113-123`). Works on plain parquet (no Delta
    dependency); on a real lakehouse this maps 1:1 to
    ``MERGE INTO base USING updates``.

    Strategies (the 100 TB dial — an incremental delta is almost always tiny
    next to its base table):
    - ``"anti"``: broadcast the update KEYS, ``base LEFT ANTI JOIN keys``,
      union the updates back. The base is never shuffled — a narrow scan +
      broadcast probe, exactly what a small-delta MERGE into a 100 TB base
      must compile to. Requires the update side within ``broadcast_rows``.
    - ``"window"``: union + per-key row_number. One full shuffle of
      base+updates on the key — right when updates are comparable in size
      to the base (backfills, reloads).
    - ``"auto"`` (default): LIMIT-probe the update side once and pick.

    Either strategy resolves duplicate update keys deterministically (stable
    row-hash order, not shuffle-arrival); pass ``updates_unique=True`` when
    the caller guarantees unique keys to skip that work on the anti path.

    Contract (inherited from the reference's SQLite ``path PRIMARY KEY``,
    `vectrekker/main.py:97-100`): keys are UNIQUE within ``base`` and
    NON-NULL on both sides. Outside that contract the strategies diverge
    (the anti path's equality join never matches NULL keys and keeps
    duplicate base keys; the window path groups them) — results for
    contract-violating inputs are unspecified either way.

    ``"auto"`` costs one LIMIT-bounded count job over the update side at
    plan-build time; in hot loops (per micro-batch) either pass an explicit
    strategy or persist the updates first.
    """
    if strategy == "auto":
        n = updates.select(key).limit(broadcast_rows + 1).count()
        strategy = "anti" if n <= broadcast_rows else "window"
    if strategy == "anti":
        upd = updates if updates_unique else _dedup_updates(updates, key)
        # probe with DISTINCT raw keys (same key set as the dedup'd side) so
        # the row_number dedup plan is never evaluated a second time
        keys = (
            updates.select(key) if updates_unique else updates.select(key).distinct()
        )
        keep = base.join(F.broadcast(keys), key, "left_anti")
        # unionByName (no column pruning): a base/updates schema mismatch
        # raises here exactly as it does on the window path
        return upd.unionByName(keep)
    if strategy != "window":
        raise ValueError(
            f"merge_upsert: unknown strategy {strategy!r}; one of auto/anti/window"
        )
    from pyspark.sql import Window  # noqa: PLC0415

    tagged = updates.withColumn("__pri", F.lit(0)).unionByName(
        base.withColumn("__pri", F.lit(1))
    )
    # same _update_row_hash tie-break as _dedup_updates, with the __pri tag
    # putting update rows ahead of base rows in one combined window
    w = Window.partitionBy(key).orderBy("__pri", _update_row_hash(updates))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__pri", "__rn")
    )


def delta_available() -> bool:
    """True when the delta-spark package (and its JVM jar) is importable."""
    try:
        from delta.tables import DeltaTable  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def merge_upsert_delta(
    spark,
    path: str,
    updates: DataFrame,
    key: str,
    updates_unique: bool = False,
) -> None:
    """The lakehouse branch of P2: ``MERGE INTO`` a Delta table at ``path``
    with last-writer-wins parity to :func:`merge_upsert` (same
    `INSERT OR REPLACE` semantics as `vectrekker/main.py:113-123`).

    Generated statement::

        MERGE INTO base b USING updates u ON b.{key} = u.{key}
        WHEN MATCHED THEN UPDATE SET *   -- update rows replace base rows
        WHEN NOT MATCHED THEN INSERT *   -- unmatched update rows insert

    Duplicate update keys are resolved BEFORE the merge with the same
    stable row-hash rule as merge_upsert — Delta's MERGE raises
    ``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE`` when two
    source rows hit one target row, so the dedup is a correctness
    requirement here, not just determinism. Same key contract as
    merge_upsert (unique in base, non-null both sides).

    At scale this is the preferred branch: Delta compiles the small-delta
    merge to a touched-file rewrite with data skipping — the transactional
    analog of merge_upsert_partitioned's touched-bucket rewrite — and
    readers get snapshot isolation instead of the parquet path's
    stage-and-swap window. Raises ImportError when delta-spark is absent
    (callers fall back to the parquet strategies)."""
    from delta.tables import DeltaTable  # noqa: PLC0415

    upd = updates if updates_unique else _dedup_updates(updates, key)
    (
        DeltaTable.forPath(spark, path)
        .alias("b")
        .merge(upd.alias("u"), f"b.{key} = u.{key}")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def merge_upsert_delta_grouped(
    spark,
    path: str,
    new_rows: DataFrame,
    group_col: str,
    delete_groups: DataFrame | None = None,
) -> None:
    """REPLACE-GROUP merge into a Delta table — the lakehouse analog of
    :func:`merge_upsert_partitioned`'s semantics (pipeline.py's index
    sink): every group (source document) present in ``new_rows`` or
    ``delete_groups`` retires ALL its existing rows, then ``new_rows``
    lands. Chunk ids the new document version no longer produces can never
    linger as stale hits.

    Two Delta transactions:
      1. ``MERGE ON b.{group} = u.{group} WHEN MATCHED THEN DELETE`` with
         the DISTINCT touched-group set as source (unique per key, so the
         multiple-source-match restriction never trips; one source group
         deleting many target rows is fine),
      2. append ``new_rows``.
    Delta compiles the delete-merge to a touched-file rewrite via data
    skipping on the group column — cost ∝ delta size, the same property
    the parquet path gets from hash-bucket pruning.

    Crash window: between the two transactions the group's rows are absent.
    Same at-least-once posture as the rest of the pipeline — state commits
    only after the index write, so a crash re-processes those docs on the
    next run; readers needing isolation snapshot the pre-merge version
    (Delta time travel). Raises ImportError when delta-spark is absent.

    ``new_rows`` is read by both transactions (as the group set, then as
    the appended rows), so an expensive lineage such as an embedding stage
    runs once per read: pass a materialized (persisted and counted) frame,
    as ``pipeline.run_pipeline`` does."""
    from delta.tables import DeltaTable  # noqa: PLC0415

    groups = new_rows.select(group_col).distinct()
    if delete_groups is not None:
        # select by NAME, exactly like merge_upsert_partitioned's twin — a
        # positional columns[0] would silently mis-key a frame that carries
        # extra columns ahead of the group column
        groups = groups.unionByName(
            delete_groups.select(group_col)
        ).distinct()
    (
        DeltaTable.forPath(spark, path)
        .alias("b")
        .merge(groups.alias("u"), f"b.{group_col} = u.{group_col}")
        .whenMatchedDelete()
        .execute()
    )
    _delta_append(new_rows, path)


def _delta_append(new_rows: DataFrame, path: str) -> None:
    """Transaction 2 of the grouped merge — separated so the fake-Delta
    tests can substitute a parquet append (DataFrameWriter.format('delta')
    needs the real JVM extension the fake can't intercept)."""
    new_rows.write.format("delta").mode("append").save(path)


def merge_upsert_partitioned(
    spark,
    path: str,
    updates: DataFrame,
    key: str,
    n_buckets: int = 64,
    group_col: str | None = None,
    delete_groups: DataFrame | None = None,
) -> list[int]:
    """Partition-aware MERGE into a hash-bucketed parquet table.

    The table lives partitioned by `__bucket = pmod(xxhash64(key), n_buckets)`.
    A merge then:
      1. computes the buckets the updates touch (distinct over the delta),
      2. has Spark list and read ONLY those buckets' live directories, so
         the read's cost does not grow with the table's bucket count,
      3. merges last-writer-wins within them,
      4. rewrites ONLY those partition directories (dynamic partition
         overwrite) — untouched buckets are never read or written.

    Merge cost scales with the delta, not the table: the property that makes
    continuous ingestion into a 100 TB index viable without Delta/Iceberg.

    With `group_col`, semantics are REPLACE-GROUP instead of upsert-by-key:
    every base row whose group appears in the updates is deleted before the
    updates are inserted. This is what an index of *derived* rows needs — a
    re-processed document must retire ALL its previous chunks, including ids
    the new version no longer produces (plain upsert would leave them
    stale). Buckets are hashed on the group so a group always co-locates.

    ``updates`` is read by several actions: the touched-bucket collect and
    the staging write, which reads it twice (as the anti-join's group set
    and as the inserted rows); on a new table, the first write and the
    bucket collect. An expensive lineage such as an embedding stage runs
    once per read, so pass a materialized (persisted and counted) frame,
    as ``pipeline.run_pipeline`` does.

    Returns the list of rewritten buckets.
    """
    part_key = group_col or key

    def bucket_of(col):
        return F.pmod(F.xxhash64(col.cast("string")), F.lit(n_buckets))

    upd = updates.withColumn("__bucket", bucket_of(F.col(part_key)))
    if not os.path.exists(path):
        upd.write.mode("overwrite").partitionBy("__bucket").parquet(path)
        return sorted(r[0] for r in upd.select("__bucket").distinct().collect())

    # Recover, then sweep, debris from a previous crashed run (single-writer
    # table). A merge that died between its live→trash rename and the
    # staged→live promotion leaves a bucket with NO live dir but a trash
    # copy — that trash dir holds the only copy of the bucket's base rows,
    # so restore it before sweeping (pre-merge state; the at-least-once
    # retry re-merges it to the committed result). This also covers the
    # emptied-bucket case: restoring then re-running the same merge deletes
    # the rows again. Only after restoration is deleting debris safe.
    for d in os.listdir(path):
        if d.startswith(".trash_"):
            b_str = d.split("_", 2)[1]
            live = os.path.join(path, f"__bucket={b_str}")
            if not os.path.exists(live):
                os.rename(os.path.join(path, d), live)
    _cleanup_dirs(
        [
            os.path.join(path, d)
            for d in os.listdir(path)
            if d.startswith((".trash_", ".staging_"))
        ]
    )

    groups = None
    if group_col:
        groups = updates.select(group_col).distinct()
        if delete_groups is not None:
            groups = groups.union(delete_groups.select(group_col)).distinct()
        bucket_src = groups.select(bucket_of(F.col(group_col)).alias("__bucket"))
    else:
        bucket_src = upd.select("__bucket")
    buckets = [int(r[0]) for r in bucket_src.distinct().collect()]
    if not buckets:
        return []
    # Read only the touched buckets' live dirs, never the whole table: its
    # listing is a parallel job once past 32 dirs. The schema is inferred
    # from the dirs read (one small footer job), so a stored schema that
    # differs from the updates still fails the union below; with no touched
    # bucket live yet, any one live dir supplies the schema and no rows.
    live = sorted(d for d in os.listdir(path) if d.startswith("__bucket="))
    touched = {f"__bucket={b}" for b in buckets}
    read = [os.path.join(path, d) for d in live if d in touched]
    if read:
        base_subset = spark.read.option("basePath", path).parquet(*read)
    elif live:
        base_subset = (
            spark.read.option("basePath", path)
            .parquet(os.path.join(path, live[0]))
            .limit(0)
        )
    else:
        base_subset = spark.createDataFrame([], upd.schema)
    if group_col:
        merged = base_subset.join(groups, group_col, "left_anti").unionByName(upd)
    else:
        merged = merge_upsert(base_subset, upd, key)
    # Stage-then-swap commit (the _atomic_replace pattern, per bucket):
    # 1. write the merged buckets to a dot-prefixed staging dir inside the
    #    table (same filesystem → rename works; hidden from parquet readers).
    #    Writing to staging — not over the live dirs — also means the plan
    #    never overwrites its own input, so no lineage break is needed.
    # 2. per touched bucket: rename live → dot-prefixed trash, staging → live.
    #    A bucket whose rows were all deleted simply has no staged dir.
    # 3. only after every swap: delete trash + staging.
    # A crash before any swap leaves the table untouched; a crash between
    # swap and cleanup leaves only invisible trash dirs — the table stays
    # readable and the merge re-runnable. The unavoidable non-atomic window
    # is the two renames of step 2 (POSIX has no atomic dir exchange); it is
    # per-bucket, contains no data copy (microseconds wide), and a crash
    # inside it is healed by the trash-restore recovery at the next merge's
    # start — the trashed dir is the bucket's only copy and is restored,
    # never swept, when its live dir is missing.
    staging = os.path.join(path, f".staging_{uuid.uuid4().hex}")
    merged.write.mode("overwrite").partitionBy("__bucket").parquet(staging)
    staged_buckets = {
        int(d.split("=", 1)[1])
        for d in os.listdir(staging)
        if d.startswith("__bucket=")
    }
    trash: list[str] = []
    for b in buckets:
        live = os.path.join(path, f"__bucket={b}")
        if os.path.exists(live):
            t = os.path.join(path, f".trash_{b}_{uuid.uuid4().hex}")
            os.rename(live, t)
            trash.append(t)
        if b in staged_buckets:
            os.rename(os.path.join(staging, f"__bucket={b}"), live)
    _cleanup_dirs(trash + [staging])
    return sorted(buckets)


def _cleanup_dirs(paths: list[str]) -> None:
    """Post-commit removal of trash/staging dirs (all dot-prefixed, invisible
    to readers). Separate function so tests can crash-inject here."""
    import shutil

    for p in paths:
        if os.path.exists(p):
            shutil.rmtree(p)


def read_partitioned_table(spark, path: str) -> DataFrame:
    """Read a bucketed table written by merge_upsert_partitioned, hiding the
    internal __bucket column."""
    return spark.read.parquet(path).drop("__bucket")


def write_state(df: DataFrame, path: str, key: str, ts_col: str) -> None:
    """Persist the (key, ts) state table. Overwrite of a compact table —
    the batch analog of the reference's per-file SQLite write-back, committed
    once per run *after* the sink write (at-least-once ordering)."""
    df.select(F.col(key), F.col(ts_col)).write.mode("overwrite").parquet(path)
