"""Structured Streaming surface (SURVEY.md §2.2 ST1–ST12).

The reference achieves "streaming" by re-running a cron job hourly and
diffing mtimes against SQLite (`README.md:27,36`; `vectrekker/main.py:
143-147`). Here the same semantics are native:

- ST1: the file source + checkpoint IS the incremental state — each file is
  processed exactly once per checkpoint, replacing the SQLite mtime cache.
- ST2/ST3: event-time windows + watermarks for late data.
- ST4: `dropDuplicatesWithinWatermark` for stateful dedup.
- ST5: `foreachBatch` + idempotent MERGE = the reference's
  upsert-then-mark-state ordering, per micro-batch.
- ST6: stream-stream interval join with watermark-bounded state.
- ST7–ST12: corpus ingestion with dedup against ALL history, one job per
  family — near (MinHash band index), exact (content bloom), semantic
  (fixed quantizer, cid-partitioned kept table), per-stratum quota
  (versioned ledger), URL (exact keyed on the normalized URL) and
  paragraph (paragraph-hash index) — each with a compact that reclaims
  its at-least-once redelivery debris.

The window/dedup/join builders return unstarted DataFrames so tests can
attach `trigger(availableNow=True)` and a temp checkpoint. The
`foreach_batch_*` jobs start their query themselves (`_start_batches`:
availableNow on the given checkpoint); the five corpus-ingest families
share one micro-batch shell (`_ingest`) and the compacts one claimed
dedupe-and-swap step (`_dedupe_table` under `commit.compacting`). Every
directory commit — table swap, staged index append, compact claim,
ledger pointer — is `vectrekker_spark/commit.py`'s.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectrekker_spark import commit
from vectrekker_spark.functions.time import epoch_ms, normalize_event_ts


def _stream_profile(stage: str, batch_id: int, slices: dict[str, float]) -> None:
    """Per-micro-batch wall breakdown, printed as one JSON line to stderr
    when $SPARK_GRAFT_STREAM_PROFILE is set (guide §1: measure first — the
    r14 verdict asked where the per-batch fixed cost actually goes before
    anything is tuned). Slice attribution follows the action boundaries,
    so lazy work bills to the first action that materializes it."""
    import json
    import sys

    if not os.environ.get("SPARK_GRAFT_STREAM_PROFILE"):
        return
    print(
        json.dumps(
            {
                "stream_profile": stage,
                "batch_id": batch_id,
                **{k: round(v, 3) for k, v in slices.items()},
            }
        ),
        file=sys.stderr,
        flush=True,
    )


def read_events_stream(spark: SparkSession, directory: str) -> DataFrame:
    """ST1: parquet file-source stream over an events directory. New files
    are picked up incrementally via the checkpoint (the reference's D1–D3
    delta loop, natively).

    A file stream needs an explicit schema; infer it from the directory's
    current footers with ONE batch read (cheap, driver-side) instead of
    hard-coding — the corpus `ts` physical type has shifted between driver
    rounds (nanos → NTZ micros) and a stale hard-coded schema silently
    mis-scales event time. When the directory is empty (stream started
    before the first producer file lands — the normal file-source pattern)
    inference falls back to the current corpus schema so the stream still
    starts and picks files up as they arrive. `ts` is then normalized to
    LTZ so watermarks and stream-stream range joins see a plain TIMESTAMP.
    """
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    # the legacy flag is needed while READING nano-timestamp footers; it
    # is session-wide, so restore it unless the corpus actually IS nanos
    # (then the streaming read itself still needs it and the session-level
    # requirement is real — documented side effect; r14s3 review: the
    # unconditional set silently changed unrelated parquet reads' dtypes)
    try:
        prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        prev_nanos = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    restore = True
    try:
        schema = spark.read.parquet(directory).schema
        if any(
            f.name == "ts" and f.dataType.simpleString() == "bigint"
            for f in schema.fields
        ):
            restore = False  # real nano files: the stream needs the flag
    except AnalysisException:  # empty/not-yet-created dir: nothing to infer
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
    if restore:
        if prev_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set(
                "spark.sql.legacy.parquet.nanosAsLong", prev_nanos
            )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(directory)
    )
    return normalize_event_ts(raw, to_ltz=True)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """ST2: watermarked tumbling-window agg; batch-equivalent of
    q30_tumbling_window (oracle-checked there)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            epoch_ms(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "15 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """ST3: session windows; batch-equivalent of d08_session_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            epoch_ms(F.col("w.start")).alias("session_start_ms"),
            epoch_ms(F.col("w.end")).alias("session_end_ms"),
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """ST4: stateful streaming dedup bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    window_seconds: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """ST6: stream-stream interval join — for each left event, right events
    of the same key strictly after it and within `window_seconds` (the
    streaming twin of q09_range_join's bounded-follow semantics).

    Both sides carry a watermark so Spark can bound the join state: a left
    row is held only until the watermark passes `left.ts + window`, then
    evicted — the state store stays O(events within the watermark horizon)
    instead of growing forever. At 100 TB/day this bound is the difference
    between a runnable job and an OOM: watermark delay × event rate sizes
    the store, independent of total history.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")),
        "inner",
    ).select(
        F.col("l.event_id").alias("l_event_id"),
        F.col(f"l.{key}").alias(key),
        F.col("r.event_id").alias("r_event_id"),
        F.col("l.ts").alias("l_ts"),
        F.col("r.ts").alias("r_ts"),
    )


def run_available_now(
    df: DataFrame, checkpoint: str, output_table: str
) -> None:
    """Drain all currently-available input through the streaming plan into an
    in-memory sink table, then stop. Complete mode for aggregations so the
    final state is queryable; the checkpoint carries state across calls."""
    import re

    # match node NAMES at tree position (after the +-/:- prefix), not a
    # substring over the whole dump — the plan string embeds column
    # names, so a column like 'aggregate_value' would force complete
    # mode onto an append-only plan and .start() would throw (r14s3)
    plan = df._jdf.queryExecution().analyzed().toString()
    # prefix class covers the tree glyphs (+- :-), the streaming marker
    # (~), and unresolved quotes (')
    has_agg = df.isStreaming and bool(
        re.search(r"(?m)^[\s+:\-'~]*(Aggregate|SessionWindow)\b", plan)
    )
    q = (
        df.writeStream.format("memory")
        .queryName(output_table)
        .outputMode("complete" if has_agg else "append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_documents(
    spark: SparkSession, directory: str, pattern: str = r".*\.md$"
) -> DataFrame:
    """ST1 for the reference's actual corpus: a *streaming* recursive text
    scan. Each file becomes one row (path, text); the checkpoint replaces the
    SQLite mtime cache — new files are picked up exactly once, no state table
    needed (`vectrekker/main.py:97-123` made native)."""
    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("recursiveFileLookup", "true")
        .load(directory)
    )
    return (
        raw.select(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:", "").alias("path"),
            F.col("value").alias("text"),
        )
        .filter(F.col("path").rlike(f"^(?:{pattern})"))
    )


def streaming_index_pipeline(
    spark: SparkSession,
    content_dir: str,
    index_path: str,
    checkpoint: str,
    pattern: str = r".*\.md$",
):
    """The M3 batch pipeline as a stream: scan → filter → embed → MERGE per
    micro-batch (ST5). Returns the started query; availableNow drains current
    files then stops, a processingTime trigger would tail the directory —
    replacing the reference's hourly cron (README.md:27,36)."""
    from vectrekker_spark.queries.vector import hash_embed_batch

    docs = stream_documents(spark, content_dir, pattern)
    embed = F.pandas_udf(lambda s: hash_embed_batch(s), "array<double>")
    rows = docs.select(
        F.col("path").alias("id"),
        embed(F.col("text")).alias("embedding"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    return foreach_batch_upsert(rows, index_path, key="id", checkpoint=checkpoint)


def _start_batches(stream: DataFrame, do_batch, checkpoint: str):
    """Start ``stream`` running ``do_batch(batch_df, batch_id)`` on each
    micro-batch: drain what is available now, then stop. The checkpoint
    makes a micro-batch that failed a redelivery on the next start.
    Returns the started query."""
    return (
        stream.writeStream.foreachBatch(do_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _ingest(stream: DataFrame, corpus_path: str, checkpoint: str, body, prepare=None):
    """The micro-batch shell of the corpus-ingest jobs (near, semantic,
    exact, paragraph, quota): skip an empty batch, refuse while a compact
    holds the claim, persist the prepared batch (``prepare(batch_df)``,
    default the batch itself), run ``body(spark, batch, batch_id)`` and
    unpersist the batch on every exit. Each body re-checks the claim at
    its own write boundary. Returns the started query."""

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit.refuse_if_compacting(corpus_path)
        batch = (prepare(batch_df) if prepare else batch_df).persist()
        try:
            body(batch_df.sparkSession, batch, batch_id)
        finally:
            batch.unpersist()

    return _start_batches(stream, do_batch, checkpoint)


def _dedupe_table(spark: SparkSession, path: str, dedup, on_clean=None) -> int:
    """The compacts' per-table step, run under the compact claim: rewrite
    the table at ``path`` as ``dedup(table)`` when that removes rows
    (``commit.atomic_replace``), then drop the session's cached file
    listing of the swapped path, which a same-session reader (the ingest
    stream's next batch) would otherwise still see. ``on_clean(clean)``
    runs before the swap, while the old files still back the lineage.
    Returns the removed-row count; a table with no committed data (never
    written, or its first append crashed) removes nothing."""
    if not commit.parquet_has_data(path):
        return 0
    df = spark.read.parquet(path).persist()
    clean = None
    try:
        before = df.count()
        clean = dedup(df).persist()
        removed = before - clean.count()
        if on_clean is not None:
            on_clean(clean)
        if removed:
            commit.atomic_replace(clean, path)
            spark.catalog.refreshByPath(path)
        return removed
    finally:
        if clean is not None:
            clean.unpersist()
        df.unpersist()


def foreach_batch_ann_append(
    stream: DataFrame,
    ivf_path: str,
    checkpoint: str,
    id_col: str | None = None,
    vec_col: str | None = None,
    assign_k: int | None = None,
):
    """Keep a persisted IVF index (operators/ann.ivf_save) current as vectors
    stream in — ST5 applied to the ANN structure: each micro-batch is
    assigned against the EXISTING centroids and appended to the cell table,
    cost ∝ batch, the 100 TB history untouched. Parameters left as None
    resolve from the index's saved metadata, so a multi-assigned build keeps
    multi-assigning its streamed appends.

    Delivery is at-least-once per micro-batch (a crash between append and
    checkpoint commit re-appends the batch); duplicate rows never change
    search results (ivf_search_cells dedupes candidates by id, payloads are
    identical) and `ivf_compact` reclaims them — effective idempotence, the
    same contract as the MERGE sink. Returns the started query."""
    from vectrekker_spark.operators.ann import ivf_append, ivf_meta

    def do_append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta = ivf_meta(batch_df.sparkSession, ivf_path)
        idc = id_col or meta.get("id_col", "vec_id")
        vc = vec_col or meta.get("vec_col", "embedding")
        ivf_append(
            batch_df.select(idc, vc),
            ivf_path,
            assign_k=assign_k,
            id_col=idc,
            vec_col=vc,
        )

    return _start_batches(stream, do_append, checkpoint)


def foreach_batch_upsert(
    stream: DataFrame, target_path: str, key: str, checkpoint: str
):
    """ST5: per-micro-batch idempotent MERGE into a parquet target — the
    reference's upsert-then-state ordering (`vectrekker/main.py:185-188`)
    with the checkpoint as the state. Returns the started query."""
    from vectrekker_spark.operators.delta import merge_upsert

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # heal a crashed swap BEFORE the existence check: without it a
        # crash mid-replace read as "no target" and the stream silently
        # rebuilt from one micro-batch (r14s3 review)
        commit.heal_swap(target_path)
        base = (
            spark.read.parquet(target_path)
            if os.path.exists(target_path)
            else batch_df.limit(0)
        )
        # persist: merge_upsert's auto probe + the merged write both read
        # the batch; without this the source batch recomputes per action
        batch_df.persist()
        try:
            commit.atomic_replace(merge_upsert(base, batch_df, key=key), target_path)
        finally:
            batch_df.unpersist()

    return _start_batches(stream, do_merge, checkpoint)


def foreach_batch_near_dedup(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming ingestion with incremental near-dedup against ALL history —
    C11 (operators/dedup.minhash_dedup_against) composed with ST5: each
    micro-batch is (1) near-deduped within itself (min-id keeper, the
    curation funnel's policy), (2) checked against the corpus via the
    PERSISTED band index at ``{corpus_path}/bands`` — so history is never
    re-signatured — and (3) the survivors are appended to
    ``{corpus_path}/docs`` with their band hashes appended to the index,
    keeping the next batch's check incremental. The batch is signed
    EXACTLY ONCE: one persisted band table feeds all three steps (the
    self-dedup, the history check via ``new_bands=``, and the survivor
    index append), so the per-batch cost is one signature pass + two
    band-bucket joins + exact-Jaccard verification with shingles computed
    only for candidate rows.

    Scale shape per batch: the batch's band table is small, so both joins
    broadcast the batch side and STREAM the corpus-sized tables (band index
    scan + candidate verification scan) — no corpus shuffle, history never
    moves. Delivery is at-least-once per micro-batch (a crash between the
    docs append and the bands append re-appends the batch on redelivery);
    duplicate (id, band) rows in the index and duplicate ids in the docs
    table never change future dedup DECISIONS (candidates are distinct-ed
    before verification) — the same effective-idempotence contract as
    foreach_batch_ann_append, and an exact-dedup compact over the docs
    table reclaims them. Returns the started query.
    """
    from vectrekker_spark.operators.dedup import (
        band_hashes,
        minhash_dedup_against,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    docs_path = os.path.join(corpus_path, "docs")
    bands_path = os.path.join(corpus_path, "bands")

    def body(spark: SparkSession, batch: DataFrame, batch_id: int) -> None:
        # sign the batch ONCE: the persisted band table feeds the in-batch
        # self-dedup, the history check, and the survivor index append —
        # without it each step re-ran the signature kernel over the same
        # micro-batch text (3x the dominant per-batch CPU)
        batch_bands = band_hashes(
            minhash_signatures(batch, text_col=text_col, id_col=id_col),
            id_col=id_col,
        ).persist()
        try:
            # 1. in-batch near-dedup (two near-dups arriving together must
            # not both pass the history check): drop every pair's larger id
            pairs = minhash_dedup_pairs(
                batch,
                threshold=threshold,
                text_col=text_col,
                id_col=id_col,
                bands_df=batch_bands,
            )
            losers = pairs.select(F.col("r_id").alias(id_col)).distinct()
            fresh = batch.join(losers, id_col, "left_anti")
            # 2. against history, via the persisted band index
            # (parquet_has_data: a torn FIRST bands append must read as
            # absent or redelivery wedges on schema inference — r12)
            if commit.parquet_has_data(bands_path):
                dup = minhash_dedup_against(
                    fresh,
                    spark.read.parquet(docs_path),
                    threshold=threshold,
                    text_col=text_col,
                    id_col=id_col,
                    corpus_bands=spark.read.parquet(bands_path),
                    new_bands=batch_bands.join(
                        fresh.select(id_col), id_col, "left_semi"
                    ),
                )
                fresh = fresh.join(
                    dup.select(F.col("new_id").alias(id_col)).distinct(),
                    id_col,
                    "left_anti",
                )
            # 3. pin the accept decisions once, then both appends read the
            # pinned rows (the docs append must not race a bands recompute
            # against its own write)
            fresh = fresh.persist()
            try:
                # fresh's lineage reads docs_path (the history
                # verification), so the survivor bands are staged before
                # the docs append and moved in after it (the ST12 protocol;
                # r14s3 review: an unstaged bands append re-ran the whole
                # dedup against the mutated listing)
                commit.staged_append(
                    corpus_path,
                    f".bands_stage_{batch_id}",
                    batch_bands.join(fresh.select(id_col), id_col, "left_semi"),
                    bands_path,
                    lambda: fresh.write.mode("append").parquet(docs_path),
                )
            finally:
                fresh.unpersist()
        finally:
            batch_bands.unpersist()

    return _ingest(stream, corpus_path, checkpoint, body)


def compact_near_dedup_corpus(
    spark: SparkSession, corpus_path: str, id_col: str = "doc_id"
) -> dict[str, int]:
    """Reclaim foreach_batch_near_dedup's at-least-once redelivery
    duplicates: drop repeated ids from ``{corpus_path}/docs`` (redelivered
    rows are byte-identical payloads — any survivor is THE row) and
    repeated (id, band, band_hash) rows from the band index, rewriting
    both tables with the stage-then-swap used everywhere else (a table
    with no committed data yet is skipped). Returns removed-row counts.
    Single-writer contract via the shared
    create-exclusive _COMPACT_IN_PROGRESS marker: a concurrent compact
    fails loudly at the claim, and an ingesting micro-batch checks the
    marker at batch START and again at its WRITE boundary, failing (the
    checkpoint retries after release) instead of racing the swap. As with
    compact_quota_corpus, the marker cannot see a batch mid-flight
    BETWEEN its two checks when the compact claims — that window is
    narrow but not zero, so "don't start a compact under a live ingest
    stream" remains the operator-side contract."""
    # stale band stage dirs (crash windows before their move step) are
    # swept under the claim; anything they carried is re-derived on
    # redelivery
    with commit.compacting(corpus_path, stale_stage=".bands_stage_"):
        return {
            f"{name}_removed": _dedupe_table(
                spark, os.path.join(corpus_path, name), dedup
            )
            for name, dedup in (
                ("docs", lambda df: df.dropDuplicates([id_col])),
                ("bands", lambda df: df.distinct()),
            )
        }


def compact_exact_corpus(
    spark: SparkSession, corpus_path: str, id_col: str = "doc_id"
) -> dict[str, int]:
    """Reclaim foreach_batch_exact_dedup's at-least-once redelivery
    duplicates: the docstring's "id-distinct compact" made real (r10 —
    the contract previously pointed at a compact that didn't exist for
    ST8 corpora; compact_near_dedup_corpus rewrites a bands table these
    corpora don't have). Only NULL-text rows can duplicate (a redelivered
    content-bearing row matches its history twin in the verified join and
    drops), so this is one id-distinct stage-then-swap over docs. The
    content bloom is left untouched: a bloom that is a SUPERSET of docs
    stays correct by the ST8 invariant (false positives cost verification
    work, never correctness). Same enforced single-writer claim as the
    sibling compacts."""
    docs_path = os.path.join(corpus_path, "docs")
    if not commit.parquet_has_data(docs_path):
        return {"docs_removed": 0}
    with commit.compacting(corpus_path):
        return {
            "docs_removed": _dedupe_table(
                spark, docs_path, lambda df: df.dropDuplicates([id_col])
            )
        }


def foreach_batch_semantic_dedup(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
    max_cluster_rows: int = 100_000,
    expected_total: int = 1_000_000,
):
    """Streaming ingestion with SEMANTIC dedup against all history — the
    embedding-space sibling of foreach_batch_exact_dedup (ST8) built on
    operators/semdedup.semantic_dedup_against. Each micro-batch is
    self-deduped AND checked against the accumulated kept corpus in one
    kernel pass; survivors append to ``{corpus_path}/kept`` partitioned by
    cid, so the next batch's history semi-join prunes to only the cells it
    touches (partition pruning — per-batch cost never scans history).

    The quantizer is FIXED for the stream's lifetime: fitted once on the
    first scorable micro-batch and saved to ``{corpus_path}/centroids``
    BEFORE any kept rows are written — a crash between the two leaves a
    reusable quantizer and no corpus, so redelivery reproduces identical
    decisions; a crash DURING the save leaves a torn directory that reads
    as absent and the fit re-runs (heals — ST8's torn-bloom contract; no
    kept rows can exist under a torn quantizer given the write order).
    Cell count is the √N rule over ``expected_total`` — the EVENTUAL
    corpus size, ST8's sizing idiom — capped at the first batch's
    scorable rows (KMeans needs k ≤ n). Size it honestly: cells are fixed
    at stream start, so √first-batch would guarantee max_cluster_rows
    kernel failures once history outgrows the batch-sized cell layout.
    ``n_clusters`` overrides. For full control, pre-fit offline
    (ivf_centroids on a representative sample) and write the result to
    ``{corpus_path}/centroids`` before starting the stream. Re-fitting
    per batch would move cell boundaries and re-litigate history; to
    re-quantize, rebuild the corpus offline with semantic_dedup and
    restart the stream.

    Delivery is at-least-once per micro-batch, effectively idempotent for
    scorable rows: a redelivered row meets its previously-appended twin
    (same id, same cell — equal-id ties scan history first) at cosine 1.0
    and drops. NULL-vector rows always survive (the engine-wide
    null-content rule) and therefore re-append on redelivery; reclaim
    with an id-distinct compact, the ST7/ST8 contract. Returns the
    started query.

    Ids must be append-only and unique across batches (the
    semantic_dedup_against contract) — with that, the accumulated kept
    table equals a one-shot semantic_dedup over everything ingested.
    """
    import time as _time

    from vectrekker_spark.operators.ann import ivf_centroids
    from vectrekker_spark.operators.semdedup import semantic_dedup_against

    cent_path = os.path.join(corpus_path, "centroids")
    kept_path = os.path.join(corpus_path, "kept")

    def body(spark: SparkSession, batch: DataFrame, batch_id: int) -> None:
        _prof: dict[str, float] = {}
        _t = _time.monotonic()
        scorable = batch.where(F.col(vec_col).isNotNull())
        cents = None
        if os.path.exists(cent_path):
            try:
                cents = spark.read.parquet(cent_path)
                cents.limit(1).collect()  # force schema + a committed file
            except Exception:
                # torn save (crash mid-write of the first quantizer):
                # treat as absent and refit below. Safe: the write
                # order guarantees no kept rows were decided under the
                # torn quantizer.
                cents = None
        if cents is None:
            if scorable.isEmpty():
                # nothing to fit against or score; null-vector rows
                # append verbatim (kept, cid NULL) and the quantizer
                # waits for the first scorable batch
                commit.refuse_if_compacting(corpus_path)  # re-check at write
                batch.withColumn("cid", F.lit(None).cast("long")).write.mode(
                    "append"
                ).partitionBy("cid").parquet(kept_path)
                return
            # √(eventual corpus), capped by what this batch can fit
            k = n_clusters or max(
                1,
                min(int(expected_total ** 0.5), scorable.count()),
            )
            # driver-side seeded fit: one collect job on the √N-small
            # quantizer sample per stream start
            cents = ivf_centroids(
                scorable, n_centroids=k, id_col=id_col, vec_col=vec_col
            )
            # quantizer FIRST: a crash after this write, before any
            # kept append, redelivers into the same fixed cells
            cents.write.mode("overwrite").parquet(cent_path)
            cents = spark.read.parquet(cent_path)
        # parquet_has_data, not os.path.exists: a crash mid FIRST kept
        # append leaves only _temporary/ and every redelivery would wedge
        # on an uninferable-schema read (r14s3 review)
        if commit.parquet_has_data(kept_path):
            # cast: partition-column type inference can narrow the
            # directory-encoded cid to int; the kernel contract is long
            hist = spark.read.parquet(kept_path).where(
                F.col("cid").isNotNull()
            ).select(
                id_col, F.col("cid").cast("long").alias("cid"), vec_col
            )
        else:
            id_t = dict(batch.dtypes)[id_col]
            vec_t = dict(batch.dtypes)[vec_col]
            hist = spark.createDataFrame(
                [], f"`{id_col}` {id_t}, cid long, `{vec_col}` {vec_t}"
            )
        _prof["t_quantizer_and_history_plan"] = _time.monotonic() - _t
        _t = _time.monotonic()
        dec = semantic_dedup_against(
            batch, None, cents,
            threshold=threshold, id_col=id_col, vec_col=vec_col,
            max_cluster_rows=max_cluster_rows, kept_assigned=hist,
        ).persist()
        assign_cache = getattr(dec, "_cached_assign", None)
        try:
            survivors = batch.join(
                dec.where(F.col("keep")).select(id_col, "cid"),
                id_col, "inner",
            )
            # re-check the claim at the write boundary (quota idiom):
            # a compact claiming mid-batch must not race the append
            commit.refuse_if_compacting(corpus_path)
            survivors.write.mode("append").partitionBy("cid").parquet(
                kept_path
            )
            _prof["t_decide_and_append"] = _time.monotonic() - _t
            _stream_profile("semantic_dedup", batch_id, _prof)
        finally:
            dec.unpersist()
            if assign_cache is not None:
                assign_cache.unpersist()

    return _ingest(stream, corpus_path, checkpoint, body)


def compact_semantic_corpus(
    spark: SparkSession, corpus_path: str, id_col: str = "vec_id"
) -> dict[str, int]:
    """Reclaim foreach_batch_semantic_dedup's at-least-once redelivery
    duplicates. Only NULL-vector rows can duplicate (a redelivered
    SCORABLE row meets its previously-appended twin in-kernel and drops),
    and those all live in the kept table's NULL-cid partition — so only
    that one partition directory is rewritten (stage-then-swap); the
    cid-partitioned scorable data is never touched. Returns the
    removed-row count. Single-writer contract via the shared
    create-exclusive _COMPACT_IN_PROGRESS marker; ingest batches check it
    at batch start and at their write boundary (see compact_quota_corpus
    for the protocol and the residual mid-flight window, which remains
    the operator-side "no compact under a live stream" contract)."""
    null_dir = os.path.join(
        corpus_path, "kept", "cid=__HIVE_DEFAULT_PARTITION__"
    )
    if not os.path.exists(null_dir):
        return {"kept_removed": 0}
    with commit.compacting(corpus_path):
        return {
            "kept_removed": _dedupe_table(
                spark, null_dir, lambda df: df.dropDuplicates([id_col])
            )
        }


def foreach_batch_exact_dedup(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 1e-3,
    expected_total: int = 1_000_000,
):
    """Streaming ingestion with EXACT dedup against all history — the ST7
    near-dedup pipeline's exact-duplicate twin, built on the content bloom:
    each micro-batch is (1) exact-deduped within itself (min-id keeper per
    content hash), (2) checked against ``{corpus_path}/docs`` via
    operators/dedup.exact_dedup_against accelerated by the PERSISTED
    content bloom at ``{corpus_path}/bloom``, and (3) the survivors are
    folded into the bloom and appended to the docs table.

    Correctness invariant — the bloom is always a SUPERSET of the docs
    table's contents: the bloom is saved BEFORE the docs append, so every
    crash window degrades to bloom false positives (extra verification
    work), never to false negatives (a doc in history the bloom denies
    would bypass verification and let an exact duplicate through). The
    bloom is sized ONCE for ``expected_total`` docs and grown per batch
    with bloom_add; if the corpus outgrows it the effective fpp rises,
    which again only costs verification traffic — exactness never depends
    on the bloom (a torn/unreadable bloom falls back to the plain verified
    anti-join for that batch and is REBUILT from docs + survivors, sized
    for ``expected_total`` again).

    Delivery is at-least-once per micro-batch: a redelivered batch's rows
    are flagged maybe-seen (they were bloomed pre-crash) and the
    verification join drops exactly those already in docs. NULL-text rows
    always survive (NULL is not duplicate content, the engine-wide rule) —
    which also means a REDELIVERED null-text row re-appends (it has no
    content key to match on); reclaim those with ``compact_exact_corpus``
    (the id-distinct compact), the same effective-idempotence contract
    as the ST7 docs table. Returns the started query.
    """
    import time as _time

    from vectrekker_spark.operators.bloom import bloom_add, bloom_load, bloom_save
    from vectrekker_spark.operators.dedup import (
        content_bloom,
        exact_dedup_against,
        exact_dedup_map,
    )

    docs_path = os.path.join(corpus_path, "docs")
    bloom_path = os.path.join(corpus_path, "bloom")

    def body(spark: SparkSession, batch: DataFrame, batch_id: int) -> None:
        _prof: dict[str, float] = {}
        _t = _time.monotonic()
        keepers = exact_dedup_map(
            batch, text_col=text_col, id_col=id_col
        ).select(F.col("keep_id").alias(id_col))
        fresh = batch.join(keepers, id_col, "left_semi")
        bloom = None
        # parquet_has_data, not os.path.exists: a crash mid FIRST docs
        # append leaves only _temporary/ and existence alone would send
        # every redelivery into an uninferable-schema read — wedged
        # forever (the bands/quota rule; r14s3 review)
        have_docs = commit.parquet_has_data(docs_path)
        if have_docs:
            try:
                bloom = bloom_load(bloom_path)
            except ValueError:
                bloom = None  # torn save: verified plain join, heal below
            fresh = exact_dedup_against(
                fresh,
                spark.read.parquet(docs_path),
                text_col=text_col,
                history_bloom=bloom,
            )
        _prof["t_plan_and_bloom_load"] = _time.monotonic() - _t
        _t = _time.monotonic()
        fresh = fresh.persist()
        probe = getattr(fresh, "_cached_probe", None)
        try:
            if fresh.isEmpty():
                _prof["t_dedup_materialize"] = _time.monotonic() - _t
                _t = _time.monotonic()
                # COMMIT the torn-bloom heal even when every row was a
                # duplicate: without this a dup-heavy stream re-derives
                # from full history on every batch (the quota
                # empty-admit rule; r14s3 review)
                if have_docs and bloom is None:
                    commit.refuse_if_compacting(corpus_path)
                    bloom_save(
                        content_bloom(
                            spark.read.parquet(docs_path)
                            .select(id_col, text_col),
                            text_col=text_col,
                            fpp=fpp,
                            expected=expected_total,
                        ),
                        bloom_path,
                    )
                _prof["t_bloom_heal"] = _time.monotonic() - _t
                _stream_profile("exact_dedup", batch_id, _prof)
                return
            _prof["t_dedup_materialize"] = _time.monotonic() - _t
            _t = _time.monotonic()
            if bloom is None:
                # first batch, or healing a torn bloom: (re)build over
                # history + survivors, sized for the eventual corpus
                seed = fresh.select(id_col, text_col)
                if have_docs:
                    seed = (
                        spark.read.parquet(docs_path)
                        .select(id_col, text_col)
                        .unionByName(seed)
                    )
                bloom = content_bloom(
                    seed, text_col=text_col, fpp=fpp, expected=expected_total
                )
            else:
                bloom = bloom_add(bloom, fresh, text_col)
            # re-check the claim at the write boundary (quota idiom):
            # a compact claiming mid-batch must not race the writes
            commit.refuse_if_compacting(corpus_path)
            # bloom FIRST, docs second (the superset invariant above)
            bloom_save(bloom, bloom_path)
            _prof["t_bloom_fold_save"] = _time.monotonic() - _t
            _t = _time.monotonic()
            fresh.write.mode("append").parquet(docs_path)
            _prof["t_docs_append"] = _time.monotonic() - _t
            _stream_profile("exact_dedup", batch_id, _prof)
        finally:
            if probe is not None:
                probe.unpersist()
            fresh.unpersist()

    return _ingest(stream, corpus_path, checkpoint, body)


def foreach_batch_url_dedup(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    fpp: float = 1e-3,
    expected_total: int = 1_000_000,
):
    """Streaming CRAWL ingestion with URL-level dedup against all history
    (r13): the exact-dedup machinery keyed on ``normalized_url(url)``
    instead of document content — the continuous form of
    functions/urls.dedup_by_url, and the first gate a crawl stream runs
    before content hashing touches any payload (refetches of the same
    canonical URL across snapshots are the bulk of crawl duplication).

    Implementation IS foreach_batch_exact_dedup with the key column
    swapped in: every lifecycle property transfers verbatim — the
    bloom-superset invariant, torn-bloom heal, redelivery idempotence for
    keyed rows, and the NULL rule (NULL urls always survive; compact
    reclaims redelivered ones). The persisted docs table carries the
    extra ``url_key`` column (the normalized URL — useful inventory).
    Compose downstream with foreach_batch_exact_dedup / _near_dedup on
    the surviving docs for content-level dedup. Returns the started
    query."""
    from vectrekker_spark.functions.urls import normalized_url

    if "url_key" in stream.columns:
        raise ValueError(
            "input already has a url_key column — rename it (reserved "
            "as the normalized-URL key column)"
        )
    keyed = stream.withColumn("url_key", normalized_url(url_col))
    return foreach_batch_exact_dedup(
        keyed,
        corpus_path,
        checkpoint,
        text_col="url_key",
        id_col=id_col,
        fpp=fpp,
        expected_total=expected_total,
    )


def foreach_batch_para_dedup(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 40,
):
    """ST12: streaming ingestion with CROSS-DOCUMENT PARAGRAPH dedup —
    the continuous form of operators/paradedup (banners/footers/license
    blocks collapse to their corpus-canonical occurrence as documents
    arrive). Persisted layout: ``{corpus}/docs`` (the rebuilt documents)
    and ``{corpus}/para_hashes`` (the paragraph-hash membership index the
    next batch joins against).

    Protocol per micro-batch:

    1. NULL-id rows are DROPPED (no redelivery identity — the quota/
       sampling rule; here it is also a content-safety rule, see 2).
    2. Redelivery guard by DOC ID: anti-join the batch against docs ids.
       The id is the only safe redelivery identity for this job — a
       redelivered doc's kept paragraphs are already in the index, so
       without the guard the rerun would strip it to '' and the content
       would be LOST, not duplicated.
    3. Within-batch + against-history dedup via
       operators/paradedup.dedup_paragraphs_against; docs whose text
       strips to '' are dropped (idempotent under redelivery — they
       re-strip to '' and re-drop).
    4. WRITE ORDER: docs VISIBLE first, hashes second — the INVERSE of
       ST8's bloom-first rule, for the same invariant pointed the other
       way. ST8's bloom is advisory (a missing entry only costs
       verification work), but a paragraph-hash entry STRIPS CONTENT
       from future docs, so an entry must never exist without its keeper
       doc in the corpus. Mechanically the hash files are staged to a
       hidden ``.hashes_stage_*`` dir BEFORE the docs append (Spark
       recaches plans whose input paths are written — see the in-body
       comment) and MOVED in after it, so every crash window — before
       the docs append, between append and move, or mid-move (a moved
       part file is a complete subset) — UNDER-dedups (duplicate
       paragraphs survive; safe) and never loses content.
       ``compact_para_corpus`` rebuilds the index from docs and sweeps
       stale stage dirs to heal. Returns the started query.
    """
    from vectrekker_spark.operators.paradedup import (
        dedup_paragraphs,
        dedup_paragraphs_against,
        paragraph_hashes,
    )

    for col in ("paras_dropped", "__pd_out", "__pd_id", "__pd_drop_pos"):
        if col in stream.columns:
            raise ValueError(
                f"input already has a {col!r} column — reserved by the "
                f"paragraph-dedup batch kernel; rename it first"
            )
    docs_path = os.path.join(corpus_path, "docs")
    hashes_path = os.path.join(corpus_path, "para_hashes")

    def body(spark: SparkSession, batch: DataFrame, batch_id: int) -> None:
        if commit.parquet_has_data(docs_path):
            existing = spark.read.parquet(docs_path).select(id_col)
            fresh = batch.join(existing, id_col, "left_anti")
        else:
            fresh = batch
        if commit.parquet_has_data(hashes_path):
            out = dedup_paragraphs_against(
                fresh,
                spark.read.parquet(hashes_path),
                id_col=id_col,
                text_col=text_col,
                min_chars=min_chars,
                out_col="__pd_out",
            )
        else:
            out = dedup_paragraphs(
                fresh,
                id_col=id_col,
                text_col=text_col,
                min_chars=min_chars,
                out_col="__pd_out",
            )
        kept = (
            out.withColumn(text_col, F.col("__pd_out"))
            .drop("__pd_out", "paras_dropped")
            .where(F.col(text_col).isNull() | (F.length(F.col(text_col)) > 0))
            .persist()
        )
        try:
            if kept.isEmpty():
                return
            # kept and its hashes read docs_path (the id guard), so the
            # hashes are staged before the docs append: an append would
            # otherwise recache the guard against the mutated listing and
            # empty the batch (found by the streaming fuzzer's first para
            # campaign: the index stopped growing after batch 1)
            commit.staged_append(
                corpus_path,
                f".hashes_stage_{batch_id}",
                paragraph_hashes(
                    kept, id_col=id_col, text_col=text_col, min_chars=min_chars
                ),
                hashes_path,
                lambda: kept.write.mode("append").parquet(docs_path),
            )
        finally:
            kept.unpersist()

    return _ingest(
        stream, corpus_path, checkpoint, body,
        prepare=lambda df: df.where(F.col(id_col).isNotNull()),
    )


def compact_para_corpus(
    spark: SparkSession,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 40,
) -> dict[str, int]:
    """Heal an ST12 corpus after a docs-written/hashes-crash window:
    rebuild ``para_hashes`` as ``paragraph_hashes(docs)`` (the exact
    membership set the ingest protocol would have produced) and reclaim
    any duplicate-id doc rows. Same enforced single-writer claim +
    stage-then-swap as the sibling compacts; ingest batches racing the
    claim fail loudly and retry after release."""
    from vectrekker_spark.operators.paradedup import paragraph_hashes

    docs_path = os.path.join(corpus_path, "docs")
    hashes_path = os.path.join(corpus_path, "para_hashes")
    if not commit.parquet_has_data(docs_path):
        return {"docs_removed": 0, "index_hashes": 0}
    # stale hash stage dirs are swept under the claim; the rebuild below
    # re-derives anything they carried from docs
    with commit.compacting(corpus_path, stale_stage=".hashes_stage_"):
        removed = _dedupe_table(
            spark, docs_path, lambda df: df.dropDuplicates([id_col])
        )
        docs = spark.read.parquet(docs_path).persist()
        try:
            rebuilt = paragraph_hashes(
                docs, id_col=id_col, text_col=text_col, min_chars=min_chars
            )
            n = rebuilt.count()
            commit.atomic_replace(rebuilt, hashes_path)
            spark.catalog.refreshByPath(hashes_path)
        finally:
            docs.unpersist()
        return {"docs_removed": removed, "index_hashes": n}


def _stratum_counts(docs: DataFrame, strata_col: str) -> DataFrame:
    """The quota ledger's (stratum, used) rows counted from docs."""
    return (
        docs.groupBy(F.col(strata_col).alias("stratum"))
        .count()
        .select("stratum", F.col("count").cast("long").alias("used"))
    )


def _read_ledger(spark: SparkSession, corpus_path: str) -> DataFrame | None:
    """The committed quota ledger (the ``counts-v<N>`` the corpus's
    ``CURRENT-v{K}`` pointer names), or None when no pointer is committed
    (first write torn, or a corpus from before the pointer)."""
    tokens = commit.pointer_tokens(corpus_path)
    return spark.read.parquet(os.path.join(corpus_path, tokens[0])) if tokens else None


def _save_ledger(counts: DataFrame, corpus_path: str) -> None:
    """Write the next ``counts-v<N>`` and commit it by a pointer flip; the
    previous version stays as the grace copy, older ones are pruned."""
    name = f"counts-v{commit.next_version(corpus_path, ['counts'])}"
    counts.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(corpus_path, name)
    )
    commit.publish(corpus_path, [name], ["counts"])


def foreach_batch_quota(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    cap: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "quota0",
    fpp: float = 1e-3,
    expected_total: int = 1_000_000,
):
    """ST10: streaming ingestion under a per-stratum quota (the C18 domain
    cap, continuous form): each micro-batch admits rows per stratum only
    until the stratum's running quota is full — a crawl feed capped at N
    docs per domain, forever, without re-scanning history.

    Per batch: (1) in-batch id-dedup, (2) redelivery guard — an
    admitted-ID bloom flags maybe-seen rows, verified against
    ``{corpus_path}/docs`` scanned NARROW under a broadcast semi-filter
    (the ST8 idiom: history is read, never shuffled; definite-new rows
    skip verification entirely), (3) ``operators/quota.admit_per_stratum``
    against the tiny (stratum, used) ledger — in-batch competition in
    stable hash(seed, id) order, so a redelivered batch admits the SAME
    rows, (4) state writes in safety order.

    Write order and crash windows — quota can only UNDERSHOOT, never
    overshoot, and docs can only gain reclaimable duplicates:
    ledger first (the next ``counts-v<N>``, committed by a flip of the
    corpus's ``CURRENT-v{K}`` pointer — commit.py's versioned layout: a
    torn write is never pointed at and the previous version stays live),
    bloom second, docs append last. A crash between them leaves
    the ledger overcharged (bounded by one batch; the safe direction for
    a contamination-style cap) and/or the bloom a superset of docs — a
    redelivered row is then either dropped (in docs) or re-admitted with
    a second charge (not in docs), never silently over-quota. Reconcile
    ledger drift and id-duplicates with ``compact_quota_corpus``. A torn
    or missing bloom degrades to the plain verified anti-join for that
    batch and is REBUILT from docs + admissions (the ST8 heal). Returns
    the started query.
    """
    from vectrekker_spark.operators.bloom import (
        bloom_add,
        bloom_build,
        bloom_load,
        bloom_save,
        might_contain,
    )
    from vectrekker_spark.operators.quota import admit_per_stratum, merge_counts

    docs_path = os.path.join(corpus_path, "docs")
    bloom_path = os.path.join(corpus_path, "bloom")
    # one reusable expression; column resolution binds at use site
    id_as_str = F.col(id_col).cast("string")

    def body(spark: SparkSession, batch: DataFrame, batch_id: int) -> None:
        # a crash during the very FIRST docs append leaves a dir with
        # only _temporary — existence alone would send the next batch
        # into an uninferable-schema read and wedge the stream
        have_docs = commit.parquet_has_data(docs_path)
        bloom = None
        fresh = batch
        if have_docs:
            try:
                bloom = bloom_load(bloom_path)
            except ValueError:
                bloom = None  # torn save: verified plain join, heal below
            docs_ids = spark.read.parquet(docs_path).select(id_col)
            if bloom is not None:
                flagged = might_contain(
                    batch, id_as_str, bloom, out_col="__maybe"
                )
                maybe_ids = flagged.filter(F.col("__maybe")).select(id_col)
                # history scanned narrow under the broadcast maybe-set;
                # definite-new rows never touch it
                hits = docs_ids.join(F.broadcast(maybe_ids), id_col, "left_semi")
                fresh = (
                    flagged.join(F.broadcast(hits), id_col, "left_anti")
                    .drop("__maybe")
                )
            else:
                fresh = batch.join(docs_ids, id_col, "left_anti")
        counts = _read_ledger(spark, corpus_path)
        healed_ledger = False
        if counts is None and have_docs:
            # no committed ledger (first write torn, or pre-ledger
            # corpus): heal by recounting the docs table once
            counts = _stratum_counts(spark.read.parquet(docs_path), strata_col)
            healed_ledger = True
        admitted = admit_per_stratum(
            fresh, counts, cap,
            strata_col=strata_col, id_col=id_col, seed=seed,
        ).persist()
        try:
            if admitted.isEmpty():
                # nothing to admit, but COMMIT any healing this batch
                # performed — otherwise a torn ledger/bloom on a
                # quota-full stream would be re-derived from the FULL
                # docs history on every subsequent batch, breaking the
                # "heals by ONE recount" contract
                commit.refuse_if_compacting(corpus_path)  # re-check at write
                if healed_ledger:
                    _save_ledger(counts, corpus_path)
                if bloom is None and have_docs:
                    bloom_save(
                        bloom_build(
                            spark.read.parquet(docs_path)
                            .select(id_as_str.alias("__id")),
                            "__id", fpp=fpp, expected=expected_total,
                        ),
                        bloom_path,
                    )
                return
            # re-check the claim at the write boundary: a compact
            # that started AFTER this batch's entry check would
            # otherwise interleave its swap with the writes below
            # (narrows the race window; see the docstring for the
            # residual operator-side contract)
            commit.refuse_if_compacting(corpus_path)
            # 1. ledger (quota can only undershoot after a crash)
            _save_ledger(
                merge_counts(counts, admitted, strata_col=strata_col), corpus_path
            )
            # 2. bloom (superset-of-docs invariant, the ST8 order)
            if bloom is None:
                seed_ids = admitted.select(id_as_str.alias("__id"))
                if have_docs:
                    seed_ids = (
                        spark.read.parquet(docs_path)
                        .select(id_as_str.alias("__id"))
                        .unionByName(seed_ids)
                    )
                bloom = bloom_build(
                    seed_ids, "__id", fpp=fpp, expected=expected_total
                )
            else:
                bloom = bloom_add(bloom, admitted, id_as_str)
            bloom_save(bloom, bloom_path)
            # 3. data last
            admitted.write.mode("append").parquet(docs_path)
        finally:
            admitted.unpersist()

    return _ingest(
        stream, corpus_path, checkpoint, body,
        prepare=lambda df: df.dropDuplicates([id_col]),
    )


def compact_quota_corpus(
    spark: SparkSession,
    corpus_path: str,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Reconcile foreach_batch_quota's crash debris: drop id-duplicate
    docs rows (at-least-once redelivery in the bloom-torn window) and
    rewrite the ledger to the TRUE per-stratum counts (healing any
    overcharge from a counts-written/docs-crashed window — quota capacity
    comes back; when that window hit the FIRST batch, docs holds no
    committed data and the true ledger is empty). Write-then-swap on the
    docs table; the new ledger commits as the next ``counts-v<N>`` by a
    pointer flip.

    Single-writer contract, enforced via a create-exclusive
    ``_COMPACT_IN_PROGRESS`` marker claiming the corpus for the compact's
    duration: a second concurrent compact fails loudly at the claim, and
    an ingesting ``foreach_batch_quota`` batch checks the marker at batch
    START and again at its WRITE boundary, failing the micro-batch (the
    checkpoint retries it after release) instead of racing the swap.
    Enforcement direction: the marker blocks ingest during a compact and
    compact during a compact; it cannot see a batch that is mid-flight
    BETWEEN its two checks when the compact claims — that window is
    narrow (the checks bracket the batch's compute) but not zero, so
    "don't start a compact under a live ingest stream" remains the
    operator-side contract. A compact that crashes leaves a stale claim;
    the error message names the marker file to delete."""
    docs_path = os.path.join(corpus_path, "docs")
    if not (commit.parquet_has_data(docs_path) or commit.pointer_tokens(corpus_path)):
        return {"docs_removed": 0, "ledger_delta": 0}
    with commit.compacting(corpus_path):
        old = _read_ledger(spark, corpus_path)
        # a docs table with no committed data (its first append crashed
        # after the ledger commit) has the empty ledger as its true one
        true = [[], old.schema if old is not None else None]

        def collect_ledger(clean: DataFrame) -> None:
            # runs BEFORE the swap: after it deletes the old docs files, a
            # cache eviction/executor loss would recompute `clean` against
            # a deleted listing (FileNotFound) and leave the compact
            # half-applied with the overcharged ledger it exists to heal.
            # The true ledger is one tiny row per stratum — collect it now,
            # write it from memory. (Also NOT a re-read of the swapped
            # path: that raced the FileStatusCache into the pre-compact
            # listing — found by the lifecycle test when the freed quota
            # slot never came back.)
            agg = _stratum_counts(clean, strata_col)
            true[:] = [agg.collect(), agg.schema]

        removed = _dedupe_table(
            spark, docs_path, lambda df: df.dropDuplicates([id_col]),
            on_clean=collect_ledger,
        )
        rows, schema = true
        drift = 0
        if old is not None:
            drift = int(old.agg(F.sum("used")).first()[0] or 0) - sum(
                int(r["used"]) for r in rows
            )
        _save_ledger(spark.createDataFrame(rows, schema), corpus_path)
        return {"docs_removed": removed, "ledger_delta": drift}
