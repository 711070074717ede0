"""The vectrekker-parity batch pipeline (SURVEY.md §3.2 EP3, §7 M3):

    scan(dir) → regex filter → delta vs state → token gate (→ quarantine)
    → [chunk] → embed → MERGE into index → MERGE state

Reference semantics preserved (`vectrekker/main.py`):
- incremental: only files with mtime strictly greater than cached (or new)
  are re-embedded (`:143-147`)
- each changed file is embedded once per run, one request per note in the
  reference (`:180-185`): the embedded delta is persisted, because the
  indexed count and the index merge each read it
- each changed doc is tokenized once: the token count is cached with the
  delta, and one aggregate yields both the changed and over-long counts
- empty-delta short-circuit (`:149-151`)
- over-long docs don't crash the job (the reference asserts and dies,
  `:178`); they are routed to a quarantine path — or chunked (the
  reference's own TODO) when chunk_size is set
- state is committed only AFTER the index write succeeds — at-least-once,
  matching the reference's write-then-mark ordering (`:185-188`)
- index rows are (id=path, embedding, metadata={}) (`:185`)

On a lakehouse the two MERGEs are Delta `MERGE INTO`; on plain parquet we
read-merge-rewrite via a temp dir + atomic rename (never overwrite a path
that is also an input of the running plan).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectrekker_spark.functions.tokenize import gate_token_count
from vectrekker_spark.operators.chunk import chunk_text
from vectrekker_spark.operators.delta import detect_changes_versioned, merge_upsert
from vectrekker_spark.queries.vector import hash_embed_batch
from vectrekker_spark.sources.files import scan_directory

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("doc_path", T.StringType(), False),  # replace-group key
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("last_edit_time", T.LongType(), False),
        # embedder identity that produced the stored vectors; NULL for rows
        # written before versioning (or with versioning off) — treated as
        # stale whenever a version is configured
        T.StructField("embed_version", T.StringType(), True),
    ]
)


@dataclass
class PipelineConfig:
    content_dir: str
    state_path: str
    index_path: str
    quarantine_path: str | None = None
    content_regex: str = r".*\.md$"
    max_tokens: int = 8191
    chunk_size: int = 0  # 0 → no chunking; >0 → chunk over-long docs instead of quarantining
    chunk_overlap: int = 64
    # Pluggable embedder (vectrekker_spark.embedder.Embedder): a zero-arg
    # picklable factory run once per task. None → the deterministic hashing
    # pandas_udf. Production: lambda: HttpEmbedder(url, dim=...) — batched,
    # rate-limited, retrying (the reference's E1 made scale-shaped).
    embedder_factory: object | None = None
    # Identity of the embedder (model/dim/revision). When set, rows whose
    # stored version differs are re-embedded even if their mtime is
    # unchanged — incremental, crash-resumable model migration. Empty →
    # mtime-only detection (reference parity).
    embed_version: str = ""
    # >0 → process at most this many changed files per run (deterministic
    # path order): bounds a huge backlog or version migration into small
    # resumable runs, each committing its own state slice. 0 → no cap.
    max_changed: int = 0
    # "parquet" (default): hash-bucketed REPLACE-GROUP merge with the
    # stage-then-swap commit (no dependencies). "delta": the lakehouse
    # branch — delete-matched-groups MERGE + append via delta-spark
    # (operators/delta.merge_upsert_delta_grouped), giving readers snapshot
    # isolation instead of the swap window. Requires delta_available();
    # the index must then be read with spark.read.format("delta").
    index_format: str = "parquet"


def _ensure_delta_index(spark: SparkSession, path: str) -> None:
    """First run of a delta-format pipeline: materialize an empty index
    table so DeltaTable.forPath resolves (an append of zero INDEX_SCHEMA
    rows creates the table; no-op when the table exists)."""
    if not os.path.exists(path):
        from vectrekker_spark.operators.delta import _delta_append

        _delta_append(spark.createDataFrame([], INDEX_SCHEMA), path)


def _swap_old_path(path: str) -> str:
    head, tail = os.path.split(path.rstrip("/"))
    return os.path.join(head, f".{tail}.__swap_old")


def _heal_swap(path: str) -> None:
    """Recover a crash between _atomic_replace's two renames: the target
    is missing but the displaced previous table is still at its hidden
    sibling — rename it back so readers see the pre-swap state (the swap
    never commits halfway; it either fully replaced or fully didn't)."""
    old = _swap_old_path(path)
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def _read_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    _heal_swap(path)
    if os.path.exists(path):
        # the known schema skips the footer-inference job and null-fills
        # columns an older table lacks (a pre-versioning state's embed_version)
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def _atomic_replace(df: DataFrame, path: str) -> None:
    """Write df to a hidden SIBLING dir (same filesystem), then swap via
    two atomic renames. Required because the merged frame lazily reads
    the old `path` (writing in place would clobber the plan's own input),
    and the swap must be crash-safe: the old rmtree-then-move protocol
    staged in /tmp, so the move was often a long cross-device recursive
    copy with the target ALREADY DELETED — a crash there silently lost
    the whole accumulated table and the next batch rebuilt from empty
    (r14s3 review). Now the only unprotected window is between two
    same-filesystem renames (microseconds), and _heal_swap recovers it."""
    head, tail = os.path.split(path.rstrip("/"))
    os.makedirs(head or ".", exist_ok=True)
    _heal_swap(path)
    new = os.path.join(head, f".{tail}.__swap_new_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(new)
    old = _swap_old_path(path)
    shutil.rmtree(old, ignore_errors=True)  # leftover of a completed swap
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(new, path)
    shutil.rmtree(old, ignore_errors=True)


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, int]:
    """One incremental run. Returns counters (scanned/changed/indexed/quarantined)."""
    # Config validated BEFORE any work or side effect: a typo'd format (or
    # a delta request without delta-spark) must not cost a full scan+embed
    # and a duplicate quarantine append before failing at the sink.
    if cfg.index_format not in ("parquet", "delta"):
        raise ValueError(
            f"index_format must be parquet or delta, got {cfg.index_format!r}"
        )
    if cfg.index_format == "delta":
        from vectrekker_spark.operators.delta import delta_available

        if not delta_available():
            raise ImportError(
                "index_format='delta' requires the delta-spark package "
                "(and its JVM extension); install it or use the default "
                "parquet index sink"
            )
    scan = scan_directory(spark, cfg.content_dir, pattern=cfg.content_regex)
    n_scanned = scan.count()

    state = _read_or_empty(spark, cfg.state_path, STATE_SCHEMA)
    changed = detect_changes_versioned(scan, state, cfg.embed_version, key="path")
    if cfg.max_changed > 0:
        # bounded slice in deterministic path order: a huge backlog (bulk
        # import, --embed-version migration) becomes a sequence of small
        # resumable runs, each committing its own state. The limit's
        # TakeOrdered emits ONE partition — re-spread the slice so the
        # embed stage runs parallel, not serial.
        changed = (
            changed.orderBy("path")
            .limit(cfg.max_changed)
            .repartition(spark.sparkContext.defaultParallelism)
        )
    # BPE-magnitude token gate (tiktoken → bpe-like fallback): the 8191 limit
    # is a BPE limit; gating on whitespace tokens would let over-limit docs
    # through to be embedded whole. Computed before the cache, so the gate
    # runs once per changed doc.
    changed = changed.withColumn("n_tokens", gate_token_count(F.col("text"))).cache()
    new_rows = None
    try:
        n_changed, n_too_long = changed.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("n_tokens") >= cfg.max_tokens, True)),
        ).first()
        if n_changed == 0:  # reference's empty short-circuit (main.py:149-151)
            return {"scanned": n_scanned, "changed": 0, "indexed": 0, "quarantined": 0}

        ok = changed.filter(F.col("n_tokens") < cfg.max_tokens)
        too_long = changed.filter(F.col("n_tokens") >= cfg.max_tokens)

        ok_docs = ok.select("path", F.col("path").alias("doc_path"), "text")
        quarantined_paths = None
        if cfg.chunk_size > 0:
            chunks = chunk_text(
                too_long, text_col="text", id_col="path",
                size=cfg.chunk_size, overlap=cfg.chunk_overlap,
            ).select(
                F.concat_ws("#", F.col("path"), F.col("chunk_id")).alias("path"),
                F.col("path").alias("doc_path"),
                F.col("chunk_text").alias("text"),
            )
            # Re-gate the chunks: chunk windows are CHARACTER-sized while the
            # limit is in TOKENS, and dense text (symbols, CJK, emoji under real
            # tiktoken) can pack >1 token per character — a chunk can itself
            # exceed the embed limit. Over-limit chunks are quarantined; a doc
            # whose chunks ALL fail has no surviving rows, so its old index rows
            # are retired via delete_groups like the unchunked quarantine path.
            gated = chunks.withColumn("n_tokens", gate_token_count(F.col("text")))
            good = gated.filter(F.col("n_tokens") < cfg.max_tokens).drop("n_tokens")
            bad = gated.filter(F.col("n_tokens") >= cfg.max_tokens)
            n_quarantined = bad.count()
            if n_quarantined:
                if cfg.quarantine_path:
                    bad.select("path", "n_tokens").write.mode("append").parquet(
                        cfg.quarantine_path
                    )
                quarantined_paths = bad.select("doc_path").subtract(
                    good.select("doc_path")
                )
            ok = ok_docs.unionByName(good)
        else:
            ok = ok_docs
            n_quarantined = n_too_long
            if n_quarantined:
                # a doc that GREW past the limit must also retire its old rows
                quarantined_paths = too_long.select(F.col("path").alias("doc_path"))
                if cfg.quarantine_path:
                    too_long.select("path", "n_tokens").write.mode("append").parquet(
                        cfg.quarantine_path
                    )

        if cfg.embedder_factory is not None:
            from vectrekker_spark.embedder import embed_column

            new_rows = embed_column(ok, cfg.embedder_factory).select(
                F.col("path").alias("id"),
                F.col("doc_path"),
                "embedding",
                F.create_map().cast("map<string,string>").alias("metadata"),
            )
        else:
            embed = F.pandas_udf(lambda s: hash_embed_batch(s), "array<double>")
            new_rows = ok.select(
                F.col("path").alias("id"),
                F.col("doc_path"),
                embed(F.col("text")).alias("embedding"),
                F.create_map().cast("map<string,string>").alias("metadata"),
            )
        # Embed once per run: the count and the merge's collect and write(s)
        # all read new_rows; each read of an uncached embed stage re-embeds.
        new_rows = new_rows.persist()
        n_indexed = new_rows.count()  # materializes the persisted rows
        # REPLACE-GROUP merge keyed on the source document: a re-processed doc
        # retires ALL its previous index rows (chunk ids the new version no
        # longer produces would otherwise linger as stale hits); cost ∝ delta
        # size, not index size. parquet → hash-bucket pruning + stage-then-swap
        # commit; delta → delete-matched-groups MERGE + append (data skipping
        # on doc_path, snapshot-isolated readers).
        if cfg.index_format == "delta":
            from vectrekker_spark.operators.delta import merge_upsert_delta_grouped

            _ensure_delta_index(spark, cfg.index_path)
            merge_upsert_delta_grouped(
                spark, cfg.index_path, new_rows, group_col="doc_path",
                delete_groups=quarantined_paths,
            )
        else:  # "parquet" — validated at run start
            from vectrekker_spark.operators.delta import merge_upsert_partitioned

            merge_upsert_partitioned(
                spark, cfg.index_path, new_rows, key="id", group_col="doc_path",
                delete_groups=quarantined_paths,
            )

        # State commit strictly AFTER the index write (at-least-once ordering).
        new_state = changed.select(
            "path",
            F.col("mtime").alias("last_edit_time"),
            (
                F.lit(cfg.embed_version) if cfg.embed_version else F.lit(None)
            ).cast("string").alias("embed_version"),
        )
        # Strategy passed explicitly: "auto" would spend a LIMIT-count job
        # learning what n_changed already says (1_000_000 is merge_upsert's
        # broadcast_rows), and a scan's paths are unique.
        merged_state = merge_upsert(
            state, new_state, key="path",
            strategy="anti" if n_changed <= 1_000_000 else "window",
            updates_unique=True,
        )
        _atomic_replace(merged_state, cfg.state_path)
    finally:
        # also on the empty-delta return and on failure: no run may pin a
        # cached frame in a long-lived session (hourly cron, notebook)
        if new_rows is not None:
            new_rows.unpersist()
        changed.unpersist()

    return {
        "scanned": n_scanned,
        "changed": n_changed,
        "indexed": n_indexed,
        "quarantined": n_quarantined,
    }
