"""CLI — parity with the reference's entry point (`vectrekker/main.py:126-188`,
console script at reference pyproject.toml:33), Spark-backed.

    python -m vectrekker_spark index  --content-dir D --state S --index I [--dry-run]
    python -m vectrekker_spark search --index I (--query-id PATH | --text T) [-k K]
    python -m vectrekker_spark stats  --index I
    python -m vectrekker_spark ann-build --index I --out DIR [--incremental]

Parity notes:
- `--dry-run` prints the files that WOULD be re-indexed and exits before any
  side effect. (The reference's dry-run falls through and indexes anyway —
  missing `return` at `vectrekker/main.py:156`; that bug is not reproduced.)
- Config can come from a TOML file (`--config`), mirroring the reference's
  `~/.vectrekker/config.toml` (`vectrekker/main.py:42-53`); explicit flags
  override file values. Sections/keys follow the reference: `[base]`
  content_folder / content_regex.
"""

from __future__ import annotations

import argparse
import sys


def _load_toml(path: str) -> dict:
    import tomllib

    with open(path, "rb") as f:
        return tomllib.load(f)


def _spark():
    from vectrekker_spark.session import get_spark

    return get_spark(app_name="vectrekker-cli")


def cmd_index(args: argparse.Namespace) -> int:
    from vectrekker_spark.operators.delta import detect_changes_versioned
    from vectrekker_spark.pipeline import (
        PipelineConfig,
        _read_or_empty,
        STATE_SCHEMA,
        run_pipeline,
    )
    from vectrekker_spark.sources.files import scan_directory

    cfg_file = _load_toml(args.config).get("base", {}) if args.config else {}
    content_dir = args.content_dir or cfg_file.get("content_folder")
    regex = args.content_regex or cfg_file.get("content_regex", r".*\.md$")
    if not content_dir:
        print("error: --content-dir (or [base].content_folder in --config) required")
        return 2

    spark = _spark()
    if args.dry_run:
        # list the delta and STOP — no side effects (unlike the reference)
        scan = scan_directory(spark, content_dir, pattern=regex)
        state = _read_or_empty(spark, args.state, STATE_SCHEMA)
        changed = (
            detect_changes_versioned(scan, state, args.embed_version, key="path")
            .select("path")
            .collect()
        )
        if args.max_changed > 0 and len(changed) > args.max_changed:
            # mirror run_pipeline's bounded slice (same deterministic path
            # order) so the listing matches what the next run will process
            sliced = sorted(r["path"] for r in changed)[: args.max_changed]
            print(
                f"dry-run: {len(sliced)} file(s) would be re-indexed "
                f"(--max-changed {args.max_changed}; total backlog "
                f"{len(changed)})"
            )
            for p in sliced:
                print(f"  {p}")
            return 0
        print(f"dry-run: {len(changed)} file(s) would be re-indexed")
        for r in changed:
            print(f"  {r['path']}")
        return 0

    embedder_factory = None
    if args.embed_endpoint:
        # external batched embedder (Embedder protocol); deterministic local
        # hashing embedder otherwise
        url, dim = args.embed_endpoint, args.embed_dim

        def embedder_factory():  # runs once per task, worker-local client
            from vectrekker_spark.embedder import HttpEmbedder

            return HttpEmbedder(url, dim=dim)

    cfg = PipelineConfig(
        content_dir=content_dir,
        state_path=args.state,
        index_path=args.index,
        quarantine_path=args.quarantine,
        content_regex=regex,
        chunk_size=args.chunk_size,
        embedder_factory=embedder_factory,
        embed_version=args.embed_version,
        max_changed=args.max_changed,
        index_format=args.index_format,
    )
    counters = run_pipeline(spark, cfg)
    print(counters)
    return 0


def cmd_search(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.knn import knn_join
    from vectrekker_spark.queries.vector import hash_embed_batch
    from vectrekker_spark.session import local_frame

    spark = _spark()
    index = spark.read.parquet(args.index)
    if args.query_id:
        q = index.filter(F.col("id") == args.query_id).select(
            F.col("id").alias("qid"), F.col("embedding").alias("qvec")
        )
        if q.isEmpty():
            print(f"error: id {args.query_id!r} not in index")
            return 2
    else:
        import pandas as pd

        vec = hash_embed_batch(pd.Series([args.text]))[0]
        # --text embeds with the LOCAL hashing embedder; an index built with
        # --embed-endpoint lives in a different (and differently-sized)
        # embedding space. Fail fast on the dimension — knn_join's zip_with
        # would otherwise null-pad and return NaN scores for every row.
        probe = index.select(F.size("embedding").alias("d")).limit(1).collect()
        if probe and probe[0]["d"] != len(vec):
            print(
                f"error: --text embeds to {len(vec)} dims but the index holds "
                f"{probe[0]['d']}-dim vectors (built with an external embedder?). "
                "Use --query-id, or re-index with the local embedder."
            )
            return 2
        # a LocalRelation: no read of the query runs a Python task
        q = local_frame(spark, [("query", vec)], "qid string, qvec array<double>")
    if getattr(args, "pq", None):
        # persisted PQ index (pq-build verb): ADC scan over m-byte codes
        # with an exact rerank against the full-precision index — the
        # memory-bound path (operators/pq)
        from vectrekker_spark.operators.pq import pq_load, pq_search

        codebooks, codes, _meta = pq_load(spark, args.pq)
        res = pq_search(
            q, codes, codebooks, k=args.k, refine=5,
            corpus=index.select("id", "embedding"),
            id_col="id", vec_col="embedding",
            rotation=_meta.get("rotation_matrix"),
        ).collect()
        for r in res:
            print(f"{r['rank']:3d}  {r['score']:+.6f}  {r['id']}")
        return 0
    if getattr(args, "ivfpq", None):
        # persisted IVF∘PQ index (ivfpq-build verb): probed cells become
        # parquet partition pruning over the m-byte code table, with an
        # exact rerank against the full-precision index (operators/pq)
        from vectrekker_spark.operators.pq import ivfpq_load, ivfpq_search_cells

        _, centroids, _, _meta = ivfpq_load(spark, args.ivfpq)
        n_cells = centroids.count()
        res = ivfpq_search_cells(
            q, args.ivfpq, k=args.k, n_probe=max(1, n_cells // 3),
            refine=5, corpus=index.select("id", "embedding"),
            vec_col="embedding",
        ).collect()
        for r in res:
            print(f"{r['rank']:3d}  {r['score']:+.6f}  {r['id']}")
        return 0
    if args.ivf:
        # persisted inverted-list index (ann-build verb): probes read only
        # their cells' partitions — no per-invocation rebuild, no corpus
        # join. On a quantized (int8) index the vector-index table doubles
        # as the full-precision corpus for the exact re-rank.
        from vectrekker_spark.operators.ann import ivf_load, ivf_meta, ivf_search_cells

        centroids, cells = ivf_load(spark, args.ivf)
        corpus = (
            index.select("id", "embedding")
            if ivf_meta(spark, args.ivf).get("quantized")
            else None
        )
        n_cells = centroids.count()
        res = ivf_search_cells(
            q, centroids, cells,
            k=args.k, n_probe=max(1, n_cells // 3), id_col="id", corpus=corpus,
        ).collect()
        for r in res:
            print(f"{r['rank']:3d}  {r['score']:+.6f}  {r['id']}")
        return 0
    if args.approx:
        # IVF approximate search (operators/ann): kmeans cells with
        # multi-assignment — the scale path when the index outgrows a
        # brute-force scan. Built per invocation here; use `ann-build` +
        # `--ivf` to search a persisted index instead.
        from vectrekker_spark.operators.ann import ivf_build, ivf_search

        n_rows = index.count()
        n_cells = max(2, min(64, int(n_rows**0.5)))
        centroids, assign = ivf_build(
            index, n_centroids=n_cells, id_col="id", vec_col="embedding", assign_k=2
        )
        res = ivf_search(
            q, index, centroids, assign,
            k=args.k, n_probe=max(1, n_cells // 3),
            id_col="id", vec_col="embedding",
        ).collect()
        for r in res:
            print(f"{r['rank']:3d}  {r['score']:+.6f}  {r['id']}")
        return 0
    res = knn_join(q, index, k=args.k, id_col="id", vec_col="embedding").collect()
    for r in res:
        print(f"{r['rank']:3d}  {r['score']:+.6f}  {r['vec_id']}")
    return 0


def _fit_pq_codebooks(index, args: argparse.Namespace):
    """(rotation, codebooks, frame to encode) for pq-build / ivfpq-build:
    the codebooks fit on a ``--sample`` fraction of ``index``; with
    ``--opq`` an OPQ rotation is learned first (rotation is None without
    it) and the codes are encoded from the rotated vectors."""
    from vectrekker_spark.operators.pq import opq_train, pq_train, rotate_vectors

    fit_src = (
        index.sample(fraction=args.sample, seed=42) if args.sample < 1.0 else index
    )
    if args.opq:
        rotation, cb = opq_train(fit_src, m=args.m, nbits=args.nbits)
        return rotation, cb, rotate_vectors(index, rotation)
    return None, pq_train(fit_src, m=args.m, nbits=args.nbits), index


def cmd_pq_build(args: argparse.Namespace) -> int:
    """Persisted product-quantization index over the vector index
    (operators/pq): train codebooks, encode to m-byte codes, save with
    geometry-pinned meta. Search with `search --pq DIR`."""
    from vectrekker_spark.operators.pq import pq_encode, pq_load, pq_save

    spark = _spark()
    index = spark.read.parquet(args.index).select("id", "embedding")
    try:
        rotation, cb, enc_src = _fit_pq_codebooks(index, args)
    except ValueError as e:
        print(f"error: {e}")
        return 2
    codes = pq_encode(enc_src, cb, id_col="id")
    meta = pq_save(cb, codes, args.out, id_col="id", rotation=rotation)
    n = pq_load(spark, args.out)[1].count()
    print(
        f"pq index at {args.out}: {n} vectors, m={meta['m']} x "
        f"2^{meta['nbits']} codebooks, dim {meta['dim']} "
        f"({meta['m']} bytes/vector"
        f"{', OPQ-rotated' if meta['rotated'] else ''})"
    )
    return 0


def cmd_ivfpq_build(args: argparse.Namespace) -> int:
    """Build (or incrementally extend) a persisted IVF∘PQ index beside the
    vector index table: coarse centroids + PQ codebooks + cid-partitioned
    codes, the billion-scale composition (operators/pq.ivfpq_save). With
    --incremental and an existing index, only vectors NOT yet coded are
    assigned + encoded under the PINNED codebooks (ivfpq_append — the
    reference's changed-only semantics applied to the code table)."""
    from vectrekker_spark.commit import index_exists
    from vectrekker_spark.operators.pq import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_save,
        pq_encode,
    )

    spark = _spark()
    index = spark.read.parquet(args.index).select("id", "embedding")
    if args.incremental and index_exists(args.out):
        _, _, codes, meta = ivfpq_load(spark, args.out)
        new = index.join(codes.select("id"), "id", "left_anti")
        n_new = new.count()
        if n_new == 0:
            print(f"ivfpq index at {args.out}: up to date (0 new vectors)")
            return 0
        ivfpq_append(new, args.out, vec_col="embedding")
        print(f"ivfpq index at {args.out}: appended {n_new} vectors "
              "under the pinned codebooks")
        return 0
    from vectrekker_spark.operators.ann import ivf_build

    n_rows = index.count()
    n_cells = max(2, min(64, int(n_rows ** 0.5)))
    try:
        # assign_k=2: the ann-build boundary-recall default — a vector near
        # a cell edge is findable from either side; the search's ranking
        # window counts its duplicate hits once
        centroids, assign = ivf_build(
            index, n_centroids=n_cells, id_col="id", vec_col="embedding",
            assign_k=2,
        )
        rotation, cb, enc_src = _fit_pq_codebooks(index, args)
    except ValueError as e:
        print(f"error: {e}")
        return 2
    codes = pq_encode(enc_src, cb, id_col="id")
    meta = ivfpq_save(args.out, cb, centroids, assign, codes, id_col="id",
                      assign_k=2, rotation=rotation)
    print(
        f"ivfpq index at {args.out}: {n_rows} vectors, {n_cells} cells, "
        f"m={meta['m']} x 2^{meta['nbits']} codebooks, dim {meta['dim']}"
        f"{' (OPQ-rotated)' if meta['rotated'] else ''} (v{meta['version']})"
    )
    return 0


def cmd_ann_build(args: argparse.Namespace) -> int:
    """Build (or incrementally extend) a persisted IVF ANN index beside the
    vector index table — the reference's create-if-absent + changed-only
    semantics (`vectrekker/main.py:143-147,162-167`) applied to the ANN
    structure itself."""
    from pyspark.sql import functions as F

    from vectrekker_spark.commit import index_exists
    from vectrekker_spark.operators.ann import ivf_append, ivf_build, ivf_save

    spark = _spark()
    index = spark.read.parquet(args.index).select("id", "embedding")
    if args.incremental and index_exists(args.out):
        from vectrekker_spark.operators.ann import ivf_delete, ivf_load, ivf_meta

        # quantization is a BUILD property (it lives in the index meta);
        # an append can't convert a full-precision index, so a --quantize
        # that would be silently ignored is an error, not a no-op
        meta = ivf_meta(spark, args.out)
        if args.quantize and not meta.get("quantized"):
            print(
                f"error: index at {args.out} is full-precision; --quantize "
                "only applies at build time (rebuild without --incremental)"
            )
            return 2
        _, cells = ivf_load(spark, args.out)
        # The delta is detected on (id, payload-hash), NOT id alone: a
        # vector whose embedding CHANGED for an existing id (file edited and
        # re-indexed, or an --embed-version migration) must supersede its
        # old cell rows — appending beside them would leave search scoring
        # stale vectors and break the identical-payload invariant that
        # candidate dedup and ivf_compact rely on. Changed ids are deleted
        # from their cells first (partition-local rewrite), then the whole
        # delta appends. A quantized index compares quantized payloads —
        # exactly what its cells store.
        if meta.get("quantized"):
            from vectrekker_spark.operators.quantize import quantize_int8

            # xxhash64, not 32-bit hash: at billions of re-embedded vectors
            # a 32-bit collision (~n/2^32) would leave one changed vector
            # permanently stale with no later self-correction
            q = quantize_int8(index, vec_col="embedding")
            idx_keyed = index.join(
                q.select("id", F.xxhash64("qvec", "qvec_scale").alias("__h")), "id"
            )
            cell_keys = cells.select(
                F.col("id"), F.xxhash64("codes", "codes_scale").alias("__h")
            ).distinct()
        else:
            idx_keyed = index.withColumn("__h", F.xxhash64("embedding"))
            cell_keys = cells.select(
                F.col("id"), F.xxhash64("embedding").alias("__h")
            ).distinct()
        # persist: the delta feeds the counts, the delete key set and the
        # append — without it the index-vs-cells anti-join re-executes
        delta = (
            idx_keyed.join(cell_keys, ["id", "__h"], "left_anti")
            .drop("__h")
            .persist()
        )
        try:
            n = delta.count()
            if n == 0:
                print("ann index up to date: 0 new or changed vectors")
                return 0
            changed = delta.select("id").join(
                cells.select("id").distinct(), "id", "left_semi"
            )
            n_changed = ivf_delete(spark, args.out, changed)
            # id/vec/assign_k come from the index's saved metadata, so the
            # append keeps the build's multi-assignment contract
            ivf_append(delta, args.out)
            print(
                f"appended {n} vector(s) to {args.out}"
                + (f" (superseded {n_changed} stale cell row(s))" if n_changed else "")
            )
            return 0
        finally:
            delta.unpersist()
    n_rows = index.count()
    n_cells = args.cells or max(2, min(64, int(n_rows**0.5)))
    centroids, assign = ivf_build(
        index, n_centroids=n_cells, id_col="id", vec_col="embedding",
        assign_k=args.assign_k,
    )
    ivf_save(
        centroids, assign, index, args.out,
        id_col="id", assign_k=args.assign_k, quantize=args.quantize,
    )
    kind = "quantized (int8) " if args.quantize else ""
    print(f"built {kind}IVF index: {n_rows} vectors in {n_cells} cell(s) at {args.out}")
    return 0


def cmd_ann_compact(args: argparse.Namespace) -> int:
    from vectrekker_spark.operators.ann import ivf_compact

    spark = _spark()
    removed = ivf_compact(spark, args.ivf)
    print(f"compacted {args.ivf}: removed {removed} duplicate row(s)")
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Training-set assembly over a documents parquet: curation funnel →
    sequence packing → seeded shuffle → sharded export (curation.py)."""
    from vectrekker_spark.curation import (
        AssemblyConfig,
        CurationConfig,
        assemble_training_set,
    )

    if args.query is not None and not args.query.split():
        print("error: --query must contain at least one term")
        return 2
    if args.min_bm25 is not None and args.query is None:
        print("error: --min-bm25 requires --query")
        return 2
    if args.strip_span_ngram and args.strip_span_ngram < 2:
        # validated before the session spins up / any stage runs (same
        # run-START contract as the delta/index-format checks)
        print("error: --strip-span-ngram must be >= 2 (0 disables)")
        return 2
    if args.decontam_shingle_k < 1:
        print("error: --decontam-shingle-k must be >= 1")
        return 2
    if args.decontam_max_shared < 0:
        print("error: --decontam-max-shared must be >= 0")
        return 2
    if args.semantic_dedup_threshold and not (
        0.0 < args.semantic_dedup_threshold <= 1.0
    ):
        print("error: --semantic-dedup-threshold must be in (0, 1] (0 = off)")
        return 2
    if not 0.0 <= args.min_model_quality <= 1.0:
        print("error: --min-model-quality must be in [0, 1] (scores are sigmoids)")
        return 2
    if args.max_perplexity <= 0:
        print("error: --max-perplexity must be > 0")
        return 2
    if args.max_docs_per_stratum < 0:
        print("error: --max-docs-per-stratum must be >= 0 (0 disables)")
        return 2
    if args.strip_boilerplate_min_words < 0:
        print("error: --strip-boilerplate-min-words must be >= 0 (0 disables)")
        return 2
    if args.strip_boilerplate_min_words and not (
        0.0 <= args.boilerplate_min_alpha <= 1.0
    ):
        print("error: --boilerplate-min-alpha must be in [0, 1]")
        return 2
    if args.dedup_paragraphs_min_chars < 0:
        print("error: --dedup-paragraphs-min-chars must be >= 0 (0 disables)")
        return 2
    if args.dedup_lines_min_chars < 0:
        print("error: --dedup-lines-min-chars must be >= 0 (0 disables)")
        return 2
    if args.normalize and args.normalize not in ("NFC", "NFKC", "NFD", "NFKD"):
        print("error: --normalize must be NFC, NFKC, NFD or NFKD")
        return 2
    if not 0.0 <= args.min_compression_ratio < 1.0:
        print("error: --min-compression-ratio must be in [0, 1) (0 disables)")
        return 2
    spark = _spark()
    if args.input_format == "warc":
        # Common Crawl-shaped ingestion (r13): WARC/WET records → the
        # document schema, straight into the same funnel
        from vectrekker_spark.sources.text_formats import warc_docs

        docs = warc_docs(spark, args.documents)
    elif args.input_format == "jsonl":
        from vectrekker_spark.sources.text_formats import read_jsonl

        docs = read_jsonl(spark, args.documents)
    else:
        docs = spark.read.parquet(args.documents)
    if args.domain_from_url:
        # derive the registered-domain stratum from the url column — the
        # crawl shape: WARC docs arrive with url but no domain, and the
        # per-domain quota (RefinedWeb/FineWeb) needs one. With
        # --suffix-table, exact PSL longest-match; else the documented
        # last-two-labels heuristic.
        if "url" not in docs.columns:
            print(
                f"error: --domain-from-url needs a 'url' column in "
                f"{args.documents} (has: {', '.join(docs.columns)})"
            )
            return 2
        if "domain" in docs.columns:
            print("error: --domain-from-url would overwrite an existing "
                  "'domain' column — drop or rename it first")
            return 2
        if args.suffix_table:
            from vectrekker_spark.functions.urls import (
                host_domain_with_suffixes,
            )

            docs = host_domain_with_suffixes(
                docs, spark.read.parquet(args.suffix_table)
            )
        else:
            from vectrekker_spark.functions.urls import host_domain

            docs = docs.withColumn("domain", host_domain("url"))
    if args.max_docs_per_stratum and args.stratum_col not in docs.columns:
        # sibling flags of the same feature fail with rc 2 and a message,
        # not a raw ValueError traceback from deep inside curate(); checked
        # after the parquet read (the columns come from the file) but
        # before any assembly stage runs
        print(
            f"error: --stratum-col {args.stratum_col!r} is not a column of "
            f"{args.documents} (has: {', '.join(docs.columns)})"
        )
        return 2
    cfg = AssemblyConfig(
        curation=CurationConfig(
            min_quality=args.min_quality,
            keep_langs=tuple(args.langs.split(",")) if args.langs else (),
            near_dup_threshold=args.near_dup_threshold,
            chunk_size=args.chunk_size,
            embed=False,
            relevance_query=args.query or "",
            min_relevance=args.min_bm25 if args.min_bm25 is not None else 0.0,
            strip_span_ngram=args.strip_span_ngram,
            bench_bloom_path=args.bench_bloom or "",
            decontaminate_shingle_k=args.decontam_shingle_k,
            decontaminate_max_shared=args.decontam_max_shared,
            semantic_dedup_threshold=args.semantic_dedup_threshold,
            semantic_vec_col=args.semantic_vec_col,
            semantic_n_clusters=args.semantic_n_clusters,
            quality_model_path=args.quality_model or "",
            min_model_quality=args.min_model_quality,
            langid_model_path=args.langid_model or "",
            min_lang_conf=args.min_lang_conf,
            ngram_lm_path=args.ngram_lm or "",
            max_perplexity=args.max_perplexity,
            strip_boilerplate_min_words=args.strip_boilerplate_min_words,
            boilerplate_min_alpha=args.boilerplate_min_alpha,
            dedup_paragraphs_min_chars=args.dedup_paragraphs_min_chars,
            dedup_lines_min_chars=args.dedup_lines_min_chars,
            near_dup_keep_by=args.near_dup_keep_by or "",
            normalize_form=args.normalize,
            normalize_fix_encoding=not args.no_fix_encoding,
            min_compression_ratio=args.min_compression_ratio,
            sentence_chunks=args.sentence_chunks,
            max_docs_per_stratum=args.max_docs_per_stratum,
            max_tokens_per_stratum=args.max_tokens_per_stratum,
            stratum_col=args.stratum_col,
        ),
        max_tokens=args.max_tokens,
        shuffle_seed=args.seed,
        rows_per_shard=args.rows_per_shard,
        bpe_model_path=args.bpe_model or "",
    )
    funnel = assemble_training_set(docs, args.out, cfg)
    stage_seconds = funnel.pop("_stage_seconds", {})
    for stage, n in funnel.items():
        t = stage_seconds.get(stage)
        suffix = f"  ({t:.3f}s)" if t is not None else ""
        print(f"{stage:>18s}  {n}{suffix}")
    from vectrekker_spark.sources.sinks import write_manifest

    totals = write_manifest(spark, args.out)
    print(
        f"{'manifest':>18s}  {totals['files']} shard(s), "
        f"{totals['rows']} rows, {totals['bytes']} bytes"
    )
    return 0


def cmd_fit_bpe(args: argparse.Namespace) -> int:
    """Learn a BPE tokenizer from a document parquet: distributed word-
    frequency aggregation, bounded driver-side merge loop, atomic JSON
    save (operators/bpetrainer)."""
    if args.n_merges < 0:
        print("error: --n-merges must be >= 0")
        return 2
    if args.max_word_types < 1:
        print("error: --max-word-types must be >= 1")
        return 2
    if args.min_pair_count < 1:
        print("error: --min-pair-count must be >= 1")
        return 2
    from vectrekker_spark.operators.bpetrainer import bpe_save, bpe_train

    spark = _spark()
    docs = spark.read.parquet(args.documents)
    if args.text_col not in docs.columns:
        print(f"error: input has no {args.text_col!r} column")
        return 2
    model = bpe_train(
        docs,
        text_col=args.text_col,
        n_merges=args.n_merges,
        max_word_types=args.max_word_types,
        min_pair_count=args.min_pair_count,
    )
    bpe_save(model, args.out)
    from vectrekker_spark.operators.bpetrainer import bpe_stats

    stats = bpe_stats(docs, model, text_col=args.text_col)
    print(
        f"saved {args.out}: {len(model.merges)} merges "
        f"({args.n_merges} requested), {len(model.vocab())} merge-derived "
        f"vocab symbols; fertility {stats['tokens_per_word']} tokens/word, "
        f"{stats['chars_per_token']} chars/token, "
        f"{stats['single_char_token_frac']} single-char-token fraction "
        f"over {stats['n_docs']} docs"
    )
    return 0


def cmd_fit_quality(args: argparse.Namespace) -> int:
    """Train the hashed-BoW linear quality classifier on a labeled parquet
    and save (weights, bias) for curate --quality-model
    (operators/qualityscore)."""
    if args.n_features < 1:
        print("error: --n-features must be >= 1")
        return 2
    if args.iters < 1:
        print("error: --iters must be >= 1")
        return 2
    from vectrekker_spark.operators.qualityscore import (
        fit_linear_quality,
        save_model,
        score_linear,
    )

    spark = _spark()
    labeled = spark.read.parquet(args.labeled)
    w, b = fit_linear_quality(
        labeled,
        label_col=args.label_col,
        text_col=args.text_col,
        n_features=args.n_features,
        max_rows=args.max_rows,
        iters=args.iters,
        lr=args.lr,
    )
    save_model(args.out, w, b)
    # training-set accuracy at 0.5 — a sanity readout, not a validation
    # metric (the sample is the training data)
    from pyspark.sql import functions as F

    scored = score_linear(labeled, w, bias=b, text_col=args.text_col).where(
        F.col(args.text_col).isNotNull() & F.col(args.label_col).isNotNull()
    )
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            (F.col("quality_score") >= 0.5) == (F.col(args.label_col) == 1)
        ).alias("ok"),
    ).first()
    print(
        f"saved {args.out}: {args.n_features} features, bias={b:.4f}, "
        f"train-accuracy {row['ok']}/{row['n']} "
        f"({row['ok'] / max(row['n'], 1):.3f})"
    )
    return 0


def cmd_frontier(args: argparse.Namespace) -> int:
    """Build the next crawl snapshot's seed list from fetched pages:
    extract every outgoing link (functions/urls.html_links — anchor
    hrefs resolved absolute), drop already-fetched URLs and in-frontier
    aliases (dedup_by_url over the union), optionally drop blocklisted
    hosts/domains, write one deduplicated url list. The whole pipeline
    is narrow Catalyst + one url-key shuffle — crawl-scale by the same
    argument as dedup_by_url."""
    from pyspark.sql import functions as F

    from vectrekker_spark.functions.urls import (
        dedup_by_url,
        filter_hosts,
        html_links,
    )

    spark = _spark()
    if args.input_format == "warc":
        from vectrekker_spark.sources.text_formats import read_warc

        docs = read_warc(spark, args.documents, kinds=("response",)).where(
            F.col("mime").isin("text/html", "application/xhtml+xml")
        )
    else:
        docs = spark.read.parquet(args.documents)
    for col in ("url", args.html_col):
        if col not in docs.columns:
            print(
                f"error: frontier needs a {col!r} column in "
                f"{args.documents} (has: {', '.join(docs.columns)})"
            )
            return 2
    links = (
        html_links(docs, html_col=args.html_col)
        .select(F.explode("links").alias("url"))
    )
    # already-fetched pages never re-enter the frontier: their urls join
    # the dedup with id 0, beating every link row; among link ALIASES the
    # keeper is the smallest url-hash — deterministic across runs and
    # layouts (a constant id would leave the keeper to window tie order)
    fetched = docs.select("url").where(F.col("url").isNotNull()).distinct()
    pool = (
        fetched.withColumn("__seen", F.lit(1))
        .unionByName(links.withColumn("__seen", F.lit(0)))
        .withColumn(
            "doc_id",
            F.when(F.col("__seen") == 1, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("url"), F.lit(1 << 62)) + 1
            ),
        )
    )
    kept = (
        dedup_by_url(pool)
        .where(F.col("__seen") == 0)
        .select("url")
        .distinct()
    )
    if args.blocklist:
        bl = spark.read.parquet(args.blocklist)
        sfx = (
            spark.read.parquet(args.suffix_table)
            if args.suffix_table else None
        )
        kept = filter_hosts(kept, bl, suffixes=sfx)
    if args.robots:
        # RFC 9309 politeness gate: keep only robots-admitted urls
        from vectrekker_spark.functions.robots import (
            parse_robots,
            robots_allowed,
        )

        robots = spark.read.parquet(args.robots)
        for col in ("host", "robots_txt"):
            if col not in robots.columns:
                print(
                    f"error: --robots parquet needs a {col!r} column "
                    f"(has: {', '.join(robots.columns)})"
                )
                return 2
        rules = parse_robots(robots, agent=args.agent)
        kept = (
            robots_allowed(kept, rules)
            .where(F.col("robots_allowed"))
            .drop("robots_allowed")
        )
    kept.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"frontier at {args.out}: {n} new url(s)")
    return 0


def cmd_fit_langid(args: argparse.Namespace) -> int:
    """Train the hashed char-n-gram language classifier on a labeled
    parquet and save it for curate --langid-model (operators/langid)."""
    if args.n_features < 1:
        print("error: --n-features must be >= 1")
        return 2
    if args.iters < 1:
        print("error: --iters must be >= 1")
        return 2
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.langid import (
        fit_langid,
        predict_lang,
        save_langid,
    )

    spark = _spark()
    labeled = spark.read.parquet(args.labeled)
    model = fit_langid(
        labeled,
        label_col=args.label_col,
        text_col=args.text_col,
        n_features=args.n_features,
        max_rows=args.max_rows,
        iters=args.iters,
        lr=args.lr,
    )
    save_langid(args.out, model)
    # training-set accuracy — a sanity readout, not a validation metric
    scored = predict_lang(
        labeled.select(
            F.col(args.text_col), F.col(args.label_col).alias("__truth")
        ).where(
            F.col(args.text_col).isNotNull()
            & F.col(args.label_col).isNotNull()
        ),
        model,
        text_col=args.text_col,
        conf_col=None,
    )
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("lang") == F.col("__truth")).alias("ok"),
    ).first()
    print(
        f"saved {args.out}: {len(model.classes)} classes "
        f"({','.join(model.classes)}), {args.n_features} features, "
        f"train-accuracy {row['ok']}/{row['n']} "
        f"({row['ok'] / max(row['n'], 1):.3f})"
    )
    return 0


def cmd_fit_ngram_lm(args: argparse.Namespace) -> int:
    """Fit the bounded bigram LM on a reference parquet and save it for
    curate --ngram-lm (operators/ngramlm)."""
    if args.vocab_size < 1:
        print("error: --vocab-size must be >= 1")
        return 2
    if args.max_bigrams < 0:
        print("error: --max-bigrams must be >= 0")
        return 2
    from vectrekker_spark.operators.ngramlm import fit_ngram_lm, lm_save

    spark = _spark()
    ref = spark.read.parquet(args.reference)
    lm = fit_ngram_lm(
        ref,
        text_col=args.text_col,
        vocab_size=args.vocab_size,
        max_bigrams=args.max_bigrams,
    )
    lm_save(lm, args.out)
    print(
        f"saved {args.out}: {len(lm.unigram_logp)} unigrams, "
        f"{len(lm.cond_logp)} bigrams, {lm.total_tokens} reference tokens"
    )
    return 0


def cmd_dsir_select(args: argparse.Namespace) -> int:
    """Select the raw documents most like a target domain via DSIR
    importance resampling (operators/dsir) and write them as parquet."""
    if args.n_features < 1:
        print("error: --n-features must be >= 1")
        return 2
    if args.ngram_max not in (1, 2):
        print("error: --ngram-max must be 1 or 2")
        return 2
    if (args.k is None) == (args.rate is None):
        print("error: pass exactly one of --k / --rate")
        return 2
    if args.k is not None and args.k < 1:
        print("error: --k must be >= 1")
        return 2
    if args.rate is not None and not 0.0 < args.rate <= 1.0:
        print("error: --rate must be in (0, 1]")
        return 2
    from vectrekker_spark.operators.dsir import (
        dsir_select,
        dsir_select_rate,
        fit_feature_dist,
        importance_weights,
    )

    spark = _spark()
    raw = spark.read.parquet(args.docs)
    target = spark.read.parquet(args.target)
    for name, df in (("--docs", raw), ("--target", target)):
        if args.text_col not in df.columns:
            print(f"error: {name} has no {args.text_col!r} column")
            return 2
    if args.id_col not in raw.columns:
        print(f"error: --docs has no {args.id_col!r} column")
        return 2
    lp_t = fit_feature_dist(
        target, text_col=args.text_col, n_features=args.n_features,
        ngram_max=args.ngram_max,
    )
    lp_r = fit_feature_dist(
        raw, text_col=args.text_col, n_features=args.n_features,
        ngram_max=args.ngram_max,
    )
    # persist: the rate arm's quantile action and the final write would
    # otherwise each re-run the expensive weights map (see dsir_select_rate
    # cost note); the top-k arm is a single action but shares the path
    w = importance_weights(raw, lp_t, lp_r, text_col=args.text_col).persist()
    try:
        if args.k is not None:
            picked = dsir_select(w, args.k, id_col=args.id_col, seed=args.seed)
        else:
            picked = dsir_select_rate(
                w, args.rate, id_col=args.id_col, seed=args.seed
            )
        picked.write.mode("overwrite").parquet(args.out)
    finally:
        w.unpersist()
    n = spark.read.parquet(args.out).count()
    print(f"dsir-select: wrote {n} docs -> {args.out}")
    return 0


def cmd_bloom_build(args: argparse.Namespace) -> int:
    """Build + save a bloom filter: --kind shingles (benchmark shingles,
    for curate --bench-bloom decontamination) or --kind content (whole-text
    content bloom, for exact_dedup_against's history prefilter)."""
    if not (0.0 < args.fpp < 1.0):
        print("error: --fpp must be in (0, 1)")
        return 2
    if args.shingle_k is not None and args.shingle_k < 1:
        print("error: --shingle-k must be >= 1")
        return 2
    if args.kind == "content" and args.shingle_k is not None:
        # fail fast rather than silently build a whole-text bloom the user
        # thought was shingle-granular
        print("error: --shingle-k only applies to --kind shingles")
        return 2
    if args.expected is not None and args.expected < 1:
        print("error: --expected must be >= 1 (or omit it to count)")
        return 2
    from vectrekker_spark.operators.bloom import bloom_save

    spark = _spark()
    bench = spark.read.parquet(args.bench)
    if args.kind == "content":
        from vectrekker_spark.operators.dedup import content_bloom

        bf = content_bloom(
            bench, text_col=args.text_col, fpp=args.fpp, expected=args.expected
        )
        unit = "doc(s)"
    else:
        from vectrekker_spark.operators.decontaminate import benchmark_bloom

        bf = benchmark_bloom(
            bench,
            text_col=args.text_col,
            k=args.shingle_k if args.shingle_k is not None else 3,
            fpp=args.fpp,
            expected_shingles=args.expected,
        )
        unit = "shingle(s)"
    bloom_save(bf, args.out)
    print(
        f"bloom[{args.kind}]: {bf.m_bits} bits ({bf.m_bits // 8} bytes), "
        f"k={bf.k}, {bf.n_items if bf.n_items is not None else '?'} {unit}, "
        f"estimated fpp {bf.estimated_fpp():.2e} -> {args.out}"
    )
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """One-scan per-column profile of a parquet table."""
    from vectrekker_spark.operators.profile import profile_table

    spark = _spark()
    df = spark.read.parquet(args.table)
    cols = args.columns.split(",") if args.columns else None
    prof = profile_table(df, columns=cols).collect()
    hdr = (
        f"{'column':<20s} {'dtype':<14s} {'nulls':>7s} {'distinct':>9s} "
        f"{'min':>14s} {'max':>14s} {'mean':>12s} {'avg_len':>8s}"
    )
    print(hdr)
    for r in prof:
        def _s(v, n):  # noqa: E306 — tiny local formatter
            if v is None:
                return " " * (n - 1) + "-"
            if isinstance(v, float):
                return f"{v:>{n}.4g}"
            return f"{str(v)[:n]:>{n}s}"

        print(
            f"{r['column'][:20]:<20s} {r['dtype'][:14]:<14s} "
            f"{r['null_frac']:>7.2%} {r['approx_distinct']:>9d} "
            f"{_s(r['min'], 14)} {_s(r['max'], 14)} "
            f"{_s(r['mean'], 12)} {_s(r['avg_len'], 8)}"
        )
    if args.out:
        import json

        with open(args.out, "w", encoding="utf-8") as f:
            json.dump([r.asDict() for r in prof], f, indent=1)
        print(f"profile written to {args.out}")
    return 0


def cmd_stats(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    spark = _spark()
    index = spark.read.parquet(args.index)
    row = index.agg(
        F.count(F.lit(1)).alias("rows"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
    ).collect()[0]
    print(f"rows={row['rows']} dim={row['min_dim']}..{row['max_dim']}")
    if args.ivf:
        from vectrekker_spark.operators.ann import ivf_load, ivf_meta

        centroids, cells = ivf_load(spark, args.ivf)
        meta = ivf_meta(spark, args.ivf)
        sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        c = sizes.agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum("n").alias("rows"),
            F.min("n").alias("min"),
            F.max("n").alias("max"),
        ).collect()[0]
        kind = "int8" if meta.get("quantized") else "full"
        print(
            f"ivf: {centroids.count()} centroid(s), {c['cells']} non-empty "
            f"cell(s), {c['rows']} row(s) ({kind}), cell sizes "
            f"{c['min']}..{c['max']}, assign_k={meta.get('assign_k') or 1}"
        )
        if args.recall_sample:
            from vectrekker_spark.operators.ann import ivf_recall_estimate

            r = ivf_recall_estimate(
                spark, args.ivf, sample=args.recall_sample, n_probe=args.n_probe
            )
            print(
                f"ivf recall@{r['k']} ~= {r['recall']:.3f} "
                f"({r['sampled']} sampled queries, n_probe={r['n_probe']}) — "
                "a drop vs the build-time value means centroid drift: "
                "re-run ann-build"
            )
    if args.ivfpq:
        from vectrekker_spark.operators.pq import ivfpq_load

        _, centroids, codes, meta = ivfpq_load(spark, args.ivfpq)
        sizes = codes.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        c = sizes.agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum("n").alias("rows"),
            F.min("n").alias("min"),
            F.max("n").alias("max"),
        ).collect()[0]
        print(
            f"ivfpq: v{meta['version']}, {centroids.count()} centroid(s), "
            f"{c['cells']} non-empty cell(s), {c['rows']} code row(s) "
            f"(m={meta['m']} x 2^{meta['nbits']}, dim {meta['dim']}, "
            f"{meta['m']} bytes/vector"
            f"{', OPQ-rotated' if meta.get('rotated') else ''}), "
            f"cell sizes {c['min']}..{c['max']}, "
            f"assign_k={meta.get('assign_k') or 1}"
        )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vectrekker_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ix = sub.add_parser("index", help="incremental scan→embed→index run")
    ix.add_argument("--content-dir")
    ix.add_argument("--content-regex")
    ix.add_argument("--config", help="TOML config ([base].content_folder/.content_regex)")
    ix.add_argument("--state", required=True)
    ix.add_argument("--index", required=True)
    ix.add_argument("--quarantine")
    ix.add_argument("--chunk-size", type=int, default=0)
    ix.add_argument(
        "--embed-version", default="",
        help="embedder identity (model/dim/rev); changing it re-embeds "
        "mtime-unchanged files incrementally",
    )
    ix.add_argument(
        "--max-changed", type=int, default=0,
        help="process at most N changed files per run (0 = no cap): bounds "
        "bulk imports / version migrations into small resumable runs",
    )
    ix.add_argument(
        "--embed-endpoint",
        help="OpenAI-compatible /embeddings URL; omit for the local hashing embedder",
    )
    ix.add_argument("--embed-dim", type=int, default=64)
    ix.add_argument(
        "--index-format", default="parquet", choices=["parquet", "delta"],
        help="index sink: hash-bucketed parquet (default, no deps) or a "
        "Delta table via delta-spark (snapshot-isolated MERGE)",
    )
    ix.add_argument("--dry-run", action="store_true")
    ix.set_defaults(fn=cmd_index)

    se = sub.add_parser("search", help="top-k cosine search against the index")
    se.add_argument("--index", required=True)
    g = se.add_mutually_exclusive_group(required=True)
    g.add_argument("--query-id", help="use an indexed document as the query")
    g.add_argument("--text", help="embed this text as the query")
    se.add_argument("-k", type=int, default=10)
    se.add_argument(
        "--approx", action="store_true",
        help="IVF approximate search instead of the exact brute-force scan",
    )
    se.add_argument(
        "--ivf",
        help="search a persisted IVF index dir (see ann-build) instead of "
        "building one per invocation",
    )
    se.add_argument(
        "--pq",
        help="search a persisted PQ index dir (see pq-build): ADC over "
        "m-byte codes + exact rerank — the memory-bound path",
    )
    se.add_argument(
        "--ivfpq",
        help="search a persisted IVF-PQ index dir (see ivfpq-build): "
        "partition-pruned ADC over probed cells + exact rerank",
    )
    se.set_defaults(fn=cmd_search)

    pb = sub.add_parser(
        "pq-build",
        help="build a persisted product-quantization index (codebooks + codes)",
    )
    pb.add_argument("--index", required=True,
                    help="vector index parquet (id, embedding)")
    pb.add_argument("--out", required=True, help="PQ index directory")
    pb.add_argument("--m", type=int, default=8, help="subspaces (dim %% m == 0)")
    pb.add_argument("--nbits", type=int, default=8,
                    help="bits per code (2^nbits centroids per subspace)")
    pb.add_argument("--sample", type=float, default=1.0,
                    help="training sample fraction (codebook quality "
                    "saturates on a few million rows)")
    pb.add_argument(
        "--opq", action="store_true",
        help="learn an OPQ orthogonal rotation before the subspace split; "
        "pinned with the index and applied automatically by search --pq",
    )
    pb.set_defaults(fn=cmd_pq_build)

    ib = sub.add_parser(
        "ivfpq-build",
        help="build or incrementally extend a persisted IVF-PQ index "
        "(cid-partitioned codes, pinned codebooks)",
    )
    ib.add_argument("--index", required=True,
                    help="vector index parquet (id, embedding)")
    ib.add_argument("--out", required=True, help="IVF-PQ index directory")
    ib.add_argument("--m", type=int, default=8, help="subspaces (dim %% m == 0)")
    ib.add_argument("--nbits", type=int, default=8,
                    help="bits per code (2^nbits centroids per subspace)")
    ib.add_argument("--sample", type=float, default=1.0,
                    help="codebook training sample fraction")
    ib.add_argument(
        "--incremental", action="store_true",
        help="append only vectors missing from the existing index, encoded "
        "under the pinned codebooks",
    )
    ib.add_argument(
        "--opq", action="store_true",
        help="learn an OPQ orthogonal rotation before the subspace split "
        "(lifts ADC recall on correlated dims); pinned with the index and "
        "applied automatically by append/search",
    )
    ib.set_defaults(fn=cmd_ivfpq_build)

    ab = sub.add_parser(
        "ann-build",
        help="build or incrementally extend a persisted IVF ANN index",
    )
    ab.add_argument("--index", required=True, help="vector index parquet (id, embedding)")
    ab.add_argument("--out", required=True, help="IVF index directory")
    ab.add_argument("--cells", type=int, default=0, help="cell count (0 = sqrt(N))")
    ab.add_argument("--assign-k", type=int, default=2, help="cells per vector")
    ab.add_argument(
        "--incremental", action="store_true",
        help="append only vectors missing from the existing IVF index",
    )
    ab.add_argument(
        "--quantize", action="store_true",
        help="store int8 codes instead of full vectors (4x smaller cells; "
        "search scores are approximate to the int8 error)",
    )
    ab.set_defaults(fn=cmd_ann_build)

    st = sub.add_parser("stats", help="index summary")
    st.add_argument("--index", required=True)
    st.add_argument("--ivf", help="also summarize a persisted IVF index dir")
    st.add_argument(
        "--ivfpq", help="also summarize a persisted IVF-PQ index dir"
    )
    st.add_argument(
        "--recall-sample", type=int, default=0,
        help="with --ivf: estimate recall@10 on N sampled stored vectors "
        "(exact brute-force vs the index's probes) — the centroid-drift "
        "canary; 0 (default) skips the measurement",
    )
    st.add_argument(
        "--n-probe", type=int, default=3,
        help="probes per query for the --recall-sample estimate",
    )
    st.set_defaults(fn=cmd_stats)

    cu = sub.add_parser(
        "curate", help="curation funnel → pack → shuffle → sharded export"
    )
    cu.add_argument("--documents", required=True, help="input documents path")
    cu.add_argument(
        "--input-format", default="parquet",
        choices=["parquet", "jsonl", "warc"],
        help="documents input format; 'warc' ingests WARC/WET web archives "
        "(.warc/.warc.gz, ISO 28500) via sources/text_formats.warc_docs",
    )
    cu.add_argument("--out", required=True, help="output shard directory")
    cu.add_argument("--min-quality", type=float, default=0.7)
    cu.add_argument("--langs", help="comma-separated langs to keep (default all)")
    cu.add_argument("--near-dup-threshold", type=float, default=0.7)
    cu.add_argument(
        "--strip-span-ngram", type=int, default=0,
        help="strip corpus-redundant token spans of >= N tokens before the "
        "quality gate (0 = off)",
    )
    cu.add_argument("--chunk-size", type=int, default=512)
    cu.add_argument(
        "--bpe-model",
        help="saved fit-bpe model (.json): budget sequence packing with "
        "LEARNED-BPE token counts instead of the whitespace proxy",
    )
    cu.add_argument(
        "--sentence-chunks", action="store_true",
        help="chunk on sentence boundaries (greedy whole-sentence packing "
        "into <= --chunk-size chars) instead of fixed char windows",
    )
    cu.add_argument("--max-tokens", type=int, default=2048)
    cu.add_argument("--seed", default="epoch0", help="training-order shuffle seed")
    cu.add_argument("--rows-per-shard", type=int, default=100_000)
    cu.add_argument(
        "--query", help="topic terms: keep only documents whose BM25 "
        "relevance exceeds --min-bm25 (default 0.0 = at least one hit)",
    )
    cu.add_argument("--min-bm25", type=float, default=None)
    cu.add_argument(
        "--bench-bloom",
        help="saved benchmark bloom dir (bloom-build): drop docs whose "
        "shingles hit it (zero-shuffle decontamination)",
    )
    cu.add_argument(
        "--decontam-shingle-k", type=int, default=3,
        help="shingle k for --bench-bloom; MUST match the bloom-build k",
    )
    cu.add_argument(
        "--decontam-max-shared", type=int, default=0,
        help="drop docs with more than this many bloom-hit shingles",
    )
    cu.add_argument(
        "--semantic-dedup-threshold", type=float, default=0.0,
        help="drop embedding-space near-dups at/above this cosine "
        "(SemDeDup; 0 = off; needs --semantic-vec-col on the input)",
    )
    cu.add_argument(
        "--semantic-vec-col", default="embedding",
        help="document-embedding column for --semantic-dedup-threshold",
    )
    cu.add_argument(
        "--semantic-n-clusters", type=int, default=0,
        help="SemDeDup cluster count (0 = auto sqrt(N))",
    )
    cu.add_argument(
        "--quality-model",
        help="saved fit-quality model (.npz): score survivors with the "
        "learned hashed-BoW classifier and keep >= --min-model-quality",
    )
    cu.add_argument("--min-model-quality", type=float, default=0.5)
    cu.add_argument(
        "--langid-model",
        help="saved fit-langid model (.npz): predict the 'lang' column "
        "from text so --langs works on corpora without one (crawls)",
    )
    cu.add_argument(
        "--min-lang-conf", type=float, default=0.0,
        help="with --langid-model: also require the softmax confidence to "
        "be >= this (CCNet's ambiguity rule; 0 = off)",
    )
    cu.add_argument(
        "--ngram-lm",
        help="saved fit-ngram-lm model dir: keep docs whose stupid-backoff "
        "perplexity is <= --max-perplexity (the CCNet rule)",
    )
    cu.add_argument("--max-perplexity", type=float, default=10_000.0)
    cu.add_argument(
        "--strip-boilerplate-min-words", type=int, default=0,
        help="strip nav/menu/separator LINES before any other stage: keep "
        "lines with >= N letter-bearing words and enough alpha characters "
        "(0 = off)",
    )
    cu.add_argument(
        "--boilerplate-min-alpha", type=float, default=0.5,
        help="minimum alphabetic-character ratio a kept line needs "
        "(with --strip-boilerplate-min-words)",
    )
    cu.add_argument(
        "--normalize", default="",
        help="unicode-normalize text (NFC/NFKC/NFD/NFKD) + repair mojibake "
        "+ whitespace rules as the FIRST funnel stage ('' = off)",
    )
    cu.add_argument(
        "--no-fix-encoding", action="store_true",
        help="skip the conservative mojibake repair inside --normalize",
    )
    cu.add_argument(
        "--min-compression-ratio", type=float, default=0.0,
        help="drop docs whose zlib compressed/raw byte ratio is below "
        "this floor (templated/spam text compresses far under prose; "
        "0 = off)",
    )
    cu.add_argument(
        "--dedup-lines-min-chars", type=int, default=0,
        help="strip cross-document duplicate LINES (nav items/footer "
        "lines) of >= N normalized chars, keeping the corpus-canonical "
        "occurrence (the RefinedWeb unit; 0 = off)",
    )
    cu.add_argument(
        "--near-dup-keep-by",
        help="score column on the input docs: each near-dup cluster keeps "
        "its highest-scoring member (ties -> min id) instead of min id",
    )
    cu.add_argument(
        "--dedup-paragraphs-min-chars", type=int, default=0,
        help="strip cross-document duplicate PARAGRAPHS (banners/footers/"
        "license blocks) of >= N normalized chars, keeping the corpus-"
        "canonical occurrence (the CCNet unit; 0 = off)",
    )
    cu.add_argument(
        "--max-tokens-per-stratum", type=int, default=0,
        help="cap each --stratum-col value's total TOKEN count (greedy "
        "prefix in stable hash(id) order — the unit mixture budgets bind "
        "in; 0 = off)",
    )
    cu.add_argument(
        "--max-docs-per-stratum", type=int, default=0,
        help="keep at most this many docs per --stratum-col value, stable "
        "hash(id) order (the RefinedWeb/FineWeb domain cap; 0 = off)",
    )
    cu.add_argument(
        "--stratum-col", default="source",
        help="stratum column for --max-docs-per-stratum",
    )
    cu.add_argument(
        "--domain-from-url", action="store_true",
        help="derive a 'domain' column from the url column (for "
        "--stratum-col domain on crawl corpora); exact PSL semantics "
        "with --suffix-table, else the last-two-labels heuristic",
    )
    cu.add_argument(
        "--suffix-table",
        help="parquet with a 'suffix' column (a public-suffix list) for "
        "--domain-from-url",
    )
    cu.set_defaults(fn=cmd_curate)

    fl = sub.add_parser(
        "fit-ngram-lm",
        help="fit the bounded bigram LM (stupid backoff) on a reference "
        "parquet and save it for curate --ngram-lm",
    )
    fl.add_argument("--reference", required=True, help="reference documents parquet")
    fl.add_argument("--out", required=True, help="output model directory")
    fl.add_argument("--text-col", default="text")
    fl.add_argument("--vocab-size", type=int, default=65_536)
    fl.add_argument("--max-bigrams", type=int, default=500_000)
    fl.set_defaults(fn=cmd_fit_ngram_lm)

    fq = sub.add_parser(
        "fit-quality",
        help="train the hashed-BoW linear quality classifier on a labeled "
        "parquet (bounded driver-side fit) and save it for curate "
        "--quality-model",
    )
    fq.add_argument(
        "--labeled", required=True,
        help="parquet with a text column and a 0/1 label column",
    )
    fq.add_argument("--out", required=True, help="output model path (.npz)")
    fq.add_argument("--text-col", default="text")
    fq.add_argument("--label-col", default="label")
    fq.add_argument("--n-features", type=int, default=1 << 18)
    fq.add_argument("--iters", type=int, default=300)
    fq.add_argument("--lr", type=float, default=0.5)
    fq.add_argument(
        "--max-rows", type=int, default=200_000,
        help="labeled-sample cap (the fit is driver-side by design)",
    )
    fq.set_defaults(fn=cmd_fit_quality)

    fb = sub.add_parser(
        "fit-bpe",
        help="learn a BPE tokenizer from a document parquet (distributed "
        "word counts, driver-side merge loop) and save it as JSON",
    )
    fb.add_argument("--documents", required=True, help="document parquet")
    fb.add_argument("--out", required=True, help="output model path (.json)")
    fb.add_argument("--text-col", default="text")
    fb.add_argument("--n-merges", type=int, default=1000)
    fb.add_argument(
        "--max-word-types", type=int, default=30_000,
        help="word-type table cap (the merge loop is driver-side by design)",
    )
    fb.add_argument("--min-pair-count", type=int, default=2)
    fb.set_defaults(fn=cmd_fit_bpe)

    fr = sub.add_parser(
        "frontier",
        help="build the next crawl snapshot's seed list: extract links "
        "from fetched pages, dedup against them, drop blocklisted hosts",
    )
    fr.add_argument(
        "--documents", required=True,
        help="fetched pages (parquet with url + html columns, or WARC "
        "with --input-format warc)",
    )
    fr.add_argument("--out", required=True, help="output url-list parquet")
    fr.add_argument(
        "--input-format", choices=["parquet", "warc"], default="parquet",
    )
    fr.add_argument(
        "--html-col", default="text",
        help="column holding the page HTML (default text)",
    )
    fr.add_argument(
        "--blocklist",
        help="parquet with a 'host' column: drop frontier urls whose host "
        "or registered domain is listed",
    )
    fr.add_argument(
        "--suffix-table",
        help="PSL parquet ('suffix' column) for exact registered domains "
        "in the blocklist check",
    )
    fr.add_argument(
        "--robots",
        help="parquet with (host, robots_txt) columns: drop frontier urls "
        "the hosts' robots.txt rules disallow (RFC 9309 longest-match)",
    )
    fr.add_argument(
        "--agent", default="*",
        help="crawler product token for robots group selection "
        "(default '*')",
    )
    fr.set_defaults(fn=cmd_frontier)

    fg = sub.add_parser(
        "fit-langid",
        help="train the hashed char-n-gram language classifier on a "
        "labeled parquet (bounded driver-side fit) and save it for "
        "curate --langid-model",
    )
    fg.add_argument(
        "--labeled", required=True,
        help="parquet with a text column and a language-label column",
    )
    fg.add_argument("--out", required=True, help="output model path (.npz)")
    fg.add_argument("--text-col", default="text")
    fg.add_argument("--label-col", default="lang")
    fg.add_argument("--n-features", type=int, default=1 << 16)
    fg.add_argument("--iters", type=int, default=200)
    fg.add_argument("--lr", type=float, default=2.0)
    fg.add_argument(
        "--max-rows", type=int, default=100_000,
        help="labeled-sample cap (the fit is driver-side by design)",
    )
    fg.set_defaults(fn=cmd_fit_langid)

    ds = sub.add_parser(
        "dsir-select",
        help="pick the raw docs most like a target domain (DSIR importance "
        "resampling: hashed-n-gram log-ratio weights, deterministic "
        "Gumbel-top-k) and write them as parquet",
    )
    ds.add_argument("--docs", required=True, help="raw documents parquet")
    ds.add_argument(
        "--target", required=True,
        help="target-domain documents parquet (the distribution to match)",
    )
    ds.add_argument("--out", required=True, help="output parquet directory")
    ds.add_argument("--k", type=int, default=None, help="select exactly k docs")
    ds.add_argument(
        "--rate", type=float, default=None,
        help="select ~this fraction instead of a fixed k (huge-k form; "
        "approxQuantile cut)",
    )
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--n-features", type=int, default=1 << 16)
    ds.add_argument("--ngram-max", type=int, default=2, choices=(1, 2))
    ds.add_argument("--seed", default="s0", help="Gumbel selection seed")
    ds.set_defaults(fn=cmd_dsir_select)

    bb = sub.add_parser(
        "bloom-build",
        help="compress a reference corpus into a saved bloom filter: "
        "benchmark shingles for curate --bench-bloom, or whole-text "
        "content for incremental exact dedup",
    )
    bb.add_argument("--bench", required=True, help="reference documents parquet")
    bb.add_argument("--out", required=True, help="output bloom directory")
    bb.add_argument(
        "--kind", choices=("shingles", "content"), default="shingles",
        help="shingles: decontamination filter (curate --bench-bloom); "
        "content: whole-text filter for incremental exact dedup",
    )
    bb.add_argument("--text-col", default="text")
    bb.add_argument(
        "--shingle-k", type=int, default=None,
        help="shingle size for --kind shingles (default 3); invalid with "
        "--kind content",
    )
    bb.add_argument("--fpp", type=float, default=0.001)
    bb.add_argument(
        "--expected", type=int, default=None,
        help="expected item count — distinct shingles for --kind shingles, "
        "rows for --kind content (skips the sizing count job)",
    )
    bb.set_defaults(fn=cmd_bloom_build)

    pf = sub.add_parser(
        "profile", help="one-scan per-column data-quality profile of a table"
    )
    pf.add_argument("--table", required=True, help="parquet path")
    pf.add_argument("--columns", help="comma-separated subset (default all)")
    pf.add_argument("--out", help="also write the full profile as JSON here")
    pf.set_defaults(fn=cmd_profile)

    ac = sub.add_parser(
        "ann-compact",
        help="reclaim duplicate rows and merge small files in a persisted "
        "IVF index",
    )
    ac.add_argument("--ivf", required=True, help="IVF index directory")
    ac.set_defaults(fn=cmd_ann_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
