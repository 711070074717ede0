"""Streaming training-data funnel composition proof (r9 verdict #4).

scripts/funnel_benchmark.py proves the BATCH composition; this script
proves the STREAMING analog end-to-end — the at-least-once story across
operators, not per-operator: the sf1 documents feed flows through

    ST8  foreach_batch_exact_dedup     (content dedup vs all history)
  → ST9  foreach_batch_semantic_dedup  (SemDeDup vs all history)
  → ST10 foreach_batch_quota           (per-stratum domain cap)

as consecutive ``availableNow`` passes (one micro-batch per feed file, fed
in ascending doc_id order so streaming tie-breaks ≡ the batch operators'
min-id rule), WITH a crash-and-redeliver step per stage (an already-
processed batch re-delivered through a fresh checkpoint) and a torn-bloom
heal mid-stream, and asserts the final quota corpus is row-for-row
IDENTICAL to the batch funnel's kept-set:

    cap_per_stratum_random(semantic_dedup(exact-dedup keepers)).

Equivalence preconditions (each deliberately satisfied, not assumed):
  - ascending-id feed order → streaming first-arrival keeper ≡ batch
    min-id keeper (ST8), and history ids < batch ids → the incremental
    greedy ≡ one-shot greedy (ST9's append-only contract);
  - the ST9 quantizer is pre-fitted ONCE on the stage-1 survivors and
    written to {corpus}/centroids before the stream starts (the
    documented offline-fit path) — the batch one-shot uses the SAME
    centroids;
  - ST10 gets the whole stage-2 output as one batch with a fresh ledger,
    where admit_per_stratum ≡ cap_per_stratum_random at the same seed;
    its redelivery step then proves the ledger/bloom make it idempotent.

Usage: python scripts/streaming_funnel.py [data_dir] [n_batches]
       data_dir defaults to /root/repo/.scale/sf1. Prints one JSON line;
       exit 1 on any equivalence failure. Record numbers in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vectrekker_spark.session import get_spark  # noqa: E402

THRESHOLD = 0.95  # same as funnel_benchmark's semantic stage
CAP = 10  # binds: sf1 has 20 sources with >> 10 stage-2 survivors each
SEED = "quota0"  # foreach_batch_quota's default — the equivalence hinge


def ids_of(df, col="doc_id"):
    return sorted(r[0] for r in df.select(col).collect())


def _split_by_id(df, n_batches: int, out_dir: str) -> list[str]:
    """Write ``df`` as ``n_batches`` single-file parquet dirs covering
    ascending doc_id ranges (boundaries from exact quantiles). The
    ascending order is a PRECONDITION of the streaming≡batch equivalence
    (first-arrival ≡ min-id) — both call sites must split identically."""
    bounds = df.approxQuantile(
        "doc_id", [i / n_batches for i in range(1, n_batches)], 0.0
    )
    lo = None
    files = []
    for i in range(n_batches):
        hi = bounds[i] if i < len(bounds) else None
        part = df
        if lo is not None:
            part = part.where(F.col("doc_id") > lo)
        if hi is not None:
            part = part.where(F.col("doc_id") <= hi)
        p = os.path.join(out_dir, f"b{i:02d}")
        part.coalesce(1).write.parquet(p)
        files.append(p)
        lo = hi
    return files


def main() -> int:
    data = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    if n_batches < 3:
        # the torn-bloom heal fires on pass i==2 and the redelivery steps
        # re-feed batch files [1] and [2]; fewer batches would silently
        # skip the heal or crash late after minutes of Spark work
        print("error: n_batches must be >= 3", file=sys.stderr)
        return 2
    work = tempfile.mkdtemp(prefix="stream_funnel_")

    from vectrekker_spark.operators.ann import ivf_centroids
    from vectrekker_spark.operators.dedup import exact_dedup_map
    from vectrekker_spark.operators.quota import cap_per_stratum_random
    from vectrekker_spark.operators.semdedup import semantic_dedup
    from vectrekker_spark.queries.vector import hash_embed_batch
    from vectrekker_spark.streaming.jobs import (
        compact_quota_corpus,
        foreach_batch_exact_dedup,
        foreach_batch_quota,
        foreach_batch_semantic_dedup,
    )

    spark = get_spark(app_name="streaming-funnel")
    report: dict = {"data": data, "n_batches": n_batches}
    ok = True
    t_all = time.time()

    try:
        docs = spark.read.parquet(f"{data}/documents.parquet")
        embed = F.pandas_udf(lambda s: hash_embed_batch(s), "array<double>")
        feed = docs.withColumn("embedding", embed(F.col("text"))).persist()
        report["input_docs"] = feed.count()

        # ---- split the feed into ascending-doc_id batch files --------
        batch_files = _split_by_id(feed, n_batches, os.path.join(work, "feed"))

        schema = feed.schema
        stream_in = os.path.join(work, "in1")
        os.makedirs(stream_in)

        def run_pass(in_dir, ck, start):
            s = spark.readStream.schema(schema).parquet(f"{in_dir}/*")
            start(s, ck).awaitTermination()

        # ---- stage 1: ST8 exact dedup, one pass per feed file --------
        corpus1 = os.path.join(work, "corpus_exact")
        ck1 = os.path.join(work, "ck1")
        t0 = time.time()
        for i, p in enumerate(batch_files):
            shutil.copytree(p, os.path.join(stream_in, os.path.basename(p)))
            if i == 2:
                # torn-bloom heal mid-stream: the batch must fall back to
                # the verified join and rebuild the bloom from history
                os.remove(os.path.join(corpus1, "bloom", "meta.json"))
            run_pass(
                stream_in, ck1,
                lambda s, ck: foreach_batch_exact_dedup(
                    s, corpus1, ck, text_col="text", id_col="doc_id",
                    expected_total=report["input_docs"],
                ),
            )
        # crash-and-redeliver: batch b01 again via a FRESH checkpoint
        redeliver = os.path.join(work, "in1_re")
        os.makedirs(redeliver)
        shutil.copytree(
            batch_files[1], os.path.join(redeliver, "b01")
        )
        run_pass(
            redeliver, os.path.join(work, "ck1_re"),
            lambda s, ck: foreach_batch_exact_dedup(
                s, corpus1, ck, text_col="text", id_col="doc_id",
                expected_total=report["input_docs"],
            ),
        )
        report["t_stage1_sec"] = round(time.time() - t0, 2)

        stage1 = spark.read.parquet(f"{corpus1}/docs").persist()
        batch_keepers = feed.join(
            exact_dedup_map(feed).select(F.col("keep_id").alias("doc_id")),
            "doc_id", "left_semi",
        ).persist()
        s1_ids, b1_ids = ids_of(stage1), ids_of(batch_keepers)
        report["stage1_docs"] = len(s1_ids)
        report["stage1_matches_batch"] = s1_ids == b1_ids
        ok &= report["stage1_matches_batch"]

        # ---- stage 2: ST9 semantic dedup, quantizer pre-fitted -------
        corpus2 = os.path.join(work, "corpus_sem")
        os.makedirs(corpus2)
        t0 = time.time()
        k = max(1, int(len(s1_ids) ** 0.5))
        cents = ivf_centroids(
            stage1, n_centroids=k, id_col="doc_id", vec_col="embedding"
        )
        cents.write.parquet(os.path.join(corpus2, "centroids"))
        cents = spark.read.parquet(os.path.join(corpus2, "centroids"))
        report["t_fit_quantizer_sec"] = round(time.time() - t0, 2)

        # re-split stage-1 output into ascending-id batch files
        in2 = os.path.join(work, "in2")
        os.makedirs(in2)
        files2 = _split_by_id(stage1, n_batches, os.path.join(work, "feed2"))

        t0 = time.time()
        ck2 = os.path.join(work, "ck2")
        schema2 = stage1.schema
        for i, p in enumerate(files2):
            shutil.copytree(p, os.path.join(in2, os.path.basename(p)))
            s = spark.readStream.schema(schema2).parquet(f"{in2}/*")
            foreach_batch_semantic_dedup(
                s, corpus2, ck2, id_col="doc_id", vec_col="embedding",
                threshold=THRESHOLD,
            ).awaitTermination()
        # redeliver b02 via a fresh checkpoint: every row meets its
        # appended twin at cosine 1.0 and drops (scorable idempotence)
        re2 = os.path.join(work, "in2_re")
        os.makedirs(re2)
        shutil.copytree(files2[2], os.path.join(re2, "b02"))
        s = spark.readStream.schema(schema2).parquet(f"{re2}/*")
        foreach_batch_semantic_dedup(
            s, corpus2, os.path.join(work, "ck2_re"), id_col="doc_id",
            vec_col="embedding", threshold=THRESHOLD,
        ).awaitTermination()
        report["t_stage2_sec"] = round(time.time() - t0, 2)

        stage2 = spark.read.parquet(f"{corpus2}/kept").persist()
        batch_sem = semantic_dedup(
            batch_keepers, threshold=THRESHOLD, centroids=cents,
            id_col="doc_id", vec_col="embedding",
        ).persist()
        s2_ids, b2_ids = ids_of(stage2), ids_of(batch_sem)
        report["stage2_docs"] = len(s2_ids)
        report["stage2_dropped"] = len(s1_ids) - len(s2_ids)
        report["stage2_matches_batch"] = s2_ids == b2_ids
        ok &= report["stage2_matches_batch"]

        # ---- stage 3: ST10 per-stratum quota --------------------------
        corpus3 = os.path.join(work, "corpus_quota")
        in3 = os.path.join(work, "in3")
        os.makedirs(in3)
        t0 = time.time()
        feed3 = stage2.select("doc_id", "source", "text")
        feed3.coalesce(1).write.parquet(os.path.join(in3, "all"))
        schema3 = "doc_id long, source string, text string"
        s = spark.readStream.schema(schema3).parquet(f"{in3}/*")
        foreach_batch_quota(
            s, corpus3, os.path.join(work, "ck3"), cap=CAP,
            strata_col="source", id_col="doc_id", seed=SEED,
        ).awaitTermination()
        # redeliver the whole batch via a fresh checkpoint: the admitted-ID
        # bloom + docs verification must admit nothing and charge nothing
        s = spark.readStream.schema(schema3).parquet(f"{in3}/*")
        foreach_batch_quota(
            s, corpus3, os.path.join(work, "ck3_re"), cap=CAP,
            strata_col="source", id_col="doc_id", seed=SEED,
        ).awaitTermination()
        rep = compact_quota_corpus(
            spark, corpus3, strata_col="source", id_col="doc_id"
        )
        report["t_stage3_sec"] = round(time.time() - t0, 2)
        report["compact_docs_removed"] = rep["docs_removed"]
        report["compact_ledger_delta"] = rep["ledger_delta"]
        ok &= rep["docs_removed"] == 0 and rep["ledger_delta"] == 0

        stage3 = spark.read.parquet(f"{corpus3}/docs")
        batch_final = cap_per_stratum_random(
            batch_sem, CAP, strata_col="source", id_col="doc_id", seed=SEED
        )
        s3_ids, b3_ids = ids_of(stage3), ids_of(batch_final)
        report["final_docs"] = len(s3_ids)
        report["final_matches_batch_funnel"] = s3_ids == b3_ids
        ok &= report["final_matches_batch_funnel"]

        report["t_total_sec"] = round(time.time() - t_all, 2)
        report["ok"] = bool(ok)
        print(json.dumps(report))
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
