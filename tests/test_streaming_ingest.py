"""Streaming variant of the vectrekker pipeline (ST1+ST5 applied to the
reference's actual use-case) + streaming session windows (ST3)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from tests.helpers import rows_of
from vectrekker_spark.commit import pointer_tokens
from vectrekker_spark.queries.pipeline import d08_session_window
from vectrekker_spark.streaming.jobs import (
    read_events_stream,
    run_available_now,
    session_counts,
    streaming_index_pipeline,
)


def _tear(pointer):
    """Rewrite a CURRENT-v{K} pointer without its commit newline — the
    state a crash mid-flip leaves on a plain filesystem."""
    with open(pointer) as f:
        raw = f.read()
    with open(pointer, "w") as f:
        f.write(raw.rstrip("\n"))


def test_streaming_index_pipeline_exactly_once(spark, tmp_path):
    content = tmp_path / "content"
    content.mkdir()
    (content / "a.md").write_text("first document about streams")
    (content / "skip.txt").write_text("filtered out")
    index = str(tmp_path / "index.parquet")
    ckpt = str(tmp_path / "ckpt")

    streaming_index_pipeline(spark, str(content), index, ckpt).awaitTermination()
    idx1 = spark.read.parquet(index)
    assert idx1.count() == 1
    assert idx1.collect()[0]["id"].endswith("a.md")

    # new file arrives → only it is processed (checkpoint = the state table)
    (content / "b.md").write_text("second document arrives later")
    streaming_index_pipeline(spark, str(content), index, ckpt).awaitTermination()
    idx2 = spark.read.parquet(index)
    assert idx2.count() == 2
    # re-run with nothing new → index unchanged
    streaming_index_pipeline(spark, str(content), index, ckpt).awaitTermination()
    assert spark.read.parquet(index).count() == 2
    emb = {r["id"].rsplit("/", 1)[-1]: r["embedding"] for r in idx2.collect()}
    assert len(emb["a.md"]) == 64 and emb["a.md"] != emb["b.md"]


def test_streaming_session_windows_match_batch(spark, sf_dir, tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    pq.write_table(pq.read_table(f"{sf_dir}/events.parquet"), d / "p0.parquet")
    stream = read_events_stream(spark, str(d))
    run_available_now(
        session_counts(stream, gap="15 minutes"),
        str(tmp_path / "ckpt"),
        "stream_sessions",
    )
    got = rows_of(spark.table("stream_sessions"))
    want = rows_of(d08_session_window(spark, sf_dir))
    assert got == want


def test_streaming_ann_index_maintenance(spark, sf_dir, tmp_path):
    """ST5 applied to the ANN index: vectors streaming in are appended to a
    persisted IVF index against its existing centroids; the checkpoint makes
    re-runs no-ops and a later batch lands incrementally."""
    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )
    from vectrekker_spark.streaming.jobs import foreach_batch_ann_append

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = em.count()
    initial = em.filter(F.col("vec_id") < n // 2)
    ivf = str(tmp_path / "ivf")
    centroids, assign = ivf_build(initial, n_centroids=4, method="stride")
    ivf_save(centroids, assign, initial, ivf)

    # the delta arrives as files in a streamed directory
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    em.filter(F.col("vec_id") >= n // 2).write.parquet(str(stream_dir / "batch0"))
    ckpt = str(tmp_path / "ckpt")
    src = spark.readStream.schema(em.schema).parquet(str(stream_dir / "*"))
    foreach_batch_ann_append(
        src, ivf, ckpt, id_col="vec_id"
    ).awaitTermination()
    _, cells = ivf_load(spark, ivf)
    assert cells.count() == n

    # re-run with nothing new → checkpoint short-circuits, no duplicates
    src2 = spark.readStream.schema(em.schema).parquet(str(stream_dir / "*"))
    foreach_batch_ann_append(src2, ivf, ckpt, id_col="vec_id").awaitTermination()
    _, cells2 = ivf_load(spark, ivf)
    assert cells2.count() == n

    # an appended vector is findable via the persisted probe path
    lc, cells3 = ivf_load(spark, ivf)
    probe_id = n - 1
    q = em.filter(F.col("vec_id") == probe_id).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = ivf_search_cells(q, lc, cells3, k=1, n_probe=4).collect()
    assert res and res[0]["vec_id"] == probe_id and res[0]["rank"] == 1


def test_streaming_ann_soak_appends_compact_equals_rebuild(spark, sf_dir, tmp_path):
    """Soak ST5 on the ANN structure end-to-end: three micro-batches of
    appends (maxFilesPerTrigger=1), one at-least-once duplicate delivery,
    one ivf_compact — search over the maintained index must equal search
    over a one-shot batch build of the same corpus with the same centroids."""
    from pyspark.sql import functions as F

    from tests.helpers import rows_of
    from vectrekker_spark.operators.ann import (
        assign_centroids,
        ivf_build,
        ivf_compact,
        ivf_load,
        ivf_save,
        ivf_search_cells,
    )
    from vectrekker_spark.streaming.jobs import foreach_batch_ann_append

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = em.count()
    quarter = n // 4
    initial = em.filter(F.col("vec_id") < quarter)
    ivf = str(tmp_path / "ivf")
    centroids, assign = ivf_build(initial, n_centroids=4, method="stride")
    ivf_save(centroids, assign, initial, ivf)

    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    for b in range(3):
        lo, hi = quarter * (b + 1), quarter * (b + 2) if b < 2 else n
        em.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(str(stream_dir / f"batch{b}"))
    ckpt = str(tmp_path / "ckpt")
    src = (
        spark.readStream.schema(em.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    foreach_batch_ann_append(src, ivf, ckpt, id_col="vec_id").awaitTermination()
    _, cells = ivf_load(spark, ivf)
    assert cells.count() == n

    # at-least-once redelivery: batch1 lands again via a fresh checkpoint
    src2 = spark.readStream.schema(em.schema).parquet(str(stream_dir / "batch1"))
    foreach_batch_ann_append(
        src2, ivf, str(tmp_path / "ckpt2"), id_col="vec_id"
    ).awaitTermination()
    _, dup_cells = ivf_load(spark, ivf)
    assert dup_cells.count() == n + quarter  # duplicates present pre-compact
    removed = ivf_compact(spark, ivf)
    assert removed == quarter
    lc, cells2 = ivf_load(spark, ivf)
    assert cells2.count() == n

    # equality vs a one-shot batch build over the full corpus with the SAME
    # centroids (appends index against build-time centroids by contract)
    rebuilt = str(tmp_path / "rebuilt")
    ivf_save(centroids, assign_centroids(em, centroids), em, rebuilt)
    rc, rcells = ivf_load(spark, rebuilt)
    q = em.filter(F.col("vec_id") % (n // 10) == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = rows_of(ivf_search_cells(q, lc, cells2, k=5, n_probe=3))
    want = rows_of(ivf_search_cells(q, rc, rcells, k=5, n_probe=3))
    assert got == want and len(want) > 0


def test_streaming_near_dedup_against_history(spark, tmp_path):
    from vectrekker_spark.streaming.jobs import foreach_batch_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while morning light settles across the quiet valley floor"
    )
    uniq1 = "completely unrelated prose about compilers and register allocation strategies"
    uniq2 = (
        "a second standalone document describing tide patterns in estuaries "
        "where brackish water mixes daily with inland runoff under seasonal "
        "winds that reshape the sandbars"
    )
    near_base = base.replace("quiet", "silent")  # one-token edit: near-dup
    near_uniq2 = uniq2.replace("second", "third")

    src = tmp_path / "incoming"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt_nd")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src / "*")
        )
        foreach_batch_near_dedup(
            stream, corpus, ckpt, threshold=0.7
        ).awaitTermination()

    def corpus_ids():
        import pyspark.sql.functions as F

        df = spark.read.parquet(f"{corpus}/docs")
        return sorted(r["doc_id"] for r in df.select("doc_id").collect())

    # batch 1: in-batch near-dup (id 2 ~ id 1) dropped, min id kept
    write_batch("b1", [(1, base), (2, near_base), (3, uniq1)])
    run()
    assert corpus_ids() == [1, 3]

    # batch 2: id 4 near-dups HISTORY doc 1 via the persisted band index;
    # id 5 is novel
    write_batch("b2", [(4, near_base), (5, uniq2)])
    run()
    assert corpus_ids() == [1, 3, 5]

    # same checkpoint, no new files: nothing reprocessed
    run()
    assert corpus_ids() == [1, 3, 5]

    # batch 3: near-dup of a doc accepted in batch 2 — the index grew
    write_batch("b3", [(6, near_uniq2)])
    run()
    assert corpus_ids() == [1, 3, 5]

    # the band index covers exactly the accepted docs
    bands = spark.read.parquet(f"{corpus}/bands")
    assert sorted(
        r["doc_id"] for r in bands.select("doc_id").distinct().collect()
    ) == [1, 3, 5]


def test_compact_near_dedup_corpus(spark, tmp_path):
    from vectrekker_spark.streaming.jobs import compact_near_dedup_corpus

    corpus = tmp_path / "corpus2"
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb")], "doc_id long, text string"
    )
    bands = spark.createDataFrame(
        [(1, 0, "h1"), (2, 0, "h2")], "doc_id long, band int, band_hash string"
    )
    # simulate a crash-redelivered batch: both tables appended twice
    for _ in range(2):
        docs.write.mode("append").parquet(str(corpus / "docs"))
        bands.write.mode("append").parquet(str(corpus / "bands"))
    out = compact_near_dedup_corpus(spark, str(corpus))
    assert out == {"docs_removed": 2, "bands_removed": 2}
    assert spark.read.parquet(str(corpus / "docs")).count() == 2
    assert spark.read.parquet(str(corpus / "bands")).count() == 2
    # idempotent: a second compact removes nothing and rewrites nothing
    out2 = compact_near_dedup_corpus(spark, str(corpus))
    assert out2 == {"docs_removed": 0, "bands_removed": 0}


def test_streaming_exact_dedup_against_history(spark, tmp_path):
    from vectrekker_spark.operators.bloom import bloom_load
    from vectrekker_spark.streaming.jobs import foreach_batch_exact_dedup

    a, b, c, d = (
        "alpha document body one",
        "beta document body two",
        "gamma document body three",
        "delta document body four",
    )
    src = tmp_path / "incoming_x"
    src.mkdir()
    corpus = str(tmp_path / "corpus_x")
    ckpt = str(tmp_path / "ckpt_x")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src / "*")
        )
        foreach_batch_exact_dedup(stream, corpus, ckpt).awaitTermination()

    def corpus_rows():
        df = spark.read.parquet(f"{corpus}/docs")
        return sorted((r["doc_id"], r["text"]) for r in df.collect())

    # batch 1: in-batch exact dup (id 2 repeats id 1's text) dropped,
    # min id kept; null text survives
    write_batch("b1", [(1, a), (2, a), (3, b), (4, None)])
    run()
    assert corpus_rows() == [(1, a), (3, b), (4, None)]
    g0 = bloom_load(f"{corpus}/bloom")
    assert g0.bits_set() > 0

    # batch 2: id 5 repeats HISTORY doc 1 verbatim → dropped via the
    # persisted bloom + verification; id 6 novel; null survives again
    write_batch("b2", [(5, a), (6, c), (7, None)])
    run()
    assert corpus_rows() == [(1, a), (3, b), (4, None), (6, c), (7, None)]
    assert bloom_load(f"{corpus}/bloom").bits_set() >= g0.bits_set()

    # same checkpoint, no new files: nothing reprocessed
    run()
    assert len(corpus_rows()) == 5

    # torn bloom (crash mid-save): the batch still dedups EXACTLY via the
    # verified fallback, and the bloom heals (rebuilt over history+fresh)
    import os

    os.remove(f"{corpus}/bloom/meta.json")
    write_batch("b3", [(8, c), (9, d)])  # 8 dups history doc 6
    run()
    assert corpus_rows() == [
        (1, a), (3, b), (4, None), (6, c), (7, None), (9, d),
    ]
    healed = bloom_load(f"{corpus}/bloom")
    assert healed.bits_set() > 0

    # at-least-once redelivery: batch 3 again via a fresh checkpoint —
    # the verification join drops every already-appended row
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(
        str(src / "b3")
    )
    foreach_batch_exact_dedup(
        stream2, corpus, str(tmp_path / "ckpt_x2")
    ).awaitTermination()
    assert len(corpus_rows()) == 6  # no duplicates added


def test_streaming_semantic_dedup_against_history(spark, tmp_path):
    import numpy as np

    from vectrekker_spark.streaming.jobs import foreach_batch_semantic_dedup

    def unit(v):
        a = np.asarray(v, dtype=np.float64)
        return (a / np.linalg.norm(a)).tolist()

    e1 = unit([1.0, 0.0, 0.0])
    e1_near = unit([1.0, 1e-5, 0.0])
    e2 = unit([0.0, 1.0, 0.0])
    e3 = unit([0.0, 0.0, 1.0])
    e3_near = unit([1e-5, 0.0, 1.0])

    src = tmp_path / "vec_incoming"
    src.mkdir()
    corpus = str(tmp_path / "vec_corpus")
    schema = "vec_id long, embedding array<double>"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run(ckpt="vec_ckpt"):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        foreach_batch_semantic_dedup(
            stream, corpus, str(tmp_path / ckpt), threshold=0.99, n_clusters=2
        ).awaitTermination()

    def kept_ids():
        return sorted(
            r["vec_id"]
            for r in spark.read.parquet(f"{corpus}/kept").collect()
        )

    # batch 1: in-batch near-dup (2 ~ 1) dropped, null vector survives;
    # the quantizer is fitted and saved on this batch
    write_batch("b1", [(1, e1), (2, e1_near), (3, e2), (4, None)])
    run()
    assert kept_ids() == [1, 3, 4]
    cents = spark.read.parquet(f"{corpus}/centroids")
    assert cents.count() == 2

    # batch 2: 5 duplicates HISTORY vector 1; 6 is novel; null survives
    write_batch("b2", [(5, e1_near), (6, e3), (7, None)])
    run()
    assert kept_ids() == [1, 3, 4, 6, 7]
    # the quantizer did NOT re-fit (fixed for the stream's lifetime)
    assert sorted(
        (r["cid"], tuple(r["cvec"])) for r in cents.collect()
    ) == sorted(
        (r["cid"], tuple(r["cvec"]))
        for r in spark.read.parquet(f"{corpus}/centroids").collect()
    )

    # same checkpoint, no new files: nothing reprocessed
    run()
    assert kept_ids() == [1, 3, 4, 6, 7]

    # batch 3 dups a batch-2 survivor
    write_batch("b3", [(8, e3_near), (9, unit([1.0, 1.0, 1.0]))])
    run()
    assert kept_ids() == [1, 3, 4, 6, 7, 9]

    # at-least-once redelivery: batch 3 via a fresh checkpoint — scorable
    # rows meet their appended twins (equal-id ties scan history first)
    # and drop; nothing duplicates
    stream2 = spark.readStream.schema(schema).parquet(str(src / "b3"))
    foreach_batch_semantic_dedup(
        stream2, corpus, str(tmp_path / "vec_ckpt2"),
        threshold=0.99, n_clusters=2,
    ).awaitTermination()
    assert kept_ids() == [1, 3, 4, 6, 7, 9]

    # accumulated kept set == one-shot semantic_dedup over everything
    from vectrekker_spark.operators.semdedup import semantic_dedup

    everything = spark.read.parquet(str(src / "*"))
    oneshot = semantic_dedup(
        everything, threshold=0.99,
        centroids=spark.read.parquet(f"{corpus}/centroids"),
    )
    assert sorted(r["vec_id"] for r in oneshot.collect()) == [1, 3, 4, 6, 7, 9]


def test_streaming_semantic_dedup_all_null_first_batch(spark, tmp_path):
    from vectrekker_spark.streaming.jobs import foreach_batch_semantic_dedup

    src = tmp_path / "vn_incoming"
    src.mkdir()
    corpus = str(tmp_path / "vn_corpus")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame([(1, None), (2, None)], schema).coalesce(
        1
    ).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    foreach_batch_semantic_dedup(
        stream, corpus, str(tmp_path / "vn_ckpt")
    ).awaitTermination()
    import os

    # null rows kept verbatim; the quantizer waits for scorable data
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(f"{corpus}/kept").collect()
    ) == [1, 2]
    assert not os.path.exists(f"{corpus}/centroids")

    spark.createDataFrame(
        [(3, [1.0, 0.0]), (4, [0.0, 1.0])], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    stream2 = spark.readStream.schema(schema).parquet(str(src / "*"))
    foreach_batch_semantic_dedup(
        stream2, corpus, str(tmp_path / "vn_ckpt")
    ).awaitTermination()
    assert os.path.exists(f"{corpus}/centroids")
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(f"{corpus}/kept").collect()
    ) == [1, 2, 3, 4]


def test_streaming_semantic_dedup_torn_quantizer_heals(spark, tmp_path):
    import os
    import shutil

    from vectrekker_spark.streaming.jobs import foreach_batch_semantic_dedup

    src = tmp_path / "tq_incoming"
    src.mkdir()
    corpus = str(tmp_path / "tq_corpus")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    # simulate a crash mid-save: the centroids dir exists but holds no
    # committed parquet (the exact state a killed overwrite leaves)
    os.makedirs(f"{corpus}/centroids/_temporary", exist_ok=True)

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    foreach_batch_semantic_dedup(
        stream, corpus, str(tmp_path / "tq_ckpt"), n_clusters=2
    ).awaitTermination()
    # the fit re-ran (healed) and ingestion proceeded
    assert spark.read.parquet(f"{corpus}/centroids").count() == 2
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(f"{corpus}/kept").collect()
    ) == [1, 2]
    shutil.rmtree(corpus)


def test_streaming_semantic_dedup_expected_total_sizing(spark, tmp_path):
    from vectrekker_spark.streaming.jobs import foreach_batch_semantic_dedup

    src = tmp_path / "et_incoming"
    src.mkdir()
    corpus = str(tmp_path / "et_corpus")
    schema = "vec_id long, embedding array<double>"
    rows = [(i, [float(i), 1.0, float(i % 3)]) for i in range(10)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    # expected_total=64 → √ = 8 cells, not √10 ≈ 3 — sized for the
    # eventual corpus, capped at the batch's scorable rows
    foreach_batch_semantic_dedup(
        stream, corpus, str(tmp_path / "et_ckpt"), expected_total=64
    ).awaitTermination()
    assert spark.read.parquet(f"{corpus}/centroids").count() == 8


def test_compact_semantic_corpus(spark, tmp_path):
    from vectrekker_spark.streaming.jobs import (
        compact_semantic_corpus,
        foreach_batch_semantic_dedup,
    )

    src = tmp_path / "cs_incoming"
    src.mkdir()
    corpus = str(tmp_path / "cs_corpus")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        foreach_batch_semantic_dedup(
            stream, corpus, str(tmp_path / ckpt), n_clusters=2
        ).awaitTermination()

    run("cs_ckpt1")
    # redeliver via a fresh checkpoint: scorable rows drop in-kernel,
    # the null-vector row re-appends
    run("cs_ckpt2")
    kept = spark.read.parquet(f"{corpus}/kept")
    assert sorted(r["vec_id"] for r in kept.collect()) == [1, 2, 3, 3]

    out = compact_semantic_corpus(spark, corpus)
    assert out == {"kept_removed": 1}
    after = spark.read.parquet(f"{corpus}/kept")
    assert sorted(r["vec_id"] for r in after.collect()) == [1, 2, 3]
    # the null row still reads back in the NULL-cid partition
    assert after.where("vec_id = 3").collect()[0]["cid"] is None
    # idempotent
    assert compact_semantic_corpus(spark, corpus) == {"kept_removed": 0}
    # no-op on a corpus with no null partition
    import shutil

    shutil.rmtree(f"{corpus}/kept/cid=__HIVE_DEFAULT_PARTITION__")
    assert compact_semantic_corpus(spark, corpus) == {"kept_removed": 0}


def test_streaming_quota_lifecycle(spark, tmp_path):
    """ST10: per-stratum quota ingestion — admit-until-full per source,
    ledger versioning, bloom-guarded redelivery idempotence, torn-bloom
    heal, compact reconciliation."""
    import os

    from vectrekker_spark.operators.bloom import bloom_load
    from vectrekker_spark.streaming.jobs import (
        compact_quota_corpus,
        foreach_batch_quota,
    )

    src = tmp_path / "incoming_q"
    src.mkdir()
    corpus = str(tmp_path / "corpus_q")
    ckpt = str(tmp_path / "ckpt_q")
    SCHEMA = "doc_id long, source string, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run(ck=ckpt, glob="*"):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src / glob))
        foreach_batch_quota(
            stream, corpus, ck, cap=2, strata_col="source", id_col="doc_id"
        ).awaitTermination()

    def docs():
        return sorted(
            (r["doc_id"], r["source"])
            for r in spark.read.parquet(f"{corpus}/docs").collect()
        )

    def per_source():
        out = {}
        for d, s in docs():
            out[s] = out.get(s, 0) + 1
        return out

    # batch 1: 3 hot docs compete for cap 2; cold and NULL buckets admit
    write_batch("b1", [
        (1, "hot", "t1"), (2, "hot", "t2"), (3, "hot", "t3"),
        (10, "cold", "t10"), (20, None, "t20"),
    ])
    run()
    assert per_source() == {"hot": 2, "cold": 1, None: 1}
    first_docs = docs()

    # batch 2: hot is FULL (both rejected), cold fills, NULL fills
    write_batch("b2", [
        (4, "hot", "t4"), (11, "cold", "t11"), (21, None, "t21"),
    ])
    run()
    assert per_source() == {"hot": 2, "cold": 2, None: 2}
    # the batch-1 admissions were not disturbed
    assert set(first_docs) <= set(docs())

    # batch 3: every bucket full → nothing admitted, no ledger churn crash
    write_batch("b3", [(5, "hot", "t5"), (12, "cold", "t12"), (22, None, "t22")])
    run()
    assert per_source() == {"hot": 2, "cold": 2, None: 2}

    # same checkpoint, no new files: nothing reprocessed
    run()
    n_before = len(docs())
    assert n_before == 6

    # at-least-once redelivery: b2 again via a FRESH checkpoint — its rows
    # are already in docs (bloom maybe → verified present) → no dups, no
    # double admission
    run(ck=str(tmp_path / "ckpt_q2"), glob="b2")
    assert docs() == sorted(docs()) and len(docs()) == 6

    # torn bloom: the batch still admits correctly via the verified
    # fallback and the bloom heals; a new source gets its own quota
    os.remove(f"{corpus}/bloom/meta.json")
    write_batch("b4", [(30, "warm", "t30")])
    run()
    assert per_source() == {"hot": 2, "cold": 2, None: 2, "warm": 1}
    assert bloom_load(f"{corpus}/bloom").bits_set() > 0

    # crash-debris reconciliation: plant a duplicate docs row AND an
    # overcharged ledger, then compact — docs deduped, ledger re-counted,
    # and the reclaimed quota admits again
    dup = spark.createDataFrame([(30, "warm", "t30")], SCHEMA)
    dup.write.mode("append").parquet(f"{corpus}/docs")
    rep = compact_quota_corpus(spark, corpus, strata_col="source", id_col="doc_id")
    assert rep["docs_removed"] == 1
    assert per_source()["warm"] == 1
    write_batch("b5", [(31, "warm", "t31")])
    run()
    assert per_source()["warm"] == 2  # slot still free post-compact


def test_streaming_quota_torn_ledger_heals_from_docs(spark, tmp_path):
    """A counts version no committed pointer names is invisible; with NO
    committed ledger pointer at all the job recounts the docs table —
    quotas never overshoot even when every ledger commit was torn."""
    import os
    import shutil

    from vectrekker_spark.streaming.jobs import foreach_batch_quota

    src = tmp_path / "incoming_t"
    src.mkdir()
    corpus = str(tmp_path / "corpus_t")
    SCHEMA = "doc_id long, source string, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run(ck):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
        foreach_batch_quota(
            stream, corpus, str(tmp_path / ck), cap=2,
            strata_col="source", id_col="doc_id",
        ).awaitTermination()

    write_batch("b1", [(1, "hot", "a"), (2, "hot", "b")])
    run("c1")
    # tear EVERY ledger pointer (a crash mid-flip: no commit newline)
    for name in os.listdir(corpus):
        if name.startswith("CURRENT-v"):
            _tear(os.path.join(corpus, name))
    assert pointer_tokens(corpus) == []
    write_batch("b2", [(3, "hot", "c"), (4, "hot", "d")])
    run("c2")
    n_hot = (
        spark.read.parquet(f"{corpus}/docs").filter("source = 'hot'").count()
    )
    assert n_hot == 2  # recounted from docs: quota NOT overshot


def test_streaming_quota_heal_commits_even_with_no_admissions(spark, tmp_path):
    """A torn ledger on a quota-FULL stream (the steady state) must be
    re-committed by the first healing batch even though it admits
    nothing — otherwise every later batch recounts the full docs
    history, breaking the heals-by-ONE-recount contract."""
    import os

    from vectrekker_spark.streaming.jobs import foreach_batch_quota

    src = tmp_path / "incoming_h"
    src.mkdir()
    corpus = str(tmp_path / "corpus_h")
    SCHEMA = "doc_id long, source string, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run(ck):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
        foreach_batch_quota(
            stream, corpus, str(tmp_path / ck), cap=1,
            strata_col="source", id_col="doc_id",
        ).awaitTermination()

    write_batch("b1", [(1, "hot", "a")])
    run("c1")
    # remove every ledger pointer AND the bloom
    for name in os.listdir(corpus):
        if name.startswith("CURRENT-v"):
            os.remove(os.path.join(corpus, name))
    os.remove(f"{corpus}/bloom/meta.json")
    # quota-full batch: admits nothing, but must COMMIT the healed state
    write_batch("b2", [(2, "hot", "b")])
    run("c2")
    assert pointer_tokens(corpus), "healed ledger was not committed"
    from vectrekker_spark.operators.bloom import bloom_load

    assert bloom_load(f"{corpus}/bloom").bits_set() > 0  # bloom healed too
    # and the healed ledger is CORRECT: hot stays at 1 admitted doc
    assert spark.read.parquet(f"{corpus}/docs").count() == 1


def test_streaming_quota_survives_dataless_docs_dir(spark, tmp_path):
    """A crash during the very first docs append leaves {corpus}/docs
    holding only _temporary — the next batch must treat it as absent
    instead of wedging on an uninferable-schema read."""
    import os

    from vectrekker_spark.streaming.jobs import foreach_batch_quota

    src = tmp_path / "incoming_w"
    src.mkdir()
    corpus = tmp_path / "corpus_w"
    (corpus / "docs" / "_temporary").mkdir(parents=True)
    SCHEMA = "doc_id long, source string, text string"
    spark.createDataFrame(
        [(1, "hot", "a")], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
    foreach_batch_quota(
        stream, str(corpus), str(tmp_path / "ck"), cap=2,
        strata_col="source", id_col="doc_id",
    ).awaitTermination()
    assert spark.read.parquet(str(corpus / "docs")).count() == 1


def test_streaming_quota_compact_guard_and_ledger_prune(spark, tmp_path):
    """VERDICT r9 #6 + ADVICE r9: the quota compact's single-writer
    contract is a create-exclusive marker, not a docstring — a concurrent
    compact fails loudly at the claim, an ingesting batch that arrives
    mid-compact fails its micro-batch instead of racing the swap, and
    repeated compacts prune superseded counts-v{N} dirs (an idle corpus
    no longer accumulates ledger versions indefinitely)."""
    import os
    import re

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from vectrekker_spark.commit import claim_compact
    from vectrekker_spark.streaming.jobs import (
        compact_quota_corpus,
        foreach_batch_quota,
    )

    src = tmp_path / "incoming_g"
    src.mkdir()
    corpus = str(tmp_path / "corpus_g")
    SCHEMA = "doc_id long, source string, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run(ck):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
        foreach_batch_quota(
            stream, corpus, str(tmp_path / ck), cap=5,
            strata_col="source", id_col="doc_id",
        ).awaitTermination()

    write_batch("b1", [(1, "hot", "a"), (2, "hot", "b")])
    run("ck1")

    def ledger_versions():
        return sorted(
            int(m.group(1))
            for name in os.listdir(corpus)
            if (m := re.fullmatch(r"counts-v(\d+)", name))
        )

    # repeated compacts on an idle corpus: versions advance but superseded
    # dirs are pruned to current + one grace copy
    for _ in range(3):
        # plant a dup each round so the compact actually rewrites
        spark.createDataFrame([(1, "hot", "a")], SCHEMA).write.mode(
            "append"
        ).parquet(f"{corpus}/docs")
        spark.catalog.refreshByPath(f"{corpus}/docs")
        rep = compact_quota_corpus(
            spark, corpus, strata_col="source", id_col="doc_id"
        )
        assert rep["docs_removed"] == 1
    assert len(ledger_versions()) <= 2, ledger_versions()

    # concurrent compact: the second claim fails loudly, releases nothing
    marker = claim_compact(corpus)
    try:
        with pytest.raises(RuntimeError, match="compact already in progress"):
            compact_quota_corpus(
                spark, corpus, strata_col="source", id_col="doc_id"
            )
        assert os.path.exists(marker)  # the loser must not release the claim

        # an ingesting batch mid-compact fails its micro-batch loudly...
        write_batch("b2", [(3, "hot", "c")])
        with pytest.raises(StreamingQueryException, match="compact in progress"):
            run("ck2")
    finally:
        os.remove(marker)
    # ...and the corpus was not corrupted: docs unchanged, ledger intact
    assert spark.read.parquet(f"{corpus}/docs").count() == 2

    # after release, ingestion resumes on a fresh checkpoint
    run("ck3")
    assert spark.read.parquet(f"{corpus}/docs").count() == 3
    # compact releases its own claim on success
    compact_quota_corpus(spark, corpus, strata_col="source", id_col="doc_id")
    assert not os.path.exists(marker)


def test_compact_guard_shared_across_corpora(spark, tmp_path):
    """The create-exclusive compact claim is one protocol for all three
    streaming corpora: near-dedup and semantic compacts refuse a planted
    claim exactly like the quota compact (which the lifecycle test above
    exercises end-to-end), and every ingest job shares the same
    batch-start refusal helper."""
    import os

    from vectrekker_spark.commit import claim_compact, refuse_if_compacting
    from vectrekker_spark.streaming.jobs import (
        compact_near_dedup_corpus,
        compact_semantic_corpus,
    )

    corpus = str(tmp_path / "corpus_shared")
    os.makedirs(corpus)
    # semantic's early return (no NULL-cid partition) must NOT require the
    # claim — an idle corpus stays claim-free
    assert compact_semantic_corpus(spark, corpus) == {"kept_removed": 0}

    null_dir = os.path.join(corpus, "kept", "cid=__HIVE_DEFAULT_PARTITION__")
    spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(null_dir)

    marker = claim_compact(corpus)
    try:
        with pytest.raises(RuntimeError, match="compact already in progress"):
            compact_semantic_corpus(spark, corpus)
        with pytest.raises(RuntimeError, match="compact already in progress"):
            compact_near_dedup_corpus(spark, corpus)
        with pytest.raises(RuntimeError, match="compact in progress"):
            refuse_if_compacting(corpus)
        assert os.path.exists(marker)  # losers never release the claim
    finally:
        os.remove(marker)
    # after release: the semantic compact runs (and releases its own claim)
    assert compact_semantic_corpus(spark, corpus) == {"kept_removed": 0}
    assert not os.path.exists(marker)
    refuse_if_compacting(corpus)  # no marker → no-op


def test_streaming_funnel_composition_equals_batch(spark, tmp_path):
    """CI pin for scripts/streaming_funnel.py's claim at fixture scale:
    ST8 -> ST9 -> ST10 over an ascending-id two-batch feed (with one
    redelivery) produces exactly the batch funnel's kept-set
    cap_per_stratum_random(semantic_dedup(exact-dedup keepers)). The
    fixture plants exact duplicates ACROSS batches, a semantic near-dup
    pair, and a stratum over quota, so every stage binds."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import ivf_centroids
    from vectrekker_spark.operators.dedup import exact_dedup_map
    from vectrekker_spark.operators.quota import cap_per_stratum_random
    from vectrekker_spark.operators.semdedup import semantic_dedup
    from vectrekker_spark.streaming.jobs import (
        foreach_batch_exact_dedup,
        foreach_batch_quota,
        foreach_batch_semantic_dedup,
    )

    # embeddings: e0/e1 near-dup pair (cos ~0.999), others well separated
    def vec(x, y):
        return [float(x), float(y), 1.0, 0.0]

    rows = []
    for i in range(24):
        src = "hot" if i % 2 == 0 else "cold"
        if i in (6, 7, 13):  # exact-duplicate text group; 13 lands in batch 2
            text, emb = "texto zero", vec(10, 0.1)
        elif i == 1:  # semantic near-dup of the doc-6/7/13 group's
            # vec(10, 0.1) — distinct text, cos ~0.99995; doc 0's own
            # embedding is vec(0, 0) = [0,0,1,0], nowhere near this
            text, emb = "texto uno", vec(10, 0.2)
        else:
            text, emb = f"texto {i}", vec(i * 3 % 17, -i * 5 % 13)
        rows.append((i, src, text, emb))
    schema = "doc_id long, source string, text string, embedding array<double>"
    feed = spark.createDataFrame(rows, schema)

    in1 = tmp_path / "in1"
    in1.mkdir()
    corpus1 = str(tmp_path / "c1")
    for lo, hi, name in ((0, 12, "b0"), (12, 24, "b1")):
        feed.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(tmp_path / "feed" / name))
        shutil.copytree(tmp_path / "feed" / name, in1 / name)
        s = spark.readStream.schema(schema).parquet(str(in1 / "*"))
        foreach_batch_exact_dedup(
            s, corpus1, str(tmp_path / "ck1"), text_col="text",
            id_col="doc_id", expected_total=100,
        ).awaitTermination()
    # redeliver b0 through a fresh checkpoint: nothing may change
    re1 = tmp_path / "re1"
    re1.mkdir()
    shutil.copytree(tmp_path / "feed" / "b0", re1 / "b0")
    s = spark.readStream.schema(schema).parquet(str(re1 / "*"))
    foreach_batch_exact_dedup(
        s, corpus1, str(tmp_path / "ck1re"), text_col="text",
        id_col="doc_id", expected_total=100,
    ).awaitTermination()

    stage1 = spark.read.parquet(f"{corpus1}/docs")
    keepers = feed.join(
        exact_dedup_map(feed).select(F.col("keep_id").alias("doc_id")),
        "doc_id", "left_semi",
    )
    assert sorted(r.doc_id for r in stage1.collect()) == sorted(
        r.doc_id for r in keepers.collect()
    )
    # the 3-doc duplicate group {6, 7, 13} keeps only min id 6 — and 13
    # proves the CROSS-BATCH dedup (it arrives in batch 2, its twin in 1)
    assert stage1.count() == 22
    s1_ids = {r.doc_id for r in stage1.collect()}
    assert 6 in s1_ids and 7 not in s1_ids and 13 not in s1_ids

    # stage 2: quantizer pre-fitted once on stage-1 survivors, shared
    corpus2 = str(tmp_path / "c2")
    os.makedirs(corpus2)
    cents = ivf_centroids(
        stage1, n_centroids=4, id_col="doc_id", vec_col="embedding"
    )
    cents.write.parquet(f"{corpus2}/centroids")
    cents = spark.read.parquet(f"{corpus2}/centroids")
    in2 = tmp_path / "in2"
    in2.mkdir()
    for lo, hi, name in ((0, 12, "b0"), (12, 24, "b1")):
        stage1.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(tmp_path / "feed2" / name))
        shutil.copytree(tmp_path / "feed2" / name, in2 / name)
        s = spark.readStream.schema(stage1.schema).parquet(str(in2 / "*"))
        foreach_batch_semantic_dedup(
            s, corpus2, str(tmp_path / "ck2"), id_col="doc_id",
            vec_col="embedding", threshold=0.99,
        ).awaitTermination()

    stage2 = spark.read.parquet(f"{corpus2}/kept")
    batch_sem = semantic_dedup(
        keepers, threshold=0.99, centroids=cents,
        id_col="doc_id", vec_col="embedding",
    )
    s2_ids = sorted(r.doc_id for r in stage2.collect())
    assert s2_ids == sorted(r.doc_id for r in batch_sem.collect())
    # the planted near-dup pair is doc 1 (10,0.2,..) vs doc 6 (10,0.1,..),
    # cos ~0.99995 ≥ 0.99: greedy keeps min id 1, drops 6
    assert 1 in s2_ids and 6 not in s2_ids

    # stage 3: one batch, fresh ledger -> admit == cap_per_stratum_random
    corpus3 = str(tmp_path / "c3")
    in3 = tmp_path / "in3"
    in3.mkdir()
    feed3 = stage2.select("doc_id", "source", "text")
    feed3.coalesce(1).write.parquet(str(in3 / "all"))
    schema3 = "doc_id long, source string, text string"
    for ck in ("ck3", "ck3re"):  # second pass = whole-batch redelivery
        s = spark.readStream.schema(schema3).parquet(str(in3 / "*"))
        foreach_batch_quota(
            s, corpus3, str(tmp_path / ck), cap=5,
            strata_col="source", id_col="doc_id",
        ).awaitTermination()

    stage3 = spark.read.parquet(f"{corpus3}/docs")
    batch_final = cap_per_stratum_random(
        batch_sem, 5, strata_col="source", id_col="doc_id"
    )
    assert sorted(r.doc_id for r in stage3.collect()) == sorted(
        r.doc_id for r in batch_final.collect()
    )
    assert stage3.groupBy("source").count().where("count > 5").count() == 0


def test_exact_dedup_compact_reclaims_null_text_redelivery(spark, tmp_path):
    """r10: compact_exact_corpus makes ST8's documented id-distinct
    compact real. A redelivered NULL-text row re-appends (no content key
    to match on — the documented window); the compact reclaims it, the
    bloom stays a valid superset, and a held claim refuses the compact."""
    import os

    from vectrekker_spark.commit import claim_compact
    from vectrekker_spark.streaming.jobs import (
        compact_exact_corpus,
        foreach_batch_exact_dedup,
    )

    src = tmp_path / "in_ec"
    src.mkdir()
    corpus = str(tmp_path / "corpus_ec")
    SCHEMA = "doc_id long, text string"

    def run(name, rows, ck, in_dir=src):
        # NOTE: each batch gets a FRESH file name — overwriting an
        # existing batch dir in place creates new part files the
        # checkpoint log has never seen, and a later run with the old
        # checkpoint legitimately re-delivers those rows (a fixture
        # artifact this test tripped over, not a product behavior)
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(in_dir / name)
        )
        stream = spark.readStream.schema(SCHEMA).parquet(str(in_dir / "*"))
        foreach_batch_exact_dedup(
            stream, corpus, str(tmp_path / ck), text_col="text",
            id_col="doc_id", expected_total=100,
        ).awaitTermination()

    b1 = [(1, "alpha content"), (2, None), (3, "beta content")]
    run("b1", b1, "ck1")
    assert spark.read.parquet(f"{corpus}/docs").count() == 3

    # redeliver b1 via a fresh checkpoint AND a separate feed dir:
    # content rows drop against their twins; the NULL-text row re-appends
    # (documented at-least-once window)
    re_dir = tmp_path / "in_ec_re"
    re_dir.mkdir()
    run("b1", b1, "ck1re", in_dir=re_dir)
    docs = spark.read.parquet(f"{corpus}/docs")
    assert docs.count() == 4
    assert docs.where("doc_id = 2").count() == 2

    # a held claim refuses the compact loudly
    marker = claim_compact(corpus)
    try:
        with pytest.raises(RuntimeError, match="compact already in progress"):
            compact_exact_corpus(spark, corpus, id_col="doc_id")
    finally:
        os.remove(marker)

    rep = compact_exact_corpus(spark, corpus, id_col="doc_id")
    assert rep == {"docs_removed": 1}
    assert not os.path.exists(marker)  # claim released
    clean = spark.read.parquet(f"{corpus}/docs")
    assert clean.count() == 3 and clean.where("doc_id = 2").count() == 1

    # the untouched bloom stays a valid superset: a NEW batch with one
    # old and one new content still admits exactly the new row
    run("b2", [(4, "alpha content"), (5, "gamma content")], "ck1")
    final = spark.read.parquet(f"{corpus}/docs")
    assert final.count() == 4
    assert final.where("doc_id = 5").count() == 1
    assert final.where("doc_id = 4").count() == 0  # duplicate content dropped

    # idempotent: a second compact on a clean corpus removes nothing
    assert compact_exact_corpus(spark, corpus, id_col="doc_id") == {
        "docs_removed": 0
    }


def test_write_boundary_compact_recheck_all_ingest_jobs(spark, tmp_path, monkeypatch):
    """Advice r10: near-dedup/semantic/exact ingest must re-check the
    compact claim at their WRITE boundary, not only at batch entry — a
    compact claiming mid-batch must fail the micro-batch before any
    append races the stage-then-swap. The wrapper lets the ENTRY check
    pass, then plants the marker, so only a write-boundary re-check can
    refuse; the corpus must stay unwritten."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from vectrekker_spark import commit
    from vectrekker_spark.streaming import jobs

    real_refuse = commit.refuse_if_compacting

    def make_planting_refuse(corpus):
        state = {"calls": 0}

        def planted(path):
            real_refuse(path)
            state["calls"] += 1
            if state["calls"] == 1:  # entry check passed: now claim
                commit.claim_compact(corpus)

        return planted

    SCHEMA = "doc_id long, text string"
    VSCHEMA = "vec_id long, embedding array<double>"
    cases = [
        (
            "near",
            SCHEMA,
            [(1, "alpha beta gamma delta")],
            lambda stream, corpus, ck: jobs.foreach_batch_near_dedup(
                stream, corpus, ck
            ),
        ),
        (
            "exact",
            SCHEMA,
            [(1, "alpha beta gamma delta")],
            lambda stream, corpus, ck: jobs.foreach_batch_exact_dedup(
                stream, corpus, ck
            ),
        ),
        (
            "sem",
            VSCHEMA,
            [(1, [1.0, 0.0])],
            lambda stream, corpus, ck: jobs.foreach_batch_semantic_dedup(
                stream, corpus, ck, id_col="vec_id", vec_col="embedding"
            ),
        ),
        (
            "para",
            SCHEMA,
            [(1, "alpha beta gamma delta")],
            lambda stream, corpus, ck: jobs.foreach_batch_para_dedup(
                stream, corpus, ck
            ),
        ),
        (
            # semantic's null-vector early-return append is a second,
            # separate write site — it must re-check too
            "semnull",
            VSCHEMA,
            [(1, None)],
            lambda stream, corpus, ck: jobs.foreach_batch_semantic_dedup(
                stream, corpus, ck, id_col="vec_id", vec_col="embedding"
            ),
        ),
    ]
    for name, schema, rows, start in cases:
        src = tmp_path / f"in_{name}"
        src.mkdir()
        corpus = str(tmp_path / f"corpus_{name}")
        os.makedirs(corpus)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / "b1")
        )
        monkeypatch.setattr(
            commit, "refuse_if_compacting", make_planting_refuse(corpus)
        )
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        with pytest.raises(StreamingQueryException, match="compact in progress"):
            start(stream, corpus, str(tmp_path / f"ck_{name}")).awaitTermination()
        # nothing was appended under the claim
        for sub in ("docs", "kept"):
            d = os.path.join(corpus, sub)
            assert not commit.parquet_has_data(d), (name, sub)
        # after release + restore, the retried batch lands
        os.remove(os.path.join(corpus, commit.COMPACT_MARKER))
        monkeypatch.setattr(commit, "refuse_if_compacting", real_refuse)
        start(
            stream, corpus, str(tmp_path / f"ck2_{name}")
        ).awaitTermination()
        wrote = any(
            commit.parquet_has_data(os.path.join(corpus, sub))
            for sub in ("docs", "kept")
        )
        assert wrote, name


def test_streaming_url_dedup_against_history(spark, tmp_path):
    """The crawl-ingest gate (r13): URL-level streaming dedup keyed on
    normalized_url — refetches of the same canonical URL drop across
    batches, NULL urls always survive, normalization aliases collapse."""
    from vectrekker_spark.streaming.jobs import foreach_batch_url_dedup

    src = tmp_path / "crawl_in"
    src.mkdir()
    corpus = str(tmp_path / "crawl_corpus")
    ckpt = str(tmp_path / "crawl_ckpt")
    schema = "doc_id long, url string, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        foreach_batch_url_dedup(stream, corpus, ckpt).awaitTermination()

    def kept():
        df = spark.read.parquet(f"{corpus}/docs")
        return sorted(r["doc_id"] for r in df.collect())

    # batch 1: ids 1/2 are the SAME resource after normalization
    # (case + default port + trailing slash); null url survives
    write_batch("b1", [
        (1, "http://example.com/a/", "v1"),
        (2, "HTTP://EXAMPLE.com:80/a", "v1 refetch"),
        (3, "http://example.com/b", "other"),
        (4, None, "no url"),
    ])
    run()
    assert kept() == [1, 3, 4]
    # the persisted docs carry the normalized key column
    row = {
        r["doc_id"]: r["url_key"]
        for r in spark.read.parquet(f"{corpus}/docs").collect()
    }
    assert row[1] == "http://example.com/a" and row[4] is None

    # batch 2: id 5 refetches history url 1 under yet another alias →
    # dropped via the persisted bloom + verification; id 6 novel
    write_batch("b2", [
        (5, "http://example.com:80/a/", "v2 refetch"),
        (6, "https://example.com/a", "DIFFERENT scheme = different url"),
        (7, None, "null again"),
    ])
    run()
    assert kept() == [1, 3, 4, 6, 7]

    # reserved-column guard
    stream = spark.readStream.schema(
        "doc_id long, url string, url_key string"
    ).parquet(str(src / "*"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_key"):
        foreach_batch_url_dedup(stream, corpus, str(tmp_path / "ck2"))


def test_streaming_para_dedup_lifecycle(spark, tmp_path):
    from vectrekker_spark.streaming.jobs import (
        compact_para_corpus,
        foreach_batch_para_dedup,
    )

    banner = "subscribe to our newsletter for weekly updates and offers"
    legal = "all rights reserved by the example media publishing group"
    bodies = [
        f"unique alpha content block number {i} with several words" for i in range(6)
    ]
    src = tmp_path / "incoming_pd"
    src.mkdir()
    corpus = str(tmp_path / "corpus_pd")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    def run(ckpt, glob="*"):
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src / glob)
        )
        foreach_batch_para_dedup(
            stream, corpus, str(tmp_path / ckpt)
        ).awaitTermination()

    def corpus_rows():
        df = spark.read.parquet(f"{corpus}/docs")
        return sorted((r["doc_id"], r["text"]) for r in df.collect())

    # batch 1: within-batch cross-doc dup (banner in docs 1 and 2), a
    # NULL-id row (dropped), a doc that is ONLY the banner (strips to '')
    write_batch("b1", [
        (1, bodies[0] + "\n\n" + banner),
        (2, banner + "\n\n" + bodies[1]),
        (3, banner),
        (None, bodies[2]),
    ])
    run("ck1")
    assert corpus_rows() == [
        (1, bodies[0] + "\n\n" + banner),  # keeper doc untouched
        (2, bodies[1]),
    ]
    n_idx1 = spark.read.parquet(f"{corpus}/para_hashes").count()
    assert n_idx1 >= 3  # banner + bodies[0] + bodies[1]

    # batch 2: history hit (banner again) stripped; legal block repeats
    # within the batch → batch-min keeper survives
    write_batch("b2", [
        (4, banner + "\n\n" + legal + "\n\n" + bodies[3]),
        (5, legal + "\n\n" + bodies[4]),
    ])
    run("ck1")
    assert corpus_rows() == [
        (1, bodies[0] + "\n\n" + banner),
        (2, bodies[1]),
        (4, legal + "\n\n" + bodies[3]),
        (5, bodies[4]),
    ]
    # the index must GROW with batch 2's keepers: the hash append runs
    # over PRE-append file listings (stage-and-move) — Spark's recache of
    # plans reading docs_path otherwise re-runs the id guard against the
    # mutated dir and empties the batch (the para fuzz family's catch)
    assert spark.read.parquet(f"{corpus}/para_hashes").count() > n_idx1

    # redelivery of batch 2 via a fresh checkpoint: the id guard drops
    # every already-ingested doc — nothing changes (and nothing is
    # stripped to '' by its own indexed paragraphs)
    run("ck2", glob="b2")
    assert len(corpus_rows()) == 4

    # crash window: docs written, hashes lost → under-dedup is the
    # documented direction; compact heals the index from docs
    import shutil

    shutil.rmtree(f"{corpus}/para_hashes")
    write_batch("b3", [(6, legal + "\n\n" + bodies[5])])  # legal is a dup...
    run("ck1")
    rows = dict(corpus_rows())
    # ...but the index was torn, so it SURVIVES (under-dedup, never loss)
    assert rows[6] == legal + "\n\n" + bodies[5]
    stats = compact_para_corpus(spark, corpus)
    assert stats["index_hashes"] > 0 and stats["docs_removed"] == 0
    # after the heal, a new dup of the legal block strips again
    write_batch("b4", [(7, legal + "\n\n" + "closing body paragraph words")])
    run("ck1")
    assert dict(corpus_rows())[7] == "closing body paragraph words"

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
