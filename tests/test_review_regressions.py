"""Regression tests for code-review findings: l2 similarity-join semantics,
stale derived rows on re-index, winnowing tiny-doc oracle parity, BLAS join
edge cases."""

from __future__ import annotations

import duckdb
import pytest
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vectrekker_spark.operators.knn import similarity_join, similarity_join_blas
from vectrekker_spark.pipeline import PipelineConfig, run_pipeline


def test_l2_similarity_join_keeps_near_pairs(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity_join(
        df, df, threshold=0.5, metric="l2",
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    ).collect()
    assert {(r["l_id"], r["r_id"]) for r in out} == {(1, 2)}  # near pair, not far ones


def test_similarity_join_cross_dataset_unordered(spark):
    q = spark.createDataFrame([(100, [1.0, 0.0])], "vec_id long, embedding array<double>")
    c = spark.createDataFrame([(5, [1.0, 0.0])], "vec_id long, embedding array<double>")
    out = similarity_join(
        q, c, threshold=0.9, ordered_pairs=False,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    ).collect()
    assert [(r["l_id"], r["r_id"]) for r in out] == [(100, 5)]  # 100<5 is false; kept anyway


def test_blas_join_empty_right_and_string_ids(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    full = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    assert similarity_join_blas(
        full, empty, 0.5,
        left_id="vec_id", left_vec="embedding", right_id="vec_id", right_vec="embedding",
    ).count() == 0

    s = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.01])], "id string, embedding array<double>"
    )
    out = similarity_join_blas(
        s, s, 0.9,
        left_id="id", left_vec="embedding", right_id="id", right_vec="embedding",
    ).collect()
    assert {(r["l_id"], r["r_id"]) for r in out} == {("a", "b")}


def test_reindex_retires_stale_chunks(spark, tmp_path):
    content = tmp_path / "content"
    content.mkdir()
    (content / "long.md").write_text("tok " * 2000)  # 2000 tokens → chunked
    cfg = PipelineConfig(
        content_dir=str(content),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        chunk_size=1000, chunk_overlap=100, max_tokens=500,
    )
    run_pipeline(spark, cfg)
    n_before = spark.read.parquet(cfg.index_path).count()
    assert n_before >= 8  # many chunks

    import os

    st = (content / "long.md").stat()
    (content / "long.md").write_text("tok " * 600)  # shrinks to fewer chunks
    os.utime(content / "long.md", (st.st_atime, st.st_mtime + 2))
    run_pipeline(spark, cfg)
    idx = spark.read.parquet(cfg.index_path)
    n_after = idx.count()
    assert n_after < n_before  # stale chunk ids retired, not left behind
    assert idx.select("doc_path").distinct().count() == 1


def test_doc_growing_past_limit_retires_index_rows(spark, tmp_path):
    content = tmp_path / "content"
    content.mkdir()
    (content / "a.md").write_text("small doc indexed whole")
    cfg = PipelineConfig(
        content_dir=str(content),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        quarantine_path=str(tmp_path / "quar"),
        max_tokens=100,
    )
    run_pipeline(spark, cfg)
    assert spark.read.parquet(cfg.index_path).count() == 1

    import os

    st = (content / "a.md").stat()
    (content / "a.md").write_text("tok " * 200)  # grows past max_tokens
    os.utime(content / "a.md", (st.st_atime, st.st_mtime + 2))
    r = run_pipeline(spark, cfg)
    assert r["quarantined"] == 1
    # the old whole-doc row must be gone, not stale; a fully-emptied index
    # has no data files left, which parquet cannot schema-infer → also OK
    from pyspark.errors import AnalysisException

    try:
        assert spark.read.parquet(cfg.index_path).count() == 0
    except AnalysisException as e:
        assert "UNABLE_TO_INFER_SCHEMA" in str(e)


def test_winnowing_tiny_docs_match_oracle(spark, tmp_path):
    from vectrekker_spark.queries import all_specs

    # 5-7-char docs: fewer k-gram hashes than the window — the truncated
    # window must behave identically in the Spark kernel and the SQL oracle
    texts = ["abcdef", "abcdefg", "abcde", "abcd", "a much longer document here"]
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = tmp_path / "sfX"
    d.mkdir()
    pq.write_table(tbl, d / "documents.parquet")

    spec = all_specs()["d13_winnowing"]
    srows = sorted(tuple(r) for r in spec.spark(spark, str(d)).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    orows = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert srows == orows

    # the full-set LIBRARY form must also hold oracle parity on tiny docs
    from vectrekker_spark.queries.text import D13_FULL_SQL, winnow_fingerprints

    frows = sorted(tuple(r) for r in winnow_fingerprints(spark, str(d)).collect())
    forows = sorted(tuple(r) for r in con.execute(D13_FULL_SQL).fetchall())
    assert frows == forows and len(frows) >= len(srows)


# ---------------------------------------------------- r14s3 streaming pins


def _docs_stream(spark, tmp_path, rows, name):
    """File-source stream of (doc_id, text) rows."""
    import pyarrow as pa
    import pyarrow.parquet as paq

    src = tmp_path / name
    src.mkdir()
    paq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }),
        src / "p0.parquet",
    )
    schema = "doc_id long, text string"
    return spark.readStream.schema(schema).parquet(str(src))


def test_exact_dedup_survives_dataless_docs_dir(spark, tmp_path):
    """A torn FIRST docs append (dir with only _temporary/) must read as
    absent, not wedge every redelivery on schema inference."""
    import os

    from vectrekker_spark.streaming.jobs import foreach_batch_exact_dedup

    corpus = tmp_path / "corpus"
    (corpus / "docs" / "_temporary").mkdir(parents=True)
    stream = _docs_stream(
        spark, tmp_path, [(1, "unique words about the first doc")], "in1"
    )
    foreach_batch_exact_dedup(
        stream, str(corpus), str(tmp_path / "ck1")
    ).awaitTermination()
    assert spark.read.parquet(str(corpus / "docs")).count() == 1


def test_semantic_dedup_survives_dataless_kept_dir(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as paq

    from vectrekker_spark.streaming.jobs import foreach_batch_semantic_dedup

    corpus = tmp_path / "sem"
    (corpus / "kept" / "_temporary").mkdir(parents=True)
    src = tmp_path / "vecin"
    src.mkdir()
    paq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2], pa.int64()),
            "embedding": pa.array(
                [[1.0, 0.0], [0.0, 1.0]], pa.list_(pa.float64())
            ),
        }),
        src / "p0.parquet",
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(str(src))
    foreach_batch_semantic_dedup(
        stream, str(corpus), str(tmp_path / "ck2"), threshold=0.99
    ).awaitTermination()
    kept = spark.read.parquet(str(corpus / "kept"))
    assert kept.count() == 2


def test_exact_dedup_dup_only_batch_commits_bloom_heal(spark, tmp_path):
    """A torn bloom + an all-duplicate batch: the heal must COMMIT even
    though nothing appends, or every later batch re-derives from full
    history (the quota empty-admit rule)."""
    import os
    import shutil

    from vectrekker_spark.streaming.jobs import foreach_batch_exact_dedup

    corpus = tmp_path / "heal"
    text = "these words repeat in every delivery of the batch"
    s1 = _docs_stream(spark, tmp_path, [(1, text)], "hin1")
    foreach_batch_exact_dedup(
        s1, str(corpus), str(tmp_path / "hck1")
    ).awaitTermination()
    shutil.rmtree(corpus / "bloom")  # torn bloom
    s2 = _docs_stream(spark, tmp_path, [(2, text)], "hin2")  # pure dup
    foreach_batch_exact_dedup(
        s2, str(corpus), str(tmp_path / "hck2")
    ).awaitTermination()
    assert (corpus / "bloom").exists()  # heal committed by the dup batch
    assert spark.read.parquet(str(corpus / "docs")).count() == 1


def test_atomic_replace_heals_crashed_swap(spark, tmp_path):
    """heal_swap restores the displaced table after a crash between the
    two renames; the upsert stream sees the accumulated corpus, not an
    empty base."""
    import os

    from vectrekker_spark.commit import atomic_replace, heal_swap

    target = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(target)
    atomic_replace(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        target,
    )
    assert spark.read.parquet(target).count() == 2
    # simulate the crash window: target renamed away, new never moved in
    os.rename(target, str(tmp_path / ".tbl.__swap_old"))
    assert not os.path.exists(target)
    heal_swap(target)
    assert spark.read.parquet(target).count() == 2


def test_run_available_now_column_named_aggregate(spark, tmp_path):
    """A non-aggregating stream with a column whose NAME contains
    'aggregate' must run in append mode (the substring sniff forced
    complete mode and .start() threw)."""
    import pyarrow as pa
    import pyarrow.parquet as paq

    from vectrekker_spark.streaming.jobs import run_available_now

    src = tmp_path / "aggsrc"
    src.mkdir()
    paq.write_table(
        pa.table({"aggregate_value": pa.array([1, 2], pa.int64())}),
        src / "p0.parquet",
    )
    stream = spark.readStream.schema("aggregate_value long").parquet(str(src))
    run_available_now(
        stream, str(tmp_path / "aggck"), "agg_name_probe"
    )
    assert spark.table("agg_name_probe").count() == 2


def test_ivf_centroids_kmeans_ignores_null_vectors(spark):
    from vectrekker_spark.operators.ann import ivf_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(df, n_centroids=2, method="kmeans")
    assert cents.count() == 2


def test_read_events_stream_restores_nanos_conf(spark, sf_dir, tmp_path):
    """On a non-nano corpus the session-wide legacy flag is restored
    after schema inference (it silently changed unrelated reads)."""
    import shutil

    from vectrekker_spark.streaming.jobs import read_events_stream

    d = tmp_path / "evconf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "p0.parquet")
    try:
        before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        before = None
    read_events_stream(spark, str(d))
    try:
        after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        after = None
    assert after == before


# ------------------------------------------------ r14s3 dedup/source pins


def test_csv_reader_selects_by_header_name(spark, tmp_path):
    """Column order in the file must not matter (enforceSchema mapped the
    user schema positionally: 'lang,text' silently swapped the columns)."""
    from pyspark.sql import types as T

    from vectrekker_spark.sources.text_formats import read_csv_docs

    p = tmp_path / "swapped.csv"
    p.write_text('lang,text\nen,"hello words here"\nfr,"bonjour le monde"\n')
    out = read_csv_docs(
        spark, str(p), meta_fields={"lang": T.StringType()}
    ).collect()
    got = {r["lang"]: r["text"] for r in out}
    assert got == {"en": "hello words here", "fr": "bonjour le monde"}
    # a missing wanted column names the actual header
    import pytest

    with pytest.raises(ValueError, match="no column"):
        read_csv_docs(spark, str(p), text_field="body")
    # string ids survive via id_type (LongType hardcode nulled them)
    p2 = tmp_path / "sid.csv"
    p2.write_text('id,text\ndoc-001,"alpha words"\n')
    [row] = read_csv_docs(
        spark, str(p2), id_col="id", id_type=T.StringType()
    ).collect()
    assert row["doc_id"] == "doc-001"


def test_jsonl_string_ids(spark, tmp_path):
    from pyspark.sql import types as T

    from vectrekker_spark.sources.text_formats import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text('{"id": "doc-001", "text": "alpha words"}\n')
    [row] = read_jsonl(
        spark, str(p), id_col="id", id_type=T.StringType()
    ).collect()
    assert row["doc_id"] == "doc-001"


def test_band_hashes_immune_to_replicated_signature_rows(spark):
    """Content-derived ids give exact-duplicate docs the SAME id; their
    doubled signature rows must not change the band key (collect_list
    built 'm0,m0,m1,m1' and the doc never bucketed with its near-dups)."""
    import pytest

    from vectrekker_spark.operators.dedup import band_hashes, minhash_signatures

    df = spark.createDataFrame(
        [(7, "the same exact words repeated in two rows")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(df)
    once = {(r["band"], r["band_hash"]) for r in band_hashes(sig).collect()}
    doubled = {
        (r["band"], r["band_hash"])
        for r in band_hashes(sig.unionByName(sig)).collect()
    }
    assert once == doubled
    with pytest.raises(ValueError, match="bands must be in"):
        band_hashes(sig, bands=32)
    with pytest.raises(ValueError, match="does not divide"):
        band_hashes(sig, bands=5)


def test_provenance_guards_reject_attrless_blooms(spark):
    """A raw bloom_build filter (no provenance attrs) must be REJECTED by
    both consumers — previously both guards short-circuited on empty
    attrs and the dedup/decontamination silently did the wrong thing."""
    import pytest

    from vectrekker_spark.operators.bloom import bloom_build
    from vectrekker_spark.operators.decontaminate import decontaminate_bloom
    from vectrekker_spark.operators.dedup import exact_dedup_against

    hist = spark.createDataFrame(
        [(1, "history words")], "doc_id long, text string"
    )
    raw_bloom = bloom_build(hist, "text")
    new = spark.createDataFrame(
        [(2, "history words")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="provenance"):
        exact_dedup_against(new, hist, history_bloom=raw_bloom)
    with pytest.raises(ValueError, match="provenance|shingle"):
        decontaminate_bloom(new, raw_bloom)


def test_ngram_jaccard_ignores_null_text(spark):
    from vectrekker_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "")],
        "doc_id long, text string",
    )
    pairs = {
        (r["l_id"], r["r_id"])
        for r in ngram_jaccard_pairs(df, max_id=10).collect()
    }
    # NULL docs pair with nothing (previously (1,2) scored jaccard 1.0);
    # empty-TEXT docs still pair (both shingle to [''] — the word_shingles
    # single-shingle rule, unchanged)
    assert pairs == {(3, 4)}


def test_http_payload_gzip_and_chunked():
    import gzip

    from vectrekker_spark.sources.text_formats import _http_payload

    html = "<html><body>compressed page body words</body></html>"
    gz = gzip.compress(html.encode())
    block = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gz
    )
    mime, charset, body = _http_payload(block)
    assert mime == "text/html" and body.decode() == html

    chunked = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    )
    mime, _, body = _http_payload(chunked)
    assert mime == "text/plain" and body == b"hello world"

    # torn gzip: raw bytes kept, never raises
    torn = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz[:10]
    )
    _, _, body = _http_payload(torn)
    assert body == gz[:10]


# ----------------------------------------------- r14s3 text-kernel pins


def test_punct_ratio_unicode_letters_not_punctuation(spark, duck):
    """Non-Latin letters are letters, not punctuation: the ASCII class
    scored clean Russian/CJK text ~0.9 punct and quality thresholds
    rejected whole non-Latin corpora. The q26 oracle mirror moved in
    lockstep (both engines support \\p{L}\\p{N})."""
    from vectrekker_spark.functions.text import punct_ratio

    rows = [(1, "Привет, мир!"), (2, "hello, world!"), (3, "日本語のテキストです。")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["pr"]
        for r in df.select(
            "doc_id", F.round(punct_ratio("text"), 6).alias("pr")
        ).collect()
    }
    assert got[1] < 0.25 and got[2] < 0.25 and got[3] < 0.25
    # mirror parity on the same rows
    for did, text in rows:
        [(want,)] = duck.execute(
            "SELECT ROUND(length(regexp_replace(?, '[\\p{L}\\p{N}\\s]', '', 'g'))::DOUBLE"
            " / length(?), 6)", [text, text]
        ).fetchall()
        assert got[did] == want, (did, got[did], want)


def test_dup_line_fraction_null_is_null(spark):
    from vectrekker_spark.functions.text import dup_line_fraction

    df = spark.createDataFrame(
        [(1, None), (2, "a\na\nb")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", dup_line_fraction("text").alias("f")
        ).collect()
    }
    assert got[1] is None  # was a PERFECT 0.0 via size(NULL) = -1
    assert got[2] == pytest.approx(1 - 2 / 3, abs=1e-6)


def test_sentence_split_handles_crlf(spark):
    from vectrekker_spark.functions.text import sentence_split

    [r] = spark.createDataFrame(
        [("First sentence here.\r\nSecond one too.",)], "text string"
    ).select(sentence_split("text").alias("s")).collect()
    assert len(r["s"]) == 2


def test_pack_sequences_null_token_count_clear_error(spark):
    from vectrekker_spark.operators.packing import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 0, "a", 5), (1, 1, "b", None)],
        "doc_id long, chunk_id int, chunk_text string, n_tokens int",
    )
    with pytest.raises(Exception, match="NULL 'n_tokens'"):
        pack_sequences(chunks, max_tokens=10, tok_col="n_tokens").collect()


def test_chunk_text_quoted_column_name(spark):
    from vectrekker_spark.operators.chunk import chunk_text

    df = spark.createDataFrame(
        [(1, "abcdefgh")], "doc_id long, `my text` string"
    )
    out = chunk_text(df, size=4, overlap=0, text_col="my text")
    assert [r["chunk_text"] for r in out.collect()] == ["abcd", "efgh"]


def test_html_title_empty_after_cleaning_is_null(spark):
    from vectrekker_spark.functions.html import html_title

    rows = [(1, "<title>  </title>x"), (2, "<html>no title</html>"),
            (3, "<title>Real Title</title>")]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", html_title("html").alias("t")).collect()
    }
    assert got[1] is None and got[2] is None and got[3] == "Real Title"


def test_seeded_shuffle_varies_within_bucket(spark):
    """Ids engineered to collide in the primary 1e6-bucket must still
    reorder across seeds (the raw-id tiebreak froze within-bucket order
    for corpora past ~1e6 rows)."""
    from vectrekker_spark.operators.sampling import sample_bucket, seeded_shuffle

    base = spark.createDataFrame(
        [(i,) for i in range(4000)], "doc_id long"
    ).withColumn("b", sample_bucket("doc_id", "epoch1"))
    # pick one primary bucket value with >= 2 members
    from collections import Counter

    rows = base.collect()
    counts = Counter(r["b"] for r in rows)
    bucket_val = next(b for b, c in counts.items() if c >= 2)
    members = [r["doc_id"] for r in rows if r["b"] == bucket_val]
    df = spark.createDataFrame([(i,) for i in members], "doc_id long")
    o1 = [r["doc_id"] for r in seeded_shuffle(df, seed="epoch1").collect()]
    # within one primary bucket the old tiebreak was ascending id for
    # EVERY seed; the second hash must be able to invert at least one pair
    # across seeds (probabilistic but overwhelming across 26 seeds)
    inverted = False
    for s in range(26):
        o2 = [r["doc_id"] for r in seeded_shuffle(df, seed=f"e{s}").collect()]
        if o2 != sorted(o2):
            inverted = True
            break
    assert inverted

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
