"""Unit tests for the round-4 curation operators: hash split,
decontamination, TF-IDF, PII redaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectrekker_spark.functions.text import redact_pii
from vectrekker_spark.operators.decontaminate import (
    contamination_report,
    decontaminate,
)
from vectrekker_spark.operators.split import hash_split
from vectrekker_spark.operators.tfidf import term_scores


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- hash split -------------------------------------------------------------


def test_split_fractions_and_determinism(spark):
    n = 5000
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["cnt"]
        for r in hash_split(df, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(counts) == {"train", "val", "test"}
    # md5 is uniform; 5000 draws keep each fraction within a loose band
    assert abs(counts["train"] / n - 0.8) < 0.03
    assert abs(counts["val"] / n - 0.1) < 0.02
    assert abs(counts["test"] / n - 0.1) < 0.02
    # deterministic: a second run and a repartitioned run agree row-for-row
    a = sorted(hash_split(df, "doc_id").collect())
    b = sorted(hash_split(df.repartition(7), "doc_id").collect())
    assert a == b


def test_split_salt_resamples_and_partitions_disjoint(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    v1 = dict(hash_split(df, "doc_id", salt="v1").collect())
    v2 = dict(hash_split(df, "doc_id", salt="v2").collect())
    moved = sum(1 for k in v1 if v1[k] != v2[k])
    assert moved > 100  # a new salt is an independent resample
    # every row lands in exactly one split (assignment is total)
    assert all(v in ("train", "val", "test") for v in v1.values())


def test_split_custom_weights_validated(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", weights={"a": 0.5, "b": 0.4})


# --- decontamination --------------------------------------------------------

BENCH_DOC = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
CLEAN_DOC = "one two three four five six seven eight nine ten eleven twelve"


def test_contamination_detects_planted_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "prefix words then alpha beta gamma delta suffix tail here"),
            (2, CLEAN_DOC),
            (3, "unrelated text with zero overlap against anything benchmark"),
        ],
    )
    bench = _docs(spark, [(100, BENCH_DOC)])
    rep = {r["train_id"]: r for r in contamination_report(train, bench).collect()}
    assert 1 in rep  # shares "alpha beta gamma" / "beta gamma delta"
    assert rep[1]["n_shared_shingles"] >= 2
    assert rep[1]["n_bench_docs"] == 1
    assert 2 not in rep and 3 not in rep


def test_dedup_first_report_equals_plain_on_replicated_corpus(spark):
    """The r13 scale policy's exactness claim, tested structurally: on a
    verbatim-replicated corpus (the sf30 worst case) WITH planted NULL and
    empty texts, contamination_report_dedup_first is row-for-row equal to
    the plain join form — dedup-first is a plan change, not a semantics
    change."""
    import random

    from vectrekker_spark.operators.decontaminate import (
        contamination_report_dedup_first,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    base = [
        " ".join(rng.choices(vocab, k=rng.randint(0, 12))) for _ in range(12)
    ] + [None, "", BENCH_DOC, "alpha beta gamma delta tail"]
    # replicate every text 5x under distinct ids; odd ids → train side
    rows = [
        (i * 100 + r, t) for i, t in enumerate(base) for r in range(5)
    ]
    df = _docs(spark, rows)
    train = df.filter(F.col("doc_id") % 2 == 1)
    bench = df.filter(F.col("doc_id") % 2 == 0).withColumnRenamed(
        "doc_id", "bid"
    ).withColumnRenamed("bid", "doc_id")
    plain = sorted(map(tuple, contamination_report(train, bench).collect()))
    fast = sorted(
        map(tuple, contamination_report_dedup_first(train, bench).collect())
    )
    assert plain == fast and len(plain) > 0
    # bench replicas must be counted per-REPLICA, not per distinct text
    n_bench = {t[0]: t[2] for t in fast}
    assert max(n_bench.values()) >= 2


def test_decontaminate_drops_only_contaminated(spark):
    train = _docs(
        spark,
        [
            (1, "zzz alpha beta gamma delta zzz pad pad pad pad pad pad"),
            (2, CLEAN_DOC),
        ],
    )
    bench = _docs(spark, [(100, BENCH_DOC)])
    kept = [r["doc_id"] for r in decontaminate(train, bench).collect()]
    assert kept == [2]


# --- TF-IDF -----------------------------------------------------------------


def test_tfidf_rare_term_outranks_common(spark):
    docs = _docs(
        spark,
        [
            (1, "common common common rare"),
            (2, "common common"),
            (3, "common other"),
        ],
    )
    scores = {r["term"]: r for r in term_scores(docs).collect()}
    assert scores["common"]["df"] == 3 and scores["common"]["total_tf"] == 6
    assert scores["rare"]["df"] == 1
    # idf damping: rare (df=1) gets sqrt(3)≈1.732 weight, common gets 1.0
    assert scores["rare"]["tfidf"] == pytest.approx(3**0.5, abs=1e-6)
    assert scores["common"]["tfidf"] == pytest.approx(6.0, abs=1e-6)
    # min_df filter drops singletons
    filtered = {r["term"] for r in term_scores(docs, min_df=2).collect()}
    assert "rare" not in filtered and "common" in filtered


# --- PII redaction ----------------------------------------------------------


def test_redact_pii_emails_and_phones(spark):
    df = _docs(
        spark,
        [
            (1, "reach me at jane.doe+x@sub.example.org or +44 20 7946 0958 ok"),
            (2, "no pii here at all just words"),
        ],
    )
    out = {
        r["doc_id"]: r["red"]
        for r in df.select("doc_id", redact_pii("text").alias("red")).collect()
    }
    assert out[1] == "reach me at <EMAIL> or <PHONE> ok"
    assert out[2] == "no pii here at all just words"


# --- BM25 relevance ---------------------------------------------------------


def test_bm25_matches_first_principles_oracle(spark):
    """bm25_scores vs the textbook Okapi formula computed independently in
    plain Python (in-test oracle — the driver registry is at its 50-query
    cap)."""
    import math

    import pytest

    from vectrekker_spark.operators.tfidf import bm25_scores

    rows = [
        (0, "spark engines scale spark"),
        (1, "ducks swim in ponds"),
        (2, "spark clusters and spark executors run spark"),
        (3, "entirely unrelated text here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(docs, "spark executors").collect()
    }

    texts = {i: t.lower().split() for i, t in rows}
    dls = {i: len(ts) for i, ts in texts.items()}
    avgdl = sum(dls.values()) / len(dls)
    n = len(rows)
    expected = {}
    for i, ts in texts.items():
        s = 0.0
        for term in ("spark", "executors"):
            tf = ts.count(term)
            if tf == 0:
                continue
            df = sum(1 for ts2 in texts.values() if term in ts2)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dls[i] / avgdl))
        expected[i] = round(s, 6)
    assert set(got) == set(expected)
    for i in expected:
        assert got[i] == pytest.approx(expected[i], abs=1e-6), i
    # relevance ordering: the spark-heavy doc wins; unrelated docs score 0
    assert got[2] > got[0] > 0.0
    assert got[1] == 0.0 and got[3] == 0.0


def test_bm25_null_text_does_not_poison_stats(spark):
    """A NULL text row must score 0.0 and stay OUT of the corpus stats —
    size(null) = -1 corrupting avgdl was a review-caught bug."""
    import math

    import pytest

    from vectrekker_spark.operators.tfidf import bm25_scores

    docs = spark.createDataFrame(
        [(0, "spark spark rules"), (1, None), (2, "spark")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bm25_scores(docs, "spark").collect()}
    assert got[1] == 0.0
    # oracle over the two REAL docs only: N=2, avgdl=2
    n, avgdl = 2, 2.0
    df = 2
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    for i, (tf, dl) in {0: (2, 3), 2: (1, 1)}.items():
        exp = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        assert got[i] == pytest.approx(round(exp, 6), abs=1e-6), i


def test_bm25_zero_hit_docs_fail_strict_gate(spark):
    """The curate gate is strict >, so min_relevance=0.0 means 'at least one
    query-term hit' rather than a silent keep-everything no-op."""
    from vectrekker_spark.curation import CurationConfig, curate

    docs = spark.createDataFrame(
        [(0, "spark executors", "en"), (1, "gardening tulips", "en")],
        "doc_id long, text string, lang string",
    )
    cfg = CurationConfig(
        min_quality=0.0, near_dup_threshold=0.99, embed=False,
        relevance_query="spark",  # min_relevance left at the 0.0 default
    )
    res = curate(docs, cfg)
    kept = {r["doc_id"] for r in res.chunks.select("doc_id").distinct().collect()}
    res.unpersist()
    assert kept == {0}


def test_keep_content_lines_duckdb_parity(spark):
    """C19 boilerplate strip: the Spark HOF expression and its DuckDB
    mirror (list_filter + regexp_matches) must agree byte-for-byte on
    adversarial fixtures — nav chrome, symbol bars, number runs, empty
    lines, NULL/empty docs, all-boilerplate docs."""
    import duckdb

    from vectrekker_spark.functions.text import (
        boilerplate_fraction,
        keep_content_lines,
    )

    rows = [
        (1, "Home\nAbout Us\nThis is a real paragraph with enough words "
            "to keep.\n» Log in\nAnother good sentence follows here, with "
            "content.\n12345 67890\n\nCopyright 2024"),
        (2, None),
        (3, ""),
        (4, "only-nav\nmenu"),
        (5, "word word word\n!!! ??? ***\nABC def GHI jkl"),
        (6, "   \n\t\nthe spaced out content line stays here\n|||"),
        # non-Latin scripts are CONTENT (r10 review finding: an ASCII
        # letter class stripped every Cyrillic/CJK doc to '')
        (7, "Это хорошая статья о науке\n»\nMenu"),
        # tab-separated words are words (the engine-wide \\s+ rule)
        (8, "foo\tbar\tbaz all tab separated content"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.cleaned, r.bp)
        for r in df.select(
            "doc_id",
            keep_content_lines("text").alias("cleaned"),
            boilerplate_fraction("text").alias("bp"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    for d, t in rows:
        con.execute("INSERT INTO t VALUES (?, ?)", [d, t])
    keep = (
        "list_filter(string_split(text, chr(10)), l -> "
        "len(list_filter(string_split_regex(trim(l), '\\s+'), "
        "w -> regexp_matches(w, '\\p{L}'))) >= 3 "
        "AND length(regexp_replace(l, '[^\\p{L}]', '', 'g')) * 1.0 "
        "/ greatest(length(l), 1) >= 0.5)"
    )
    want = {
        d: (c, bp)
        for d, c, bp in con.execute(
            f"""
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE coalesce(list_aggregate({keep}, 'string_agg',
                                                     chr(10)), '') END,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE round(1.0 - len({keep}) * 1.0 /
                             greatest(len(string_split(text, chr(10))), 1), 6)
                   END
            FROM t
            """
        ).fetchall()
    }
    assert got == want
    # semantic spot checks, independent of the mirrored SQL
    assert "Home" not in got[1][0] and "real paragraph" in got[1][0]
    assert got[2] == (None, None)
    assert got[4][0] == "" and got[4][1] == 1.0
    assert got[5][0] == "word word word\nABC def GHI jkl"
    assert got[7][0] == "Это хорошая статья о науке"  # Unicode letters count
    assert got[8][0].startswith("foo\tbar")  # tabs separate words


def test_boilerplate_knobs_out_of_range_raise(spark):
    # an alpha outside [0, 1] would blank every document and a negative
    # min_words would keep the nav chrome: both helpers refuse them
    from vectrekker_spark.functions.text import (
        boilerplate_fraction,
        keep_content_lines,
    )

    with pytest.raises(ValueError, match="min_alpha"):
        keep_content_lines("text", min_alpha=1.5)
    with pytest.raises(ValueError, match="min_words"):
        boilerplate_fraction("text", min_words=-1)


def test_curate_boilerplate_stage(spark):
    """The opt-in stage runs FIRST (cleaned text feeds exact dedup: two
    docs identical after stripping collapse), drops now-empty docs,
    passes NULL text through, and records after_boilerplate."""
    from vectrekker_spark.curation import CurationConfig, curate

    docs = spark.createDataFrame(
        [
            (1, "Home\nthe shared content body of this fine document", "en", "a"),
            (2, "Log in\nthe shared content body of this fine document", "en", "a"),
            (3, "Menu\nNav\n»", "en", "a"),  # strips to '' -> dropped
            (4, None, "en", "a"),  # NULL passes the stage
            (5, "an entirely different content body for document five", "en", "a"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    cfg = CurationConfig(
        min_quality=0.0, near_dup_threshold=1.01, chunk_size=64,
        chunk_overlap=8, embed=False, strip_boilerplate_min_words=3,
    )
    res = curate(docs, cfg)
    try:
        assert res.funnel["input"] == 5
        assert res.funnel["after_boilerplate"] == 4  # doc 3 gone
        # docs 1 and 2 are byte-identical after the strip -> exact dedup
        # collapses them (min id 1 survives)
        assert res.funnel["after_exact_dedup"] == 3
    finally:
        res.unpersist()

    with pytest.raises(ValueError, match="strip_boilerplate_min_words"):
        curate(docs, CurationConfig(strip_boilerplate_min_words=-1))
    with pytest.raises(ValueError, match="boilerplate_min_alpha"):
        curate(
            docs,
            CurationConfig(
                strip_boilerplate_min_words=3, boilerplate_min_alpha=1.5
            ),
        )


def test_bm25_pivot_bit_identical_to_stable_sum(spark):
    """bm25_scores_pivot (the r14 pivoted d24 plan) must be BIT-identical to
    bm25_scores(stable_sum=True) — same term-sorted IEEE fold, absent terms
    folding an exact +0.0 — across NULL text, empty text, zero-hit docs,
    multi-hit docs, and repeated terms."""
    from vectrekker_spark.operators.tfidf import bm25_scores, bm25_scores_pivot

    rows = [
        (0, "data vector merge scan data data"),
        (1, None),
        (2, ""),
        (3, "nothing relevant here at all"),
        (4, "vector vector vector"),
        (5, "  scan \t merge\ndata  "),
        (6, "x " * 500 + "data"),
        (7, "merge"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["vector", "merge", "scan", "data"]
    a = (
        bm25_scores(docs, terms, stable_sum=True, cache_intermediate=False)
        .orderBy("doc_id")
        .collect()
    )
    b = bm25_scores_pivot(docs, terms).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    # scores are meaningful: multi-hit doc outranks single-hit, nulls 0.0
    by_id = {r["doc_id"]: r["score"] for r in b}
    assert by_id[0] > by_id[7] > 0.0
    assert by_id[1] == 0.0 and by_id[2] == 0.0 and by_id[3] == 0.0


def test_bm25_pivot_plan_has_no_explode_or_object_agg(spark):
    """The pivoted plan's point: no Generate (explode), no
    ObjectHashAggregate (collect_list+sort), single broadcast of the
    one-row stats aggregate."""
    from vectrekker_spark.operators.tfidf import bm25_scores_pivot
    from vectrekker_spark.plans import formatted_plan

    docs = spark.createDataFrame(
        [(0, "data vector"), (1, "scan")], "doc_id long, text string"
    )
    plan = formatted_plan(bm25_scores_pivot(docs, ["vector", "merge", "scan", "data"]))
    assert "Generate" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "BroadcastExchange" in plan
