"""Text-analysis / dedup / chunking queries over the documents corpus
(SURVEY.md §2.2 L1–L6 + north-star training-data ops: language-ID, quality
scoring, fingerprinting, SimHash, MinHash, n-gram Jaccard, binary-column
fingerprint metadata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectrekker_spark.functions import text as T
from vectrekker_spark.operators.chunk import chunk_text
from vectrekker_spark.operators.dedup import (
    MINHASH_P,
    MINHASH_PERMS,
    exact_dedup_map,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash16,
)
from vectrekker_spark.queries import QuerySpec
from vectrekker_spark.queries.util import ordered, tb, tbp, token_hash_sql, tokens_sql

TOKS = tokens_sql("text")
LTOKS = tokens_sql("lower(text)")


def q25_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup_map(tb(spark, sf, "documents")).orderBy("keep_id")


Q25_SQL = """
SELECT COALESCE(md5(text), '__null__' || doc_id) AS content_md5,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
FROM documents GROUP BY 1 ORDER BY keep_id
"""


def q26_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    from vectrekker_spark.queries.util import small_local, tb1

    # tb1: one small local file → scan, regex counts, agg, and the |langs|-row
    # sort all run in one task, zero exchanges (d12 pattern); at real scale
    # the scan splits and this is the ordinary partial-agg + exchange plan
    d = tb1(spark, sf, "documents")
    per_doc = d.select(
        "lang",
        "n_chars",
        F.length("text").alias("text_len"),
        T.token_count("text").alias("n_tokens"),
        T.avg_word_len("text").alias("awl"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("awl"), 4).alias("avg_word_len"),
        F.sum(F.when(F.col("text_len") == F.col("n_chars"), 1).otherwise(0)).alias(
            "n_chars_consistent"
        ),
    )
    if small_local(sf, "documents"):
        # explicit coalesce: global order must not depend on AQE coalescing
        # the aggregate's hash partitions down to one
        return agg.coalesce(1).sortWithinPartitions("lang")
    return agg.orderBy("lang")


Q26_SQL = f"""
WITH per_doc AS (
  SELECT lang, n_chars, length(text) AS text_len,
         len({TOKS}) AS n_tokens,
         list_aggregate(list_transform({TOKS}, w -> length(w)), 'sum')::DOUBLE
           / len({TOKS}) AS awl
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(awl), 4) AS avg_word_len,
       CAST(SUM(CASE WHEN text_len = n_chars THEN 1 ELSE 0 END) AS BIGINT)
         AS n_chars_consistent
FROM per_doc GROUP BY lang ORDER BY lang
"""


def q27_chunking(spark: SparkSession, sf: str) -> DataFrame:
    from vectrekker_spark.queries.util import small_local, tb1

    # tb1 + serial sort on the one-file fixture (d12 pattern, 0 exchanges);
    # ordered() barrier at real scale
    d = tb1(spark, sf, "documents")
    chunks = chunk_text(d, size=100, overlap=20).select(
        "doc_id",
        "chunk_id",
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5("chunk_text").alias("chunk_md5"),
    )
    if small_local(sf, "documents"):
        # explicit coalesce(1): the global order must not silently depend on
        # chunk_text staying a narrow op over the tb1 single partition
        return chunks.coalesce(1).sortWithinPartitions("doc_id", "chunk_id")
    return ordered(chunks, "doc_id", "chunk_id")


Q27_SQL = """
SELECT doc_id, CAST((s - 1) / 80 AS INT) AS chunk_id,
       length(substr(text, s, 100)) AS chunk_len,
       md5(substr(text, s, 100)) AS chunk_md5
FROM (SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 20, 1), 80)) AS s
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0)
ORDER BY doc_id, chunk_id
"""


def d01_minhash(spark: SparkSession, sf: str) -> DataFrame:
    # parts=8 (r15, the q28/q20 precedent): 32 tasks of ~15 fixture docs
    # were pure task overhead for the per-doc kernel — interleaved A/B
    # 1.14 → 0.96 s (loaded box) / 0.79 → 0.70 s (quiet), byte-equal.
    return ordered(
        minhash_signatures(tbp(spark, sf, "documents", parts=8)), "doc_id", "perm"
    )


_PERM_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS))
_SHINGLES = (
    f"list_distinct(list_transform(generate_series(0, greatest(len({LTOKS}) - 3, 0)), "
    f"i -> array_to_string(({LTOKS})[i+1:i+3], ' ')))"
)
D01_SQL = f"""
WITH perms(perm, a, b) AS (VALUES {_PERM_VALUES}),
sh AS (
  SELECT doc_id,
         list_transform({_SHINGLES}, s -> {token_hash_sql('s')}) AS hs
  FROM documents
  -- null text has no shingles → NO signature rows (the kernel's rule,
  -- matching exact_dedup_map's null-is-not-duplicate-content contract);
  -- without this the cross join would emit NULL-minhash rows per perm
  WHERE text IS NOT NULL)
SELECT sh.doc_id AS doc_id, perms.perm AS perm,
       list_min(list_transform(sh.hs, x -> (perms.a * x + perms.b) % {MINHASH_P}))
         AS minhash
FROM sh CROSS JOIN perms
ORDER BY doc_id, perm
"""


def d02_simhash(spark: SparkSession, sf: str) -> DataFrame:
    # parts=8 (r15): the zero-shuffle kernel is light at fixture scale, so
    # 32-way spread was task overhead — A/B 1.20 → 0.85 s (loaded) /
    # 0.85 → 0.72 s (quiet), byte-equal.
    return simhash16(tbp(spark, sf, "documents", parts=8)).orderBy("doc_id")


D02_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS t FROM documents),
h AS (SELECT doc_id, {token_hash_sql('t')} % 65536 AS h FROM tok WHERE t <> ''),
bits AS (SELECT doc_id, h, unnest(generate_series(0, 15)) AS j FROM h),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN CAST(floor(h / pow(2, j)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM bits GROUP BY doc_id, j)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0 THEN 1 ELSE 0 END
                * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


def d03_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # ordered(): the broadcast-nested-loop join has no exchange below the
    # sort, so a bare orderBy would run the whole O(n²) intersect twice.
    # Registry scale policy (VERDICT r11 #8, the q28 Q28_EXACT_CAP twin):
    # the exact-Jaccard BNLJ baseline is CAPPED BY CONSTRUCTION at
    # max_id=40 — the doc_id < 40 predicate is parquet-prunable, so both
    # the scan and the O(k²) pair work are constant at ANY corpus scale;
    # this row was never n²-in-the-corpus, only n²-in-the-fixed-slice.
    # The unbounded-scale route for shingle-overlap dedup is d01's banded
    # MinHash (operators/dedup.py), already registered.
    return ordered(
        ngram_jaccard_pairs(tb(spark, sf, "documents"), max_id=40), "l_id", "r_id"
    )


_CSH = (
    "list_distinct(list_transform(generate_series(1, greatest(length(lower(text)) - 4, 1)), "
    "i -> substr(lower(text), i, 5)))"
)
D03_SQL = f"""
WITH sh AS (SELECT doc_id, {_CSH} AS sh FROM documents WHERE doc_id < 40),
pairs AS (
  SELECT l.doc_id AS l_id, r.doc_id AS r_id,
         len(list_filter(l.sh, x -> list_contains(r.sh, x))) AS inter,
         len(l.sh) + len(r.sh)
           - len(list_filter(l.sh, x -> list_contains(r.sh, x))) AS uni
  FROM sh l JOIN sh r ON l.doc_id < r.doc_id)
SELECT l_id, r_id, ROUND(inter::DOUBLE / uni, 6) AS jaccard
FROM pairs WHERE ROUND(inter::DOUBLE / uni, 6) >= 0.05
ORDER BY l_id, r_id
"""


def d04_text_scoring(spark: SparkSession, sf: str) -> DataFrame:
    # Language-ID + quality scoring fused into ONE per-doc pass (former
    # d04_lang_id + d05_quality, merged so both stay driver-checked under the
    # 50-query cap — and because a real curation funnel computes them together
    # anyway: one scan, one tokens array, one regexp strip per document).
    # Expensive expressions (tokens array, lowered tokens, punct ratio) are
    # materialized once per row; multi-referenced aliases survive
    # CollapseProject since Catalyst only inlines cheap/singly-used exprs.
    # All metrics are regexp/length expressions (see functions/text.py):
    # the former HOF formulation (filter/transform/aggregate over a split
    # array) was CodegenFallback — interpreted, no subexpression elimination,
    # and the duplicated subtrees made this query ~10× slower than the same
    # math as regexp_count. Hits are aliased once here; pred_lang reads the
    # integer columns in a second projection, so nothing heavy is duplicated.
    # parts=8 (r15): regexp projection is light per fixture doc — A/B
    # 0.64 → 0.58 s, byte-equal.
    d = tbp(spark, sf, "documents", parts=8)
    stats = d.select(
        "doc_id",
        F.length("text").alias("__n"),
        (
            F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", "")).cast("double")
            / F.length("text")
        ).alias("__pr"),
        *[
            T.stopword_hits("text", lang).cast("long").alias(f"{lang}_hits")
            for lang in ("en", "de", "fr", "es")
        ],
        T.token_count("text").cast("long").alias("n_tokens"),
        T.avg_word_len("text").alias("__awl"),
    )
    g = F.greatest("en_hits", "de_hits", "fr_hits", "es_hits")
    pred = (
        F.when(g == 0, F.lit("unknown"))
        .when(F.col("en_hits") == g, F.lit("en"))
        .when(F.col("de_hits") == g, F.lit("de"))
        .when(F.col("fr_hits") == g, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return stats.select(
        "doc_id",
        "en_hits",
        "de_hits",
        "fr_hits",
        "es_hits",
        pred.alias("pred_lang"),
        "n_tokens",
        F.round("__pr", 6).alias("punct_ratio"),
        F.round("__awl", 4).alias("avg_word_len"),
        T.quality_score_parts(
            F.col("__n"), F.col("__pr"), F.col("__awl")
        ).alias("quality"),
    ).transform(lambda d: ordered(d, "doc_id"))


def _sw_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_filter({LTOKS}, w -> list_contains([{words}], w)))"


D04_SQL = f"""
WITH base AS (
  SELECT doc_id,
         {_sw_sql('en')} AS en_hits, {_sw_sql('de')} AS de_hits,
         {_sw_sql('fr')} AS fr_hits, {_sw_sql('es')} AS es_hits,
         len({TOKS}) AS n_tokens,
         length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))::DOUBLE
           / length(text) AS pr,
         list_aggregate(list_transform({TOKS}, w -> length(w)), 'sum')::DOUBLE
           / len({TOKS}) AS awl,
         length(text) AS n
  FROM documents)
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
       CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'unknown'
            WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
            WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
            WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
            ELSE 'es' END AS pred_lang,
       n_tokens, ROUND(pr, 6) AS punct_ratio, ROUND(awl, 4) AS avg_word_len,
       ROUND(((CASE WHEN n >= 50 AND n <= 10000 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 1.0 - pr END)
            + (CASE WHEN awl >= 3.0 AND awl <= 10.0 THEN 1.0 ELSE 0.6 END)) / 3.0, 4)
         AS quality
FROM base ORDER BY doc_id
"""


# d06_fingerprint_meta (content fingerprint + binary-column metadata) was
# merged INTO d12_bpe_tokens — same single-scan per-doc shape; its columns
# (n_bytes, content_md5, norm_fingerprint) ride d12's scan verbatim. The
# freed registry slot went to d25_sample_mixture (C10 assembly surface).


def d11_group_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    # applyInPandas surface: exact per-lang token-count percentiles, via the
    # operator's histogram compression (only distinct (lang, n_tokens) pairs
    # cross the shuffle + Arrow boundary). Plain tb: the regex count in one
    # scan task beats round-robin-exchanging the text column to spread it
    # (0.39 → 0.31 s at sf0.1); at scale the scan splits naturally.
    from vectrekker_spark.operators.grouped import group_percentiles

    d = tb(spark, sf, "documents").select(
        "lang", T.token_count("text").alias("n_tokens")
    )
    # |langs| × 4 output rows: serial final sort (d12 pattern) instead of an
    # ordered() exchange — one fewer stage on a 20-row result.
    return (
        group_percentiles(d, "lang", "n_tokens")
        .coalesce(1)
        .sortWithinPartitions("lang", "q")
    )


_D11_PARTS = "\nUNION ALL\n".join(
    f"SELECT lang, {q} AS q, ROUND(quantile_cont(n_tokens, {q}), 4) AS value "
    f"FROM v GROUP BY lang"
    for q in (0.25, 0.5, 0.75, 0.9)
)
D11_SQL = f"""
WITH v AS (SELECT lang, len({TOKS}) AS n_tokens FROM documents)
{_D11_PARTS}
ORDER BY lang, q
"""


def d12_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    # Per-doc token counts + content fingerprint metadata in ONE pass.
    # Former d06_fingerprint_meta merged here under the driver's 50-row cap
    # (its slot went to d25_sample_mixture): both rows were single-scan
    # per-doc projections over documents, so the fingerprint columns
    # (binary-column plumbing: octet_length over the encoded bytes, content
    # md5, whitespace-normalized fingerprint) ride the same scan as the
    # token counts. Semantics retained column-for-column.
    # r11: former d16_map_fns merged here the same way (its slot went to
    # d27_bloom_decontam) — the map-function surface (create_map,
    # element_at lookups, map_keys/map_values) is another single-scan
    # per-doc projection over documents, so its columns ride this scan
    # verbatim; semantics retained column-for-column.
    from vectrekker_spark.functions.tokenize import bpe_like_token_count
    from vectrekker_spark.queries.util import small_local

    # plain tb either way: at real scale the scan splits naturally, and when
    # the table is one small local file the serial plan below wants the
    # unsplit scan anyway (tbp reduces to tb in the non-small case too)
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    counts = tb(spark, sf, "documents").select(
        "doc_id",
        bpe_like_token_count("text").cast("long").alias("n_bpe_tokens"),
        T.token_count("text").cast("long").alias("n_ws_tokens"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("content_md5"),
        T.fingerprint("text").alias("norm_fingerprint"),
        F.element_at(m, "lang").alias("lang_val"),
        F.element_at(m, "source").alias("source_val"),
        F.concat_ws(",", F.map_keys(m)).alias("keys"),
        F.size(F.map_values(m)).cast("long").alias("n_vals"),
    )
    if small_local(sf, "documents"):
        # Serial plan for a tiny local table (what an adaptive engine picks):
        # one scan task runs both regexp_counts and sorts in-task — zero
        # exchanges, one stage. The distributed branch below is the plan at
        # real scale.
        return counts.coalesce(1).sortWithinPartitions("doc_id")
    # distributed: ordered() barrier so the sort's range sample doesn't
    # re-run the regexp scan chain (no exchange below it otherwise)
    return ordered(counts, "doc_id")


from vectrekker_spark.functions.tokenize import BPE_ISH_PATTERN as _BPE  # noqa: E402

_BPE_SQL = _BPE.replace("'", "''")  # SQL string-literal escaping
D12_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe_tokens,
       len({TOKS}) AS n_ws_tokens,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       md5(regexp_replace(lower(text), '\\s+', '', 'g')) AS norm_fingerprint,
       lang AS lang_val, source AS source_val,
       'lang,source' AS keys, 2::BIGINT AS n_vals
FROM documents ORDER BY doc_id
"""


def _winnow_doc_mins(text, k: int = 5, window: int = 4):
    """Unique winnowing fingerprints for one document (int64 ndarray).

    k-gram positional polynomial (base-31) hash over lowercased codepoints
    → sliding-window-of-`window` minima → distinct. Returns None for docs
    too short to have a k-gram (mirrors the SQL oracle's NULL-hash filter).
    Base-31 powers stay well inside int64 for k ≤ 8 even at the top
    codepoint (0x10FFFF · 31⁷ · 8 ≈ 2.4e17), so Spark/NumPy int64 and
    DuckDB BIGINT agree exactly — no wraparound on either side.
    """
    import numpy as np

    if not text:  # null/empty docs have no k-grams
        return None
    t = text.lower()
    c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(c) < k:
        return None
    h = c[k - 1 :] if k == 1 else sum(
        c[i : len(c) - (k - 1 - i)] * (31 ** (k - 1 - i)) for i in range(k)
    )
    if len(h) < window:
        # fewer hashes than the window: one truncated window — mirrors the
        # SQL's greatest(len(hs)-(w-1), 1) lower bound
        mins = h.min(keepdims=True)
    else:
        mins = np.minimum.reduce([h[i : len(h) - (window - 1 - i)]
                                  for i in range(window)])
    return np.unique(mins)


def winnow_fingerprints(
    spark: SparkSession, sf: str, k: int = 5, window: int = 4
) -> DataFrame:
    # Full winnowing fingerprint set (rolling-hash k-gram window minima — the
    # MOSS document-fingerprinting scheme): 5-gram hashes, window 4, keep each
    # window's min, distinct per doc. This is the LIBRARY form: it returns one
    # row per (doc, fingerprint) — ~690 fingerprints/doc — for downstream
    # joins (plagiarism pairs, containment). Winnowing is a per-doc CPU kernel
    # (positional polynomial hash → sliding minima → distinct), so it runs as
    # a vectorized Arrow kernel: codepoints via utf-32 view, int64 polynomial,
    # stacked minima — no per-char expression work, no 10M-row explode+shuffle.
    # Integer math → bit-identical to the SQL oracle. (A pure window-function
    # formulation — explode + lead + frame-min — also matches the oracle but
    # is ~4× slower; see git history.)
    import pandas as pd

    if k < 1 or window < 1:
        raise ValueError("winnowing requires k >= 1 and window >= 1")

    def winnow(batches):
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                u = _winnow_doc_mins(text, k, window)
                if u is None:
                    continue
                ids.extend([doc_id] * len(u))
                fps.extend(u.tolist())
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    d = tbp(spark, sf, "documents").select("doc_id", "text")
    return ordered(d.mapInPandas(winnow, schema="doc_id long, fingerprint long"),
        "doc_id", "fingerprint"
    )


def d13_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    # REGISTERED (driver-bounded) winnowing shape: one row per doc with the
    # fingerprint-set summary — count, order-independent bit_xor checksum,
    # min, max — instead of the full (doc, fingerprint) set. The full set is
    # winnow_fingerprints() above; at sf10 it is 34.4M rows whose driver
    # materialization (225 s) dwarfs the 5.4 s compute (SCALE.md), so the
    # registry row must not ship it. The per-doc aggregate folds INTO the
    # Arrow kernel (each doc is handled whole within its batch), so the plan
    # stays a zero-shuffle narrow map; the xor/min/max/count quadruple pins
    # the exact fingerprint multiset-as-set per doc against the SQL oracle.
    import pandas as pd

    def winnow_summary(batches):
        import numpy as np

        for pdf in batches:
            ids, ns, xors, mins, maxs = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                u = _winnow_doc_mins(text)
                if u is None:
                    continue
                ids.append(doc_id)
                ns.append(len(u))
                xors.append(np.bitwise_xor.reduce(u))
                mins.append(u[0])   # np.unique returns sorted
                maxs.append(u[-1])
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "n_fps": pd.array(ns, dtype="int64"),
                    "fp_xor": pd.array(xors, dtype="int64"),
                    "fp_min": pd.array(mins, dtype="int64"),
                    "fp_max": pd.array(maxs, dtype="int64"),
                }
            )

    # parts=8 (r15): A/B 0.78 → 0.60 s (loaded) / 0.70 → 0.60 s (quiet),
    # byte-equal — per-task overhead exceeded the rolling-min compute at
    # fixture scale.
    d = tbp(spark, sf, "documents", parts=8).select("doc_id", "text")
    out = d.mapInPandas(
        winnow_summary,
        schema="doc_id long, n_fps long, fp_xor long, fp_min long, fp_max long",
    )
    return ordered(out, "doc_id")


D13_SQL = """
WITH c AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(lower(text))),
                        i -> ascii(substr(lower(text), i, 1))::BIGINT) AS cs
  FROM documents),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(cs) - 4, 1)),
                        i -> cs[i]*923521 + cs[i+1]*29791 + cs[i+2]*961
                           + cs[i+3]*31 + cs[i+4]) AS hs
  FROM c),
m AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
                                      i -> list_min(hs[i:i+3]))) AS fps
  FROM h)
SELECT doc_id,
       count(*)::BIGINT AS n_fps,
       bit_xor(fingerprint) AS fp_xor,
       min(fingerprint) AS fp_min,
       max(fingerprint) AS fp_max
FROM (SELECT doc_id, unnest(fps) AS fingerprint FROM m)
WHERE fingerprint IS NOT NULL
GROUP BY doc_id
ORDER BY doc_id
"""

# Full-set oracle for the winnow_fingerprints LIBRARY op (one row per
# (doc, fingerprint)) — used by tests, not registered (driver-unbounded).
D13_FULL_SQL = D13_SQL[: D13_SQL.index("SELECT doc_id,\n       count(*)")] + """
SELECT doc_id, fingerprint
FROM (SELECT doc_id, unnest(fps) AS fingerprint FROM m)
WHERE fingerprint IS NOT NULL
ORDER BY doc_id, fingerprint
"""


def d14_reshape(spark: SparkSession, sf: str) -> DataFrame:
    # Pivot (long→wide) THEN unpivot (wide→long) in one spec — former
    # d14_pivot + d15_unpivot merged under the 50-query cap. The explicit
    # pivot value list keeps the plan single-pass (Spark otherwise scans once
    # to discover values); na.fill(0) makes absent (user,type) combos explicit
    # zeros, so the melt emits a dense user×type grid the oracle can rebuild.
    from vectrekker_spark.queries.util import tb as _tb

    e = _tb(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return (
        wide.unpivot("user_id", types, "event_type", "n")
        .orderBy("user_id", "event_type")
    )


D14_SQL = """
WITH wide AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
  FROM events GROUP BY user_id)
SELECT user_id, event_type, n FROM (
  SELECT user_id, 'click' AS event_type, click AS n FROM wide
  UNION ALL SELECT user_id, 'error', error FROM wide
  UNION ALL SELECT user_id, 'purchase', purchase FROM wide
  UNION ALL SELECT user_id, 'signup', signup FROM wide
  UNION ALL SELECT user_id, 'view', view FROM wide)
ORDER BY user_id, event_type
"""


def d17_count_min(spark: SparkSession, sf: str) -> DataFrame:
    # The merged Count-Min matrix (operators/sketch.py) as rows — checks the
    # distributed Arrow-kernel build + monoid merge against a pure-SQL
    # reconstruction of the same salted-hash cells.
    import numpy as np
    import pandas as pd

    from vectrekker_spark.operators.sketch import build_sketch

    # parts=8 (r15): fewer partial sketches to build AND merge on the
    # driver — A/B 0.82 → 0.55 s, byte-equal (the merge is an exact
    # integer monoid, order-independent).
    sketch = build_sketch(tbp(spark, sf, "documents", parts=8))
    # Arrow-backed createDataFrame (a tuple-list local relation costs ~10×:
    # per-element Python→JVM conversion vs one Arrow batch)
    ds, cs = np.nonzero(sketch)
    pdf = pd.DataFrame(
        {
            "d": ds.astype(np.int32),
            "cell": cs.astype(np.int64),
            "cnt": sketch[ds, cs].astype(np.int64),
        }
    )
    return spark.createDataFrame(pdf).orderBy("d", "cell")


D17_SQL = """
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents),
cells AS (
  SELECT ds.d AS d,
         ('0x' || substr(md5('cms' || ds.d || ':' || t), 1, 8))::BIGINT % 1024 AS cell
  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS d) ds
  WHERE t <> '')
SELECT d, cell, COUNT(*)::BIGINT AS cnt FROM cells GROUP BY d, cell ORDER BY d, cell
"""


def d23_repetition(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher-style repetition metrics (operators/repetition.py). The fixture
    # corpus is single-line word soup, so word-gram repetition is naturally
    # rich but line duplication must be PLANTED: every 9th doc gets three
    # copies of the same appended line IN BOTH ENGINES, making dup_line_frac
    # observable while staying oracle-checkable.
    from vectrekker_spark.operators.repetition import repetition_report

    # parts=8 (r15): A/B 0.96 → 0.70 s (loaded) / 0.72 → 0.61 s (quiet),
    # byte-equal — the zero-shuffle kernel is per-doc light at this scale.
    d = tbp(spark, sf, "documents", parts=8)
    injected = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.col("text"), F.lit("\nrepeat line alpha" * 3)),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", injected.alias("text"))
    return ordered(repetition_report(base), "doc_id")


_D23_PLANT = "chr(10) || 'repeat line alpha'"
_D23_TOKS = tokens_sql("lower(t)")


def _d23_grams(k: int) -> str:
    return (
        f"list_transform(generate_series(0, len({_D23_TOKS}) - {k}), "
        f"i -> array_to_string(({_D23_TOKS})[i+1:i+{k}], ' '))"
    )


D23_SQL = f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0
              THEN text || {_D23_PLANT} || {_D23_PLANT} || {_D23_PLANT}
              ELSE text END AS t
  FROM documents),
g AS (
  SELECT doc_id, 2 AS k, unnest({_d23_grams(2)}) AS gram FROM inj
  UNION ALL
  SELECT doc_id, 3 AS k, unnest({_d23_grams(3)}) AS gram FROM inj),
c AS (SELECT doc_id, k, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, k, gram),
p AS (SELECT doc_id, k, SUM(cnt) AS total, MAX(cnt) AS top,
             SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup
      FROM c GROUP BY doc_id, k),
w AS (SELECT doc_id,
        MAX(CASE WHEN k = 2 THEN ROUND(top::DOUBLE / total, 6) END)
          AS top2gram_frac,
        MAX(CASE WHEN k = 3 THEN ROUND(dup::DOUBLE / total, 6) END)
          AS dup3gram_frac
      FROM p GROUP BY doc_id)
SELECT i.doc_id,
       ROUND(1.0 - len(list_distinct(str_split(t, chr(10))))::DOUBLE
                   / len(str_split(t, chr(10))), 6) AS dup_line_frac,
       COALESCE(top2gram_frac, 0.0) AS top2gram_frac,
       COALESCE(dup3gram_frac, 0.0) AS dup3gram_frac
FROM inj i LEFT JOIN w USING (doc_id) ORDER BY doc_id
"""


SPECS = [
    QuerySpec("d23_repetition", d23_repetition, D23_SQL, ("text", "curation"),
              "Gopher-style repetition metrics (dup lines, top/dup n-grams)"),
    QuerySpec("q25_exact_dedup", q25_exact_dedup, Q25_SQL, ("text", "dedup"),
              "exact dedup map by content md5"),
    QuerySpec("d17_count_min", d17_count_min, D17_SQL, ("text", "sketch"),
              "Count-Min sketch cells vs SQL reconstruction"),
    QuerySpec("d12_bpe_tokens", d12_bpe_tokens, D12_SQL, ("text", "multimodal"),
              "BPE-ish token counts + content fingerprint metadata "
              "(absorbed d06_fingerprint_meta)"),
    QuerySpec("d13_winnowing", d13_winnowing, D13_SQL, ("text", "dedup"),
              "winnowing fingerprint summary per doc (MOSS scheme; "
              "full set = winnow_fingerprints)"),
    QuerySpec("d14_reshape", d14_reshape, D14_SQL, ("relational",),
              "pivot long→wide then unpivot back (round-trip reshape)"),
    QuerySpec("d11_group_percentiles", d11_group_percentiles, D11_SQL, ("text", "udf"),
              "applyInPandas exact per-group percentiles vs quantile_cont"),
    QuerySpec("q26_text_stats", q26_text_stats, Q26_SQL, ("text",),
              "per-lang doc/char/token stats"),
    QuerySpec("q27_chunking", q27_chunking, Q27_SQL, ("text",),
              "100-char chunks with 20 overlap (fixes reference's 8191-token TODO)"),
    QuerySpec("d01_minhash", d01_minhash, D01_SQL, ("text", "dedup"),
              "16-perm MinHash signatures over word 3-gram shingles"),
    QuerySpec("d02_simhash", d02_simhash, D02_SQL, ("text", "dedup"),
              "16-bit SimHash per document"),
    QuerySpec("d03_ngram_jaccard", d03_ngram_jaccard, D03_SQL, ("text", "dedup"),
              "exact char-5-gram Jaccard pairs (brute-force baseline)"),
    QuerySpec("d04_text_scoring", d04_text_scoring, D04_SQL, ("text",),
              "fused lang-ID + quality scoring, one per-doc pass"),
]
