"""Seeded differential fuzzing of the TEXT / VECTOR kernels (VERDICT r11
#5 — diff_fuzz covers the relational plan space; this harness fuzzes the
hand-built curation kernels against parameterized DuckDB mirrors).

Each trial draws a kernel family + parameters (chunk size/overlap, shingle
k, winnowing k/window, bloom geometry, split salt/weights, vector dim /
threshold / top-k) and optionally a NULL/EMPTY-text injection pattern
(the base documents table has no NULL text, so the generator MANUFACTURES
them via `CASE WHEN doc_id % p = 0 THEN NULL ...` applied identically in
both engines), then runs the Spark kernel (the real DataFrame/Arrow code
path — NOT spark.sql) and the DuckDB mirror SQL, and compares the full
sorted row multisets under diff_fuzz's canonicalization.

Vector families run over a per-seed synthetic embeddings fixture (drawn
dim and row count) written to a temp dir and registered in both engines.

On a failure, a parameter/scope minimizer shrinks the doc-id bound by
bisection and steps parameters toward defaults while the disagreement
persists, then writes the repro (family, params, SQL) to
.fuzz_failures/kernel_seed{S}_q{K}.txt.

Usage:
    PYTHONPATH=/root/repo python scripts/kernel_fuzz.py [--sf DIR]
        [--n 125] [--seed 7] [--keep-going]

The CI pin (tests/test_kernel_fuzz.py) runs a fixed seed at fixture scale
so the generator can't drift silently.

First session's findings (fixed in-product before this landed):
- char_shingles(NULL text) returned [NULL] (one junk NULL shingle per
  null doc) where word_shingles returns [''] — functions/text.py now
  coalesces, rule documented.
"""

from __future__ import annotations

import argparse
import os
import sys
import random
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.diff_fuzz import canon, _row_key  # noqa: E402

# --------------------------------------------------------------------------
# SQL fragment builders (DuckDB dialect), parameterized mirrors of the
# Spark kernels' documented semantics.

TOKS = "string_split_regex(trim({t}), '\\s+')"


def _null_inject_sql(p: int | None, e: int | None) -> str:
    """The manufactured NULL/empty pattern as a SQL expression over
    (doc_id, text) — identical arithmetic on both engines."""
    expr = "text"
    if e:
        expr = f"CASE WHEN doc_id % {e} = 1 THEN '' ELSE {expr} END"
    if p:
        expr = f"CASE WHEN doc_id % {p} = 0 THEN NULL ELSE {expr} END"
    return expr


def word_shingles_sql(texpr: str, k: int) -> str:
    toks = TOKS.format(t=texpr)
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(generate_series(0, len({toks}) - {k}), "
        f"i -> array_to_string(({toks})[i+1:i+{k}], ' '))) "
        f"ELSE [coalesce(array_to_string({toks}, ' '), '')] END"
    )


def char_shingles_sql(texpr: str, k: int) -> str:
    t = f"lower(coalesce({texpr}, ''))"
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(length({t}) - {k - 1}, 1)), "
        f"i -> substr({t}, i, {k})))"
    )


def winnow_sql(texpr: str, k: int, window: int, bound: str) -> str:
    t = f"lower({texpr})"
    poly = " + ".join(
        f"cs[i+{i}]*{31 ** (k - 1 - i)}" if k - 1 - i > 0 else f"cs[i+{i}]"
        for i in range(k)
    )
    return f"""
WITH c AS (
  SELECT doc_id,
         list_transform(generate_series(1, length({t})),
                        i -> ascii(substr({t}, i, 1))::BIGINT) AS cs
  FROM documents WHERE {bound}),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(cs) - {k - 1}, 1)),
                        i -> {poly}) AS hs
  FROM c),
m AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hs) - {window - 1}, 1)),
           i -> list_min(hs[i:i+{window - 1}]))) AS fps
  FROM h)
SELECT doc_id, fingerprint
FROM (SELECT doc_id, unnest(fps) AS fingerprint FROM m)
WHERE fingerprint IS NOT NULL
ORDER BY doc_id, fingerprint
"""


# --------------------------------------------------------------------------
# Kernel families. Each: draw(rng) -> params; spark(spark, sfd, params) ->
# DataFrame; sql(params) -> DuckDB SQL string. `bound`/`inject` params are
# added by the driver.


def _docs(spark, sfd, params):
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sfd}/documents.parquet").select("doc_id", "text")
    if params["bound"] is not None:
        d = d.filter(F.col("doc_id") < params["bound"])
    e, p = params.get("empty_mod"), params.get("null_mod")
    t = F.col("text")
    if e:
        t = F.when(F.col("doc_id") % e == 1, F.lit("")).otherwise(t)
    if p:
        t = F.when(F.col("doc_id") % p == 0, F.lit(None)).otherwise(t)
    return d.select("doc_id", t.alias("text"))


def _bound_sql(params) -> str:
    b = params["bound"]
    return "TRUE" if b is None else f"doc_id < {b}"


def _texpr(params) -> str:
    return _null_inject_sql(params.get("null_mod"), params.get("empty_mod"))


class Chunk:
    name = "chunk"

    @staticmethod
    def draw(rng):
        size = rng.randint(2, 300)
        return {"size": size, "overlap": rng.randint(0, min(size - 1, 80))}

    @staticmethod
    def spark(spark, sfd, params):
        from vectrekker_spark.operators.chunk import chunk_text

        return chunk_text(
            _docs(spark, sfd, params), size=params["size"],
            overlap=params["overlap"],
        )

    @staticmethod
    def sql(params):
        size, ov = params["size"], params["overlap"]
        step = size - ov
        t = _texpr(params)
        return f"""
WITH c AS (SELECT doc_id, {t} AS text FROM documents WHERE {_bound_sql(params)})
SELECT doc_id, u.chunk_id, u.chunk_text FROM (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, (greatest(length(text) - {ov}, 1) - 1) // {step}),
           i -> struct_pack(chunk_id := i::INT,
                            chunk_text := substr(text, 1 + i*{step}, {size})))) AS u
  FROM c WHERE text IS NOT NULL AND length(text) > 0)
"""


class WordShingles:
    name = "word_shingles"

    @staticmethod
    def draw(rng):
        return {"k": rng.randint(1, 6)}

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.text import word_shingles

        return _docs(spark, sfd, params).select(
            "doc_id", F.explode(word_shingles("text", params["k"])).alias("shingle")
        )

    @staticmethod
    def sql(params):
        return (
            f"SELECT doc_id, unnest({word_shingles_sql(_texpr(params), params['k'])})"
            f" AS shingle FROM documents WHERE {_bound_sql(params)}"
        )


class CharShingles:
    name = "char_shingles"

    @staticmethod
    def draw(rng):
        return {"k": rng.randint(2, 8)}

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.text import char_shingles

        return _docs(spark, sfd, params).select(
            "doc_id", F.explode(char_shingles("text", params["k"])).alias("shingle")
        )

    @staticmethod
    def sql(params):
        return (
            f"SELECT doc_id, unnest({char_shingles_sql(_texpr(params), params['k'])})"
            f" AS shingle FROM documents WHERE {_bound_sql(params)}"
        )


class Minhash:
    name = "minhash"

    @staticmethod
    def draw(rng):
        return {"k": rng.randint(1, 5)}

    @staticmethod
    def spark(spark, sfd, params):
        from vectrekker_spark.operators.dedup import minhash_signatures

        return minhash_signatures(
            _docs(spark, sfd, params), shingle_words=params["k"]
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.operators.dedup import MINHASH_P, MINHASH_PERMS

        perm_values = ", ".join(
            f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS)
        )
        t = _texpr(params)
        sh = word_shingles_sql(t, params["k"])
        return f"""
WITH perms(perm, a, b) AS (VALUES {perm_values}),
sh AS (
  SELECT doc_id,
         list_transform({sh},
                        s -> (('0x' || substr(md5(s), 1, 8))::BIGINT)) AS hs
  FROM documents WHERE {_bound_sql(params)} AND {t} IS NOT NULL)
SELECT sh.doc_id AS doc_id, perms.perm AS perm,
       list_min(list_transform(sh.hs, x -> (perms.a * x + perms.b) % {MINHASH_P}))
         AS minhash
FROM sh CROSS JOIN perms
"""


class Simhash:
    # r15: the registered d02 shape moved to a per-document Arrow kernel
    # (operators/dedup.simhash16); this family fuzzes BOTH the kernel and
    # its exploded groupBy twin against one DuckDB mirror. Unlike D02_SQL
    # (which filters t <> '' — a fixture-level equivalence), the mirror
    # here hashes boundary '' tokens exactly like the Spark side, so the
    # NULL/EMPTY injections exercise the real token rules. The one
    # documented residual divergence (U+000B in RE2 \s) cannot arise from
    # the fixture corpus + injections.
    name = "simhash"

    @staticmethod
    def draw(rng):
        return {"impl": rng.choice(["kernel", "exploded"])}

    @staticmethod
    def spark(spark, sfd, params):
        from vectrekker_spark.operators.dedup import (
            simhash16,
            simhash16_exploded,
        )

        fn = simhash16 if params["impl"] == "kernel" else simhash16_exploded
        return fn(_docs(spark, sfd, params))

    @staticmethod
    def sql(params):
        t = _texpr(params)
        toks = TOKS.format(t="text")
        return f"""
WITH d AS (SELECT doc_id, {t} AS text
           FROM documents WHERE {_bound_sql(params)}),
tok AS (
  SELECT doc_id, unnest({toks}) AS tk
  FROM d WHERE text IS NOT NULL AND trim(text) <> ''),
h AS (SELECT doc_id,
             ('0x' || substr(md5(tk), 1, 8))::BIGINT % 65536 AS h
      FROM tok),
votes AS (
  SELECT doc_id, r.j AS j,
         SUM(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN range(16) r(j) GROUP BY doc_id, r.j)
SELECT doc_id,
       SUM(CASE WHEN v > 0 THEN (1::BIGINT << j::INT) ELSE 0 END)::BIGINT
         AS simhash
FROM votes GROUP BY doc_id
"""


class Winnow:
    name = "winnow"

    @staticmethod
    def draw(rng):
        return {"k": rng.randint(2, 8), "window": rng.randint(1, 8)}

    @staticmethod
    def spark(spark, sfd, params):
        from vectrekker_spark.queries.text import winnow_fingerprints

        # winnow_fingerprints reads documents itself; the doc bound and
        # injection ride a temp view? No — it takes sf dir. Re-implement the
        # scoped scan with the same kernel for fuzz flexibility.
        import pandas as pd

        from vectrekker_spark.queries.text import _winnow_doc_mins

        k, w = params["k"], params["window"]

        def winnow(batches):
            for pdf in batches:
                ids, fps = [], []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    u = _winnow_doc_mins(text, k, w)
                    if u is None:
                        continue
                    ids.extend([doc_id] * len(u))
                    fps.extend(u.tolist())
                yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

        d = _docs(spark, sfd, params)
        return d.mapInPandas(winnow, schema="doc_id long, fingerprint long")

    @staticmethod
    def sql(params):
        # NOTE the ASCII caveat: the SQL mirror hashes ascii() codepoints;
        # the testdata text is ASCII so the mirrors agree. (The Spark kernel
        # uses real codepoints — a non-ASCII corpus would need unicode() in
        # the mirror.)
        return winnow_sql(
            _texpr(params), params["k"], params["window"], _bound_sql(params)
        )


class Bloom:
    name = "bloom"

    @staticmethod
    def draw(rng):
        return {
            "m_bits": rng.choice([1 << 12, 1 << 14, 1 << 16]),
            "k": rng.randint(1, 6),
            "mod": rng.choice([5, 10, 20]),
            "max_shared": rng.randint(0, 4),
        }

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.text import word_shingles
        from vectrekker_spark.operators.bloom import bloom_build, shingle_hit_counts

        d = _docs(spark, sfd, params)
        mod = params["mod"]
        bench = d.filter(F.col("doc_id") % mod == 0)
        sh = bench.select(F.explode(word_shingles("text")).alias("__sh"))
        bf = bloom_build(sh, "__sh", m_bits=params["m_bits"], k=params["k"])
        train = d.filter(F.col("doc_id") % mod != 0)
        # r14: probe via the FUSED text→shingle kernel — the path d27 and
        # decontamination now run in production; the staged
        # array_hit_counts form keeps its own bit-parity pins in
        # tests/test_bloom.py (incl. the fused-vs-staged equivalence test)
        hits = shingle_hit_counts(train, "text", bf, id_cols=["doc_id"])
        return hits.select(
            "doc_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits") <= params["max_shared"]).alias("kept"),
        )

    @staticmethod
    def sql(params):
        m, k, mod = params["m_bits"], params["k"], params["mod"]
        ms = params["max_shared"]
        sh = word_shingles_sql(_texpr(params), 3)
        return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS shingles FROM documents WHERE {_bound_sql(params)}),
bench_sh AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % {mod} = 0),
bench_pos AS (
  SELECT DISTINCT (('0x'||substr(md5(s),1,8))::BIGINT
          + r.i * (('0x'||substr(md5(s),9,8))::BIGINT | 1)) % {m} AS pos
  FROM bench_sh CROSS JOIN range({k}) r(i)),
words AS (
  SELECT pos // 64 AS word_idx,
         bit_or(CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1)
                ELSE (1::BIGINT << (pos % 64)::INT) END) AS bits
  FROM bench_pos GROUP BY 1),
train AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % {mod} <> 0),
probe AS (
  SELECT doc_id, s,
         (('0x'||substr(md5(s),1,8))::BIGINT
          + r.i * (('0x'||substr(md5(s),9,8))::BIGINT | 1)) % {m} AS pos
  FROM train CROSS JOIN range({k}) r(i)),
checked AS (
  SELECT doc_id, s,
         min(CASE WHEN w.bits IS NULL THEN 0
                  ELSE (w.bits >> (p.pos % 64)::INT) & 1 END) AS hit
  FROM probe p LEFT JOIN words w ON w.word_idx = p.pos // 64
  GROUP BY doc_id, s)
SELECT doc_id, SUM(hit)::BIGINT AS n_hits, SUM(hit) <= {ms} AS kept
FROM checked GROUP BY doc_id
"""


class Split:
    name = "hash_split"

    @staticmethod
    def draw(rng):
        salt = rng.choice(["v1", "v2", "abc", "2024-q3", "s'alt"])
        w = sorted(rng.sample(range(1, 20), 2))
        weights = {
            "train": w[0] / 20, "val": (w[1] - w[0]) / 20, "test": 1 - w[1] / 20,
        }
        return {"salt": salt, "weights": weights}

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.operators.split import hash_split

        d = _docs(spark, sfd, params).select("doc_id")
        return hash_split(d, "doc_id", weights=params["weights"],
                          salt=params["salt"]).select("doc_id", "split")

    @staticmethod
    def sql(params):
        from vectrekker_spark.operators.split import split_case_sql

        case = split_case_sql("doc_id", weights=params["weights"],
                              salt=params["salt"])
        return (
            f"SELECT doc_id, {case} AS split FROM documents "
            f"WHERE {_bound_sql(params)}"
        )


# --- vector families (synthetic per-seed fixture) --------------------------


class VecMetrics:
    name = "vec_metrics"
    uses_embeddings = True

    @staticmethod
    def draw(rng):
        return {"dim": rng.randint(2, 96)}

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.vector import cosine_sim, dot, l2_dist

        e = spark.read.parquet(f"{sfd}/embeddings.parquet")
        a = e.alias("a")
        b = e.alias("b")
        j = a.join(b, F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        return j.select(
            F.col("a.vec_id").alias("l_id"),
            F.round(cosine_sim("a.embedding", "b.embedding"), 6).alias("cos"),
            F.round(dot("a.embedding", "b.embedding"), 6).alias("dp"),
            F.round(l2_dist("a.embedding", "b.embedding"), 6).alias("l2"),
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.queries.util import cosine_sql, dot_sql, l2_sql

        return f"""
SELECT a.vec_id AS l_id,
       ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos,
       ROUND({dot_sql('a.embedding', 'b.embedding')}, 6) AS dp,
       ROUND({l2_sql('a.embedding', 'b.embedding')}, 6) AS l2
FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
"""


class ThresholdJoin:
    name = "threshold_join"
    uses_embeddings = True

    @staticmethod
    def draw(rng):
        return {"dim": rng.randint(2, 64), "thr": round(rng.uniform(-0.2, 0.9), 2)}

    @staticmethod
    def spark(spark, sfd, params):
        from vectrekker_spark.operators.knn import similarity_join_blas

        e = spark.read.parquet(f"{sfd}/embeddings.parquet")
        return similarity_join_blas(
            e, e, threshold=params["thr"],
            left_id="vec_id", left_vec="embedding",
            right_id="vec_id", right_vec="embedding",
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.queries.util import cosine_sql

        c = cosine_sql("e1.embedding", "e2.embedding")
        return f"""
SELECT e1.vec_id AS l_id, e2.vec_id AS r_id, ROUND({c}, 6) AS score
FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
WHERE ROUND({c}, 6) >= {params['thr']}
"""


class TopK:
    name = "topk_nn"
    uses_embeddings = True

    @staticmethod
    def draw(rng):
        return {
            "dim": rng.randint(2, 64),
            "topk": rng.randint(1, 25),
            "metric": rng.choice(["cosine", "dot", "l2"]),
            "qseed": rng.randint(0, 10**6),
        }

    @staticmethod
    def _query_vec(params):
        import numpy as np

        q = np.random.default_rng(params["qseed"]).standard_normal(params["dim"])
        return [round(float(x), 6) for x in q]

    @staticmethod
    def spark(spark, sfd, params):
        from vectrekker_spark.operators.knn import topk_nn

        e = spark.read.parquet(f"{sfd}/embeddings.parquet")
        return topk_nn(e, TopK._query_vec(params), k=params["topk"],
                       metric=params["metric"])

    @staticmethod
    def sql(params):
        from vectrekker_spark.queries.util import cosine_sql, dot_sql, l2_sql

        qlit = "[" + ", ".join(f"{x}::DOUBLE" for x in TopK._query_vec(params)) + "]"
        fn = {"cosine": cosine_sql, "dot": dot_sql, "l2": l2_sql}[params["metric"]]
        asc = "ASC" if params["metric"] == "l2" else "DESC"
        return f"""
WITH q AS (SELECT {qlit} AS qv),
scored AS (
  SELECT vec_id, ROUND({fn('embedding', 'qv')}, 6) AS score
  FROM embeddings CROSS JOIN q)
SELECT vec_id, score FROM scored
ORDER BY score {asc}, vec_id ASC LIMIT {params['topk']}
"""


class Decontam:
    """The d19 shingle-overlap path with drawn shingle k / bench modulus,
    alternating the PLAIN join and the r13 DEDUP-FIRST composition against
    the one SQL mirror — both implementations must match it (and hence
    each other) under NULL/empty injection."""

    name = "decontam"

    @staticmethod
    def draw(rng):
        return {
            "k": rng.randint(1, 5),
            "mod": rng.choice([3, 5, 10, 20]),
            "impl": rng.choice(["plain", "dedup_first"]),
        }

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.operators.decontaminate import (
            contamination_report,
            contamination_report_dedup_first,
        )

        d = _docs(spark, sfd, params)
        m = params["mod"]
        fn = (
            contamination_report
            if params["impl"] == "plain"
            else contamination_report_dedup_first
        )
        return fn(
            d.filter(F.col("doc_id") % m != 0),
            d.filter(F.col("doc_id") % m == 0),
            k=params["k"],
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.queries.util import token_hash_sql

        k, m = params["k"], params["mod"]
        sh = word_shingles_sql(_texpr(params), k)
        return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_transform({sh}, s -> {token_hash_sql('s')}))
           AS shingle_hash
  FROM documents WHERE {_bound_sql(params)}),
t AS (SELECT doc_id AS train_id, shingle_hash FROM sh WHERE doc_id % {m} <> 0),
b AS (SELECT doc_id AS bench_id, shingle_hash FROM sh WHERE doc_id % {m} = 0)
SELECT train_id,
       COUNT(DISTINCT t.shingle_hash) AS n_shared_shingles,
       COUNT(DISTINCT bench_id) AS n_bench_docs
FROM t JOIN b USING (shingle_hash)
GROUP BY train_id
"""


class ParaDedup:
    """operators/paradedup.duplicate_paragraphs vs a DuckDB window mirror.
    Multi-paragraph documents are BUILT by pairing each doc's text with
    the text of doc_id % mod (the small shared pool makes real cross-doc
    paragraph repeats), joined with a blank line; NULL/empty injection
    rides the standard knobs (concat_ws skips NULLs identically in both
    engines, so a NULL side degrades to a one-paragraph doc)."""

    name = "paradedup"

    @staticmethod
    def draw(rng):
        return {
            "mod": rng.choice([3, 5, 10]),
            "min_chars": rng.choice([5, 10, 20, 40]),
        }

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.operators.paradedup import duplicate_paragraphs

        d = _docs(spark, sfd, params)
        m = params["mod"]
        b = d.select(F.col("doc_id").alias("__bid"), F.col("text").alias("__btext"))
        built = d.join(b, (F.col("doc_id") % m) == F.col("__bid"), "left").select(
            "doc_id", F.concat_ws("\n\n", "text", "__btext").alias("text")
        )
        return duplicate_paragraphs(
            built, min_chars=params["min_chars"]
        ).selectExpr("id AS doc_id", "pos", "para_hash")

    @staticmethod
    def sql(params):
        m, mc = params["mod"], params["min_chars"]
        t = _texpr(params)
        return f"""
WITH src AS (
  SELECT doc_id, {t} AS text FROM documents WHERE {_bound_sql(params)}),
built AS (
  SELECT a.doc_id, concat_ws(chr(10) || chr(10), a.text, b.text) AS text
  FROM src a LEFT JOIN src b ON a.doc_id % {m} = b.doc_id),
base AS (
  SELECT doc_id AS id, regexp_split_to_array(text, '\\n{{2,}}') AS l
  FROM built WHERE doc_id IS NOT NULL AND text IS NOT NULL),
paras AS (
  SELECT id, CAST(u.i - 1 AS BIGINT) AS pos, l[u.i] AS p
  FROM base, UNNEST(generate_series(1, array_length(l))) AS u(i)),
keyed AS (
  SELECT id, pos,
         md5(lower(trim(regexp_replace(p, '\\s+', ' ', 'g')))) AS h,
         length(lower(trim(regexp_replace(p, '\\s+', ' ', 'g')))) AS nlen
  FROM paras),
ranked AS (
  SELECT id, pos, h,
         row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS n_occ
  FROM keyed WHERE nlen >= {mc})
SELECT id AS doc_id, pos, h AS para_hash
FROM ranked WHERE n_occ > 1 AND rn > 1
"""


class SentenceSplit:
    """functions/text.sentence_split vs a DuckDB sentinel-split mirror.
    The synthetic corpus is punctuation-free word soup, so boundaries are
    PLANTED identically in both engines: a drawn stopword is literally
    replaced with '. Word' (literal replace — dialect-identical), giving
    multi-sentence docs; NULL/empty injection rides the standard knobs."""

    name = "sentence_split"

    @staticmethod
    def draw(rng):
        return {"word": rng.choice(["the", "data", "row", "batch"])}

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.text import sentence_split

        w = params["word"]
        d = _docs(spark, sfd, params)
        planted = d.select(
            "doc_id",
            F.regexp_replace(
                F.col("text"), f" {w} ", f". {w.capitalize()} "
            ).alias("text"),
        )
        return planted.select(
            "doc_id",
            F.posexplode(sentence_split("text")).alias("sent_id", "sentence"),
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.functions.text import SENTENCE_BOUNDARY

        w = params["word"]
        pat = SENTENCE_BOUNDARY.replace("'", "''")
        t = _texpr(params)
        return f"""
WITH planted AS (
  SELECT doc_id,
         regexp_replace({t}, ' {w} ', '. {w.capitalize()} ', 'g') AS text
  FROM documents WHERE {_bound_sql(params)}),
arr AS (
  SELECT doc_id,
         string_split(
           regexp_replace(replace(trim(text), chr(31), ''), '{pat}',
                          '\\1' || chr(31) || '\\2', 'g'), chr(31)) AS l
  FROM planted WHERE text IS NOT NULL)
SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_id, l[u.i] AS sentence
FROM arr, UNNEST(generate_series(1, array_length(l))) AS u(i)
"""


class UrlNorm:
    """functions/urls.normalized_url + url_host vs the regex mirror SQL
    (the test_urls mirror, fuzzed): seeded random URLs across schemes /
    casings / ports / paths / queries / fragments, plus hostile
    mutations (no scheme, junk, empty, unicode) — both engines must
    produce identical normalized strings and hosts."""

    name = "url_norm"
    uses_urls = True

    @staticmethod
    def draw(rng):
        return {"n": rng.randint(50, 300)}

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.urls import normalized_url, url_host

        u = spark.read.parquet(f"{sfd}/urls.parquet")
        return u.select(
            "url_id",
            normalized_url("url").alias("norm"),
            url_host("url").alias("host"),
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.queries.util import normalized_url_mirror_sql

        # Spark's url_host is NULL whenever java.net.URI rejects the
        # authority (junk port, double '@'), so the mirror host must be
        # gated on the same validity predicate — not just nullif('').
        return (
            "WITH " + normalized_url_mirror_sql(table="urls")
            + """
SELECT url_id, norm,
  CASE WHEN scheme <> '' AND ok AND host <> '' THEN host END AS host
FROM nurl
"""
        )


class DsirKey:
    """operators/dsir.gumbel_key vs its documented DuckDB mirror
    (gumbel_key_sql) — the deterministic Gumbel-top-k selection key over
    the engine-wide salted-md5 uniform. The weight is a RATIONAL function
    of doc_id ((doc_id % m) / d — exact in both engines), so any mismatch
    isolates to the hash/uniform/log chain itself. Round-6 (the engine's
    comparability contract) absorbs last-ulp libm-vs-Math.log drift."""

    name = "dsir_key"

    @staticmethod
    def draw(rng):
        return {
            "seed": rng.choice(["s0", "v2", "2024-q3", "s'x", "epoch 1"]),
            "m": rng.randint(2, 997),
            "d": rng.choice([2.0, 4.0, 7.0, 16.0]),
        }

    @staticmethod
    def spark(spark, sfd, params):
        from pyspark.sql import functions as F

        from vectrekker_spark.operators.dsir import gumbel_key

        d = _docs(spark, sfd, params).select("doc_id")
        w = (F.col("doc_id") % params["m"]).cast("double") / F.lit(params["d"])
        return d.select(
            "doc_id",
            F.round(gumbel_key(w, F.col("doc_id"), params["seed"]), 6).alias("k"),
        )

    @staticmethod
    def sql(params):
        from vectrekker_spark.operators.dsir import gumbel_key_sql

        w = f"((doc_id % {params['m']})::DOUBLE / {params['d']!r})"
        key = gumbel_key_sql(w, "doc_id", params["seed"])
        return (
            f"SELECT doc_id, ROUND({key}, 6) AS k FROM documents "
            f"WHERE {_bound_sql(params)}"
        )


class LangIdPredict:
    """operators/langid.predict_lang vs a FULL DuckDB reimplementation of
    the scorer from the exported weight table: char n-grams in SQL
    (substr over generate_series), the engine-wide md5-prefix feature
    hash, mean-of-weights + bias, argmax with the sorted-class tie rule.
    Confidences are excluded (softmax summation order differs across
    engines at 1e-15 — lang labels are the decision surface and planted
    languages keep huge margins). Fixture: 3 planted scripts + NULL /
    empty / whitespace / tab-separated / short hostile rows."""

    name = "langid"
    uses_langid = True

    @staticmethod
    def draw(rng):
        return {
            "n": rng.randint(60, 200),
            "nf": rng.choice([1 << 12, 1 << 14]),
            "seed2": rng.randint(0, 10**9),
        }

    @staticmethod
    def spark(spark, sfd, params):
        import random as _random

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as _pq

        from vectrekker_spark.operators.langid import fit_langid, predict_lang

        rng2 = _random.Random(params["seed2"])
        train = [
            (_langid_doc(rng2, lang), lang)
            for lang in ("cyr", "grk", "lat")
            for _ in range(25)
        ]
        model = fit_langid(
            spark.createDataFrame(train, "text string, lang string"),
            n_features=params["nf"], iters=120,
        )
        W, b, classes = model.weights, model.bias, model.classes
        w_rows = [
            (c, int(i), float(W[c, i]))
            for c in range(len(classes))
            for i in np.nonzero(W[c])[0]
        ]
        _pq.write_table(
            pa.table({
                "c": pa.array([r[0] for r in w_rows], pa.int32()),
                "idx": pa.array([r[1] for r in w_rows], pa.int64()),
                "w": pa.array([r[2] for r in w_rows], pa.float64()),
            }),
            os.path.join(sfd, "langid_w.parquet"),
        )
        _pq.write_table(
            pa.table({
                "c": pa.array(range(len(classes)), pa.int32()),
                "lang": pa.array(classes, pa.string()),
                "b": pa.array([float(x) for x in b], pa.float64()),
            }),
            os.path.join(sfd, "langid_b.parquet"),
        )
        docs = spark.read.parquet(f"{sfd}/texts.parquet")
        return predict_lang(docs, model, conf_col=None).select(
            "doc_id", "lang"
        )

    @staticmethod
    def sql(params):
        nf, d = params["nf"], params["dir"]
        return rf"""
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(lower(substr(text, 1, 1000)), '\s+', ' ', 'g')) AS s
  FROM texts WHERE text IS NOT NULL),
g0 AS (
  SELECT doc_id, unnest(list_concat(list_concat(
    list_transform(generate_series(1, len(s)), i -> substr(s, i, 1)),
    list_transform(generate_series(1, len(s) - 1), i -> substr(s, i, 2))),
    list_transform(generate_series(1, len(s) - 2), i -> substr(s, i, 3)))) AS gram
  FROM t),
gc AS (
  SELECT doc_id, (('0x' || substr(md5(gram), 1, 8))::BIGINT) % {nf} AS idx,
         count(*)::DOUBLE AS cnt
  FROM g0 GROUP BY doc_id, idx),
tot AS (SELECT doc_id, sum(cnt) AS total FROM gc GROUP BY doc_id),
wsum AS (
  SELECT gc.doc_id, w.c, sum(w.w * gc.cnt) AS s
  FROM gc JOIN read_parquet('{d}/langid_w.parquet') w USING (idx)
  GROUP BY gc.doc_id, w.c),
z AS (
  SELECT t.doc_id, b.c, b.lang,
         b.b + coalesce(wsum.s, 0) / coalesce(tot.total, 1) AS z
  FROM t
  CROSS JOIN read_parquet('{d}/langid_b.parquet') b
  LEFT JOIN tot ON tot.doc_id = t.doc_id
  LEFT JOIN wsum ON wsum.doc_id = t.doc_id AND wsum.c = b.c),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY z DESC, c ASC) AS rk
  FROM z)
SELECT doc_id, lang FROM r WHERE rk = 1
UNION ALL
SELECT doc_id, NULL AS lang FROM texts WHERE text IS NULL
"""


_LANGID_ALPHA = {"cyr": "абвгдежзик", "grk": "αβγδεζηθικ"}
_LANGID_LAT = ("the and for with that from this have text words data "
               "over under more").split()


def _langid_doc(rng, lang):
    if lang == "lat":
        return " ".join(
            rng.choice(_LANGID_LAT) for _ in range(rng.randint(8, 30))
        )
    a = _LANGID_ALPHA[lang]
    return " ".join(
        "".join(rng.choice(a) for _ in range(rng.randint(2, 6)))
        for _ in range(rng.randint(8, 30))
    )


def _write_langid_texts(dirpath: str, rng, n: int):
    """(doc_id, text): planted 3-script docs + hostile rows (NULL, empty,
    whitespace, tab-separated, 1-2 chars) — ASCII whitespace only (the
    documented \\s mirror boundary; python str.split also splits U+00A0
    etc., which RE2 \\s does not)."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.10:
            t = rng.choice([None, "", "   ", "\t \t", "a", "аб"])
        else:
            lang = rng.choice(["cyr", "grk", "lat"])
            t = _langid_doc(rng, lang)
            if rng.random() < 0.15:
                t = "  " + t.replace(" ", "\t", 2) + " "
        rows.append((i, t))
    _pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        os.path.join(dirpath, "texts.parquet"),
    )


TEXT_FAMILIES = [Chunk, WordShingles, CharShingles, Minhash, Simhash, Winnow, Bloom,
                 Split, Decontam, ParaDedup, SentenceSplit, DsirKey]
VEC_FAMILIES = [VecMetrics, ThresholdJoin, TopK]
URL_FAMILIES = [UrlNorm]
MODEL_FAMILIES = [LangIdPredict]
FAMILIES = TEXT_FAMILIES + VEC_FAMILIES + URL_FAMILIES + MODEL_FAMILIES


# --------------------------------------------------------------------------
# Driver


def _write_embeddings(dirpath: str, rng: random.Random, dim: int, n: int):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(rng.randint(0, 10**9))
    vecs = np.round(g.standard_normal((n, dim)), 6)
    tbl = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "doc_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
    })
    pq.write_table(tbl, os.path.join(dirpath, "embeddings.parquet"))


def _write_urls(dirpath: str, rng: random.Random, n: int):
    """Seeded URL corpus: structured draws across schemes/hosts/ports/
    paths/queries/fragments + hostile rows (no scheme, junk, empty,
    non-ascii, NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemes = ["http", "HTTP", "https", "HtTpS", "ftp", "wss"]
    hosts = ["example.com", "WWW.Example.COM", "a.b.example.co.uk",
             "localhost", "xn--bcher-kva.ch", "h-1.x.org",
             "[::1]", "[2001:DB8::1]", "[::ffff:192.0.2.1]"]
    # userinfo rows caught the r13 numeric-password-as-port bug — keep
    # them dense; all drawn values are java.net.URI-valid so the mirror's
    # positive validity model agrees row-for-row
    userinfos = ["", "", "", "user@", "user:pass@", "u:123@", ":@",
                 "u%40x:p@", "User:P-a.s_s@"]
    ports = ["", ":80", ":443", ":8080", ":1", ":008080", ":080", ":",
             ":99999"]
    paths = ["", "/", "/a", "/a/", "/a/b/c", "/a//b/", "/%7Euser", "/a.b"]
    queries = ["", "?x=1", "?x=1&y=2", "?b=2&a=1", "?empty=", "?q=a%20b"]
    frags = ["", "#f", "#a/b?c=1"]
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.08:
            u = rng.choice([
                None, "", "no scheme at all", "http:/broken", "://x",
                "mailto:a@b.c", "httpx//y", "日本語テキスト", "/relative/path",
                "http://h:0x/x", "http://a@b@c.com/x",
            ])
        else:
            u = (
                rng.choice(schemes) + "://" + rng.choice(userinfos)
                + rng.choice(hosts)
                + rng.choice(ports) + rng.choice(paths)
                + rng.choice(queries) + rng.choice(frags)
            )
        rows.append((i, u))
    pq.write_table(
        pa.table({"url_id": pa.array([r[0] for r in rows], pa.int64()),
                  "url": pa.array([r[1] for r in rows], pa.string())}),
        os.path.join(dirpath, "urls.parquet"),
    )


def run_trial(spark, con, fam, params, sfd):
    sql = fam.sql(params)
    try:
        sdf = fam.spark(spark, sfd, params)
        srows = sorted(
            (tuple(canon(v) for v in r) for r in sdf.collect()), key=_row_key
        )
    except Exception as e:  # noqa: BLE001
        return "SPARK_ERR", None, None, f"{type(e).__name__}: {str(e)[:300]}"
    try:
        orows = sorted(
            (tuple(canon(v) for v in r) for r in con.execute(sql).fetchall()),
            key=_row_key,
        )
    except Exception as e:  # noqa: BLE001
        return "DUCK_ERR", srows, None, f"{type(e).__name__}: {str(e)[:300]}"
    if srows != orows:
        return "MISMATCH", srows, orows, None
    return "OK", srows, orows, None


def minimize(spark, con, fam, params, sfd, status0):
    """Shrink the doc bound by bisection while the disagreement persists
    (text families only — vector/url/langid fixtures are already tiny)."""
    if (
        getattr(fam, "uses_embeddings", False)
        or getattr(fam, "uses_urls", False)
        or getattr(fam, "uses_langid", False)
    ):
        return params
    best = dict(params)
    lo, hi = 1, best["bound"] or 500
    while lo < hi:
        mid = (lo + hi) // 2
        cand = {**best, "bound": mid}
        st, *_ = run_trial(spark, con, fam, cand, sfd)
        if st == status0:
            hi = mid
            best = cand
        else:
            lo = mid + 1
    return best


def fuzz(spark, con, sfd, n, seed, keep_going, out_dir):
    rng = random.Random(seed)
    failures = []
    vec_dir = None
    vec_key = None
    for i in range(n):
        fam = rng.choice(FAMILIES)
        params = fam.draw(rng)
        if getattr(fam, "uses_urls", False):
            url_dir = tempfile.mkdtemp(prefix="kfuzz_url_")
            _write_urls(url_dir, rng, params["n"])
            con.execute(
                "CREATE OR REPLACE VIEW urls AS SELECT * FROM "
                f"read_parquet('{url_dir}/urls.parquet')"
            )
            trial_sfd = url_dir
            params["bound"] = None
        elif getattr(fam, "uses_langid", False):
            lid_dir = tempfile.mkdtemp(prefix="kfuzz_langid_")
            _write_langid_texts(lid_dir, rng, params["n"])
            con.execute(
                "CREATE OR REPLACE VIEW texts AS SELECT * FROM "
                f"read_parquet('{lid_dir}/texts.parquet')"
            )
            trial_sfd = lid_dir
            params["dir"] = lid_dir
            params["bound"] = None
        elif getattr(fam, "uses_embeddings", False):
            key = (params["dim"],)
            if vec_key != key:
                vec_dir = tempfile.mkdtemp(prefix="kfuzz_emb_")
                _write_embeddings(vec_dir, rng, params["dim"], rng.randint(40, 150))
                con.execute(
                    "CREATE OR REPLACE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{vec_dir}/embeddings.parquet')"
                )
                vec_key = key
            trial_sfd = vec_dir
            params["bound"] = None
        else:
            params["bound"] = None
            params["null_mod"] = rng.choice([None, None, 7, 13])
            params["empty_mod"] = rng.choice([None, None, 5, 11])
            trial_sfd = sfd
        st, srows, orows, err = run_trial(spark, con, fam, params, trial_sfd)
        tag = f"{fam.name} {params}"
        if st == "OK":
            print(f"[{i+1}/{n}] OK {tag} rows={len(srows)}")
            continue
        print(f"[{i+1}/{n}] {st} {tag} err={err}")
        small = minimize(spark, con, fam, params, trial_sfd, st)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"kernel_seed{seed}_q{i}.txt")
        with open(path, "w") as f:
            f.write(f"family: {fam.name}\nstatus: {st}\nparams: {small}\n"
                    f"err: {err}\n\nsql:\n{fam.sql(small)}\n")
        failures.append((fam.name, small, st))
        if not keep_going:
            break
    return failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--n", type=int, default=125)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--keep-going", action="store_true")
    args = ap.parse_args()

    import duckdb

    from vectrekker_spark.session import get_spark

    spark = get_spark(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{args.sf}/documents.parquet')"
    )

    print(f"kernel_fuzz: n={args.n} seed={args.seed} sf={args.sf}")
    failures = fuzz(
        spark, con, args.sf, n=args.n, seed=args.seed,
        keep_going=args.keep_going,
        out_dir=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".fuzz_failures",
        ),
    )
    if failures:
        print(f"\n{len(failures)} FAILURES")
        return 1
    print("\nALL OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
