"""Vector / embedding queries Q20–Q24, Q28 (SURVEY.md §2.2 V1–V6, L6, UDF).

This is the reference's core semantic surface: deterministic embedding
(reference embeds via external API, `vectrekker/main.py:180-183`; tests use
the seeded hashing-trick embedder per SURVEY.md §5.3), vector metrics, and
top-k cosine search (the query the Pinecone index exists for,
`vectrekker/main.py:23,162-167`).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectrekker_spark.functions.vector import dot, l2_dist, norm, sumsq_sql
from vectrekker_spark.operators.knn import knn_join, similarity_join_blas
from vectrekker_spark.queries import QuerySpec
from vectrekker_spark.queries.util import (
    cosine_sql,
    ordered,
    tbp,
    dot_sql,
    normsq_sql,
    tb,
)

HASH_EMBED_DIM = 64

# token → (md5-prefix-32bit, ±1 sign), shared across Arrow batches within a
# Python worker process (Spark reuses workers). Document vocab is zipfian, so
# after the first batches nearly every unique token is a hit and the md5 loop
# all but disappears. Keyed on the raw 32-bit hash (dim-independent); the
# bucket (h % dim) is derived vectorized at use. Bounded so a pathological
# all-unique-token corpus can't grow it without limit.
_TOKEN_CACHE: dict[str, tuple[int, float]] = {}
_TOKEN_CACHE_MAX = 1 << 20


def _hash_tokens(uniq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(32-bit md5-prefix, sign) per unique token, memoized across batches.
    digest[:4] big-endian ≡ int(hexdigest[:8], 16); digest[4] >> 4 ≡ the 9th
    hex digit — same values as the hexdigest form, without building hex
    strings."""
    h32 = np.empty(len(uniq), dtype=np.int64)
    signs = np.empty(len(uniq), dtype=np.float64)
    cache = _TOKEN_CACHE
    for i, tok in enumerate(uniq):
        hit = cache.get(tok)
        if hit is None:
            d = hashlib.md5(tok.encode("utf-8")).digest()
            hit = (
                int.from_bytes(d[:4], "big"),
                1.0 if (d[4] >> 4) % 2 == 0 else -1.0,
            )
            if len(cache) < _TOKEN_CACHE_MAX:
                cache[tok] = hit
        h32[i], signs[i] = hit
    return h32, signs


def hash_embed_batch(texts: pd.Series, dim: int = HASH_EMBED_DIM) -> pd.Series:
    """Seeded hashing-trick embedder (SURVEY.md §5.3): token → md5-prefix
    bucket, ±1 by the 9th hex digit, L2-normalized. Deterministic and
    reproducible in SQL, unlike the reference's API embedder.

    Vectorized: md5 runs once per UNIQUE token per worker process (np.unique
    within the batch + the cross-batch _TOKEN_CACHE), the per-doc
    accumulation is a single np.bincount over (doc, bucket) flat indices.
    Bucket weights are sums of ±1 — exact integers in float64 — so
    accumulation order cannot change the result vs the per-token loop form.
    """
    # None → no tokens → zero vector (dropped by q20's != 0 filter, matching
    # the oracle's WHERE t <> '' which emits nothing for null text).
    # java_words: ASCII \S+ runs ≡ the oracle's string_split_regex +
    # t <> '' — NOT str.split()'s Unicode whitespace (functions/pytokens)
    from vectrekker_spark.functions.pytokens import java_words

    tok_lists = [java_words(t or "") for t in texts]
    n_docs = len(tok_lists)
    counts = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64, count=n_docs)
    M = np.zeros((n_docs, dim), dtype=np.float64)
    if counts.sum() > 0:
        flat = np.concatenate(
            [np.asarray(tl, dtype=object) for tl in tok_lists if tl]
        )
        doc_idx = np.repeat(np.arange(n_docs), counts)
        # factorize = hash-based dedup: O(n) vs np.unique's O(n log n)
        # comparison sort over Python strings
        inv, uniq = pd.factorize(flat)
        h32, signs = _hash_tokens(uniq)
        buckets = h32 % dim
        flat_idx = doc_idx * dim + buckets[inv]
        M = np.bincount(
            flat_idx, weights=signs[inv], minlength=n_docs * dim
        ).reshape(n_docs, dim)
        nrm = np.sqrt((M * M).sum(axis=1))
        nz = nrm > 0
        M[nz] /= nrm[nz, None]
    return pd.Series(M.tolist())


# One UDF object shared across query builds: each fresh pandas_udf is a new
# UDF id whose pickled command must be re-shipped to every Python worker
# (~0.3s/query on 32 workers); a shared object is shipped once per worker.
# Lazy: pandas_udf parses the return-type DDL via the active SparkContext,
# so it cannot be built at import time.
_EMBED_UDF = None


def _embed_udf():
    global _EMBED_UDF
    if _EMBED_UDF is None:
        _EMBED_UDF = F.pandas_udf(lambda s: hash_embed_batch(s), "array<double>")
    return _EMBED_UDF


def q20_hash_embed_udf(spark: SparkSession, sf: str) -> DataFrame:
    # parts=4: the embed kernel is memoized/vectorized (light per row), so
    # 32-way task overhead would exceed the compute being spread.
    docs = tbp(spark, sf, "documents", parts=4)
    exploded = (
        docs.select("doc_id", F.posexplode(_embed_udf()(F.col("text"))))
        .filter(F.col("col") != 0.0)
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("bucket"),
            F.round("col", 6).alias("weight"),
        )
    )
    # ordered(): barrier before the global sort so the range-partitioner
    # sample doesn't re-run the UDF chain (see util.ordered)
    return ordered(exploded, "doc_id", "bucket", parts=4)


Q20_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
         CASE WHEN ('0x' || substr(md5(t), 9, 1))::BIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sign
  FROM tok WHERE t <> ''
), w AS (
  SELECT doc_id, bucket, SUM(sign) AS wt FROM h GROUP BY doc_id, bucket
), n AS (
  SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM w GROUP BY doc_id
)
SELECT w.doc_id AS doc_id, w.bucket AS bucket, ROUND(w.wt / n.nrm, 6) AS weight
FROM w JOIN n ON w.doc_id = n.doc_id
WHERE w.wt <> 0
ORDER BY doc_id, bucket
"""


def q21_vector_metrics(spark: SparkSession, sf: str) -> DataFrame:
    # Pairwise metrics + per-vector norms in ONE spec (former q21_pair_metrics
    # + q24_norms, merged under the 50-query cap): left join each vector to
    # its successor — cos/dot/L2 on the pair (NULL for the last vec_id, which
    # also exercises outer-join null handling over array columns), plus dim
    # check, L2 norm, and first normalized component per vector.
    # Shared-subexpression formulation: ONE interpreted array pass per pair
    # (the dot) + one sumsq per side, then cos and l2 derived algebraically
    # (cos = d/(√n1·√n2); ‖a-b‖² = n1+n2-2d). The naive form wrote ~5
    # aggregate()/zip_with exprs per pair; runtime subexpression elimination
    # already deduped most of that (wall time at sf0.1 is stage-overhead
    # bound and unchanged), but this form walks each array exactly once per
    # pair BY CONSTRUCTION — what matters at 1536 dims × corpus scale, and
    # robust to optimizer rewrites that break subtree identity. The oracle
    # mirrors the identical scalar arithmetic so parity is bit-exact.
    from vectrekker_spark.queries.util import small_local, tb1

    # tb1 + explicit broadcast of the successor side on the one-file local
    # fixture: the left-join runs inside the single scan task and the final
    # sort is serial — zero data-shuffling exchanges (0.70→~0.3 s at sf0.1).
    # At real scale the table is multi-split, the gate is off, and the
    # successor join is the ordinary spread + Catalyst-chosen strategy (the
    # whole table is the "dim" here, so no explicit broadcast hint: past the
    # threshold that would be a fact broadcast).
    serial = small_local(sf, "embeddings")
    em = tb1(spark, sf, "embeddings") if serial else tbp(spark, sf, "embeddings")
    nsq = lambda c: F.expr(sumsq_sql(c))  # noqa: E731 - sum of squares, in-order
    base = em.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        nsq("embedding").alias("__n1sq"),
        F.element_at("embedding", 1).cast("double").alias("__e0"),
        F.col("embedding").alias("a"),
    )
    nxt = em.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("b"),
        nsq("embedding").alias("__n2sq"),
    )
    paired = base.join(F.broadcast(nxt) if serial else nxt, "vec_id", "left").select(
        "vec_id", "dim", "__n1sq", "__n2sq", "__e0", dot("a", "b").alias("__d")
    )
    l2_from_parts = F.when(
        F.col("__d").isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.sqrt(
            F.greatest(
                F.col("__n1sq") + F.col("__n2sq") - 2.0 * F.col("__d"), F.lit(0.0)
            )
        )
    )
    return (
        paired.select(
            "vec_id",
            "dim",
            F.round(F.sqrt("__n1sq"), 6).alias("l2_norm"),
            F.round(F.col("__e0") / F.sqrt("__n1sq"), 6).alias("unit0"),
            F.round(
                F.col("__d") / (F.sqrt("__n1sq") * F.sqrt("__n2sq")), 6
            ).alias("cos_sim"),
            F.round("__d", 6).alias("dot_prod"),
            F.round(l2_from_parts, 6).alias("l2_distance"),
        )
        .transform(
            # explicit coalesce(1): pin the serial branch's single-partition
            # invariant instead of relying on the broadcast left-join
            # preserving the tb1 partitioning implicitly
            lambda d: d.coalesce(1).sortWithinPartitions("vec_id")
            if serial
            else ordered(d, "vec_id")
        )
    )


Q21_SQL = f"""
SELECT vec_id, dim,
       ROUND(sqrt(n1sq), 6) AS l2_norm,
       ROUND(e0 / sqrt(n1sq), 6) AS unit0,
       ROUND(d / (sqrt(n1sq) * sqrt(n2sq)), 6) AS cos_sim,
       ROUND(d, 6) AS dot_prod,
       ROUND(CASE WHEN d IS NULL THEN NULL
                  ELSE sqrt(greatest(n1sq + n2sq - 2.0 * d, 0.0)) END, 6
       ) AS l2_distance
FROM (
  SELECT e1.vec_id AS vec_id, len(e1.embedding) AS dim,
         e1.embedding[1]::DOUBLE AS e0,
         {normsq_sql('e1.embedding')} AS n1sq,
         {normsq_sql('e2.embedding')} AS n2sq,
         {dot_sql('e1.embedding', 'e2.embedding')} AS d
  FROM embeddings e1 LEFT JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1
)
ORDER BY vec_id
"""


def q22_topk_nn(spark: SparkSession, sf: str) -> DataFrame:
    # Single-query top-k is the interactive `search` shape
    # (vectrekker/main.py:162-167): broadcast the one query row, score
    # JVM-side in the scan stage, and let orderBy+limit compile to
    # TakeOrderedAndProject — only k rows ever leave the scan, no Python
    # worker, no per-qid window (knn_join is the BATCH operator; routing one
    # query through it paid its mapInPandas + window exchanges: 0.60→0.27 s
    # at sf0.1). rank is a row_number over the k survivors (single tiny
    # partition post-limit), ordered exactly like the top-k selection.
    from pyspark.sql import Window

    from vectrekker_spark.functions.vector import cosine_sim

    em = tb(spark, sf, "embeddings")
    q = tb(spark, sf, "embeddings").filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    topk = (
        em.join(F.broadcast(q))
        .select("vec_id", F.round(cosine_sim("embedding", "qvec"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


Q22_SQL = f"""
SELECT e.vec_id AS vec_id,
       ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6) AS score,
       ROW_NUMBER() OVER (
         ORDER BY ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6) DESC,
                  e.vec_id ASC) AS rank
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY rank LIMIT 10
"""


def q23_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    # parts=4: 20 queries × 2000 corpus rows wants some spread for the
    # per-partition top-k kernels, but 32-way was task-floor-bound
    em = tbp(spark, sf, "embeddings", parts=4)
    q = tb(spark, sf, "embeddings").filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return knn_join(q, em, k=5).orderBy("qid", "rank")


Q23_SQL = f"""
SELECT qid, vec_id, score, rank FROM (
  SELECT q.vec_id AS qid, e.vec_id AS vec_id,
         ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6) DESC,
                    e.vec_id ASC) AS rank
  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) q
) WHERE rank <= 5 ORDER BY qid, rank
"""


# q28's registered-form exact-pair cap (VERDICT r11 #8): the all-pairs
# O(n²d) BLAS kernel is the DECLARED exact baseline and stays exact at
# every oracle scale (≤ 20k vectors covers sf1, where the exact A/Bs in
# SCALE.md were run). Past the cap the registered row computes the SAME
# exact kernel over the deterministic vec_id < Q28_EXACT_CAP slice instead
# of the full corpus — a parquet-prunable predicate, so the scan cost is
# bounded too, and the result is by construction the full run's result
# restricted to the slice (exactness IS the equivalence guarantee; no
# recall caveat). The hyperplane-LSH route (similarity_join_bucketed) is
# NOT substituted here because q28's threshold 0.40 sits far below the
# recall regime hyperplane bucketing can serve (see its docstring's
# recall math: cosine 0.4 → ~0.26 recall at the defaults) — the honest
# scale path for near-dup thresholds ≥0.9 is d26/d01, already registered.
Q28_EXACT_CAP = 20_000


def q28_sim_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Embedding-space near-dup pairs (L6). Fixture max pairwise cosine at
    # sf0.01 is ~0.51, so threshold 0.40 yields a non-trivial result set.
    # Registry scale policy: see Q28_EXACT_CAP above.
    #
    # r14 optimization (guide §1/§5 — driver jobs are serial wall time): the
    # old form ran FOUR driver jobs per call (cap-probe count, dim probe,
    # right-side collect, main query). Now the vec_id < CAP predicate is
    # applied UNCONDITIONALLY — exactly what the oracle SQL always did, so
    # this is also a strict equivalence tightening (a corpus under the cap
    # with ids ≥ CAP previously diverged from the oracle) and the parquet
    # scan prunes on it at any scale; the cap-probe count job is gone. The
    # dim probe rides the same stat-keyed per-session memo as d26
    # (_emb_dim: a dataset property, not a result), and the collect side is
    # the UNSPREAD scan (the tbp round-robin exchange exists to spread the
    # BLAS kernel, not to feed a driver collect). 4 jobs → 2 (first call)
    # → 1 (memoized dim): bench row 1.10 → 1.00 s at sf0.1 while DuckDB's
    # own row got 17% slower in the same window — ratio 0.10 → 0.07.
    # r15 (VERDICT #6 re-measure): noop isolation put the row at ~0.62 s —
    # ~0.13 s plan analysis, ~0.05 s right-side collect, ~0.28 s kernel job,
    # ~0.17 s ordered()'s sort. The kernel job was 32 tasks of ~62 rows
    # each (pure task overhead: the BLAS matmul per task is microseconds at
    # the cap) — parts=8 spreads the CAPPED slice (≤20k rows by
    # construction, so ≤2.5k rows/task at ANY corpus scale) and measured
    # 0.67 → 0.49 s median with byte-equal results (the q20 parts=4
    # precedent; guide §1.2 per-task work after the shape is right).
    cap = F.col("vec_id") < Q28_EXACT_CAP
    em = tbp(spark, sf, "embeddings", parts=8).filter(cap)
    right = tb(spark, sf, "embeddings").filter(cap)
    return ordered(
        similarity_join_blas(
            em, right, threshold=0.40,
            left_id="vec_id", left_vec="embedding",
            right_id="vec_id", right_vec="embedding",
            probed_dim=_emb_dim(spark, sf),
        ),
        "l_id", "r_id",
    )


# The oracle carries the SAME vec_id < Q28_EXACT_CAP bound as the Spark
# side (the d03 precedent: cap in BOTH places), so the spec pair stays
# equivalent at ANY corpus size — at every oracle scale (n ≤ 20k) the
# predicate is a no-op. NOTE: the Spark side slices only when the probe
# EXCEEDS the cap, which is exactly when this predicate starts binding.
Q28_SQL = f"""
SELECT e1.vec_id AS l_id, e2.vec_id AS r_id,
       ROUND({cosine_sql('e1.embedding', 'e2.embedding')}, 6) AS score
FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
WHERE ROUND({cosine_sql('e1.embedding', 'e2.embedding')}, 6) >= 0.40
  AND e1.vec_id < {Q28_EXACT_CAP} AND e2.vec_id < {Q28_EXACT_CAP}
ORDER BY l_id, r_id
"""


_EMB_DIM_CACHE: dict[tuple[str, int, int], int] = {}
_EMB_DIM_CACHE_MAX = 64  # FIFO-bounded like catalog._TABLE_CACHE


def _emb_dim(spark: SparkSession, sf: str) -> int | None:
    """Vector dimension of ``sf``'s embeddings table, memoized per
    (path, mtime_ns, size) — a dataset property (schema-adjacent), not a
    query result, same stat-validation contract as catalog._TABLE_CACHE.
    Probes the RAW scan (no tbp spread — one single-task job), first
    non-NULL embedding; returns None for an empty/all-NULL table. Shared
    by d26 (centroid geometry) and q28 (similarity_join_blas probed_dim),
    so repeated bench samples pay the probe job once per fixture."""
    try:
        st = os.stat(os.path.join(sf, "embeddings.parquet"))
        key = (sf, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        hit = _EMB_DIM_CACHE.get(key)
        if hit is not None:
            return hit
    probe = (
        tb(spark, sf, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select(F.size("embedding"))
        .first()
    )
    if probe is None:
        return None
    dim = int(probe[0])
    if key is not None:
        if len(_EMB_DIM_CACHE) >= _EMB_DIM_CACHE_MAX:
            _EMB_DIM_CACHE.pop(next(iter(_EMB_DIM_CACHE)))
        _EMB_DIM_CACHE[key] = dim
    return dim


def d26_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C15 semantic dedup (SemDeDup) decisions frame, driver-oracle-checked.

    Runs the REAL product path — assign_centroids' broadcast narrow
    assignment + the per-cell applyInPandas greedy min-id prune
    (operators/semdedup.py) — under a FIXED, SQL-expressible quantizer so
    the DuckDB oracle can replicate the cells exactly: 8 centroids, one per
    sign pattern of the first 3 embedding dims (±1 in dims 0-2, zero
    elsewhere; argmax round-6 cosine over equal-norm centroids ≡ the sign
    of each component, with assign's min-cid tie rule mirrored by the
    oracle's ROW_NUMBER ordering). The greedy keep/drop recursion is SQL
    too: only ids involved in a ≥threshold within-cell pair need scanning,
    so the oracle runs a per-cell recursive CTE over that (small) node set
    with a kept-id list accumulator — every other row is trivially kept.
    Threshold 0.40 matches q28's (fixture max pairwise cosine ≈ 0.51).

    The FIXED 8-cell grid is the oracle-mirroring choice, sized for the
    driver fixtures (≤ sf3 derived data keeps cells ≪ the operator's
    max_cluster_rows guard). It deliberately does NOT scale cells with the
    corpus — a corpus-size-dependent quantizer would change the oracle's
    cid arithmetic. Production semantic dedup uses the √N auto-KMeans path
    (operators/semdedup, C15), whose cell sizes stay bounded by
    construction; past the guard this query raises with that pointer.
    """
    from vectrekker_spark.operators.semdedup import semantic_dedup_decisions
    from vectrekker_spark.queries.util import small_local, tb1

    serial = small_local(sf, "embeddings")
    em = tb1(spark, sf, "embeddings") if serial else tbp(spark, sf, "embeddings")
    # memoized dim probe (_emb_dim, shared with q28): a table's vector
    # dimension is a property of the dataset, not the run — repeated bench
    # samples skip the probe job. Keyed on (st_mtime_ns, st_size) like
    # catalog._TABLE_CACHE: float mtime alone misses a fixture regenerated
    # in-process within mtime resolution (or with mtime preserved), which
    # would serve a stale dim and build wrong-length centroids.
    dim = _emb_dim(spark, sf)
    if dim is None:
        # NULL embeddings must not poison the probe (size(NULL) = -1 under
        # the engine's legacy sizeOfNull config); an all-NULL/empty table
        # has no quantizable vectors — every row is the kernel's trivially
        # kept NULL-cid arm, same as the oracle's UNION branch
        id_t = dict(em.dtypes)["vec_id"]
        empty_dec = em.select(
            "vec_id",
            F.lit(None).cast("long").alias("cid"),
            F.lit(True).alias("keep"),
            F.lit(None).cast(id_t).alias("dup_of"),
            F.lit(None).cast("double").alias("score"),
        )
        if serial:
            return empty_dec.coalesce(1).sortWithinPartitions("vec_id")
        return ordered(empty_dec, "vec_id")
    cents = []
    for k in range(8):
        v = [0.0] * dim
        for j in range(3):
            v[j] = 1.0 if (k >> j) & 1 else -1.0
        cents.append((k, v))
    # driver-side centroid rows: validation + assignment matrix build run
    # without scheduler round-trips (operators/semdedup fast path)
    dec = semantic_dedup_decisions(
        em, threshold=0.40, centroids=cents,
        id_col="vec_id", vec_col="embedding",
    )
    if serial:
        # single-partition input → the cid groupBy and the final sort run
        # in-task (0 exchanges, plan-pinned); distributed plan at scale
        return dec.coalesce(1).sortWithinPartitions("vec_id")
    return ordered(dec, "vec_id")


# The oracle mirrors the kernel stage by stage. MATERIALIZED is load-bearing
# on the CTEs referenced inside the recursive term: DuckDB inlines plain CTEs,
# so each recursion step would otherwise recompute pairs/preds/onodes from
# scratch (measured 20 s → 0.6 s at sf0.1). Greedy rule: scan node ids
# ascending per cell; drop iff an already-KEPT earlier node scores ≥
# threshold; dup_of = the kept id with (score DESC, id ASC) — exactly
# _blocked_greedy's first-argmax-in-scan-order. Scores are round-6 dots of
# pre-normalized vectors, the kernel's normalize-first arithmetic.
D26_SQL = f"""
WITH RECURSIVE
cells AS MATERIALIZED (
  SELECT vec_id, cid,
         list_transform(embedding, x -> x::DOUBLE / nrm) AS u
  FROM (
    SELECT vec_id, embedding, cand_cid AS cid, nrm,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cand_cid ASC) AS rnk
    FROM (
      SELECT e.vec_id, e.embedding, k.cand_cid,
             sqrt({normsq_sql('e.embedding')}) AS nrm,
             ROUND((
               (CASE WHEN (k.cand_cid & 1) = 1 THEN e.embedding[1]::DOUBLE ELSE -(e.embedding[1]::DOUBLE) END)
             + (CASE WHEN (k.cand_cid & 2) = 2 THEN e.embedding[2]::DOUBLE ELSE -(e.embedding[2]::DOUBLE) END)
             + (CASE WHEN (k.cand_cid & 4) = 4 THEN e.embedding[3]::DOUBLE ELSE -(e.embedding[3]::DOUBLE) END)
             ) / (sqrt({normsq_sql('e.embedding')}) * sqrt(3.0)), 6) AS s
      FROM embeddings e CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS cand_cid) k
      WHERE e.embedding IS NOT NULL
    )
  ) WHERE rnk = 1
),
pairs AS MATERIALIZED (
  SELECT cid, l_id, r_id, score FROM (
    SELECT a.cid, a.vec_id AS l_id, b.vec_id AS r_id,
           ROUND(list_aggregate(list_transform(generate_series(1, len(a.u)),
                 i -> a.u[i] * b.u[i]), 'sum'), 6) AS score
    FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  ) WHERE score >= 0.40
),
preds AS MATERIALIZED (
  SELECT cid, r_id, list(l_id ORDER BY l_id) AS ls FROM pairs GROUP BY cid, r_id),
nodes AS MATERIALIZED (
  SELECT DISTINCT cid, vec_id FROM (
    SELECT cid, l_id AS vec_id FROM pairs
    UNION ALL SELECT cid, r_id AS vec_id FROM pairs)),
onodes AS MATERIALIZED (
  SELECT cid, vec_id, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
  FROM nodes),
greedy AS (
  SELECT cid, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS kept
  FROM (SELECT DISTINCT cid FROM nodes)
  UNION ALL
  SELECT g.cid, o.rn,
         CASE WHEN pr.ls IS NOT NULL AND len(list_intersect(g.kept, pr.ls)) > 0
              THEN g.kept ELSE list_append(g.kept, o.vec_id) END
  FROM greedy g
  JOIN onodes o ON o.cid = g.cid AND o.rn = g.rn + 1
  LEFT JOIN preds pr ON pr.cid = o.cid AND pr.r_id = o.vec_id
),
final_kept AS (
  SELECT cid, kept FROM (
    SELECT cid, kept, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY rn DESC) AS rk
    FROM greedy
  ) WHERE rk = 1
),
kept_nodes AS MATERIALIZED (SELECT cid, UNNEST(kept) AS vec_id FROM final_kept),
dropped AS (
  SELECT n.cid, n.vec_id FROM nodes n
  LEFT JOIN kept_nodes k ON k.cid = n.cid AND k.vec_id = n.vec_id
  WHERE k.vec_id IS NULL
),
dups AS (
  SELECT cid, vec_id, dup_of, score FROM (
    SELECT d.cid, d.vec_id, p.l_id AS dup_of, p.score,
           ROW_NUMBER() OVER (PARTITION BY d.cid, d.vec_id
                              ORDER BY p.score DESC, p.l_id ASC) AS rk
    FROM dropped d
    JOIN pairs p ON p.cid = d.cid AND p.r_id = d.vec_id
    JOIN kept_nodes k ON k.cid = p.cid AND k.vec_id = p.l_id
  ) WHERE rk = 1
)
SELECT c.vec_id AS vec_id, c.cid AS cid,
       (du.vec_id IS NULL) AS keep,
       du.dup_of AS dup_of, du.score AS score
FROM cells c LEFT JOIN dups du ON du.cid = c.cid AND du.vec_id = c.vec_id
UNION ALL
SELECT vec_id, NULL::BIGINT AS cid, TRUE AS keep,
       NULL::BIGINT AS dup_of, NULL::DOUBLE AS score
FROM embeddings WHERE embedding IS NULL
ORDER BY vec_id
"""


SPECS = [
    QuerySpec("q20_hash_embed_udf", q20_hash_embed_udf, Q20_SQL, ("vector", "udf"),
              "Arrow pandas_udf hashing embedder vs pure-SQL oracle"),
    QuerySpec("q21_vector_metrics", q21_vector_metrics, Q21_SQL, ("vector",),
              "cosine/dot/L2 vs successor + norm/dim-check per vector"),
    QuerySpec("q22_topk_nn", q22_topk_nn, Q22_SQL, ("vector",),
              "exact top-10 cosine NN of vec 0 (the reference's implied query)"),
    QuerySpec("q23_knn_join", q23_knn_join, Q23_SQL, ("vector",),
              "batch 5-NN join for 20 query vectors"),
    QuerySpec("q28_sim_dedup", q28_sim_dedup, Q28_SQL, ("vector", "dedup"),
              "embedding-cosine near-dup pairs over threshold"),
    QuerySpec("d26_semantic_dedup", d26_semantic_dedup, D26_SQL,
              ("vector", "dedup", "curation"),
              "SemDeDup keep/drop decisions under a fixed sign-pattern quantizer"),
]
