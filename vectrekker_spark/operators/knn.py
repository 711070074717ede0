"""k-nearest-neighbor search operators — the query surface the reference
provisions but never executes in-repo (Pinecone index with ``metric="cosine"``,
`vectrekker/main.py:23,162-167`; top-k query implied by README.md:5-7).

Scale design (SURVEY.md §4.2 "kNN: avoid naive crossJoin blowup"):

* ``topk_nn`` (1 query × M corpus): score is a codegen expression evaluated
  per-partition; ``ORDER BY … LIMIT k`` compiles to TakeOrderedAndProject —
  each partition keeps a k-heap, the driver merges P·k rows. No shuffle of
  the corpus, ever. Survives 100 TB.

* ``knn_join`` (N queries × M corpus): broadcast the query side (queries are
  the small side by construction), score map-side, then a **two-phase top-k**
  from one ``row_number() <= k`` window, all in the JVM: Spark plans a
  Partial WindowGroupLimit that keeps each map partition's per-query top-k
  before the exchange, and a Final one over the P·N·k survivors. Above
  ``spark.sql.optimizer.windowGroupLimitThreshold`` (k > 1000) the partial
  limit is not planned and the whole cross product is shuffled.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.functions.vector import cosine_sql, dot_sql, l2_dist_sql, norm_sql, sql_name

_METRICS = {"cosine": cosine_sql, "dot": dot_sql, "l2": l2_dist_sql}

# Pairwise-score tile budget for similarity_join_bucketed's kernel: rows are
# processed in tiles of ~this many matrix entries (~128 MB of float64), so a
# bucket near max_bucket_rows never allocates an n×n matrix at once.
_TILE_ENTRIES = 16 << 20

# Score-matrix tile budget for similarity_join_blas's kernel: ~16 MB of
# float64 score entries per tile (2M entries × 8 B). Smaller than the
# bucketed kernel's budget on purpose — 32 concurrent Python workers each
# allocating 300 MB untiled transients was measured to cost 28 s/task in
# page-fault churn at sf1 (see the kernel comment below).
_SCORE_TILE_ENTRIES = 2 << 20


def _score_sql(metric: str, a: str, b: str) -> str:
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    return _METRICS[metric](a, b)


def topk_nn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of one query vector. Ties broken by id ascending
    so results are total-ordered (hash-match requirement); a NULL score
    ranks after every real one.

    Dimension mismatch fails fast: zip_with null-pads silently otherwise and
    every score comes back null (the engine analog of the reference's fixed
    index dimension, vectrekker/main.py:165)."""
    score = _score_sql(metric, vec_col, "__q")
    probe = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()
    if probe and probe[0]["d"] != len(query_vec):
        raise ValueError(
            f"query vector dim {len(query_vec)} != corpus dim {probe[0]['d']}"
        )
    q = F.array(*[F.lit(float(x)) for x in query_vec]).alias("__q")
    scored = corpus.select(id_col, vec_col, q).selectExpr(
        sql_name(id_col), f"ROUND({score}, 6) AS score"
    )
    s = F.col("score")
    best = s.asc_nulls_last() if metric == "l2" else s.desc_nulls_last()
    return scored.orderBy(best, F.col(id_col).asc()).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch kNN join: for every query row, the k nearest corpus rows.

    Returns (qid, vec_id, score, rank). Deterministic: ties broken by corpus
    id ascending, and a NULL score (NULL or zero-norm vector) ranks after
    every real one in both directions. For cosine, per-side norms are
    computed ONCE before the join (O(N+M) instead of O(N·M) norm work); the
    final dot/(‖a‖·‖b‖) matches the naive per-pair form bit-exactly because
    the operand order is identical. Ranking is one window (no pandas heap);
    its per-partition partial top-k is lost for k > 1000 (module docstring).
    The plan is SQL text in a handful of DataFrame ops: classic PySpark
    re-analyses the whole plan on every op.
    """
    score = _score_sql(metric, "emb", "qvec")
    c = [f"{sql_name(id_col)} AS vec_id", f"{sql_name(vec_col)} AS emb"]
    q = [f"{sql_name(qid_col)} AS qid", f"{sql_name(qvec_col)} AS qvec"]
    if metric == "cosine":
        c.append(f"{norm_sql(vec_col)} AS __cn")
        q.append(f"{norm_sql(qvec_col)} AS __qn")
        score = f"({dot_sql('emb', 'qvec')}) / (__cn * __qn)"
    best = "ASC" if metric == "l2" else "DESC"
    # broadcast nested-loop over the small query side, map-side only
    scored = corpus.selectExpr(*c).join(F.broadcast(queries.selectExpr(*q)))
    return (
        scored.selectExpr("qid", "vec_id", f"ROUND({score}, 6) AS score")
        .selectExpr(
            "qid", "vec_id", "score", "CAST(row_number() OVER (PARTITION BY qid ORDER BY "
            f"score {best} NULLS LAST, vec_id ASC) AS BIGINT) AS rank",
        )
        .where(f"rank <= {int(k)}")
    )


def similarity_join_blas(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "l_id",
    left_vec: str = "l_vec",
    right_id: str = "r_id",
    right_vec: str = "r_vec",
    ordered_pairs: bool = True,
    max_collect_rows: int = 1_000_000,
    max_collect_bytes: int = 512 << 20,
    probed_dim: int | None = None,
) -> DataFrame:
    """Cosine similarity join via blocked BLAS: the right side (must be the
    small/broadcastable side) is shipped to every executor as a dense float64
    matrix; each Arrow batch of the left side does ONE matrix multiply against
    it instead of millions of interpreted per-pair expressions. ~50-100×
    faster than the expression form for brute-force self-joins.

    The right side is driver-collected, so it MUST be broadcast-sized: the
    collect is capped at ``max_collect_rows`` AND at the row allowance
    ``max_collect_bytes`` implies for the probed vector dimension
    (rows × dim × 8 — the same byte-budget discipline as the centroid
    collect in operators/ann.assign_centroids: a row cap alone would let a
    4096-dim embedding column collect 32 GB where a 64-dim one collects
    0.5 GB). Raises past either cap instead of OOMing the driver; the cap
    is enforced with a LIMIT cap+1 collect — no extra counting job beyond
    the one-row dim probe, and an oversized side stops fetching at cap+1
    rows.

    At 100 TB neither side fits a broadcast — there you bucket first
    (similarity_join_bucketed below, MinHash LSH in operators/dedup.py, IVF
    cells in operators/ann.py) and run this on per-bucket candidates, which
    IS broadcast-sized by construction.

    Scores are float64 matmul + round(6); summation order differs from the
    sequential expression form by ~1e-13 relative — verified exact-equal to
    the DuckDB oracle on the (deterministic) fixtures at every SF.
    """
    import numpy as np

    l_id_t = dict(left.dtypes)[left_id]
    r_id_t = dict(right.dtypes)[right_id]
    out_schema = f"l_id {l_id_t}, r_id {r_id_t}, score double"

    nn_right = right.select(F.col(right_id), F.col(right_vec)).filter(
        F.col(right_vec).isNotNull()  # NULLs can't score
    )
    if probed_dim is None:
        probe = nn_right.select(F.size(F.col(right_vec)).alias("d")).first()
        if probe is None:  # empty right side → empty result, correct schema
            return left.sparkSession.createDataFrame([], out_schema)
        dim = int(probe["d"])
    else:
        # a router that already probed passes the dim through, so the
        # probe job isn't paid twice per routed call
        dim = probed_dim
    if dim <= 0:
        raise ValueError(
            "similarity_join_blas: zero-dimension vectors cannot be scored "
            f"(probed {right_vec!r} size {dim}); cosine similarity is "
            "undefined for empty embeddings"
        )
    allowed = min(max_collect_rows, max(1, max_collect_bytes // (dim * 8)))
    rows = nn_right.limit(allowed + 1).collect()
    if len(rows) > allowed:
        raise ValueError(
            f"similarity_join_blas: right side exceeds the collect cap "
            f"({allowed} rows = min(max_collect_rows={max_collect_rows}, "
            f"max_collect_bytes={max_collect_bytes} at dim={dim})); it "
            "would not be broadcast-safe. Bucket first "
            "(similarity_join_bucketed / LSH / IVF) and join per bucket. "
            "NOTE: the bucketed route is APPROXIMATE — recall is >0.999 "
            "only in the near-dup regime (cosine ≳ 0.95 at its defaults; "
            "~0.98 at 0.9, lower below) while this path is exact."
        )
    if not rows:
        # reachable even with probed_dim set (the probe job and this
        # collect job are separate reads — the source can empty between
        # them, or a router probe may cover a different snapshot)
        return left.sparkSession.createDataFrame([], out_schema)
    rid = np.asarray([r[0] for r in rows])  # dtype inferred; string ids OK
    R = np.asarray([r[1] for r in rows], dtype=np.float64)
    rnorm = np.sqrt((R * R).sum(axis=1))
    bc = left.sparkSession.sparkContext.broadcast((rid, R, rnorm))
    score_tile_entries = _SCORE_TILE_ENTRIES  # bind at build time so tests can shrink it

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rid_, R_, rnorm_ = bc.value
        Rt = np.ascontiguousarray(R_.T)
        # Tile the score matrix to ~16 MB instead of materializing
        # len(batch) × n_right doubles at once. Measured at sf1
        # (20k × 20k × 64, 32 fresh workers): the untiled kernel allocated
        # ~300 MB of transients per task and spent 28 s PER TASK in kernel
        # time (ru_stime; huge-page fault/compaction churn across 32
        # concurrent procs, utime 0.5 s) on each worker's first execution —
        # 31.6 s cold → 5.4 s tiled, warm 1.2 s, identical output (the
        # in-place divide + round keep the exact round-6 contract).
        tile = max(1, score_tile_entries // max(len(rid_), 1))
        for pdf in batches:
            pdf = pdf[pdf.iloc[:, 1].notna()]  # match the bucketed route
            if pdf.empty:
                continue
            lid = pdf.iloc[:, 0].to_numpy()
            L = np.asarray(list(pdf.iloc[:, 1]), dtype=np.float64)
            lnorm = np.sqrt((L * L).sum(axis=1))
            for lo in range(0, len(L), tile):
                hi = min(lo + tile, len(L))
                scores = L[lo:hi] @ Rt
                scores /= np.outer(lnorm[lo:hi], rnorm_)
                np.round(scores, 6, out=scores)
                mask = scores >= threshold
                if ordered_pairs:
                    mask &= lid[lo:hi, None] < rid_[None, :]
                li, ri = np.nonzero(mask)
                if len(li):
                    yield pd.DataFrame(
                        {
                            "l_id": lid[lo + li],
                            "r_id": rid_[ri],
                            "score": scores[li, ri],
                        }
                    )

    lsel = left.select(F.col(left_id), F.col(left_vec))
    # A compute-bound stage must be partitioned by COMPUTE, not bytes:
    # Spark's file packing reads a ~35 MB corpus as 1-2 partitions
    # (maxPartitionBytes), which would serialize an O(n_left·n_right·dim)
    # matmul onto 1-2 Python workers — measured at sf1 (60k×60k×64) this
    # was the whole 15-50 s cost of q28, with ~3 s once spread. Gate on
    # the right matrix size (each left row costs n_right·dim mults): a
    # small right side means trivial per-row compute, and the bench-scale
    # fixtures stay on their shuffle-free plans.
    if R.nbytes >= (8 << 20):
        target = left.sparkSession.sparkContext.defaultParallelism
        if lsel.rdd.getNumPartitions() < target:
            lsel = lsel.repartition(target)
    return lsel.mapInPandas(gen, schema=out_schema)


def similarity_join_self_auto(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_exact_rows: int = 1_000_000,
    max_exact_bytes: int = 512 << 20,
) -> DataFrame:
    """Auto-routed cosine-threshold SELF-join: EXACT blocked-BLAS when the
    corpus fits the broadcast cap — BOTH the row cap and the byte budget
    the probed vector dimension implies (rows × dim × 8), so a high-dim
    embedding column routes to the bucketed path at the same memory
    footprint a low-dim one would — else the SimHash-bucketed route (which
    is approximate below cosine ≈0.95 — see similarity_join_bucketed's
    recall math). One dim-probe + one LIMIT-probe decide; callers that
    must control exactness pick a concrete variant instead. Returns
    (l_id, r_id, score) with l < r either way.
    """
    probe = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if probe is None:
        # no non-null vectors: the exact kernel returns the empty result
        # with the correct schema (nothing to route around)
        return similarity_join_blas(
            df, df, threshold,
            left_id=id_col, left_vec=vec_col,
            right_id=id_col, right_vec=vec_col,
            max_collect_rows=max_exact_rows,
            max_collect_bytes=max_exact_bytes,
        )
    dim = int(probe["d"])
    if dim <= 0:
        raise ValueError(
            "similarity_join_self_auto: zero-dimension vectors cannot be "
            f"scored (probed {vec_col!r} size {dim})"
        )
    allowed = min(max_exact_rows, max(1, max_exact_bytes // (dim * 8)))
    n_probe = df.select(id_col).limit(allowed + 1).count()
    if n_probe <= allowed:
        return similarity_join_blas(
            df, df, threshold,
            left_id=id_col, left_vec=vec_col,
            right_id=id_col, right_vec=vec_col,
            max_collect_rows=max_exact_rows,
            max_collect_bytes=max_exact_bytes,
            probed_dim=dim,  # don't pay the probe job twice
        )
    return similarity_join_bucketed(
        df, threshold, dim, id_col=id_col, vec_col=vec_col
    )


def similarity_join_bucketed(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 12,
    seed: int = 7,
    max_bucket_rows: int = 100_000,
) -> DataFrame:
    """Cosine-threshold SELF-join without any driver-side collect — the
    100 TB route ``similarity_join_blas`` points at when its broadcast guard
    trips.

    Random-hyperplane (SimHash) bucketing: each vector gets ``n_tables``
    ``n_planes``-bit keys (sign pattern of dot products against seeded
    Gaussian planes); only vectors sharing a (table, key) bucket ever meet.
    Inside each bucket an applyInPandas kernel does the exact pairwise BLAS
    check (same float64 matmul + round(6) as similarity_join_blas), and a
    final distinct() merges pair hits across tables — scores are
    deterministic per pair, so cross-table duplicates collapse exactly.

    Recall: a pair at angle θ collides per table with p = (1 - θ/π)^n_planes,
    overall 1-(1-p)^n_tables. At the defaults (8 planes, 12 tables): cosine
    0.95 → p≈0.418 → recall ≈0.9985; cosine 0.9 → p≈(1-0.1436)^8≈0.289 →
    recall ≈0.983. So >0.999 holds for cosine ≳ 0.95 (the near-dup regime
    this exists for) and degrades below; thresholds in ~[0.6, 0.9) are
    meaningfully approximate here, and (<0.6) needs the brute-force path —
    hyperplane LSH cannot bucket far pairs efficiently.

    Shuffle cost: n_tables × (id, key, vec) — the standard LSH-table
    multiplier, each row skinny. Skew guard: a pathological bucket (millions
    of identical vectors) would concentrate O(n²) pair work in one task, so
    the kernel ENFORCES ``max_bucket_rows`` — a bucket past the cap raises
    with guidance (exact-dedup first — operators/dedup.py — collapses
    identical vectors cheaply; or raise n_planes to split buckets finer)
    instead of OOMing mid-job. Below the cap, the pairwise scores are
    computed in row tiles so peak matrix memory stays ~100 MB regardless of
    bucket size (never one n×n allocation).
    """
    import numpy as np

    tile_entries = _TILE_ENTRIES  # bind at build time so tests can shrink it
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    bc = df.sparkSession.sparkContext.broadcast(planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    id_t = dict(df.dtypes)[id_col]

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            bits = (V / nrm) @ P.T >= 0  # n × (T·b)
            keys = (
                bits.reshape(len(pdf), n_tables, n_planes) * weights
            ).sum(axis=2)  # n × T
            ids = pdf[id_col].to_numpy()
            vecs = list(pdf[vec_col])
            yield pd.DataFrame(
                {
                    "vid": np.tile(ids, n_tables),
                    "tbl": np.repeat(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "key": keys.T.reshape(-1),
                    "vec": vecs * n_tables,
                }
            )

    # NULL vectors can't score against anything — drop before the kernel
    # (mirrors the blas route, where a null row would poison the matmul)
    buckets = (
        df.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(
            bucketize, schema=f"vid {id_t}, tbl int, key long, vec array<double>"
        )
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"l_id": [], "r_id": [], "score": []}).astype(
                {"l_id": pdf["vid"].dtype, "r_id": pdf["vid"].dtype, "score": "float64"}
            )
        if n > max_bucket_rows:
            raise ValueError(
                f"similarity_join_bucketed: LSH bucket (tbl={int(pdf['tbl'].iloc[0])}, "
                f"key={int(pdf['key'].iloc[0])}) holds {n} rows > max_bucket_rows="
                f"{max_bucket_rows}; the O(n²) pair check would dominate one "
                "task. Run exact dedup first (operators/dedup.py collapses "
                "identical vectors), raise n_planes to split buckets finer, "
                "or raise the cap deliberately."
            )
        ids = pdf["vid"].to_numpy()
        V = np.asarray(list(pdf["vec"]), dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0] = 1.0
        # row-tiled pairwise scores: peak extra memory = tile × n doubles
        # (~100 MB at the default tile), never one n×n matrix. Operand order
        # (dot, then divide by the norm product) matches similarity_join_blas
        # exactly, so scores stay bit-identical across the routes.
        tile = max(1, tile_entries // n)
        parts = []
        for lo in range(0, n, tile):
            hi = min(lo + tile, n)
            S = np.round((V[lo:hi] @ V.T) / np.outer(nrm[lo:hi], nrm), 6)
            mask = (S >= threshold) & (ids[lo:hi, None] < ids[None, :])
            li, ri = np.nonzero(mask)
            parts.append(
                pd.DataFrame(
                    {"l_id": ids[lo + li], "r_id": ids[ri], "score": S[li, ri]}
                )
            )
        return pd.concat(parts, ignore_index=True)

    return (
        buckets.groupBy("tbl", "key")
        .applyInPandas(bucket_pairs, schema=f"l_id {id_t}, r_id {id_t}, score double")
        .distinct()
    )
