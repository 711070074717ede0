"""Semantic (embedding-space) deduplication, cluster-bounded — the 100 TB
path for "drop documents whose embeddings near-duplicate another's".

The exact similarity join (queries/vector.py q28 / operators/knn.py
similarity_join_blas) scores PAIRS: correct, but the candidate set is corpus² and
even the LSH-bucketed route materializes every qualifying pair. For corpus
curation the question is cheaper than the pair list: per document, "is there
an earlier-kept document this close to me?" — a keep/drop DECISION. The
SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication") bounds that decision with a
coarse clustering: k-means the embeddings, then compare ONLY within a
cluster. Recall is bounded by the clustering (a near-dup pair straddling a
cell boundary is missed — the paper accepts this; q28/similarity_join_blas
stays the exact tool), cost drops from O(N²) to Σ O(|cell|·kept).

Scale shape:
- Centroids: ~√N rows BY CONSTRUCTION, broadcast once
  (assign_centroids' byte-budgeted collect — ann.py).
- Assignment: one NARROW Arrow map over the corpus (BLAS matmul per batch);
  the corpus is never broadcast and never shuffled for assignment.
- Decisions: ONE shuffle, on cid, into per-cluster applyInPandas kernels.
  Greedy in-id-order prune inside each cell, row-tiled BLAS (peak memory
  ~tile × dim doubles, never |cell|²), with the same enforced cell cap as
  similarity_join_bucketed — a pathological mega-cell raises with guidance
  instead of OOMing one task.

Determinism: the keep rule is "min id wins" — scan ids ascending, keep a
vector iff its round-6 cosine against every ALREADY-KEPT vector in the cell
is < threshold. (The paper keeps the point with lowest similarity to the
centroid; min-id is the tie rule every dedup operator in this engine uses —
operators/dedup.py exact/minhash, q28's l_id < r_id — and makes the result
a pure function of the (id, vec, cid) set, independent of partitioning.)
Greedy gives the invariant: every kept pair in a cell scores < threshold,
and every dropped row names a kept `dup_of` with score ≥ threshold.

Reference scope note: the reference (vectrekker/main.py) has no dedup
surface at all; north-star training-pipeline addition (SURVEY.md §2.2 C15).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.operators.ann import (
    assign_centroids,
    assign_from_rows,
    ivf_centroids,
)

# row-tile budget for the per-cell scoring matmul (entries of float64) and
# the greedy block width; module-level so tests can shrink them to force
# the multi-tile and cross-block merge paths.
_TILE_ENTRIES = 16_000_000
_BLOCK_ROWS = 1024


def _unit_rows(vec_series) -> "np.ndarray":
    """Row matrix of unit vectors (zero rows pass through) — round-6 cosine
    between inputs == round(dot of unit rows, 6), knn/functions.vector's
    contract."""
    V = np.asarray(list(vec_series), dtype=np.float64)
    nrm = np.linalg.norm(V, axis=1)
    nrm[nrm == 0] = 1.0
    return V / nrm[:, None]


def _blocked_greedy(
    ids: "np.ndarray",
    U: "np.ndarray",
    forced: "np.ndarray | None",
    threshold: float,
    tile_entries: int,
    block_rows: int,
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """Greedy min-id-first prune over unit rows, blocked for BLAS.

    Rows are scanned in index order (callers pre-sort by id) and scored
    against the already-kept set one BLOCK at a time (one GEMM, row-tiled
    over the kept set); only the within-block dependency runs sequentially.
    Decisions are identical to pure row-by-row greedy: dup_of = FIRST
    argmax over kept-so-far in scan order (the strict `>` merges keep that
    rule across tiles and across the prior/within-block split).

    ``forced`` (bool mask or None): rows kept UNCONDITIONALLY — they enter
    the kept set at their scan position without being scored. This is the
    incremental shape (semantic_dedup_against): history rows are already
    kept by a prior run and only gate the new rows.

    Returns (keep, dup_of, score) aligned to ``ids``; kept rows carry
    dup_of=ids-dtype zero and score=NaN (callers null them out).
    """
    n = len(ids)
    keep = np.ones(n, dtype=bool)
    dup_of = np.zeros(n, dtype=ids.dtype)
    score = np.full(n, np.nan)
    tile = max(1, tile_entries // max(block_rows, 1))
    kept_global: list[int] = []
    for lo in range(0, n, block_rows):
        hi = min(lo + block_rows, n)
        m = hi - lo
        best_s = np.full(m, -2.0)
        best_j = np.full(m, -1, dtype=np.int64)
        if kept_global:
            K = np.asarray(kept_global)
            for klo in range(0, len(K), tile):
                sub = K[klo : klo + tile]
                S = np.round(U[lo:hi] @ U[sub].T, 6)  # m × |sub|
                j = np.argmax(S, axis=1)
                s = S[np.arange(m), j]
                better = s > best_s
                best_s[better] = s[better]
                best_j[better] = sub[j[better]]
        blk_kept: list[int] = []
        for r in range(m):
            i = lo + r
            if forced is not None and forced[i]:
                blk_kept.append(i)
                continue
            bs, bj = float(best_s[r]), int(best_j[r])
            if blk_kept:
                s = np.round(U[np.asarray(blk_kept)] @ U[i], 6)
                j = int(np.argmax(s))
                if s[j] > bs:
                    bs, bj = float(s[j]), blk_kept[j]
            if bs >= threshold:
                keep[i] = False
                dup_of[i] = ids[bj]
                score[i] = bs
            else:
                blk_kept.append(i)
        kept_global.extend(blk_kept)
    return keep, dup_of, score


def semantic_dedup_decisions(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    centroids: "DataFrame | Sequence[tuple[int, Sequence[float]]] | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """Per-row keep/drop decisions: (id, cid, keep, dup_of, score).

    - ``keep=true``  → row survives; dup_of/score are NULL.
    - ``keep=false`` → dup_of is the KEPT id this row duplicated (same
      cell, min-id-first greedy), score its round-6 cosine (≥ threshold).
    - NULL-vector rows are kept verbatim with cid NULL (they cannot score
      against anything — the exact-dedup null-text rule).

    ``centroids`` (cid, cvec) may be precomputed/persisted (e.g. from
    ivf_build or an ivf_save'd index's centroids table), or a plain
    DRIVER-SIDE sequence of (cid, vector) tuples — a quantizer that is
    small by construction (√N centroids) and already in memory skips the
    validation/probe/collect scheduler round-trips of the DataFrame form
    (ann.assign_from_rows; same scoring and tie contract). Reusing a
    quantizer keeps decisions stable across incremental runs, and is the
    only way to make the result a pure function of the (id, vec) set:
    given fixed centroids, decisions are partition-layout-invariant
    (tested); the auto path (seeded driver-side Lloyd since r15) is also
    layout-invariant as long as the scorable corpus fits the fit's sample
    cap (ann._centroid_cap: 512 MiB of float64 vectors, at most 200k rows)
    — past the cap the sampled SET is still deterministic,
    so decisions remain a pure function of the (id, vec) set either way.
    Single assignment only: each
    vector must land in exactly ONE cell or keep/drop votes would conflict
    across cells.
    """
    spark = corpus.sparkSession
    types = dict(corpus.dtypes)
    id_t = types[id_col]
    out_schema = f"{id_col} {id_t}, cid long, keep boolean, dup_of {id_t}, score double"

    if centroids is None:
        if n_clusters is None:
            # √N rule over the scorable rows (KMeans needs k ≤ n)
            n = corpus.where(F.col(vec_col).isNotNull()).count()
            n_clusters = max(1, int(np.sqrt(n)))
        if n_clusters == 1:
            # one cell: assignment is a constant — skip the KMeans job
            assigned = corpus.select(
                F.col(id_col),
                F.lit(0).cast("long").alias("cid"),
                F.col(vec_col),
            ).where(F.col(vec_col).isNotNull())
        else:
            # centroids-only builder: ivf_build would additionally run (and
            # discard) a full assignment pass, collecting + broadcasting the
            # centroid matrix a second time. The fit is driver-side seeded
            # k-means++/Lloyd on the capped id-sorted sample: one collect
            # job, partition-layout-INVARIANT up to the sample cap
            centroids = ivf_centroids(
                corpus.where(F.col(vec_col).isNotNull()),
                n_centroids=n_clusters,
                id_col=id_col,
                vec_col=vec_col,
            )
            assigned = None
    elif isinstance(centroids, DataFrame):
        # a user-persisted centroids table that reads as empty (or all-NULL
        # cvec) would make assign_centroids return an EMPTY frame and the
        # semi-join silently delete every scorable row — fail loudly instead
        if not centroids.where(F.col("cvec").isNotNull()).limit(1).count():
            raise ValueError(
                "semantic_dedup: the supplied centroids frame has no non-null "
                "cvec rows; decisions would silently drop the whole corpus. "
                "Pass a populated centroids table or omit it for auto-KMeans."
            )
        assigned = None
    else:
        # driver-side (cid, vector) rows: same empty/all-null guard, no job
        rows = [r for r in centroids if r[1] is not None]
        if not rows:
            raise ValueError(
                "semantic_dedup: the supplied centroid rows have no non-null "
                "vectors; decisions would silently drop the whole corpus. "
                "Pass populated centroids or omit them for auto-KMeans."
            )
        assigned = assign_from_rows(
            corpus, rows, assign_k=1,
            id_col=id_col, vec_col=vec_col, carry_vec=True,
        )

    if assigned is None:
        assigned = assign_centroids(
            corpus,
            centroids,
            assign_k=1,
            id_col=id_col,
            vec_col=vec_col,
            carry_vec=True,
        )

    # bind at build time so tests can shrink them (the kernel runs on
    # executors; module state there is a fresh import)
    tile_entries = _TILE_ENTRIES
    block_rows = _BLOCK_ROWS

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                id_col: pd.Series([], dtype=pdf[id_col].dtype),
                "cid": pd.Series([], dtype="int64"),
                "keep": pd.Series([], dtype="bool"),
                "dup_of": pd.Series([], dtype=pdf[id_col].dtype),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if n == 0:
            return empty
        if n > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: cell cid={int(pdf['cid'].iloc[0])} holds "
                f"{n} rows > max_cluster_rows={max_cluster_rows}; the greedy "
                "prune would concentrate O(n·kept) work in one task. Raise "
                "n_clusters (√N rule keeps cells bounded), run exact dedup "
                "first (operators/dedup.py collapses identical vectors), or "
                "raise the cap deliberately."
            )
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        U = _unit_rows(pdf[vec_col])
        keep, dup_of, score = _blocked_greedy(
            ids, U, None, threshold, tile_entries, block_rows
        )
        out = pd.DataFrame(
            {
                id_col: ids,
                "cid": pdf["cid"].to_numpy(),
                "keep": keep,
                "dup_of": dup_of,
                "score": score,
            }
        )
        # NULL out dup_of/score on kept rows (object dtype + None maps to a
        # real Spark NULL through Arrow — float NaN would be ambiguous)
        out["dup_of"] = out["dup_of"].astype(object).where(~out["keep"], None)
        out["score"] = out["score"].astype(object).where(~out["keep"], None)
        return out

    decisions = assigned.groupBy("cid").applyInPandas(prune, schema=out_schema)

    # NULL vectors never reach the kernel (assign_centroids drops them);
    # re-attach as kept-with-NULL-cid so the decision frame covers the input
    nulls = corpus.where(F.col(vec_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("long").alias("cid"),
        F.lit(True).alias("keep"),
        F.lit(None).cast(id_t).alias("dup_of"),
        F.lit(None).cast("double").alias("score"),
    )
    return decisions.unionByName(nulls)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """The corpus with semantic near-duplicates dropped (min id per
    near-dup chain survives; all original columns retained). One extra
    key-shuffle semi-join of the decisions onto the corpus — the decision
    frame is (id, cid, flags)-narrow, so the join moves ids, not vectors.
    """
    decisions = semantic_dedup_decisions(
        corpus,
        threshold=threshold,
        n_clusters=n_clusters,
        centroids=centroids,
        id_col=id_col,
        vec_col=vec_col,
        max_cluster_rows=max_cluster_rows,
    )
    kept = decisions.where(F.col("keep")).select(id_col)
    return corpus.join(kept, on=id_col, how="left_semi")


def semantic_dedup_against(
    new: DataFrame,
    kept: DataFrame | None,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
    kept_assigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental semantic dedup: keep/drop decisions for NEW vectors
    against a KEPT history — the "dedup today's batch against 100 TB of
    curated corpus" shape (minhash_dedup_against / exact_dedup_against's
    embedding-space sibling).

    Returns (id, cid, keep, dup_of, score) for the NEW rows only; dup_of
    may name a history id or an earlier-kept id from this batch (in-batch
    self-dedup rides the same kernel pass for free). History rows are
    already kept by construction and are never re-decided.

    ``centroids`` is REQUIRED, not optional: a fixed quantizer is what
    makes incremental decisions stable — re-fitting per batch would move
    cell boundaries and re-litigate history. Fit once (ivf_centroids, or a
    persisted IVF index's centroids table) and reuse it for every batch.

    Equivalence contract (tested): with fixed centroids and append-only
    ids (every new id > every kept id), running batches through this
    function accumulates EXACTLY the kept-set of a one-shot
    semantic_dedup_decisions over the concatenated corpus — min-id greedy
    scans history first either way. A new row REUSING a kept id in the
    same cell is defined to drop against the history copy (equal-id ties
    scan history first), which is exactly what makes an at-least-once
    redelivered micro-batch idempotent in the streaming ingestion path.

    Scale shape: both sides assign NARROWLY against the broadcast
    centroids; history is then semi-join-pruned to only the cells this
    batch touches (a cid-partitioned persisted kept-table turns that into
    partition pruning), so per-batch cost is O(|batch| + |history in
    touched cells|), never a history scan per batch. Pass
    ``kept_assigned`` ((id, cid, vec) — e.g. the accumulated output of
    prior runs) to skip re-assigning history entirely.
    """
    types = dict(new.dtypes)
    id_t = types[id_col]
    out_schema = f"{id_col} {id_t}, cid long, keep boolean, dup_of {id_t}, score double"
    if not centroids.where(F.col("cvec").isNotNull()).limit(1).count():
        raise ValueError(
            "semantic_dedup_against: the centroids frame has no non-null "
            "cvec rows; every batch row would be silently dropped or kept "
            "unchecked. Fit centroids once (ivf_centroids) and reuse them."
        )
    # persisted: the batch assignment (a Python BLAS map) feeds BOTH the
    # batch_cids broadcast semi-join and the unioned kernel input — Spark
    # does not reuse the common subplan across those two consumers, so an
    # uncached a_new would run the assignment twice per call. Exposed on
    # the result as `_cached_assign` (the dedup `_cached_probe` idiom) so
    # per-batch callers can unpersist once materialized.
    a_new = assign_centroids(
        new, centroids, assign_k=1, id_col=id_col, vec_col=vec_col, carry_vec=True
    ).persist()
    if kept_assigned is None:
        if kept is None:
            raise ValueError(
                "semantic_dedup_against: pass kept (raw history vectors) or "
                "kept_assigned (pre-assigned (id, cid, vec) history)"
            )
        a_kept = assign_centroids(
            kept, centroids, assign_k=1, id_col=id_col, vec_col=vec_col,
            carry_vec=True,
        )
    else:
        a_kept = kept_assigned.select(id_col, "cid", vec_col)
    # prune history to the batch's cells: the cid set of a batch is small,
    # so this is a broadcast semi-join (partition pruning on a
    # cid-partitioned kept table) — history cells the batch never touches
    # are never read past their cid column
    batch_cids = a_new.select("cid").distinct()
    a_kept = a_kept.join(F.broadcast(batch_cids), "cid", "left_semi")
    unioned = a_new.withColumn("_pre_kept", F.lit(False)).unionByName(
        a_kept.withColumn("_pre_kept", F.lit(True))
    )

    tile_entries = _TILE_ENTRIES
    block_rows = _BLOCK_ROWS

    def prune_against(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                id_col: pd.Series([], dtype=pdf[id_col].dtype),
                "cid": pd.Series([], dtype="int64"),
                "keep": pd.Series([], dtype="bool"),
                "dup_of": pd.Series([], dtype=pdf[id_col].dtype),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if n == 0 or not (~pdf["_pre_kept"]).any():
            return empty
        if n > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup_against: cell cid={int(pdf['cid'].iloc[0])} "
                f"holds {n} rows (batch + touched history) > "
                f"max_cluster_rows={max_cluster_rows}. Refit with more "
                "centroids (√N rule) or raise the cap deliberately."
            )
        # equal-id ties scan the FORCED (history) copy first: a redelivered
        # micro-batch row meets its own previously-appended twin at score
        # 1.0 and drops — at-least-once delivery becomes effectively
        # idempotent for scorable rows (the ST8 exact-dedup contract)
        pdf = pdf.sort_values(
            [id_col, "_pre_kept"], ascending=[True, False], kind="stable"
        ).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        forced = pdf["_pre_kept"].to_numpy()
        U = _unit_rows(pdf[vec_col])
        keep, dup_of, score = _blocked_greedy(
            ids, U, forced, threshold, tile_entries, block_rows
        )
        new_mask = ~forced
        out = pd.DataFrame(
            {
                id_col: ids[new_mask],
                "cid": pdf["cid"].to_numpy()[new_mask],
                "keep": keep[new_mask],
                "dup_of": dup_of[new_mask],
                "score": score[new_mask],
            }
        )
        out["dup_of"] = out["dup_of"].astype(object).where(~out["keep"], None)
        out["score"] = out["score"].astype(object).where(~out["keep"], None)
        return out

    decisions = unioned.groupBy("cid").applyInPandas(
        prune_against, schema=out_schema
    )
    # NULL-vector batch rows are kept verbatim with cid NULL (they cannot
    # score against anything — the exact-dedup null-text rule)
    nulls = new.where(F.col(vec_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("long").alias("cid"),
        F.lit(True).alias("keep"),
        F.lit(None).cast(id_t).alias("dup_of"),
        F.lit(None).cast("double").alias("score"),
    )
    result = decisions.unionByName(nulls)
    result._cached_assign = a_new
    return result
