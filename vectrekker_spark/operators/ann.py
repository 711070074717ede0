"""Approximate nearest-neighbor search (SURVEY.md §2.2 V5) — the scale path
for the reference's top-k cosine query when brute force (operators/knn.py)
is too expensive.

IVF (inverted-file): deterministic coarse centroids → assign every corpus
vector to its nearest centroid (one kNN join against ~√N centroids) → at
query time probe only the n_probe nearest cells. The partition-pruning idea
applied to vector search: at 100 TB the assignment table is written
partitioned by centroid_id, so a probe reads only its cells' files. A saved
index commits through commit.py's versioned pointer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.commit import (
    index_exists,  # noqa: F401  (part of this module's index API)
    next_version,
    publish,
    read_meta,
    resolve,
    write_meta,
)
from vectrekker_spark.functions.vector import l2_normalize
from vectrekker_spark.operators.knn import knn_join
from vectrekker_spark.session import local_frame, truncate_lineage

_MAX_CENTROIDS = 200_000
_MAX_CENTROID_BYTES = 512 * 1024 * 1024


def _centroid_cap(
    dim: int,
    max_centroids: int = _MAX_CENTROIDS,
    max_centroid_bytes: int | None = None,
    n: int = 0,
) -> int:
    """Row allowance ``min(max_centroids, max_centroid_bytes // (dim × 8))``
    for a collected or broadcast table of dim-wide vectors (assign_centroids,
    ivf_search_cells, the Lloyd sample of ivf_centroids); raises when ``n``
    centroids exceed it. ``max_centroid_bytes`` defaults to the module's
    ``_MAX_CENTROID_BYTES`` as it reads at call time."""
    if max_centroid_bytes is None:
        max_centroid_bytes = _MAX_CENTROID_BYTES
    by_bytes = max_centroid_bytes // (max(dim, 1) * 8)
    cap = min(max_centroids, max(1, by_bytes))
    if n > cap:
        raise ValueError(
            f"assign_centroids: more than {cap} centroids at dim={dim} "
            f"(caps: max_centroids={max_centroids}, max_centroid_bytes="
            f"{max_centroid_bytes} ≈ {by_bytes} "
            "rows of float64); that is no longer a broadcastable coarse "
            "quantizer — reduce n_centroids (√N rule) or raise the caps "
            "deliberately."
        )
    return cap


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    assign_k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int = _MAX_CENTROIDS,
    max_centroid_bytes: int = _MAX_CENTROID_BYTES,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, cid) for every corpus vector: its ``assign_k`` nearest centroids
    by round-6 cosine, ties broken by cid ascending (same ordering contract
    as knn_join, so the d10 oracle's SQL argmin matches bit-for-bit on the
    fixtures).

    The 100 TB shape: centroids are the ~√N small side BY CONSTRUCTION, so
    they are collected once and shipped to executors as one numpy matrix;
    each Arrow batch of the corpus then does a single BLAS matmul + stable
    argsort. The corpus is NEVER shuffled or broadcast — assignment is
    embarrassingly parallel, unlike the previous knn_join formulation,
    which broadcast the whole corpus as its query side. NULL vectors are
    dropped (they can't score); zero vectors score 0 against every centroid
    and land by the cid tie-break.

    The guard measures what it protects: the vector DIMENSION is probed
    with a LIMIT-1 collect first, and the driver-side collect is capped at
    ``min(max_centroids, max_centroid_bytes // (dim × 8))`` rows — so a
    1536-dim quantizer trips at ~43k centroids (≈0.5 GB of float64) instead
    of collecting 2.4 GB before a row-count cap would notice. The row cap
    stays as a backstop for tiny dims.

    ``carry_vec=True`` appends the input vector as a third column
    (id, cid, vec) so cluster-grouped consumers (operators/semdedup.py) get
    the vectors without a corpus-sized id join — the assignment is narrow
    either way, so carrying the column is free until the consumer's own
    shuffle moves it.
    """
    probe = (
        centroids.select("cid", "cvec").where(F.col("cvec").isNotNull()).limit(1)
    ).collect()
    types = dict(corpus.dtypes)
    out_schema = f"{id_col} {types[id_col]}, cid long" + (
        f", {vec_col} {types[vec_col]}" if carry_vec else ""
    )
    if not probe:
        return corpus.sparkSession.createDataFrame([], out_schema)
    dim = len(probe[0][1])
    cap = _centroid_cap(dim, max_centroids, max_centroid_bytes)
    # the probe above skips NULL cvec rows — the collect must too, or one
    # null row in a user-persisted centroids table crashes np.asarray below
    rows = (
        centroids.select("cid", "cvec")
        .where(F.col("cvec").isNotNull())
        .limit(cap + 1)
        .collect()
    )
    _centroid_cap(dim, max_centroids, max_centroid_bytes, n=len(rows))
    return assign_from_rows(
        corpus, rows, assign_k=assign_k,
        id_col=id_col, vec_col=vec_col, carry_vec=carry_vec,
    )


def assign_from_rows(
    corpus: DataFrame,
    rows,
    assign_k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_vec: bool = False,
) -> DataFrame:
    """assign_centroids' kernel with DRIVER-SIDE centroid rows: ``rows`` is
    a sequence of (cid, vector) already in memory. Same scoring/tie contract
    (round-6 cosine, cid-ascending tie-break); no probe or collect jobs —
    callers that constructed the quantizer themselves (a fixed sign-pattern
    grid, a loaded .npz, a prior collect) skip two scheduler round-trips per
    call. assign_centroids funnels through here after its guarded collect,
    so the two entry points cannot drift."""
    import numpy as np
    import pandas as pd

    types = dict(corpus.dtypes)
    out_schema = f"{id_col} {types[id_col]}, cid long" + (
        f", {vec_col} {types[vec_col]}" if carry_vec else ""
    )
    rows = sorted(rows, key=lambda r: r[0])  # cid ascending → stable tie-break
    if not rows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    cids = np.asarray([r[0] for r in rows], dtype=np.int64)
    C = np.asarray([r[1] for r in rows], dtype=np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))
    cnorm[cnorm == 0] = 1.0
    k = min(assign_k, len(rows))
    bc = corpus.sparkSession.sparkContext.broadcast((cids, C, cnorm))

    def gen(batches):
        cids_, C_, cnorm_ = bc.value
        for pdf in batches:
            pdf = pdf[pdf.iloc[:, 1].notna()]
            if pdf.empty:
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            V = np.asarray(list(pdf.iloc[:, 1]), dtype=np.float64)
            vnorm = np.sqrt((V * V).sum(axis=1))
            vnorm[vnorm == 0] = 1.0
            # same operand order as knn_join/the oracle: dot, then divide
            # by the norm product, then round(6)
            S = np.round((V @ C_.T) / np.outer(vnorm, cnorm_), 6)
            # stable argsort on -score keeps the cid-ascending input order
            # among equal scores — knn_join's exact tie rule
            top = np.argsort(-S, axis=1, kind="stable")[:, :k]
            out = {
                id_col: np.repeat(ids, k),
                "cid": cids_[top].reshape(-1),
            }
            if carry_vec:
                vecs = list(pdf.iloc[:, 1])
                out[vec_col] = [v for v in vecs for _ in range(k)]
            yield pd.DataFrame(out)

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        gen, schema=out_schema
    )


def ivf_build(
    corpus: DataFrame,
    n_centroids: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lloyd",
    assign_k: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Build IVF centroids + assignments.

    method="lloyd" (default since r15): seeded driver-side k-means++/Lloyd
    on a capped deterministic sample of L2-normalized vectors — same cell
    quality as MLlib (bench recall@10 0.90, equal to the MLlib fit's
    published number) at a fraction of the cost (one TakeOrdered collect vs
    ~25 scheduler-bound MLlib jobs: 6-13 s → <0.5 s on the 2k-vector
    fixture), and partition-layout-INVARIANT (a pure function of the
    (id, vec) set up to the sample cap), which MLlib's per-partition
    k-means|| init is not. method="kmeans": seeded MLlib KMeans, kept for
    cross-checking the distributed fit. method="stride": every ⌈N/k⌉-th id
    as centroid — fully deterministic across engines/versions, used by the
    bench/registry query d10 so BENCH numbers never shift with the solver.

    assign_k > 1 = multi-assignment: each corpus vector is indexed into its
    assign_k nearest cells. Index grows ×assign_k but boundary vectors stop
    falling between probed cells — measured on the sf0.1 fixture this beats
    spending the same candidate budget on more probes (recall@10 0.90 at
    ~0.64 candidate fraction with k=25/assign 2/probe 8, vs 0.86 at ~0.70
    with single assignment and probe 7 of 10).

    Returns (centroids(cid, cvec), assignments(vec_id, cid); assign_k rows
    per vector when multi-assigned).
    """
    centroids = ivf_centroids(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col, method=method
    )
    # narrow BLAS assignment: centroids broadcast, corpus streams — the
    # knn_join form would broadcast the whole corpus as its query side
    assign = assign_centroids(
        corpus, centroids, assign_k=assign_k, id_col=id_col, vec_col=vec_col
    )
    return centroids, assign


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lloyd",
) -> DataFrame:
    """Just the (cid, cvec) centroids of ivf_build, no assignment pass —
    for consumers that run their own assignment (operators/semdedup.py) and
    would otherwise pay ivf_build's eager assign_centroids collect +
    broadcast twice. Semantics identical to ivf_build's centroid arm.

    method="lloyd" (default, r15 optimization — guide §5: the coarse
    quantizer is √N-small BY CONSTRUCTION, so fitting it is driver-scale
    work; MLlib's distributed fit was ~25 scheduler-bound jobs for ~0.2 s
    of numpy): a LIMIT-1 probe reads the vector dimension, then ONE
    TakeOrdered job collects a deterministic sample — the scorable rows
    with the lowest ``xxhash64(id)``, as many as ``_centroid_cap(dim)``
    allows (the same 512 MiB byte budget as every other driver collect in
    this module: 43,690 rows at dim 1536, 200k at dim ≤ 335), i.e. every
    row when the corpus fits under the cap — then seeded k-means++ init +
    Lloyd iterations run in numpy on the driver over the id-sorted
    sample. The fit is a pure function of the sampled (id, vec)
    SET: partition-layout-invariant (tested), unlike MLlib k-means||,
    whose per-partition init moves cell boundaries under a re-layout.
    ``n_centroids`` is clamped to the sample size (k ≤ n points).

    ``n_centroids=1`` skips the fit entirely (with a single cell every
    vector co-assigns regardless of the centroid's value): the min-id
    row's vector stands in, deterministic across partition layouts."""
    if n_centroids == 1 and method in ("kmeans", "lloyd"):
        one = (
            corpus.where(F.col(vec_col).isNotNull())
            .orderBy(F.col(id_col))
            .select(F.lit(0).cast("long").alias("cid"), F.col(vec_col).alias("cvec"))
            .limit(1)
        )
        return one
    if method == "lloyd":
        import numpy as np

        scorable = corpus.where(F.col(vec_col).isNotNull())
        probe = scorable.select(vec_col).limit(1).collect()
        if not probe:
            raise ValueError(
                "ivf_centroids: no rows with a non-null vector to fit on"
            )
        # one job: deterministic byte-capped sample (lowest xxhash64(id) —
        # TakeOrdered, never a full sort), Arrow transfer. Under the cap
        # this is simply every scorable row.
        sample = (
            scorable.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
            .orderBy(F.xxhash64(F.col("__id")), F.col("__id"))
            .limit(_centroid_cap(len(probe[0][0])))
            .toPandas()
        )
        # id-ascending order makes the fit independent of partition layout
        sample = sample.sort_values("__id", kind="stable")
        X = np.asarray(list(sample["__vec"]), dtype=np.float64)
        C = _lloyd_fit(X, n_centroids)
        rows = [(i, [float(x) for x in c]) for i, c in enumerate(C)]
        return local_frame(corpus.sparkSession, rows, "cid long, cvec array<double>")
    if method == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # NULL vectors drop before the fit — MLlib KMeans throws on a null
        # feature vector, while the module contract (assign_centroids,
        # the n_centroids==1 branch above) is that unscorable rows are
        # simply ignored (r14s3 review)
        prepared = corpus.where(F.col(vec_col).isNotNull()).withColumn(
            "features", array_to_vector(l2_normalize(F.col(vec_col)).cast("array<double>"))
        )
        model = KMeans(k=n_centroids, seed=42, maxIter=20).fit(prepared)
        rows = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        return local_frame(corpus.sparkSession, rows, "cid long, cvec array<double>")
    n = corpus.count()
    stride = max(n // n_centroids, 1)
    return (
        corpus.filter(
            (F.col(id_col) % stride == 0) & (F.col(id_col) / stride < n_centroids)
        )
        .select(
            (F.col(id_col) / stride).cast("long").alias("cid"),
            F.col(vec_col).alias("cvec"),
        )
    )


def _lloyd_fit(X, k: int, max_iter: int = 20, tol: float = 1e-4, seed: int = 42):
    """Seeded k-means++ init + Lloyd iterations in numpy, mirroring the
    MLlib fit's shape (L2-normalize first, euclidean assignment, centers =
    unnormalized means, maxIter 20, movement tolerance 1e-4). Deterministic
    for a fixed row ORDER of ``X`` (callers pass an id-sorted sample, so
    the fit is a pure function of the sampled (id, vec) set). Ties in the
    assignment go to the lowest cid (argmin first-occurrence). Empty cells
    are reseeded to the point currently farthest from its center —
    deterministic, and it keeps exactly k distinct centers whenever the
    data has k distinct points. ``k`` is clamped to len(X)."""
    import numpy as np

    X = np.ascontiguousarray(np.asarray(X, dtype=np.float64))
    norms = np.sqrt((X * X).sum(axis=1))
    X = X / np.where(norms == 0.0, 1.0, norms)[:, None]
    n, dim = X.shape
    k = max(1, min(k, n))
    rng = np.random.default_rng(seed)
    xsq = (X * X).sum(axis=1)

    # --- k-means++ init (D² sampling over the sample) ---
    first = int(rng.integers(n))
    chosen = [first]
    # ||x-c||² = ||x||² - 2 x·c + ||c||²: one dot per candidate, never the
    # (X - c)² temporary churn
    d2 = np.maximum(xsq - 2.0 * np.dot(X, X[first]) + xsq[first], 0.0)
    for _ in range(1, k):
        tot = float(d2.sum())
        if tot <= 0.0:
            # all remaining mass covered (duplicate points): take the
            # lowest-index point not yet chosen — deterministic
            taken = set(chosen)
            cand = next((i for i in range(n) if i not in taken), first)
        else:
            r = rng.random() * tot
            cand = int(
                min(np.searchsorted(np.cumsum(d2), r, side="right"), n - 1)
            )
        chosen.append(cand)
        np.minimum(
            d2,
            np.maximum(xsq - 2.0 * np.dot(X, X[cand]) + xsq[cand], 0.0),
            out=d2,
        )
    C = X[chosen].copy()

    # --- Lloyd ---
    for _ in range(max_iter):
        # argmin ||x-c||² = argmin (||c||² - 2 x·c): ||x||² is row-constant.
        # np.dot against a C-contiguous C.T — the transposed-view gemm path
        # is ~10× slower on this skinny shape (measured r15)
        G = np.dot(X, np.ascontiguousarray(C.T))
        D = (C * C).sum(axis=1)[None, :] - 2.0 * G
        a = np.argmin(D, axis=1)
        counts = np.bincount(a, minlength=k).astype(np.float64)
        # per-dim bincount beats ufunc.at ~2× on this shape
        newC = np.stack(
            [np.bincount(a, weights=X[:, d], minlength=k) for d in range(dim)],
            axis=1,
        )
        nz = counts > 0
        newC[nz] /= counts[nz, None]
        empty = np.flatnonzero(~nz)
        if empty.size:
            # distance of every point to its own center, for reseeding
            own = D[np.arange(n), a] + xsq
            for j in empty:
                far = int(np.argmax(own))
                newC[j] = X[far]
                own[far] = -np.inf
        shift = float(np.sqrt(((newC - C) ** 2).sum(axis=1)).max())
        C = newC
        if shift <= tol:
            break
    return C


def _topk_by_score(
    cands: DataFrame, k: int, id_col: str, vec_col: str, dedupe: bool = False
) -> DataFrame:
    """Shared final stage of every candidate-set search here: round-6 cosine
    against qvec, rank per query with the (score desc, id asc) tie-break the
    d10 oracle depends on bit-for-bit, keep top-k. One definition so the
    contract can't drift between the search paths. ``dedupe=True`` drops the
    copies of a multi-assigned vector in the same window: they tie on (score,
    id), so ``dense_rank`` counts them once and ``lag(id)`` keeps the first."""
    from pyspark.sql import Window

    from vectrekker_spark.functions.vector import cosine_sim

    scored = cands.select(
        "qid",
        F.col(id_col),
        F.round(cosine_sim(vec_col, "qvec"), 6).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col(id_col).asc())
    rank = F.dense_rank() if dedupe else F.row_number()
    scored = scored.withColumn("rank", rank.over(w).cast("long"))
    keep = F.col("rank") <= k
    if dedupe:
        scored = scored.withColumn("__prev", F.lag(id_col).over(w))
        keep &= ~F.col("__prev").eqNullSafe(F.col(id_col))
    return scored.filter(keep).select("qid", id_col, "score", "rank")


def _probe_cells(queries: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """(qid, qvec, cid): each query's ``n_probe`` nearest centroids by a
    broadcast crossJoin and one per-qid ``row_number() <= n_probe`` window,
    in the JVM, with assign_centroids' contract (round-6 cosine, cid asc on
    ties, NULLs dropped, a zero vector scores 0). Carrying qvec spares the
    caller a join back to the queries."""
    from pyspark.sql import Window

    from vectrekker_spark.functions.vector import cosine_sim

    # a zero norm makes the cosine NULL; assign_centroids scores it 0
    s = F.coalesce(F.round(cosine_sim("cvec", "qvec"), 6), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(s.desc(), F.col("cid").asc())
    cents = F.broadcast(centroids.select("cid", "cvec").where(F.col("cvec").isNotNull()))
    return (
        queries.select("qid", "qvec").where(F.col("qvec").isNotNull()).crossJoin(cents)
        .select("qid", "qvec", "cid", F.row_number().over(w).alias("__rn"))
        .where(F.col("__rn") <= n_probe)
        .drop("__rn")
    )


def ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_via: str = "blas",
    unique_assignment: bool = False,
) -> DataFrame:
    """Probe the n_probe nearest cells per query, brute-force within them.

    Candidate set is only the probed cells' vectors — the crossJoin blowup
    never happens. Returns (qid, vec_id, score, rank).

    unique_assignment=True declares the index was built with assign_k=1
    (each corpus vector lives in exactly one cell), which makes the
    candidate (qid, id) pairs unique by construction and lets the search
    skip its dedup exchange — one fewer shuffle on every probe. Leave False
    for multi-assigned indexes, where the same pair can surface via two
    probed cells and the dedup is load-bearing.

    probe_via="blas" (default): probe selection reuses assign_centroids
    (same round-6/cid-asc tie contract as knn_join), so an arbitrarily
    large query batch streams against the broadcast centroids instead of
    being broadcast itself — the scale path for bulk kNN-join workloads.
    probe_via="expr": ``_probe_cells``, the pure-JVM broadcast crossJoin +
    window ivf_search_cells probes with (identical tie contract) — no Python
    worker round-trip and no driver collect, faster for SMALL interactive
    query batches (the reference's `search` CLI shape,
    vectrekker/main.py:162-167). A partial WindowGroupLimit keeps each map
    partition's top n_probe per qid before the shuffle, but the
    |queries| × |centroids| scoring grows with the batch: bulk joins want
    "blas"."""
    if probe_via == "expr":
        probes = _probe_cells(queries, centroids, n_probe).select("qid", "cid")
    else:
        probes = assign_centroids(
            queries, centroids, assign_k=n_probe, id_col="qid", vec_col="qvec"
        )
    cand_ids = probes.join(assignments, "cid").select("qid", id_col)
    if not unique_assignment:
        cand_ids = cand_ids.distinct()
    cands = cand_ids.join(corpus, id_col).join(
        queries, "qid"
    )  # (qid, vec_id, embedding, qvec) — only probed-cell rows survive
    return _topk_by_score(cands, k, id_col, vec_col)


def quantized_rerank_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    coarse_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage kNN: int8 coarse search, full-precision re-rank.

    Stage 1 scans the 4×-smaller quantized corpus (operators/quantize) for
    each query's top coarse_factor·k candidates — at 100 TB this is the scan
    whose IO the quantization exists to cut. Stage 2 joins only those
    candidates back to the full-precision vectors and re-ranks to the final
    top-k, so the reported scores are exact. Recall loss is bounded by the
    int8 rounding error (~1e-3 cosine on 64-dim fixtures) against a
    coarse_factor× headroom — measured ≥0.95 recall@10 at coarse_factor=4.

    Returns (qid, id_col, score, rank) with exact full-precision scores.
    """
    from vectrekker_spark.operators.quantize import dequantize_int8, quantize_int8

    deq = dequantize_int8(
        quantize_int8(corpus.select(id_col, vec_col), vec_col=vec_col)
    ).select(id_col, F.col("embedding_deq").alias(vec_col))
    coarse = knn_join(
        queries, deq, k=k * coarse_factor, id_col=id_col, vec_col=vec_col
    ).select("qid", F.col("vec_id").alias(id_col))
    return _exact_rerank(coarse, corpus, queries, k, id_col, vec_col)


def _exact_rerank(
    coarse_ids: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Stage 2 of every quantized search: join the coarse survivors (qid,
    id) back to the full-precision corpus vectors and re-rank to the final
    top-k — returned scores are exact. Shared so the re-rank contract can't
    drift between quantized_rerank_knn and ivf_search_cells."""
    cands = coarse_ids.join(corpus.select(id_col, vec_col), id_col).join(
        queries, "qid"
    )
    return _topk_by_score(cands, k, id_col, vec_col)


# IVF artifacts: cells-v{N} (partitioned by cid), centroids-v{N} and
# meta-v{N}.json, committed through commit.py's versioned pointer (see the
# versioned-layout note there) as "cells-vN centroids-vM meta-vK.json".
_KINDS = ("cells", "centroids", "meta")


def ivf_save(
    centroids: DataFrame,
    assignments: DataFrame,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_k: int | None = None,
    quantize: bool = False,
) -> None:
    """Persist an IVF index as the classic inverted-list layout:

    - ``{path}/centroids-v{N}``: (cid, cvec) — tiny, one file.
    - ``{path}/cells-v{N}`` + ``{path}/CURRENT-v{K}`` pointer: (id, vector)
      **partitioned by cid** — each probed cell is its own parquet
      directory, so a search reads ONLY the probed cells' files (the
      partition-pruning promise in the module docstring, made real). The
      cell rows carry the vectors themselves (inverted lists), so
      probe-time search never joins back to the corpus table. Rewrites
      land in a NEW version and atomically flip CURRENT (the
      versioned-layout note in commit.py), so concurrent readers never
      see a missing table.
    - ``{path}/meta-v{N}.json``: (id_col, vec_col, assign_k, quantized,
      cells_schema)
      so append / search consumers recover the build parameters instead of
      guessing — pass ``assign_k`` when the assignments were multi-assigned
      so appends keep the same boundary-recall contract.

    ``quantize=True`` stores int8 codes + per-vector scale instead of the
    full vectors (IVF-SQ8): ~4× smaller cells → 4× less probe I/O, the
    dominant index cost at 100 TB. Search dequantizes candidates in-flight;
    pass the corpus to ivf_search_cells for an exact full-precision re-rank
    of the survivors.

    Multi-assigned vectors (assign_k > 1) appear once per assigned cell —
    the standard IVF trade: index size ×assign_k for boundary recall.
    ``repartition(cid)`` before the write puts each cell in one task → one
    file per cell instead of n_tasks × n_cells small files; a skewed hot
    cell becomes one large (still splittable) parquet file.

    Single-writer contract (same as ivf_append/ivf_compact, stated in
    commit.py): index REWRITES must be serialized; readers are always
    safe.
    """
    cells = _cell_rows(assignments, corpus, id_col, vec_col, quantize)
    # versioned write + pointer flip: a REBUILD over an existing index keeps
    # the old version readable for in-flight searches (commit.py's
    # versioned-layout note) instead of overwriting under them. The
    # centroids and meta the rebuild INTRODUCES share the new version
    # number — never in place over the live ones, which a reader's
    # in-flight plan (or its old-cells grace copy) still pairs with.
    version = next_version(path, _KINDS)
    new_cells, new_centroids = f"cells-v{version}", f"centroids-v{version}"
    new_meta = f"meta-v{version}.json"
    centroids.write.mode("overwrite").parquet(f"{path}/{new_centroids}")
    cells.repartition(F.col("cid")).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{path}/{new_cells}")
    # meta is VERSIONED and named by the pointer, so metadata can never be
    # a crash ahead of or behind the tables it describes — the flip makes
    # (cells, centroids, meta) live together or not at all. cells_schema
    # lets readers recover an index whose every row was later deleted (a
    # data-less partitioned dir can't infer its schema) — stored in READ
    # order (data columns first, partition col cid last) so the fallback
    # table matches a normal partitioned read column-for-column.
    read_order = [c for c in cells.columns if c != "cid"] + ["cid"]
    write_meta(
        path,
        new_meta,
        {
            "id_col": id_col,
            "vec_col": vec_col,
            "assign_k": assign_k,
            "quantized": quantize,
            "cells_schema": cells.select(read_order).schema.json(),
        },
    )
    publish(path, [new_cells, new_centroids, new_meta], _KINDS)


def _cell_rows(
    assignments: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    quantize: bool,
) -> DataFrame:
    """(cid, id, payload...) rows for the cells table — full vectors, or
    int8 codes + scale when quantized."""
    if not quantize:
        return assignments.join(corpus.select(id_col, vec_col), id_col).select(
            "cid", id_col, vec_col
        )
    from vectrekker_spark.operators.quantize import quantize_int8

    # "codes"/"codes_scale", NOT "qvec": the search plan joins cells with the
    # query batch, whose query-vector column is conventionally qvec
    q = quantize_int8(corpus.select(id_col, vec_col), vec_col=vec_col)
    return assignments.join(q, id_col).select(
        "cid",
        id_col,
        F.col("qvec").alias("codes"),
        F.col("qvec_scale").alias("codes_scale"),
    )


def ivf_meta(spark, path: str) -> dict:
    """The saved build parameters ({id_col, vec_col, assign_k, quantized,
    cells_schema}) of the live version. The CURRENT pointer names the
    version's meta file, so metadata can never be a crash ahead of or
    behind the tables it describes. Raises ValueError when ``path`` holds
    no committed index (see _current_names)."""
    return read_meta(path, _current_names(path)[2])


def _current_names(path: str) -> tuple[str, str, str]:
    """(cells_dirname, centroids_dirname, meta_filename) of the live
    version — ONE pointer read, so the tables and their metadata can never
    come from different versions. A path without a committed pointer
    naming all three is no IVF index, or one laid out by an older release,
    and raises ValueError."""
    names = resolve(path, _KINDS, "ivf_save (CLI: ann-build)")
    return names["cells"], names["centroids"], names["meta"]


def current_pair(path: str) -> tuple[str, str]:
    """(cells_dirname, centroids_dirname) of the live version."""
    return _current_names(path)[:2]


def cells_dirname(path: str) -> str:
    """Live cells directory name: the CURRENT pointer's target."""
    return current_pair(path)[0]


def cells_location(path: str) -> str:
    """Full path of the live cells table (what spark.read should scan)."""
    return f"{path}/{cells_dirname(path)}"


def _dir_has_data_files(location: str) -> bool:
    """True if the directory tree contains any non-marker file — i.e. the
    parquet read failed for a reason OTHER than genuine emptiness. A
    missing or unlistable directory raises OSError (os.walk swallows
    scandir errors by default — that would classify a vanished table as
    'empty', the exact masking this check exists to prevent)."""
    import os

    if not os.path.isdir(location):
        raise OSError(f"not a listable directory: {location}")

    def _raise(err):
        raise err

    for _root, _dirs, files in os.walk(location, onerror=_raise):
        for fn in files:
            if not (fn.startswith("_") or fn.startswith(".")):
                return True
    return False


def _cells_quantized(cells: DataFrame) -> bool:
    """Writer-contract sniff: quantized (IVF-SQ8) cells carry (id, codes,
    codes_scale) data columns — ONE definition shared by every consumer so
    the heuristic can't drift between paths."""
    data_cols = [c for c in cells.columns if c != "cid"]
    return len(data_cols) >= 3 and f"{data_cols[1]}_scale" in data_cols


def _read_cells(spark, location: str, schema_json: str | None) -> DataFrame:
    """Read a cells table; a fully-emptied index (ivf_delete of every id
    leaves a version dir with no data files) recovers its schema from
    ``schema_json`` (the caller's ALREADY-RESOLVED meta — passing it in
    keeps the one-pointer-read invariant: a concurrent flip between the
    caller's pointer read and this fallback must not pair an old cells
    location with a newer version's schema) instead of failing parquet
    inference, so the index stays loadable/searchable/appendable at zero
    rows.

    The fallback is DELIBERATELY narrow: only an AnalysisException (the
    schema-inference failure an empty dir produces) on a directory that
    verifiably holds no data files qualifies. A corrupt part file, a
    permission error, or a pruned-version race must keep failing loudly —
    masking those as an empty index would let a later compact write a real
    empty version over live data."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(location)
    except AnalysisException:
        import json as _json

        from pyspark.sql.types import StructType

        try:
            truly_empty = not _dir_has_data_files(location)
        except OSError:
            truly_empty = False  # non-local path: can't verify, so don't mask
        if not truly_empty or not schema_json:
            raise  # corruption: surface the original error
        return spark.createDataFrame(
            [], StructType.fromJson(_json.loads(schema_json))
        )


def ivf_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a saved IVF index → (centroids, cells).

    Partition discovery types the ``cid`` directory values as int; cast back
    to long so loaded plans match in-memory ones schema-for-schema."""
    # one pointer read for both tables AND the metadata: a rebuild flipping
    # CURRENT mid-load must not mix artifacts from two versions
    cells_name, centroids_name, meta_name = _current_names(path)
    schema_json = read_meta(path, meta_name).get("cells_schema")
    centroids = spark.read.parquet(f"{path}/{centroids_name}")
    cells = _read_cells(spark, f"{path}/{cells_name}", schema_json).withColumn(
        "cid", F.col("cid").cast("long")
    )
    return centroids, cells


def ivf_append(
    new_corpus: DataFrame,
    path: str,
    assign_k: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> None:
    """Incrementally index a new batch into a saved IVF index — the
    reference's changed-files-only semantics (`vectrekker/main.py:143-147`)
    applied to the ANN index: assign the delta against the EXISTING
    centroids and append only those rows to the cell table. Cost ∝ delta
    size; the 100 TB history is never touched. Tested equivalent to
    rebuilding the assignment over the full corpus with the same centroids.

    Parameters left as None resolve from the index's saved metadata (then
    fall back to vec_id/embedding/1) — so an index built multi-assigned
    keeps multi-assigning its appends without every call site re-stating it.

    At-least-once caveat: re-appending the same ids duplicates rows; search
    dedupes candidates by (qid, id) and duplicate rows carry identical
    vectors, so results are unaffected (`ivf_compact` reclaims them).
    Single-writer contract (same as ivf_save/ivf_compact): appends are
    index rewrites too — serialize them against other writers.
    Centroids drift as the corpus grows — re-run ivf_build when recall
    degrades; append covers the between-rebuilds regime."""
    spark = new_corpus.sparkSession
    # one pointer read: the centroids used for assignment, the metadata,
    # and the cells dir appended into must all belong to the same version
    name, centroids_name, meta_name = _current_names(path)
    meta = read_meta(path, meta_name)
    id_col = id_col or meta.get("id_col", "vec_id")
    vec_col = vec_col or meta.get("vec_col", "embedding")
    assign_k = assign_k or meta.get("assign_k") or 1
    centroids = spark.read.parquet(f"{path}/{centroids_name}")
    # a quantized index (IVF-SQ8) quantizes its appends too — the cells
    # schema must stay homogeneous, so the decision comes from the LIVE
    # cells schema itself (present even for an empty table via the schema
    # fallback): a meta flag one crash behind the pointer can never make an
    # append write mixed-precision rows into the cells dir.
    live = _read_cells(spark, f"{path}/{name}", meta.get("cells_schema"))
    quantized = (
        _cells_quantized(live)
        if live.columns != ["cid"]
        else bool(meta.get("quantized"))
    )
    assign = assign_centroids(
        new_corpus, centroids, assign_k=assign_k, id_col=id_col, vec_col=vec_col
    )
    cells = _cell_rows(assign, new_corpus, id_col, vec_col, quantized)
    cells.repartition(F.col("cid")).write.mode("append").partitionBy("cid").parquet(
        f"{path}/{name}"
    )


def ivf_delete(spark, path: str, ids: DataFrame) -> int:
    """Remove all cell rows for the given ids from a saved IVF index,
    rewriting ONLY the partitions that contain them — the delete half of a
    vector upsert (a changed embedding must supersede its old cell rows, or
    searches keep scoring the stale vector and the duplicate-payload
    invariant ivf_compact/search dedup rely on breaks).

    ``ids``: a one-column DataFrame of ids to remove (column name must be
    the index's id column). Affected cids are discovered by a semi-join
    against the cells table (bounded by the cell count — the √N quantizer
    rule keeps this a tiny collect). The rewrite is versioned and
    reader-safe: surviving rows of the affected partitions are written into
    a NEW cells version, every UNAFFECTED partition's files are hardlinked
    across (no data copied — cost ∝ affected cells, never the index), and
    the CURRENT pointer flips atomically. A crash before the flip leaves
    the old version live and the half-built one as unreferenced garbage
    pruned by the next rewrite.

    Same single-writer contract as ivf_compact: don't run concurrently with
    ivf_append, and on an object store prefer the lakehouse's own
    DELETE/MERGE. Returns rows removed."""
    live_name, centroids_name, meta_name = _current_names(path)
    meta = read_meta(path, meta_name)
    cells = _read_cells(
        spark, f"{path}/{live_name}", meta.get("cells_schema")
    ).withColumn("cid", F.col("cid").cast("long"))
    id_col = [c for c in cells.columns if c != "cid"][0]
    hits = cells.join(ids.select(id_col), id_col, "leftsemi")
    affected = {int(r[0]) for r in hits.select("cid").distinct().collect()}
    if not affected:
        return 0
    removed = hits.count()
    remain = cells.filter(F.col("cid").isin(list(affected))).join(
        ids.select(id_col), id_col, "left_anti"
    )
    version = next_version(path, _KINDS)
    new_name = f"cells-v{version}"
    # rewritten (possibly now-empty) partitions land in the new version...
    remain.repartition(F.col("cid")).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{path}/{new_name}")
    # ...and untouched partitions are hardlinked across (copy on FSes
    # without link support) — file count ∝ cell count, no data movement
    _link_partitions(
        f"{path}/{live_name}", f"{path}/{new_name}", skip_cids=affected
    )
    # centroids/meta are untouched: the flip carries the live names forward
    publish(path, [new_name, centroids_name, meta_name], _KINDS)
    return removed


def _link_partitions(src: str, dst: str, skip_cids: set[int]) -> None:
    import os
    import re
    import shutil

    for d in os.listdir(src):
        m = re.fullmatch(r"cid=(-?\d+)", d)
        if not m or int(m.group(1)) in skip_cids:
            continue
        os.makedirs(os.path.join(dst, d), exist_ok=True)
        for fn in os.listdir(os.path.join(src, d)):
            s, t = os.path.join(src, d, fn), os.path.join(dst, d, fn)
            if os.path.exists(t):
                continue
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def ivf_compact(spark, path: str) -> int:
    """Rewrite the cells table dropping duplicate (cid, id) rows left by
    re-appended batches (ivf_append's at-least-once caveat) and merging the
    small files appends accrete. The deduped table lands in a NEW cells
    version and the CURRENT pointer flips atomically (commit.py's
    versioned-layout note): concurrent READERS keep resolving the old directory —
    which stays on disk as the grace copy until the next rewrite — so no
    reader ever hits a missing table mid-swap. A crash before the flip
    leaves the old version live; the half-built version is unreferenced
    garbage pruned by the next rewrite. On an object store, use the
    lakehouse's own OPTIMIZE instead of this helper. Returns rows removed.

    Duplicate rows carry identical vectors, so search results never change;
    compaction is purely a size/file-count reclaim, cost ∝ index size — run
    it on the cadence appends warrant, like any lakehouse OPTIMIZE.

    Single-writer contract (same as the MERGE sink): compaction must not
    run concurrently with ivf_append — an append landing between the
    staging read and the flip would be silently discarded. Serialize them
    (e.g. compact from the same scheduler that owns the append cadence)."""
    live_name, centroids_name, meta_name = _current_names(path)
    meta = read_meta(path, meta_name)
    cells = _read_cells(
        spark, f"{path}/{live_name}", meta.get("cells_schema")
    ).withColumn("cid", F.col("cid").cast("long"))
    before = cells.count()
    # writer contract (ivf_save/ivf_append): data columns are (id, vector),
    # partition col cid is appended last at read → columns[0] is the id col
    deduped = cells.dropDuplicates(["cid", cells.columns[0]])
    version = next_version(path, _KINDS)
    new_name = f"cells-v{version}"
    deduped.repartition(F.col("cid")).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{path}/{new_name}")
    # explicit-schema read: verifies the persisted rows without parquet
    # inference, so a compact that EMPTIES the table (data-less dir) still
    # verifies cleanly — and does so independent of the pointer state
    after = spark.read.schema(cells.schema).parquet(f"{path}/{new_name}").count()
    publish(path, [new_name, centroids_name, meta_name], _KINDS)
    return before - after


def ivf_search_cells(
    queries: DataFrame,
    centroids: DataFrame,
    cells: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    id_col: str | None = None,
    vec_col: str | None = None,
    corpus: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """ivf_search against a saved (ivf_load) index: candidates come straight
    from the probed cells' inverted lists — no join back to the corpus.

    id_col/vec_col default to the cells table's own schema (writer contract:
    data columns are (id, vector), partition col cid last), so any
    ivf_save/ann-build directory searches correctly without the caller
    re-stating its column names.

    A quantized index (ivf_save(quantize=True) — cells carry int8 codes +
    scale) dequantizes candidates in-flight: scores are then approximate to
    the int8 reconstruction error (~1e-3 cosine). Pass ``corpus`` to re-rank
    exactly: the quantized scan keeps the per-query top k·rerank_factor,
    only those survivors join back to the full-precision vectors, and the
    returned scores are exact — the FAISS-style IVF-SQ8 shape where the 4×
    probe-I/O cut pays for a k·factor-row join.

    Runs in the JVM: ``_probe_cells`` picks the cells against the broadcast
    centroids, checked first against ``_centroid_cap`` by one aggregate.
    The query side is evaluated once: the probes are materialized
    (``session.truncate_lineage``; on a cluster without a checkpoint dir
    they stay a plan and the queries are read twice), and both the cid
    collect and the cell join read that result. The distinct probed cids
    (at most the centroid count, which ``_centroid_cap`` bounds) are
    collected and applied as an ``isin`` filter, so the cell scan
    statically prunes to exactly the probed partitions (asserted in
    test_plans).
    The probes carry qvec, so the queries are not joined back, and the
    ranking window drops the copies of a vector multi-assigned to two probed
    cells (no dedupe exchange)."""
    data_cols = [c for c in cells.columns if c != "cid"]
    quantized = _cells_quantized(cells)
    id_col = id_col or data_cols[0]
    n, dim = centroids.where(F.col("cvec").isNotNull()).select(
        F.count(F.lit(1)), F.max(F.size("cvec"))
    ).first()
    _centroid_cap(dim or 0, n=n)
    probes = _probe_cells(queries, centroids, n_probe)
    # one query-side pass: the cid collect and the final plan both read the
    # materialized probes instead of re-evaluating the queries (a Python-RDD
    # query frame costs a Python task per read)
    materialized = truncate_lineage(probes)
    if materialized is not None:
        probes = materialized
    probed = [r[0] for r in probes.select("cid").distinct().collect()]
    cells = cells.filter(F.col("cid").isin(probed))
    cands = probes.join(cells, "cid")  # (cid, qid, qvec, id, vector...)
    if not quantized:
        return _topk_by_score(cands, k, id_col, vec_col or data_cols[1], dedupe=True)
    from vectrekker_spark.operators.quantize import dequantize_int8

    deq = dequantize_int8(cands, qvec_col=data_cols[1], out_col="__deq")
    if corpus is None:
        return _topk_by_score(deq, k, id_col, "__deq", dedupe=True)
    if vec_col is None:
        # quantized cells carry codes, not the original column name — take
        # the corpus's (unique) non-id array column instead of guessing
        arrays = [
            c for c, t in corpus.dtypes if c != id_col and t.startswith("array")
        ]
        if len(arrays) != 1:
            raise ValueError(
                "ivf_search_cells: pass vec_col explicitly — the corpus has "
                f"{len(arrays)} candidate array columns: {arrays}"
            )
        vec_col = arrays[0]
    coarse = _topk_by_score(
        deq, k * rerank_factor, id_col, "__deq", dedupe=True
    ).select("qid", id_col)
    return _exact_rerank(coarse, corpus, queries, k, id_col, vec_col)


def ivf_recall_estimate(
    spark,
    path: str,
    sample: int = 100,
    k: int = 10,
    n_probe: int = 3,
) -> dict:
    """Sampled recall canary for a persisted index: how good are this
    index's centroids for the vectors it currently holds?

    Appends re-use build-time centroids (ivf_append), so a drifting corpus
    — new vectors far from every training cluster — silently degrades
    probe recall until a full rebuild. Nothing in the cells table exposes
    that; the only way to see it is to measure. This estimator samples
    ``sample`` stored vectors as queries (deterministic: lowest xxhash64 of
    the id, so repeated calls on an unchanged index agree), runs
    ``ivf_search_cells`` against exact brute-force top-k over the same
    stored vectors, and reports the mean overlap.

    Cost is bounded and corpus-shaped, not quadratic: the sampled queries
    are a broadcast-crossJoin side, so the SCORING is one streaming pass
    over the cells table against ≤``sample`` queries — the same shape as
    any exact-knn batch (a partial WindowGroupLimit ships only each
    partition's per-qid top-k to the ranking window). On a huge index
    that pass is still sample × n_vectors scores, so run this canary
    deliberately (maintenance cadence, smaller ``sample``). A quantized index is measured
    in its own dequantized space (index-vs-index, the drift signal we
    want), so no full-precision corpus is needed.

    Returns ``{"recall": float, "k", "n_probe", "sampled": n_queries}``.
    Surfaced as ``stats --ivf ... --recall-sample N`` on the CLI."""
    centroids, cells = ivf_load(spark, path)
    data_cols = [c for c in cells.columns if c != "cid"]
    id_col = data_cols[0]
    if _cells_quantized(cells):
        from vectrekker_spark.operators.quantize import dequantize_int8

        vectors = dequantize_int8(
            cells, qvec_col=data_cols[1], out_col="__vec"
        ).select(id_col, "__vec")
        vec_col = "__vec"
    else:
        vec_col = data_cols[1]
        vectors = cells.select(id_col, vec_col)
    # multi-assigned vectors appear in several cells with identical payloads
    vectors = vectors.dropDuplicates([id_col])
    queries = (
        vectors.orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    )
    queries = queries.persist()
    try:
        exact = _topk_by_score(
            F.broadcast(queries).crossJoin(vectors), k, id_col, vec_col
        ).select("qid", id_col)
        approx = ivf_search_cells(
            queries, centroids, cells, k=k, n_probe=n_probe
        ).select("qid", id_col, F.lit(1).alias("__hit"))
        row = (
            exact.join(approx, ["qid", id_col], "left")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.coalesce("__hit", F.lit(0))).alias("hit"),
                F.countDistinct("qid").alias("sampled"),
            )
            .collect()[0]
        )
    finally:
        queries.unpersist()
    return {
        "recall": (row["hit"] / row["total"]) if row["total"] else 1.0,
        "k": k,
        "n_probe": n_probe,
        "sampled": row["sampled"],
    }

