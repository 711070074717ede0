"""Product quantization (PQ) — the memory-bound ANN path (SURVEY §2.2
V7, r13). IVF (operators/ann.py) prunes WHICH vectors a query scans; PQ
shrinks WHAT a scan reads: each vector becomes m one-byte codes, so a
corpus that is terabytes of float raw fits in gigabytes of codes and the
scan is a table lookup per subspace instead of a d-dim dot product.

Built from the public technique (Jégou/Douze/Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011): split the
d-dim space into m orthogonal subspaces of d/m dims, k-means each
subspace independently to 2^nbits centroids (the codebook), encode a
vector as its m nearest-subcentroid ids, and answer queries with
asymmetric distance computation (ADC): precompute the query's partial
scores against every subcentroid once (an m × 2^nbits lookup table),
then a vector's approximate score is m table lookups summed.

Spark shapes (designed for the 1000-executor case):
- TRAIN on the driver: one job collects a deterministic, byte-capped
  sample of the normalized corpus, then m seeded k-means fits (ann's one
  k-means core, `_lloyd_fit`) run over its sliced subvectors — the
  standard practice; codebooks are tiny (m × 2^nbits × d/m doubles) by
  construction.
- ENCODE is a narrow Arrow map: codebooks broadcast as one numpy array,
  each batch does m BLAS distance computations + argmin. No shuffle; the
  code table is the only thing written (m bytes + id per vector).
- SEARCH is scan + per-partition top-k + one tiny final top-k shuffle:
  queries and their LUTs broadcast (n_q × m × 2^nbits floats), each code
  partition scores its rows with numpy gathers. The float corpus is
  never read — that is the entire point — unless `refine` > 0, which
  joins the ADC top-(k·refine) candidates back to the true vectors for
  an exact rerank (the standard recall repair). Two searches: pq_search
  scans every code, ivfpq_search_cells only a saved IVF∘PQ index's
  probed cells; both end in one refine-and-rank tail (_refine_rank).

Metric: cosine via inner-product ADC over l2-normalized vectors (the
module-wide convention — ivf_build normalizes the same way). Scores are
round-6 like knn_join, ties broken by vec_id ascending, so results are
deterministic and oracle-comparable.

Persistence (pq_save, ivfpq_save and their load/append/compact): each
save writes versioned artifacts and commits them through the CURRENT-v{K}
pointer of vectrekker_spark/commit.py, the protocol the IVF index uses.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.commit import (
    artifact_version,
    next_version,
    publish,
    read_meta,
    resolve,
    write_meta,
)
from vectrekker_spark.functions.vector import cosine_sim, l2_normalize
from vectrekker_spark.operators.ann import (
    _centroid_cap,
    _lloyd_fit,
    _probe_pruned,
    _rank_top,
    assign_centroids,
)
from vectrekker_spark.session import local_frame


def _codebooks_np(codebooks: DataFrame):
    """Collect a (subspace, code, cvec) codebook table to a dense numpy
    array of shape (m, k, dsub) — validated contiguous ids."""
    import numpy as np

    rows = codebooks.collect()
    if not rows:
        raise ValueError("empty codebook table")
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["cvec"])
    arr = np.full((m, k, dsub), np.nan)
    for r in rows:
        arr[r["subspace"], r["code"]] = r["cvec"]
    if not np.isfinite(arr).all():
        raise ValueError(
            f"codebook table is not a dense {m}x{k} grid — missing "
            "(subspace, code) rows"
        )
    return arr


def _query_luts(
    queries: DataFrame, cb, qid_col: str, qvec_col: str, max_queries: int,
    fn: str, rotation=None,
):
    """Query side shared by both ADC searches → (rows, lut).

    A bounded collect: NULL-id / NULL-vector query rows are DROPPED (the
    corpus side's NULL-is-never-a-neighbor rule — one junk row must not
    kill the job), and each vector is validated against the index dim.
    The vectors are l2-normalized and, for codes encoded under an OPQ
    ``rotation``, rotated into the codes' space (probing and the refine
    arm stay in original space — the rotation preserves cosine). Then the
    inner-product lookup table ``lut[q, j, c] = q_j · c_jc``, so
    ``ADC(q, x) = Σ_j lut[q, j, codes_j]``. ``rows`` are the kept (qid,
    qvec) rows as collected — original vectors, the refine arm's input —
    and may be empty, which callers turn into an empty result frame."""
    import numpy as np

    m, _, dsub = cb.shape
    dim = m * dsub
    qrows = (
        queries.where(
            F.col(qid_col).isNotNull() & F.col(qvec_col).isNotNull()
        )
        .select(qid_col, qvec_col)
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"{fn} collected more than max_queries={max_queries} "
            "queries — batch them"
        )
    kept, vecs = [], []
    for r in qrows:
        try:
            v = np.asarray(r[qvec_col], dtype=np.float64)
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"{fn}: query {r[qid_col]!r} has a non-numeric vector"
            ) from e
        if v.ndim != 1 or len(v) != dim:
            raise ValueError(
                f"{fn}: query {r[qid_col]!r} has {v.shape} — the index "
                f"holds {dim}-dim vectors"
            )
        kept.append(r)
        vecs.append(v)
    qs = np.asarray(vecs) if vecs else np.zeros((0, dim))
    norms = np.linalg.norm(qs, axis=1, keepdims=True)
    np.divide(qs, norms, out=qs, where=norms > 0)
    if rotation is not None:
        qs = qs @ np.asarray(rotation, dtype=np.float64)
    return kept, np.einsum("qjd,jcd->qjc", qs.reshape(len(qs), m, dsub), cb)


def _empty_result(queries: DataFrame, codes: DataFrame, qid_col: str,
                  id_col: str) -> DataFrame:
    """Zero-row (qid, id, score, rank) frame with the callers' types."""
    qid_type = queries.select(qid_col).schema[0].dataType.simpleString()
    id_type = codes.select(id_col).schema[0].dataType.simpleString()
    return queries.sparkSession.createDataFrame(
        [],
        f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, "
        f"score double, rank long",
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Fit PQ codebooks → (subspace, code, cvec) rows, m × 2^nbits total.

    The vector dim must divide by ``m`` (subspaces must tile the space).
    A LIMIT-1 probe reads the dim; then ONE job collects the
    l2-normalized vectors with the lowest hash, as many as
    ``ann._centroid_cap(dim)`` allows (every vector when the corpus fits
    under the cap), and the m subspaces are fit on the driver with seeds
    ``seed + j`` (``_fit_codebooks``). The sample and its order are a
    pure function of the vector multiset, so the codebooks do not depend
    on partition layout. To train on less, pre-sample the corpus
    (``df.sample``)."""
    if m < 1 or nbits < 1 or nbits > 12:
        raise ValueError(f"need m >= 1 and 1 <= nbits <= 12, got {m=} {nbits=}")
    probe = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .limit(1)
        .collect()
    )
    if not probe:
        raise ValueError("corpus has no non-NULL vectors to train on")
    d = probe[0]["d"]
    if d % m != 0:
        raise ValueError(f"dim {d} is not divisible by m={m} subspaces")
    x = _unit_sample(corpus, vec_col, _centroid_cap(d))
    return _grid_frame(
        corpus.sparkSession, _fit_codebooks(x, m, 1 << nbits, seed, max_iter)
    )


def _unit_sample(corpus: DataFrame, vec_col: str, n: int):
    """Up to ``n`` l2-normalized non-NULL vectors of ``corpus`` as a
    lexicographically sorted (rows, dim) float64 array. One TakeOrdered
    job keeps the rows with the lowest xxhash64 of the normalized vector
    (the PQ trainers have no id column to key on), so which rows are kept
    and their order are a pure function of the vector multiset —
    partition-layout invariant."""
    import numpy as np

    pdf = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(l2_normalize(vec_col).alias("__v"))
        .orderBy(F.xxhash64("__v"), "__v")
        .limit(n)
        .toPandas()
    )
    if pdf.empty:
        return np.zeros((0, 0))
    x = np.asarray(list(pdf["__v"]), dtype=np.float64)
    return x[np.lexsort(x.T[::-1])]


def _fit_codebooks(x, m: int, k: int, seed: int, max_iter: int):
    """(m, k, dsub) codebook grid for the rows of ``x``: subspace j's raw
    subvectors are fit by ann._lloyd_fit with seed ``seed + j`` (never
    renormalized — PQ quantizes slices of the unit vector). A subspace
    with fewer than k distinct points (a tiny corpus, a constant
    dimension) takes those points instead, sorted and cycled up to k:
    duplicate centroids are harmless (argmin ties take the lowest code)
    and the quantization on such data is exact."""
    import numpy as np

    dsub = x.shape[1] // m
    grid = np.empty((m, k, dsub))
    for j in range(m):
        sub = np.ascontiguousarray(x[:, j * dsub:(j + 1) * dsub])
        distinct = np.unique(sub, axis=0)
        if len(distinct) < k:
            grid[j] = distinct[np.arange(k) % len(distinct)]
        else:
            grid[j] = _lloyd_fit(sub, k, max_iter=max_iter, seed=seed + j)
    return grid


def _grid_frame(spark, grid) -> DataFrame:
    """An (m, k, dsub) codebook grid as (subspace, code, cvec) rows."""
    m, k, _ = grid.shape
    rows = [(j, c, grid[j, c].tolist()) for j in range(m) for c in range(k)]
    return local_frame(spark, rows, "subspace int, code int, cvec array<double>")


def _nearest_codes(xs, cb, cb_sq):
    """(n, m) int16 codes of subvectors ``xs`` (n, m, dsub): per subspace
    the nearest centroid of ``cb`` (m, k, dsub) by L2, ties to the lowest
    code. ``cb_sq`` is the (m, k) centroid squared norms —
    ||x - c||² = ||x||² - 2x·c + ||c||², and the argmin needs only the
    last two terms."""
    import numpy as np

    m = cb.shape[0]
    codes = np.empty((len(xs), m), dtype=np.int16)
    for j in range(m):
        dist = cb_sq[j][None, :] - 2.0 * (xs[:, j, :] @ cb[j].T)
        codes[:, j] = np.argmin(dist, axis=1)
    return codes


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<smallint>): each vector's m nearest-subcentroid
    ids by L2 over the normalized subvectors, ties to the lowest code
    (numpy argmin). NULL vectors drop (nothing to encode — the NULL-is-
    never-a-neighbor rule). One narrow Arrow map, codebooks broadcast."""
    return _encode_grid(corpus, _codebooks_np(codebooks), id_col, vec_col)


def _encode_grid(corpus: DataFrame, cb, id_col: str, vec_col: str) -> DataFrame:
    """pq_encode under an already collected (m, k, dsub) codebook grid."""
    import numpy as np
    import pandas as pd

    m, k, dsub = cb.shape
    cb_sq = (cb ** 2).sum(axis=2)  # (m, k)

    id_field = corpus.select(id_col).schema[0]
    id_type = id_field.dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            mask = vecs.notna()
            sub = pdf[mask]
            if len(sub) == 0:
                yield pd.DataFrame({id_col: [], "codes": []}).astype(
                    {id_col: pdf[id_col].dtype}
                )
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in sub[vec_col]])
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            np.divide(x, norms, out=x, where=norms > 0)
            codes = _nearest_codes(x.reshape(len(sub), m, dsub), cb, cb_sq)
            yield pd.DataFrame(
                {id_col: sub[id_col].values, "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, schema=f"`{id_col}` {id_type}, codes array<smallint>"
    )


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    rotation=None,
) -> DataFrame:
    """ADC top-k over the code table → (qid, vec_id, score, rank).

    score is the round-6 ADC inner-product approximation of cosine
    (exact cosine when ``refine`` > 0 — see below); ranks are dense per
    query, ties by vec_id ascending (the knn_join contract).

    ``refine=r`` (with ``corpus``) takes the ADC top-(k·r) candidates and
    exactly reranks them against the true vectors — the candidate join
    touches only k·r·n_q rows of the float corpus, so the recall repair
    costs a sliver of a brute-force scan.

    Queries + LUTs are driver-collected and broadcast (bounded by
    ``max_queries`` — this operator is for query BATCHES against huge
    corpora, not corpus×corpus joins; for that, encode both sides and
    loop batches).

    ``rotation``: codes encoded under an OPQ rotation (opq_train) need
    the query LUTs in the same rotated space — pass the matrix and
    ORIGINAL queries; the refine arm stays in original space (rotation
    preserves cosine), so ``corpus`` is the unrotated float table."""
    import numpy as np
    import pandas as pd

    qrows, lut = _query_luts(
        queries, _codebooks_np(codebooks), qid_col, qvec_col, max_queries,
        "pq_search", rotation,
    )
    if not qrows:
        return _empty_result(queries, codes, qid_col, id_col)
    qids = [r[0] for r in qrows]
    m = lut.shape[1]
    n_q = len(qids)

    id_type = codes.select(id_col).schema[0].dataType.simpleString()
    qid_type = queries.select(qid_col).schema[0].dataType.simpleString()
    take = k * refine if refine > 0 else k

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.asarray(
                [np.asarray(v, dtype=np.int64) for v in pdf["codes"]]
            )  # (n, m)
            # gather: scores (q, n) = Σ_j lut[q, j, c[n, j]]
            scores = np.zeros((n_q, len(pdf)))
            for j in range(m):
                scores += lut[:, j, :][:, c[:, j]]
            out_q, out_id, out_s = [], [], []
            top = min(take, len(pdf))
            ids = pdf[id_col].values
            for qi in range(n_q):
                # select on the ROUNDED score (the contract's tie unit) and
                # keep EVERY row tied at the take boundary — an unrounded
                # argpartition could drop a row that rounds equal but has
                # the smaller id, breaking the deterministic (score desc,
                # id asc) order the final window restores (advisor r13)
                s = np.round(scores[qi], 6)
                if top < len(s):
                    thresh = np.partition(s, len(s) - top)[len(s) - top]
                    idx = np.nonzero(s >= thresh)[0]
                else:
                    idx = np.arange(len(s))
                out_q.extend([qids[qi]] * len(idx))
                out_id.extend(ids[idx])
                out_s.extend(s[idx])
            yield pd.DataFrame({qid_col: out_q, id_col: out_id, "score": out_s})

    partials = codes.mapInPandas(
        gen, schema=f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, score double"
    )
    # the refine arm reads the collected rows, not the caller's frame again
    qschema = queries.select(qid_col, qvec_col).schema
    return _refine_rank(
        partials, k, refine, corpus,
        lambda: local_frame(queries.sparkSession, qrows, qschema),
        qid_col, qvec_col, id_col, vec_col,
    )


def _refine_rank(
    scored: DataFrame,
    k: int,
    refine: int,
    corpus: DataFrame | None,
    qvecs: Callable[[], DataFrame],
    qid_col: str,
    qvec_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of both ADC searches over (qid, id, score) rows: with
    ``refine`` > 0 keep each query's ADC top-(k·refine) and re-score those
    candidates exactly against the float ``corpus`` and the (qid_col,
    qvec_col) frame ``qvecs()`` builds (round-6 cosine, the knn_join
    contract), then rank the per-query top-k. Both windows are
    ann._rank_top's deduping one, so the repeated hits of a re-appended or
    multi-assigned code row count once."""
    if refine > 0:
        if corpus is None:
            raise ValueError("refine > 0 needs the float `corpus` to rerank")
        top = _rank_top(scored, k * refine, id_col, dedupe=True, qid_col=qid_col)
        scored = (
            top.select(qid_col, id_col)
            .join(corpus.select(id_col, vec_col), id_col)
            .join(F.broadcast(qvecs()), qid_col)
            .select(
                qid_col,
                id_col,
                F.round(cosine_sim(vec_col, qvec_col), 6).alias("score"),
            )
        )
    return _rank_top(scored, k, id_col, dedupe=True, qid_col=qid_col)


# --------------------------------------------------------------------------
# Persistence: versioned artifacts published through commit.py's pointer.
# Codes are MEANINGLESS under a codebook of different geometry or without
# the OPQ rotation they were encoded under, and a silent mismatch would not
# error — it would return confidently wrong neighbors. So every artifact
# of a save is written under a NEW version and one pointer flip makes the
# set live together; the meta pins the geometry and loads refuse a
# codebook that does not match it.

_PQ_KINDS = ("codebooks", "codes", "rotation", "meta")
_IVFPQ_KINDS = ("codebooks", "centroids", "codes", "rotation", "meta")
_PQ_REBUILD = "pq_save (CLI: pq-build)"
_IVFPQ_REBUILD = "ivfpq_save (CLI: ivfpq-build)"


def _save_index(
    path: str, kinds, codebooks: DataFrame, tables: dict, rotation, extra: dict
) -> dict:
    """Write one new version of a PQ-family index — the codebooks, each
    ``tables`` entry (kind → DataFrameWriter), the optional OPQ rotation
    and a meta pinning the geometry (m, nbits, dsub, dim) plus ``extra`` —
    then publish it with one pointer flip (commit.py). Returns the meta
    with the new ``version``."""
    import numpy as np

    cb = _codebooks_np(codebooks)
    m, k, dsub = cb.shape
    writers = {"codebooks": codebooks.write, **tables}
    if rotation is not None:
        R = np.asarray(rotation, dtype=np.float64)
        if R.shape != (m * dsub, m * dsub):
            raise ValueError(
                f"rotation shape {R.shape} does not match the codebook "
                f"dim {m * dsub}"
            )
        writers["rotation"] = codebooks.sparkSession.createDataFrame(
            [(i, [float(v) for v in R[i]]) for i in range(len(R))],
            "i int, r array<double>",
        ).coalesce(1).write
    os.makedirs(path, exist_ok=True)
    version = next_version(path, kinds)
    names = []
    for kind, writer in writers.items():
        names.append(f"{kind}-v{version}")
        writer.mode("overwrite").parquet(os.path.join(path, names[-1]))
    meta = {
        "m": int(m),
        "nbits": int(k).bit_length() - 1,
        "dsub": int(dsub),
        "dim": int(m * dsub),
        **extra,
        "rotated": rotation is not None,
    }
    names.append(f"meta-v{version}.json")
    write_meta(path, names[-1], meta)
    publish(path, names, kinds)
    return {"version": version, **meta}


def _load_index(spark, path: str, kinds, rebuild: str):
    """(artifact names, meta, codebooks, codebook grid) of the live
    version — ONE pointer read, so every table comes from the same
    commit. ``meta["version"]`` is the live codes version. Refuses a
    codebook grid or rotation table that does not match the pinned
    geometry; the validated (m, k, dsub) grid is returned so a search or
    an append does not collect the codebooks again."""
    import numpy as np

    names = resolve(path, [k for k in kinds if k != "rotation"], rebuild)
    meta = read_meta(path, names["meta"])
    meta["version"] = artifact_version(names["codes"])
    codebooks = spark.read.parquet(os.path.join(path, names["codebooks"]))
    cb = _codebooks_np(codebooks)
    if cb.shape != (meta["m"], 1 << meta["nbits"], meta["dsub"]):
        raise ValueError(
            f"codebook grid {cb.shape} does not match the pinned geometry "
            f"(m={meta['m']}, nbits={meta['nbits']}, dsub={meta['dsub']}) "
            "— the codes are not interpretable; rebuild the index"
        )
    if meta.get("rotated"):
        rrows = spark.read.parquet(
            os.path.join(path, names["rotation"])
        ).collect()
        R = np.asarray(
            [r["r"] for r in sorted(rrows, key=lambda r: r["i"])],
            dtype=np.float64,
        )
        if R.shape != (meta["dim"], meta["dim"]):
            raise ValueError(
                f"rotation table shape {R.shape} does not match the pinned "
                f"dim {meta['dim']} — rebuild the index"
            )
        # the ndarray rides the returned meta dict (never JSON-serialized
        # — the json meta only records the flag)
        meta["rotation_matrix"] = R
    return names, meta, codebooks, cb


def pq_save(
    codebooks: DataFrame,
    codes: DataFrame,
    path: str,
    id_col: str = "vec_id",
    rotation=None,
) -> dict:
    """Persist a PQ index: ``codebooks-v{N}``, ``codes-v{N}``, the OPQ
    ``rotation-v{N}`` when given, and ``meta-v{N}.json`` pinning the
    geometry (m, nbits, dsub, dim), id_col and the rotated flag — all
    committed by one pointer flip (commit.py's versioned layout). A crash
    mid-save leaves the previous version live (or no index); the previous
    version stays on disk for one more save (readers may be mid-scan).
    Returns the meta with the new ``version``."""
    return _save_index(
        path, _PQ_KINDS, codebooks, {"codes": codes.write}, rotation,
        {"id_col": id_col},
    )


def pq_load(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """(codebooks, codes, meta) for a pq_save'd index; raises a
    remediation-naming ValueError when ``path`` holds no committed PQ
    index or its codebook grid does not match the pinned geometry."""
    names, meta, codebooks, _ = _load_index(spark, path, _PQ_KINDS, _PQ_REBUILD)
    codes = spark.read.parquet(os.path.join(path, names["codes"]))
    return codebooks, codes, meta


# --------------------------------------------------------------------------
# Persisted IVF∘PQ: cid-partitioned codes + pinned-codebook appends


def ivfpq_save(
    path: str,
    codebooks: DataFrame,
    centroids: DataFrame,
    assign: DataFrame,
    codes: DataFrame,
    id_col: str = "vec_id",
    assign_k: int = 1,
    rotation=None,
) -> dict:
    """Persist an IVF∘PQ index with **cid-partitioned code storage**:

    - ``{path}/codebooks-v{N}`` + ``centroids-v{N}`` — tiny.
    - ``{path}/codes-v{N}/cid=.../`` — (id, codes) rows partitioned by
      their coarse cell, so a search's probed cells become parquet
      partition pruning (the ivf_save inverted-list layout applied to PQ
      codes; at 100 TB this is the difference between scanning 16 B/vector
      of the WHOLE corpus and 16 B/vector of n_probe/√N of it).
    - ``{path}/meta-v{N}.json`` — geometry (m, nbits, dsub, dim), id_col,
      assign_k and the rotated flag.

    One pointer flip commits the set (commit.py's versioned layout): a
    crash mid-save leaves the old version live (or no index), never a torn
    one, and the previous version stays on disk for one more rewrite.

    ``repartition(cid)`` before the write: one task per cell → one file
    per cell, not n_tasks × n_cells small files (the ivf_save argument).
    Single-writer contract: serialize saves/appends against each other;
    readers are always safe (they resolve one committed pointer).

    ``rotation``: an OPQ orthogonal matrix (opq_train) pinned WITH the
    index. Space contract: centroids stay in ORIGINAL space (rotation
    preserves cosine, so probing never needs it) and ONLY the codes live
    in rotated space — the caller passes ``codes`` already encoded from
    ``rotate_vectors(corpus, rotation)``, and append/search apply the
    stored rotation automatically. Codes encoded under a rotation are as
    uninterpretable without it as without their codebooks, hence it
    versions and commits with them.
    """
    cells = assign.select(id_col, "cid").join(codes, id_col).select(
        "cid", id_col, "codes"
    )
    return _save_index(
        path, _IVFPQ_KINDS, codebooks,
        {
            "centroids": centroids.write,
            "codes": cells.repartition(F.col("cid")).write.partitionBy("cid"),
        },
        rotation,
        {"id_col": id_col, "assign_k": int(assign_k)},
    )


def _ivfpq_open(spark, path: str):
    """(artifact names, codebooks, centroids, codes, meta, codebook grid)
    of the live version — one pointer read for every table."""
    names, meta, codebooks, cb = _load_index(
        spark, path, _IVFPQ_KINDS, _IVFPQ_REBUILD
    )
    centroids = spark.read.parquet(os.path.join(path, names["centroids"]))
    # partition discovery types cid as int; cast back to long so loaded
    # plans match in-memory ones schema-for-schema (the ivf_load rule)
    codes = spark.read.parquet(os.path.join(path, names["codes"])).withColumn(
        "cid", F.col("cid").cast("long")
    )
    return names, codebooks, centroids, codes, meta, cb


def ivfpq_load(spark, path: str):
    """(codebooks, centroids, codes, meta) of the live version — ONE
    pointer read, so the tables always come from the same committed save.
    Validates the codebook grid against the pinned geometry (codes are
    uninterpretable under a foreign codebook — the pq_load refusal)."""
    return _ivfpq_open(spark, path)[1:5]


def ivfpq_append(
    new_corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str | None = None,
    assign_k: int | None = None,
) -> None:
    """Incrementally index a new batch under the PINNED codebooks and
    centroids: assign the delta against the existing coarse quantizer,
    encode it with the existing codebooks (geometry mismatch refuses
    loudly — new vectors of a different dim cannot be coded), and append
    only those rows into the live cid partitions. Cost ∝ delta size; the
    history is never re-encoded (the ivf_append contract applied to PQ).

    At-least-once caveat: re-appending the same ids duplicates rows;
    the search's ranking window counts the duplicate hits once (they carry
    identical codes), so results are unaffected. Codebooks/centroids drift
    as the corpus grows — re-run the full build when recall degrades.
    Single-writer contract as ivfpq_save."""
    spark = new_corpus.sparkSession
    names, _, centroids, _, meta, cb = _ivfpq_open(spark, path)
    id_col = id_col or meta["id_col"]
    assign_k = assign_k or meta.get("assign_k") or 1
    probe = (
        new_corpus.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .limit(1)
        .collect()
    )
    if probe and probe[0]["d"] != meta["dim"]:
        raise ValueError(
            f"ivfpq_append: new vectors have dim {probe[0]['d']} but the "
            f"index pins dim {meta['dim']} — they cannot be coded under "
            "the existing codebooks; rebuild the index"
        )
    assign = assign_centroids(
        new_corpus, centroids, assign_k=assign_k,
        id_col=id_col, vec_col=vec_col,
    )
    # an OPQ index encodes in ROTATED space (assignment stays original —
    # rotation preserves cosine, and centroids live unrotated by contract)
    enc_src = new_corpus
    if meta.get("rotation_matrix") is not None:
        enc_src = rotate_vectors(
            new_corpus, meta["rotation_matrix"], vec_col=vec_col
        )
    codes = _encode_grid(enc_src, cb, id_col, vec_col)
    cells = assign.select(id_col, "cid").join(codes, id_col).select(
        "cid", id_col, "codes"
    )
    cells.repartition(F.col("cid")).write.mode("append").partitionBy(
        "cid"
    ).parquet(os.path.join(path, names["codes"]))


def ivfpq_search_cells(
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 8,
    refine: int = 0,
    corpus: DataFrame | None = None,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF∘PQ — the standard billion-scale ANN composition (FAISS's
    IVFPQ) over a saved (ivfpq_save) index: the coarse quantizer prunes
    WHICH cells a query reads, PQ shrinks WHAT it reads there.

    The probe step is ivf_search_cells' (ann._probe_pruned): after the
    LUT collect the queries are read once more (the refine arm takes its
    query vectors from the probes), and the code scan prunes
    statically to exactly the probed cells' parquet partitions. Each
    candidate is scored by ADC from its qid's LUT row (one Arrow pass, the
    LUT block shipped with the task), then ``_refine_rank`` ranks it; its
    window drops the duplicates a multi-assigned vector or a re-appended
    batch leaves (no dedupe exchange). An OPQ index's stored rotation
    applies to the LUTs; probing and the refine arm stay in original
    space (the rotation preserves cosine).

    Semantics: with ``n_probe`` ≥ the centroid count the candidate set is
    the whole index and the result EQUALS pq_search over the same codes
    (tested); a smaller n_probe trades recall like ivf_search does."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    _, _, centroids, codes, meta, cb = _ivfpq_open(spark, path)
    id_col = meta["id_col"]
    qrows, lut = _query_luts(
        queries, cb, qid_col, qvec_col, max_queries,
        "ivfpq_search_cells", meta.get("rotation_matrix"),
    )
    if not qrows:
        return _empty_result(queries, codes, qid_col, id_col)
    qpos = {r[0]: i for i, r in enumerate(qrows)}
    m = lut.shape[1]
    cand, qvecs = _probe_pruned(
        queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec")),
        centroids, codes, n_probe,
    )
    cand = cand.select(F.col("qid").alias(qid_col), id_col, "codes")

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["codes"]])
            qi = np.asarray([qpos[q] for q in pdf[qid_col]])
            s = np.zeros(len(pdf))
            for j in range(m):
                s += lut[qi, j, c[:, j]]
            yield pd.DataFrame(
                {
                    qid_col: pdf[qid_col].values,
                    id_col: pdf[id_col].values,
                    "score": np.round(s, 6),
                }
            )

    qid_type, id_type = (f.dataType.simpleString() for f in cand.schema.fields[:2])
    scored = cand.mapInPandas(
        gen, schema=f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, score double"
    )
    return _refine_rank(
        scored, k, refine, corpus, lambda: qvecs().toDF(qid_col, qvec_col),
        qid_col, qvec_col, id_col, vec_col,
    )


# --------------------------------------------------------------------------
# OPQ: one learned orthogonal rotation before the subspace split


def rotate_vectors(
    df: DataFrame,
    rotation,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """All input columns with ``vec_col`` (or ``out_col``) replaced by the
    vector times the broadcast orthogonal matrix — the OPQ apply step,
    one narrow Arrow map (a single BLAS matmul per batch, no shuffle).
    NULL vectors stay NULL. Because the rotation is orthogonal, norms and
    cosines are preserved: downstream l2-normalization, ADC scoring, and
    exact reranks all commute with it."""
    import numpy as np
    import pandas as pd

    R = np.asarray(rotation, dtype=np.float64)
    if R.ndim != 2 or R.shape[0] != R.shape[1]:
        raise ValueError(f"rotation must be square, got {R.shape}")
    out_col = out_col or vec_col
    bc = df.sparkSession.sparkContext.broadcast(R)
    cols = list(df.columns) + ([out_col] if out_col not in df.columns else [])

    def gen(batches):
        R_ = bc.value
        for pdf in batches:
            outs = [
                None if v is None
                else (np.asarray(v, dtype=np.float64) @ R_).tolist()
                for v in pdf[vec_col]
            ]
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(outs, index=pdf.index, dtype=object)
            yield pdf[cols]

    schema = ", ".join(
        f"`{c}` array<double>" if c == out_col else f"`{c}` {dict(df.dtypes)[c]}"
        for c in cols
    )
    return df.mapInPandas(gen, schema=schema)


def opq_train(
    corpus: DataFrame,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "embedding",
    max_rows: int = 100_000,
    iters: int = 8,
    kmeans_iters: int = 15,
    seed: int = 42,
):
    """Optimized Product Quantization (Ge et al., CVPR 2013, the
    non-parametric alternation): learn ONE d×d orthogonal rotation that
    re-mixes correlated dimensions before the subspace split, then fit
    the PQ codebooks in the rotated space. Plain PQ assumes the m
    subspaces carry independent, comparable variance; correlated or
    anisotropic embeddings violate that and ADC recall drops — the
    rotation is the standard repair, costing one broadcast matmul at
    encode/search time (``rotate_vectors``).

    Alternation on a BOUNDED driver-side sample (the fit_linear_quality
    collect-guard idiom — raises past ``max_rows``; rotation quality
    saturates at ~100k rows): fit per-subspace k-means on X·R,
    reconstruct, update R by orthogonal Procrustes (SVD of Xᵀ·X̂ — the
    closed form). The per-subspace fits are pq_train's (``_fit_codebooks``:
    ann._lloyd_fit with ``kmeans_iters`` as its max_iter, the same
    padding of degenerate subspaces). Deterministic: the sample is sorted
    before the fit and every k-means is seeded.

    Returns ``(rotation ndarray d×d, codebooks DataFrame)`` — the
    codebooks live in ROTATED space, so every downstream call composes
    as ``pq_encode(rotate_vectors(corpus, R), codebooks)`` and
    ``pq_search(rotate_vectors(queries, R, 'qvec'), ...)``; refine/exact
    arms are unaffected (orthogonal ⇒ cosine-preserving)."""
    import numpy as np

    if m < 1 or nbits < 1 or nbits > 12:
        raise ValueError(f"need m >= 1 and 1 <= nbits <= 12, got {m=} {nbits=}")
    x = _unit_sample(corpus, vec_col, max_rows + 1)
    if len(x) > max_rows:
        raise ValueError(
            f"opq_train: sample exceeds max_rows={max_rows}; the rotation "
            "fit is driver-side by design — pre-sample the corpus "
            "(df.sample) or raise the cap deliberately."
        )
    if not len(x):
        raise ValueError("opq_train: corpus has no non-NULL vectors")
    n, d = x.shape
    if d % m != 0:
        raise ValueError(f"dim {d} is not divisible by m={m} subspaces")
    # seeded RANDOM orthogonal init (QR of a gaussian), not identity: for
    # axis-aligned anisotropic data the identity is a fixed point of the
    # alternation (codebooks reconstruct axis-aligned, Procrustes returns
    # identity) — exactly the inputs the rotation exists to fix (Ge et
    # al.'s non-parametric init)
    R, _ = np.linalg.qr(np.random.default_rng(seed).standard_normal((d, d)))
    for it in range(iters + 1):  # final pass refits codebooks only
        xr = x @ R
        cb = _fit_codebooks(xr, m, 1 << nbits, seed + 1000 * it, kmeans_iters)
        if it == iters:
            break
        xs = xr.reshape(n, m, d // m)
        codes = _nearest_codes(xs, cb, (cb ** 2).sum(axis=2))
        recon = cb[np.arange(m), codes].reshape(n, d)
        u, _, vt = np.linalg.svd(x.T @ recon)
        R = u @ vt
    return R, _grid_frame(corpus.sparkSession, cb)


def ivfpq_compact(spark, path: str) -> int:
    """Rewrite the code table dropping duplicate (cid, id) rows left by
    re-appended batches (ivfpq_append's at-least-once caveat) and merging
    the small files appends accrete — the ivf_compact contract for the
    PQ code table. Only a NEW codes version is written; the pointer flip
    carries the live codebooks, centroids, rotation and meta names
    forward, so concurrent readers keep resolving the previous version
    (kept as the grace copy; older codes versions prune). Duplicate rows
    carry identical codes, so search results never change — pinned in
    tests. Returns rows removed. Single-writer contract as
    ivfpq_save/append."""
    names, _, _, codes, meta, _ = _ivfpq_open(spark, path)
    before = codes.count()
    deduped = codes.dropDuplicates(["cid", meta["id_col"]])
    removed = before - deduped.count()
    new_codes = f"codes-v{next_version(path, _IVFPQ_KINDS)}"
    deduped.repartition(F.col("cid")).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(os.path.join(path, new_codes))
    names["codes"] = new_codes
    publish(path, names.values(), _IVFPQ_KINDS)
    return removed
