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
- TRAIN on a sample (`sample_fraction`): m independent MLlib k-means
  fits over sliced subvectors — the standard practice; codebooks are
  tiny (m × 2^nbits × d/m doubles) by construction.
- ENCODE is a narrow Arrow map: codebooks broadcast as one numpy array,
  each batch does m BLAS distance computations + argmin. No shuffle; the
  code table is the only thing written (m bytes + id per vector).
- SEARCH is scan + per-partition top-k + one tiny final top-k shuffle:
  queries and their LUTs broadcast (n_q × m × 2^nbits floats), each code
  partition scores its rows with numpy gathers. The float corpus is
  never read — that is the entire point — unless `refine` > 0, which
  joins the ADC top-(k·refine) candidates back to the true vectors for
  an exact rerank (the standard recall repair, same idiom as
  quantized_rerank_knn).

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
from vectrekker_spark.functions.vector import l2_normalize


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
    """Query side shared by the three ADC searches → (qids, lut).

    A bounded collect: NULL-id / NULL-vector query rows are DROPPED (the
    corpus side's NULL-is-never-a-neighbor rule — one junk row must not
    kill the job), and each vector is validated against the index dim.
    The vectors are l2-normalized and, for codes encoded under an OPQ
    ``rotation``, rotated into the codes' space (probing and the refine
    arm stay in original space — the rotation preserves cosine). Then the
    inner-product lookup table ``lut[q, j, c] = q_j · c_jc``, so
    ``ADC(q, x) = Σ_j lut[q, j, codes_j]``. ``qids`` may be empty, which
    callers turn into an empty result frame."""
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
    qids, vecs = [], []
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
        qids.append(r[qid_col])
        vecs.append(v)
    qs = np.asarray(vecs) if vecs else np.zeros((0, dim))
    norms = np.linalg.norm(qs, axis=1, keepdims=True)
    np.divide(qs, norms, out=qs, where=norms > 0)
    if rotation is not None:
        qs = qs @ np.asarray(rotation, dtype=np.float64)
    return qids, np.einsum("qjd,jcd->qjc", qs.reshape(len(qs), m, dsub), cb)


def _empty_result(queries: DataFrame, codes: DataFrame, qid_col: str,
                  id_col: str) -> DataFrame:
    """Zero-row (qid, id, score, rank) frame with the callers' types."""
    qid_type = queries.select(qid_col).schema[0].dataType.simpleString()
    id_type = codes.select(id_col).schema[0].dataType.simpleString()
    return queries.sparkSession.createDataFrame(
        [],
        f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, "
        f"score double, rank int",
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Fit PQ codebooks → (subspace, code, cvec) rows, m × 2^nbits total.

    The vector dim must divide by ``m`` (subspaces must tile the space).
    Training runs m independent k-means fits over F.slice'd subvectors of
    the (optionally sampled) l2-normalized corpus — at 100 TB pass
    ``sample_fraction`` small enough that the fit input is ~millions of
    rows; codebook quality saturates long before that."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if m < 1 or nbits < 1 or nbits > 12:
        raise ValueError(f"need m >= 1 and 1 <= nbits <= 12, got {m=} {nbits=}")
    k = 1 << nbits
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
    dsub = d // m
    base = corpus.where(F.col(vec_col).isNotNull()).select(
        l2_normalize(F.col(vec_col)).alias("__v")
    )
    if sample_fraction < 1.0:
        base = base.sample(fraction=sample_fraction, seed=seed)
    base = base.cache()
    try:
        spark = corpus.sparkSession
        out = None
        for j in range(m):
            arrays = base.select(
                F.slice("__v", j * dsub + 1, dsub).cast("array<double>")
                .alias("sv")
            )
            # MLlib k-means hard-fails (ArrayIndexOutOfBounds, not a clean
            # error) when a subspace has fewer than k DISTINCT points —
            # tiny or degenerate-subspace corpora (e.g. a constant
            # dimension). Detect that case EXPLICITLY up front instead of
            # a blanket except around the fit: a transient executor loss
            # or OOM must propagate, not silently degrade the codebooks
            # (r14s3 review). The bounded limit(k+1) probe early-outs.
            distinct_rows = arrays.distinct().limit(k + 1).collect()
            if len(distinct_rows) >= k:
                model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(
                    arrays.select(array_to_vector("sv").alias("features"))
                )
                centers = [
                    [float(x) for x in c] for c in model.clusterCenters()
                ]
            else:
                # fall back to the distinct subvectors themselves, sorted
                # (deterministic — the limit returned ALL of them since
                # there are < k), cycled up to k; duplicate centroids are
                # harmless (argmin ties take the lowest code) and the
                # quantization on such data is exact
                distinct = sorted(tuple(r["sv"]) for r in distinct_rows)
                centers = [
                    list(distinct[i % len(distinct)]) for i in range(k)
                ]
            rows = [(j, c, center) for c, center in enumerate(centers)]
            part = spark.createDataFrame(
                rows, "subspace int, code int, cvec array<double>"
            )
            out = part if out is None else out.unionByName(part)
        return out
    finally:
        base.unpersist()


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
    # ||x - c||² = ||x||² - 2x·c + ||c||²; per-subspace argmin needs only
    # the cross and centroid-norm terms
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
            xs = x.reshape(len(sub), m, dsub)
            codes = np.empty((len(sub), m), dtype=np.int16)
            for j in range(m):
                cross = xs[:, j, :] @ cb[j].T  # (n, k)
                dist = cb_sq[j][None, :] - 2.0 * cross
                codes[:, j] = np.argmin(dist, axis=1)
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

    qids, lut = _query_luts(
        queries, _codebooks_np(codebooks), qid_col, qvec_col, max_queries,
        "pq_search", rotation,
    )
    if not qids:
        return _empty_result(queries, codes, qid_col, id_col)
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
    from pyspark.sql import Window

    if refine > 0:
        if corpus is None:
            raise ValueError("refine > 0 needs the float `corpus` to rerank")
        from vectrekker_spark.functions.vector import cosine_sim

        w0 = Window.partitionBy(qid_col).orderBy(
            F.col("score").desc(), F.col(id_col).asc()
        )
        cands = (
            partials.withColumn("__r", F.row_number().over(w0))
            .where(F.col("__r") <= take)
            .drop("__r", "score")
        )
        qdf = queries.select(qid_col, qvec_col)
        exact = (
            cands.join(corpus.select(id_col, vec_col), id_col)
            .join(F.broadcast(qdf), qid_col)
            .select(
                qid_col,
                id_col,
                F.round(
                    cosine_sim(F.col(vec_col), F.col(qvec_col)), 6
                ).alias("score"),
            )
        )
        partials = exact
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, "score", "rank")
    )


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


def ivfpq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    assign: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    refine: int = 0,
    corpus: DataFrame | None = None,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    rotation=None,
) -> DataFrame:
    """IVF∘PQ — the standard billion-scale ANN composition (FAISS's
    IVFPQ): the coarse quantizer prunes WHICH cells a query reads
    (operators/ann.py's centroids + assignment table), PQ shrinks WHAT
    it reads there (this module's codes). A query touches only its
    ``n_probe`` cells' code rows — with cid-partitioned code storage
    that is partition pruning on top of the 16-32× byte shrink.

    Semantics: with ``n_probe`` ≥ the centroid count the candidate set
    is the whole corpus and the result EQUALS pq_search (tested — the
    composition adds pruning, never different scoring); smaller n_probe
    trades recall exactly like ivf_search does. ``refine`` reranks the
    ADC top-(k·refine) against true vectors (exact round-6 cosine out).

    Scoring shape: (qid, cid) probes → assignment join → per-query
    candidate code rows → one Arrow pass computing ADC from the qid's
    LUT (LUTs broadcast as one numpy block) → per-query top-k window."""
    from vectrekker_spark.operators.ann import assign_centroids

    # OPQ codes: LUTs in the rotated space, probing below in ORIGINAL
    # space against the contractually-unrotated centroids
    qids, lut = _query_luts(
        queries, _codebooks_np(codebooks), qid_col, qvec_col, max_queries,
        "ivfpq_search", rotation,
    )
    if not qids:
        return _empty_result(queries, codes, qid_col, id_col)
    qpos = {q: i for i, q in enumerate(qids)}

    # probe: each query's n_probe nearest cells (reuses the corpus-side
    # assignment kernel — queries ARE a tiny corpus here). Alias to the
    # kernel's DEFAULT column names: the caller's id_col/vec_col name the
    # CODES table's columns, which assign_centroids never sees (advisor
    # r13: passing them through broke non-default names).
    # probe only the ELIGIBLE queries (the set qids/LUTs were built
    # from): a NULL-id query row would otherwise reach the ADC pass and
    # miss the qpos lookup
    elig = queries.where(
        F.col(qid_col).isNotNull() & F.col(qvec_col).isNotNull()
    )
    probes = assign_centroids(
        elig.select(
            F.col(qid_col).alias("vec_id"), F.col(qvec_col).alias("embedding")
        ),
        centroids,
        assign_k=n_probe,
    ).select(F.col("vec_id").alias(qid_col), "cid")
    cand = (
        F.broadcast(probes)
        .join(assign.select(id_col, "cid"), "cid")
        .select(qid_col, id_col)
        # multi-assigned vectors (ivf_build assign_k > 1) can land in two
        # probed cells of the SAME query — distinct, or the rank window
        # counts them twice
        .distinct()
        .join(codes, id_col)
    )

    return _adc_rank(
        cand, lut, qpos, k=k, refine=refine, corpus=corpus,
        queries=queries, qid_col=qid_col, qvec_col=qvec_col,
        id_col=id_col, vec_col=vec_col,
    )


def _adc_rank(
    cand: DataFrame,
    lut,
    qpos: dict,
    k: int,
    refine: int,
    corpus: DataFrame | None,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of the IVF∘PQ searches: score (qid, id, codes)
    candidate rows by ADC from each qid's LUT row (one Arrow pass, the
    LUT block broadcast), rank per query with the (score desc, id asc)
    window, optionally exact-rerank the top-(k·refine) against the float
    corpus."""
    import numpy as np
    import pandas as pd

    m = lut.shape[1]
    qid_type = cand.select(qid_col).schema[0].dataType.simpleString()
    id_type = cand.select(id_col).schema[0].dataType.simpleString()
    take = k * refine if refine > 0 else k

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

    scored = cand.select(qid_col, id_col, "codes").mapInPandas(
        gen, schema=f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, score double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    if refine > 0:
        if corpus is None:
            raise ValueError("refine > 0 needs the float `corpus` to rerank")
        from vectrekker_spark.functions.vector import cosine_sim

        cands_top = (
            scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= take)
            .drop("__r", "score")
        )
        scored = (
            cands_top.join(corpus.select(id_col, vec_col), id_col)
            .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
            .select(
                qid_col,
                id_col,
                F.round(cosine_sim(F.col(vec_col), F.col(qvec_col)), 6).alias(
                    "score"
                ),
            )
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, "score", "rank")
    )


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
    searches dedupe candidates by (qid, id) and duplicate rows carry
    identical codes, so results are unaffected. Codebooks/centroids drift
    as the corpus grows — re-run the full build when recall degrades.
    Single-writer contract as ivfpq_save."""
    from vectrekker_spark.operators.ann import assign_centroids

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
    """ivfpq_search against a saved (ivfpq_save) index: the distinct
    probed cids (at most the centroid count) are collected and applied as
    an ``isin`` filter on the partitioned code scan (the ivf_search_cells
    idiom), so the plan statically prunes to exactly the probed cells'
    parquet partitions instead of joining the whole assignment table.

    Semantics ≡ ivfpq_search over the same (codebooks, centroids,
    assignment, codes) — pinned row-for-row in tests; duplicates from
    re-appended batches collapse in the (qid, id) dedupe."""
    from vectrekker_spark.operators.ann import assign_centroids

    spark = queries.sparkSession
    _, _, centroids, codes, meta, cb = _ivfpq_open(spark, path)
    id_col = meta["id_col"]
    qids, lut = _query_luts(
        queries, cb, qid_col, qvec_col, max_queries,
        "ivfpq_search_cells", meta.get("rotation_matrix"),
    )
    if not qids:
        return _empty_result(queries, codes, qid_col, id_col)
    qpos = {q: i for i, q in enumerate(qids)}

    # probe only the ELIGIBLE queries (the set qids/LUTs were built
    # from): a NULL-id query row would otherwise reach the ADC pass and
    # miss the qpos lookup
    elig = queries.where(
        F.col(qid_col).isNotNull() & F.col(qvec_col).isNotNull()
    )
    probes = assign_centroids(
        elig.select(
            F.col(qid_col).alias("vec_id"), F.col(qvec_col).alias("embedding")
        ),
        centroids,
        assign_k=n_probe,
    ).select(F.col("vec_id").alias(qid_col), "cid")
    probed = [r[0] for r in probes.select("cid").distinct().collect()]
    codes = codes.filter(F.col("cid").isin(probed))
    cand = (
        F.broadcast(probes)
        .join(codes, "cid")
        .dropDuplicates([qid_col, id_col])
    )
    return _adc_rank(
        cand, lut, qpos, k=k, refine=refine, corpus=corpus,
        queries=queries, qid_col=qid_col, qvec_col=qvec_col,
        id_col=id_col, vec_col=vec_col,
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


def _kmeans_np(x, k: int, seed: int, iters: int = 15):
    """Deterministic seeded Lloyd's k-means (kmeans++-style greedy
    farthest-point init) for the driver-side OPQ fit — dsub is small and
    the sample is capped, so numpy is faster than m MLlib jobs per OPQ
    iteration. Duplicate/degenerate data cycles distinct points (the
    pq_train fallback argument); empty clusters re-seed to the point
    farthest from its center."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(x)
    centers = np.empty((k, x.shape[1]))
    centers[0] = x[rng.integers(n)]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        j = int(np.argmax(d2))  # deterministic farthest-point
        centers[i] = x[j]
        d2 = np.minimum(d2, ((x - centers[i]) ** 2).sum(axis=1))
    # distances via ||x||² - 2x·c + ||c||² (the pq_encode BLAS form):
    # the broadcast (n, k, dsub) cube form allocated ~3.3 GB per pass at
    # opq_train's documented defaults (r14s3 review)
    x_sq = (x ** 2).sum(axis=1, keepdims=True)  # (n, 1), constant

    def _dists(c):
        return x_sq - 2.0 * (x @ c.T) + (c ** 2).sum(axis=1)[None, :]

    for _ in range(iters):
        d = _dists(centers)
        a = np.argmin(d, axis=1)
        for c in range(k):
            mask = a == c
            if mask.any():
                centers[c] = x[mask].mean(axis=0)
            else:
                far = int(np.argmax(d[np.arange(n), a]))
                centers[c] = x[far]
    d = _dists(centers)
    return centers, np.argmin(d, axis=1)


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
    closed form). Deterministic: the sample is sorted before the fit and
    every k-means is seeded.

    Returns ``(rotation ndarray d×d, codebooks DataFrame)`` — the
    codebooks live in ROTATED space, so every downstream call composes
    as ``pq_encode(rotate_vectors(corpus, R), codebooks)`` and
    ``pq_search(rotate_vectors(queries, R, 'qvec'), ...)``; refine/exact
    arms are unaffected (orthogonal ⇒ cosine-preserving)."""
    import numpy as np

    if m < 1 or nbits < 1 or nbits > 12:
        raise ValueError(f"need m >= 1 and 1 <= nbits <= 12, got {m=} {nbits=}")
    k = 1 << nbits
    rows = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(l2_normalize(F.col(vec_col)).alias("__v"))
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"opq_train: sample exceeds max_rows={max_rows}; the rotation "
            "fit is driver-side by design — pre-sample the corpus "
            "(df.sample) or raise the cap deliberately."
        )
    if not rows:
        raise ValueError("opq_train: corpus has no non-NULL vectors")
    x = np.asarray(sorted(tuple(r["__v"]) for r in rows), dtype=np.float64)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} is not divisible by m={m} subspaces")
    dsub = d // m
    kk = min(k, len(x))  # k-means cannot exceed the sample size
    # seeded RANDOM orthogonal init (QR of a gaussian), not identity: for
    # axis-aligned anisotropic data the identity is a fixed point of the
    # alternation (codebooks reconstruct axis-aligned, Procrustes returns
    # identity) — exactly the inputs the rotation exists to fix (Ge et
    # al.'s non-parametric init)
    q0, _ = np.linalg.qr(np.random.default_rng(seed).standard_normal((d, d)))
    R = q0
    centers = None
    for it in range(iters + 1):  # final pass refits codebooks only
        xr = x @ R
        centers = np.zeros((m, k, dsub))
        recon = np.empty_like(xr)
        for j in range(m):
            sub = xr[:, j * dsub:(j + 1) * dsub]
            cj, aj = _kmeans_np(
                np.ascontiguousarray(sub), kk,
                seed=seed + 1000 * it + j, iters=kmeans_iters,
            )
            centers[j, :kk] = cj
            if kk < k:  # cycle (the pq_train degenerate fallback)
                for extra in range(kk, k):
                    centers[j, extra] = cj[extra % kk]
            recon[:, j * dsub:(j + 1) * dsub] = cj[aj]
        if it == iters:
            break
        u, _, vt = np.linalg.svd(x.T @ recon)
        R = u @ vt
    spark = corpus.sparkSession
    rows_out = [
        (j, c, [float(v) for v in centers[j, c]])
        for j in range(m)
        for c in range(k)
    ]
    codebooks = spark.createDataFrame(
        rows_out, "subspace int, code int, cvec array<double>"
    )
    return R, codebooks


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
