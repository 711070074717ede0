"""PQ and IVF-PQ indexes commit through the versioned pointer of
vectrekker_spark/commit.py: a compact writes only new codes and carries the
other artifacts forward, and a directory laid out before the pointer (a
bare pq_meta.json / ivfpq_meta.json) is refused with the rebuild verb."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectrekker_spark.commit import pointer_tokens
from vectrekker_spark.operators.ann import ivf_build
from vectrekker_spark.operators.pq import (
    ivfpq_append,
    ivfpq_compact,
    ivfpq_load,
    ivfpq_save,
    ivfpq_search_cells,
    pq_encode,
    pq_load,
    rotate_vectors,
)


def _opq_index_inputs(spark, n=120, dim=8, m=4, nbits=2, seed=7):
    """A small corpus, hand-made codebooks and an orthogonal rotation —
    no k-means fit, so the test stays cheap."""
    g = np.random.default_rng(seed)
    x = g.standard_normal((n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    dsub = dim // m
    cvecs = g.standard_normal((m, 1 << nbits, dsub))
    codebooks = spark.createDataFrame(
        [(j, c, [float(v) for v in cvecs[j, c]])
         for j in range(m) for c in range(1 << nbits)],
        "subspace int, code int, cvec array<double>",
    )
    rotation, _ = np.linalg.qr(g.standard_normal((dim, dim)))
    return corpus, codebooks, rotation


def test_ivfpq_compact_writes_only_new_codes_and_keeps_results(spark, tmp_path):
    corpus, cb, R = _opq_index_inputs(spark)
    centroids, assign = ivf_build(corpus, n_centroids=4)
    path = str(tmp_path / "ivfpq")
    ivfpq_save(path, cb, centroids, assign,
               pq_encode(rotate_vectors(corpus, R), cb), rotation=R)
    half = corpus.where(F.col("vec_id") % 2 == 0)
    ivfpq_append(half, path)  # duplicates every even id
    q = corpus.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = sorted(map(tuple, ivfpq_search_cells(q, path, k=5, n_probe=2).collect()))
    live = pointer_tokens(path)
    assert sorted(live) == ["centroids-v0", "codebooks-v0", "codes-v0",
                            "meta-v0.json", "rotation-v0"]
    listed = set(os.listdir(path))

    assert ivfpq_compact(spark, path) == half.count()

    # one new codes version; every other live name is carried forward,
    # nothing is copied, and the previous version stays as the grace copy
    assert pointer_tokens(path) == [
        "codes-v1" if t == "codes-v0" else t for t in live
    ]
    after_listing = set(os.listdir(path))
    assert after_listing - listed == {"codes-v1", "CURRENT-v1"}
    assert listed <= after_listing
    _, _, codes, meta = ivfpq_load(spark, path)
    assert meta["version"] == 1 and meta["rotated"]
    assert codes.count() == corpus.count()
    after = sorted(map(tuple, ivfpq_search_cells(q, path, k=5, n_probe=2).collect()))
    assert after == before


@pytest.mark.parametrize(
    "meta_file, load, verb",
    [("pq_meta.json", pq_load, "pq-build"),
     ("ivfpq_meta.json", ivfpq_load, "ivfpq-build")],
)
def test_pre_pointer_pq_layouts_raise_naming_the_rebuild_verb(
    spark, tmp_path, meta_file, load, verb
):
    """A directory holding only the meta file older releases committed by
    renaming is no index now: the load raises ValueError naming the CLI
    verb that rebuilds it, instead of reading artifacts by guessed name."""
    path = tmp_path / "old"
    path.mkdir()
    (path / meta_file).write_text(json.dumps({
        "version": 0, "m": 4, "nbits": 2, "dsub": 2, "dim": 8,
        "id_col": "vec_id", "rotated": False,
    }))
    with pytest.raises(ValueError, match=rf"\(CLI: {verb}\)"):
        load(spark, str(path))


def test_ivfpq_search_and_append_collect_codebooks_once(spark, tmp_path, monkeypatch):
    """The loader's geometry check collects the codebooks; a search (for
    its LUTs) and an append (for the encode) reuse that grid instead of
    collecting the table again."""
    corpus, cb, _ = _opq_index_inputs(spark)
    centroids, assign = ivf_build(corpus, n_centroids=4)
    path = str(tmp_path / "ivfpq")
    ivfpq_save(path, cb, centroids, assign, pq_encode(corpus, cb))
    q = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    frame = type(corpus)  # the concrete DataFrame class whose collect runs
    real = frame.collect
    reads = []

    def counting_collect(self):
        if self.columns == ["subspace", "code", "cvec"]:
            reads.append(1)
        return real(self)

    monkeypatch.setattr(frame, "collect", counting_collect)
    assert ivfpq_search_cells(q, path, k=3, n_probe=2).count() == 9
    assert len(reads) == 1
    ivfpq_append(corpus.where(F.col("vec_id") < 4), path)
    assert len(reads) == 2
