"""Empty-input robustness: an incremental pipeline regularly sees empty
batches (no new files, everything deduped away); every operator must return
an empty result with the right schema instead of crashing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<double>")


def test_dedup_ops_on_empty(empty_docs):
    from vectrekker_spark.operators.dedup import (
        exact_dedup_map,
        minhash_dedup_pairs,
        simhash16,
    )

    assert exact_dedup_map(empty_docs).count() == 0
    assert minhash_dedup_pairs(empty_docs).count() == 0
    assert simhash16(empty_docs).count() == 0


def test_pack_on_empty(spark):
    from vectrekker_spark.operators.packing import pack_sequences, sequence_stats

    chunks = spark.createDataFrame(
        [], "doc_id long, chunk_id long, chunk_text string, n_tokens int"
    )
    packed = pack_sequences(chunks, 100)
    assert packed.count() == 0
    assert {"seq_id", "seq_pos"} <= set(packed.columns)
    assert sequence_stats(packed, 100).count() == 0


def test_sampling_on_empty(empty_docs):
    from vectrekker_spark.operators.sampling import (
        hash_sample,
        seeded_shuffle,
        stratified_hash_sample,
    )

    assert hash_sample(empty_docs, 0.5).count() == 0
    assert stratified_hash_sample(empty_docs, {"x": 1.0}, strata_col="lang").count() == 0
    assert seeded_shuffle(empty_docs).count() == 0


def test_similarity_joins_on_empty(empty_vecs):
    from vectrekker_spark.operators.knn import (
        similarity_join_blas,
        similarity_join_self_auto,
    )

    out = similarity_join_blas(
        empty_vecs, empty_vecs, 0.9,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
    )
    assert out.count() == 0
    assert set(out.columns) == {"l_id", "r_id", "score"}
    assert similarity_join_self_auto(empty_vecs, 0.9, "vec_id", "embedding").count() == 0

    # probed_dim set (router fast path skips the dim probe) with an empty
    # right side at collect time must return the documented empty result,
    # not raise numpy AxisError on a (0,)-shaped matrix (advisor r8)
    out = similarity_join_blas(
        empty_vecs, empty_vecs, 0.9,
        left_id="vec_id", left_vec="embedding",
        right_id="vec_id", right_vec="embedding",
        probed_dim=8,
    )
    assert out.count() == 0
    assert set(out.columns) == {"l_id", "r_id", "score"}


def test_curate_on_empty(empty_docs):
    from vectrekker_spark.curation import CurationConfig, curate

    res = curate(empty_docs, CurationConfig(embed=False))
    assert res.funnel["input"] == 0
    assert res.funnel["chunks"] == 0
    assert res.chunks.count() == 0
    res.unpersist()


def test_asof_and_range_join_on_empty(spark):
    from vectrekker_spark.operators.asofjoin import asof_join
    from vectrekker_spark.operators.rangejoin import bounded_follow_join

    events = spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    assert bounded_follow_join(events).count() == 0
    left = spark.createDataFrame([], "user_id long, ts timestamp_ntz")
    right = spark.createDataFrame([], "user_id long, ts timestamp_ntz, v double")
    assert asof_join(left, right, key="user_id").count() == 0


def test_kernels_survive_null_text(spark):
    # per-row Arrow kernels must skip null text, not crash the Python worker
    import pandas as pd

    from vectrekker_spark.operators.sketch import build_sketch, estimate

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha gamma words here"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    sketch = build_sketch(docs)
    assert estimate(sketch, "alpha") >= 2  # nulls skipped, counts intact

    from vectrekker_spark.queries.vector import hash_embed_batch

    vecs = hash_embed_batch(pd.Series(["some text", None, ""]))
    assert len(vecs[1]) == 64 and sum(vecs[1]) == 0.0  # null → zero vector
