"""Model-based quality scoring (operators/qualityscore.py, SURVEY C16).

Verification: independent Python score oracle (separate tokenize/hash/fold
code path), DuckDB parity for the md5 feature-index math, train→apply
round trip on a separable corpus, null/empty/unicode-whitespace semantics,
determinism, collect-cap guard, and a narrow-plan assertion (no exchange,
no join).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectrekker_spark.operators.qualityscore import (
    N_FEATURES_DEFAULT,
    feature_index,
    fit_linear_quality,
    quality_filter,
    score_linear,
)


def _oracle_score(text, w, bias):
    """Independent reimplementation: ASCII-ws token split, md5-prefix
    index, mean weight, sigmoid, round 6."""
    if text is None:
        return None
    toks = re.findall(r"[^ \t\n\x0b\f\r]+", text)
    if not toks:
        z = bias
    else:
        z = bias + sum(
            w[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % len(w)]
            for t in toks
        ) / len(toks)
    return round(float(1.0 / (1.0 + np.exp(-z))), 6)


def test_feature_index_duckdb_parity(duck):
    toks = ["the", "québec", "Iñtërnâtiônàlizætiøn", "42", "a", "", "ｗｉｄｅ"]
    for n in (64, N_FEATURES_DEFAULT):
        for t in toks:
            got = duck.execute(
                "SELECT CAST(('0x' || substr(md5(?), 1, 8)) AS BIGINT) % ?", [t, n]
            ).fetchone()[0]
            assert got == feature_index(t, n), (t, n)


def test_scores_match_independent_oracle(spark):
    rng = np.random.default_rng(3)
    w = rng.standard_normal(128)
    bias = -0.3
    rows = [
        (1, "the quick brown fox"),
        (2, "the the the"),
        (3, None),
        (4, ""),
        (5, "   "),
        (6, "tab\tsep\nlines"),
        (7, "nbsp is token content"),  # unicode ws = content (java rule)
        (8, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = {
        r["doc_id"]: r["quality_score"]
        for r in score_linear(df, w, bias=bias).collect()
    }
    for doc_id, text in rows:
        want = _oracle_score(text, w, bias)
        if want is None:
            assert got[doc_id] is None
        else:
            assert got[doc_id] == pytest.approx(want, abs=2e-6), doc_id
    # unicode-whitespace text is ONE token under the java split; verify it
    # differs from what a python-split scorer would produce
    py_toks = rows[6][1].split()
    assert len(py_toks) == 4  # python would see 4 tokens...
    from vectrekker_spark.functions.pytokens import java_words

    assert len(java_words(rows[6][1])) == 3  # ...the engine sees 3


def _labeled_corpus(spark, n=120, seed=5):
    rng = np.random.default_rng(seed)
    good_vocab = ["insightful", "analysis", "carefully", "sourced", "evidence"]
    bad_vocab = ["CLICK", "FREE", "winner", "$$$", "!!!"]
    rows = []
    for i in range(n):
        label = i % 2
        vocab = good_vocab if label else bad_vocab
        k = int(rng.integers(3, 9))
        text = " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), k))
        rows.append((i, text, label))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_train_then_apply_separates(spark):
    df = _labeled_corpus(spark)
    w, b = fit_linear_quality(df, n_features=1 << 12, iters=200)
    scored = score_linear(df, w, bias=b).select("doc_id", "label", "quality_score")
    rows = scored.collect()
    good = [r["quality_score"] for r in rows if r["label"] == 1]
    bad = [r["quality_score"] for r in rows if r["label"] == 0]
    assert min(good) > max(bad)  # fully separable vocabularies
    kept = quality_filter(df, w, bias=b, min_score=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in rows if r["label"] == 1
    )
    assert kept.columns == df.columns


@pytest.mark.slow
def test_quality_filter_drops_null_text(spark):
    # zero weights score every non-NULL doc sigmoid(0) = 0.5, the empty one
    # included; NULL text scores NULL and drops
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id long, text string"
    )
    kept = quality_filter(df, np.zeros(16), min_score=0.4)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_fit_deterministic_and_layout_invariant(spark):
    df = _labeled_corpus(spark, seed=11)
    w1, b1 = fit_linear_quality(df.repartition(2), n_features=1 << 10, iters=50)
    w2, b2 = fit_linear_quality(df.repartition(9), n_features=1 << 10, iters=50)
    assert b1 == b2 and np.array_equal(w1, w2)


def test_fit_guards(spark):
    df = _labeled_corpus(spark, n=30)
    with pytest.raises(ValueError, match="max_rows"):
        fit_linear_quality(df, max_rows=10)
    empty = df.where(F.lit(False))
    with pytest.raises(ValueError, match="no labeled rows"):
        fit_linear_quality(empty)
    bad = df.withColumn("label", F.col("label") + 1)
    with pytest.raises(ValueError, match="0/1"):
        fit_linear_quality(bad, n_features=64, iters=1)


def test_score_guards(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="1-D"):
        score_linear(df, np.zeros((2, 2)))
    with pytest.raises(ValueError, match="already exists"):
        score_linear(df.withColumn("quality_score", F.lit(1.0)), np.zeros(8))


def test_plan_is_narrow(spark):
    df = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    scored = score_linear(df, np.zeros(64))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_out_col_needing_quotes(spark):
    # out_col is backtick-quoted in the DDL schema like the input columns
    df = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    scored = score_linear(df, np.zeros(8), out_col="quality score")
    row = scored.collect()[0]
    assert row["quality score"] == 0.5


def test_model_save_load_roundtrip(tmp_path):
    from vectrekker_spark.operators.qualityscore import load_model, save_model

    w = np.linspace(-1, 1, 32)
    path = str(tmp_path / "m.npz")
    save_model(path, w, 0.25)
    w2, b2 = load_model(path)
    assert np.array_equal(w, w2) and b2 == 0.25
    with pytest.raises(ValueError, match="1-D"):
        save_model(str(tmp_path / "bad.npz"), np.zeros((2, 2)), 0.0)
    np.savez(str(tmp_path / "nf.npz"), weights=np.array([np.inf]), bias=np.float64(0))
    with pytest.raises(ValueError, match="non-finite"):
        load_model(str(tmp_path / "nf.npz"))


def test_save_model_honors_exact_path(tmp_path):
    from vectrekker_spark.operators.qualityscore import load_model, save_model

    # np.savez on a PATH appends .npz; save_model must not (round-trip
    # through the same string the caller passed)
    path = str(tmp_path / "model_no_ext")
    save_model(path, np.ones(4), 0.5)
    import os

    assert os.path.exists(path) and not os.path.exists(path + ".npz")
    w, b = load_model(path)
    assert list(w) == [1.0] * 4 and b == 0.5
