"""Boundary-kill sweep over the five streaming corpus-ingest families (near,
exact, semantic, paragraph, quota): every commit step a family's micro-batch
runs — each stage write, docs/kept append, part-file move, bloom save,
ledger write and pointer flip — is made to crash once, right after it
completes, in each micro-batch of a two-batch feed. The family's compact
then reclaims the crashed batch's debris (its documented recovery), the
stream restarts on the SAME checkpoint (so the crashed batch is
redelivered), and the final kept ids must equal an uncrashed run's; the
quota job must never admit more than its cap per stratum. The crashes are
injected by monkeypatching the step functions; the package has no hook."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql.readwriter import DataFrameWriter

from vectrekker_spark import commit
from vectrekker_spark.operators import bloom
from vectrekker_spark.streaming import jobs

pytestmark = pytest.mark.slow

DOCS = "doc_id long, source string, text string"
VECS = "vec_id long, embedding array<double>"
CAP = 2


def _after_write(pred):
    """Crash right after a DataFrame parquet write whose path matches."""

    def install(mp, fired):
        real = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            real(self, path, *a, **k)
            if not fired and pred(path):
                fired.append(path)
                raise RuntimeError(f"injected crash after writing {path}")

        mp.setattr(DataFrameWriter, "parquet", parquet)

    return install


def _after_call(target, name, pred=lambda *a: True):
    """Crash right after ``target.name(...)`` returns (first matching call)."""

    def install(mp, fired):
        real = getattr(target, name)

        def wrapped(*a, **k):
            out = real(*a, **k)
            if not fired and pred(*a):
                fired.append(name)
                raise RuntimeError(f"injected crash after {name}")
            return out

        mp.setattr(target, name, wrapped)

    return install


def _docs_append(path):
    return path.endswith(os.sep + "docs")


@dataclass
class Family:
    schema: str
    batches: list
    start: object  # (stream, corpus, checkpoint) -> started query
    compact: object  # (spark, corpus) -> report
    table: str = "docs"
    id_col: str = "doc_id"
    steps: dict = field(default_factory=dict)


_P = [
    "Paragraph one talks about the history of the river valley.",
    "Paragraph two is a license banner repeated across many pages.",
    "Paragraph three describes how the mills used the water wheel.",
    "Paragraph four is fresh text that appears in one document only.",
]
_TEXT = [
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight",
    "red orange yellow green blue indigo violet",
    "fresh words that share nothing with the rest",
]
_DOC_BATCHES = [
    [(1, "a", _TEXT[0]), (2, "a", _TEXT[0]), (3, "b", _TEXT[1]),
     (4, "b", None), (5, "a", _TEXT[2])],
    [(6, "a", _TEXT[0] + " iota"), (7, "b", _TEXT[1]), (8, "c", _TEXT[2]),
     (9, "a", _TEXT[3]), (10, "c", None)],
]

FAMILIES = {
    "near": Family(
        DOCS, _DOC_BATCHES,
        lambda s, c, ck: jobs.foreach_batch_near_dedup(s, c, ck),
        jobs.compact_near_dedup_corpus,
        steps={
            "bands stage write": _after_write(lambda p: ".bands_stage_" in p),
            "docs append": _after_write(_docs_append),
            "band part move": _after_call(
                os, "replace", lambda src, dst: f"{os.sep}bands{os.sep}" in dst
            ),
        },
    ),
    "exact": Family(
        DOCS, _DOC_BATCHES,
        lambda s, c, ck: jobs.foreach_batch_exact_dedup(
            s, c, ck, expected_total=100
        ),
        jobs.compact_exact_corpus,
        steps={
            "bloom save": _after_call(bloom, "bloom_save"),
            "docs append": _after_write(_docs_append),
        },
    ),
    "semantic": Family(
        VECS,
        [
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.001]),
             (3, [0.0, 1.0, 0.0, 0.0]), (4, None)],
            [(5, [0.0, 1.0, 0.001, 0.0]), (6, [0.0, 0.0, 1.0, 0.0]),
             (7, [1.0, 0.0, 0.0, 0.0]), (8, None)],
        ],
        lambda s, c, ck: jobs.foreach_batch_semantic_dedup(
            s, c, ck, n_clusters=2, expected_total=100
        ),
        jobs.compact_semantic_corpus,
        table="kept",
        id_col="vec_id",
        steps={
            "quantizer write": _after_write(lambda p: p.endswith("centroids")),
            "kept append": _after_write(lambda p: p.endswith(os.sep + "kept")),
        },
    ),
    "para": Family(
        DOCS,
        [
            [(1, "a", f"{_P[0]}\n\n{_P[1]}"), (2, "a", f"{_P[1]}\n\n{_P[2]}")],
            [(3, "b", f"{_P[0]}\n\n{_P[3]}"), (4, "b", _P[2]),
             (5, "c", f"{_P[1]}\n\n{_P[3]} Again.")],
        ],
        lambda s, c, ck: jobs.foreach_batch_para_dedup(s, c, ck),
        jobs.compact_para_corpus,
        steps={
            "hashes stage write": _after_write(lambda p: ".hashes_stage_" in p),
            "docs append": _after_write(_docs_append),
            "hash part move": _after_call(
                os, "replace",
                lambda src, dst: f"{os.sep}para_hashes{os.sep}" in dst,
            ),
        },
    ),
    "quota": Family(
        DOCS, _DOC_BATCHES,
        lambda s, c, ck: jobs.foreach_batch_quota(
            s, c, ck, cap=CAP, expected_total=100
        ),
        jobs.compact_quota_corpus,
        steps={
            "ledger write": _after_write(lambda p: "counts-v" in p),
            "ledger pointer flip": _after_call(commit, "publish"),
            "bloom save": _after_call(bloom, "bloom_save"),
            "docs append": _after_write(_docs_append),
        },
    ),
}


def _feed(spark, tmp_path, name, fam, crash=None):
    """Play the family's batches into one checkpoint; ``crash`` =
    (batch index, step installer) crashes that batch once, compacts, and
    redelivers it. Returns (kept ids, kept rows by stratum, fired)."""
    work = tmp_path / name
    corpus = str(work / "corpus")
    os.makedirs(corpus)
    ck = str(work / "ck")
    fired: list = []
    for i, rows in enumerate(fam.batches):
        spark.createDataFrame(rows, fam.schema).coalesce(1).write.parquet(
            str(work / "in" / f"b{i}")
        )

        def run():
            stream = spark.readStream.schema(fam.schema).parquet(
                str(work / "in" / "*")
            )
            fam.start(stream, corpus, ck).awaitTermination()

        if crash is not None and crash[0] == i:
            with pytest.MonkeyPatch.context() as mp:
                crash[1](mp, fired)
                try:
                    run()
                except StreamingQueryException as e:
                    assert "injected crash" in str(e), e
            if fired:
                fam.compact(spark, corpus)
        run()  # the crashed batch is redelivered on the same checkpoint
    kept = spark.read.parquet(os.path.join(corpus, fam.table))
    ids = sorted({r[0] for r in kept.select(fam.id_col).collect()})
    by_stratum: dict = {}
    if "source" in kept.columns:
        for r in kept.select(fam.id_col, "source").distinct().collect():
            by_stratum[r[1]] = by_stratum.get(r[1], 0) + 1
    return ids, by_stratum, fired


@pytest.mark.parametrize("name", list(FAMILIES))
def test_boundary_kill_sweep_keeps_uncrashed_result(spark, tmp_path, name):
    fam = FAMILIES[name]
    want, want_strata, _ = _feed(spark, tmp_path, "clean", fam)
    assert want
    if name == "quota":
        assert max(want_strata.values()) == CAP  # the cap binds
    for label, install in fam.steps.items():
        hit = False
        for b in range(len(fam.batches)):
            case = f"{label.replace(' ', '_')}_{b}"
            got, strata, fired = _feed(spark, tmp_path, case, fam, (b, install))
            hit = hit or bool(fired)
            assert got == want, (name, label, b)
            if name == "quota":
                assert max(strata.values()) <= CAP, (label, b, strata)
        assert hit, f"{name}: step {label!r} never ran"
