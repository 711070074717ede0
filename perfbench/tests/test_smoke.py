"""The benchmark's own smoke tests.

    python3 -m pytest perfbench/tests -q

Fast tests cover the stub, the corpus, the tracer's arithmetic and the
correctness checks (each must reject a deliberately wrong result). The
end-to-end tests run every workload for one op on a tiny corpus, with and
without tracing, and check the printed result against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from corpus import Corpus  # noqa: E402
from oracle import ExactOracle, check_topk, check_write  # noqa: E402
from spans import Tracer, action_seconds, layer_seconds  # noqa: E402
from stub import EmbeddingStub  # noqa: E402


def test_stub_serves_concurrent_clients_deterministically():
    from vectrekker_spark.embedder import HttpEmbedder

    n_threads, per_thread, delay = 16, 5, 0.05
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with EmbeddingStub(delay_s=delay, dim=32) as stub:
            results: dict[int, list] = {}

            def client(i: int) -> None:
                emb = HttpEmbedder(stub.url, dim=32, batch_size=3)
                texts = [f"alpha beta {i} gamma {j}" for j in range(per_thread * 3)]
                results[i] = list(zip(texts, emb.embed_batch(texts)))
                emb.close()

            t0 = time.perf_counter()
            threads = [threading.Thread(target=client, args=(i,)) for i in range(n_threads)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            elapsed = time.perf_counter() - t0
            assert not any(t.is_alive() for t in threads)
            snap = stub.counters.snapshot()
            assert snap["requests"] == n_threads * per_thread
            assert snap["texts"] == n_threads * per_thread * 3
            assert snap["busy_s"] >= n_threads * per_thread * delay
            assert snap["max_inflight"] > 1
            assert elapsed < n_threads * per_thread * delay  # served concurrently
            for pairs in results.values():
                for text, vec in pairs:
                    assert vec == stub.vectors.embed_text(text)
    finally:
        sys.setswitchinterval(old)


def test_corpus_is_seeded_and_edits_are_strictly_newer(tmp_path):
    a = Corpus(str(tmp_path / "a"), 30, seed=7, n_queries=3)
    b = Corpus(str(tmp_path / "b"), 30, seed=7, n_queries=3)
    a.generate()
    b.generate()
    assert [a.texts[p] for p in a.paths] == [b.texts[p] for p in b.paths]
    assert a.queries == b.queries
    before = {p: os.stat(p).st_mtime for p in a.paths}
    edited = a.edit(0.1)
    assert len(edited) == 3
    for p in edited:
        assert os.stat(p).st_mtime == int(os.stat(p).st_mtime) > before[p]
    for p in set(a.paths) - set(edited):
        assert os.stat(p).st_mtime == before[p]


def test_tracer_layers_nest_without_double_counting():
    tr = Tracer()
    with tr.span("run_pipeline", "pipeline"):
        with tr.span("merge_upsert_partitioned", "merge"):
            with tr.span("action.collect", action=True):  # inherits "merge"
                time.sleep(0.02)
        with tr.span("action.count", "scan", action=True):
            time.sleep(0.02)
    spans = tr.take()
    top = next(s for s in spans if s.name == "run_pipeline")
    merge = next(s for s in spans if s.name == "merge_upsert_partitioned")
    sec = layer_seconds(spans)
    assert sec["pipeline"] == pytest.approx(top.dur)
    assert sec["merge"] == pytest.approx(merge.dur)  # its action is not added again
    assert sec["scan"] >= 0.02
    assert action_seconds(spans) == pytest.approx(sum(s.dur for s in spans if s.action))
    assert tr.take() == []


def _oracle(n: int = 40, dim: int = 8, seed: int = 0):
    rng = np.random.default_rng(seed)
    ids = [f"/notes/n{i:03d}.md" for i in range(n)]
    return ExactOracle(ids, rng.standard_normal((n, dim))), rng.standard_normal(dim)


def test_check_topk_accepts_the_right_answer_and_rejects_wrong_ones():
    oracle, q = _oracle()
    right = oracle.topk(q, 10)
    assert check_topk(right, oracle, q, 10, exact=True) == ""
    outside = oracle.topk(q, 20)[10:]
    assert check_topk(outside, oracle, q, 10, exact=False) == ""  # a valid approximate answer
    assert "brute force" in check_topk(outside, oracle, q, 10, exact=True)
    assert "score" in check_topk([(right[0][0], right[0][1] + 0.01)] + right[1:], oracle, q, 10, True)
    assert "order" in check_topk([right[1], right[0]] + right[2:], oracle, q, 10, True)
    assert "rows" in check_topk(right[:9], oracle, q, 10, True)
    assert "duplicate" in check_topk([right[0]] + right[:9], oracle, q, 10, True)
    assert "not in index" in check_topk([("/nope.md", right[0][1])] + right[1:], oracle, q, 10, True)


def test_check_write_rejects_wrong_counters_rows_and_vectors():
    paths = [f"/notes/n{i}.md" for i in range(5)]
    mat = np.arange(10.0).reshape(5, 2)

    def vector_of(p):
        return mat[paths.index(p)].tolist()

    ok = {"scanned": 5, "changed": 1, "indexed": 1, "quarantined": 0}
    assert check_write(ok, paths[:1], paths, paths, mat, vector_of) == ""
    none = {"scanned": 5, "changed": 0, "indexed": 0, "quarantined": 0}
    assert "counters" in check_write(none, [], paths, paths, mat, vector_of)
    assert "counters" in check_write({**ok, "quarantined": 1}, paths[:1], paths, paths, mat, vector_of)
    assert "rows" in check_write(ok, paths[:1], paths, paths[:4], mat[:4], vector_of)
    stale = mat.copy()
    stale[0] += 1
    assert "stub vector" in check_write(ok, paths[:1], paths, paths, stale, vector_of)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = _bench_json()["command"]
    return subprocess.run(
        cmd + list(args), cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["reindex", "search"])
def test_every_workload_runs_one_checked_op(workload, trace):
    spec = _bench_json()
    assert workload in {w["name"] for w in spec["workloads"]}
    res = _run(
        ROOT, "--workload", workload, "--seed", "5", "--seconds", "0", "--trace", str(trace),
        "--notes", "20", "--warmup", "0", "--ops", "1",
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 1 and out["failed"] == 0
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        if not trace:
            assert out["metrics"][m["name"]]["value"] > 0


def test_bare_benchmark_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in _bench_json()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), "--workload", "reindex", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert res.returncode != 0
    assert res.stdout.strip() == ""

