"""vectrekker's own loop, timed: incremental re-index and top-k search.

    python3 perfbench/run.py --workload reindex|search --seed N --seconds S --trace 0|1

Run from the root of a checkout. The program under test is driven only
through its public functions (``pipeline.run_pipeline``,
``operators.knn.knn_join``, ``operators.ann.ivf_search_cells``) against a
seeded on-disk markdown corpus. Embeddings come from an in-process
OpenAI-shaped stub (``stub.py``) reached through the real
``embedder.HttpEmbedder``, with a fixed 100 ms delay per request, so every
extra embedding request costs wall time.

Workloads (one client, closed loop, one process, ``local[nproc]``):

- ``reindex``: each op rewrites a seeded 1 % of the notes (mtimes stepped to
  a strictly later whole second) and runs ``run_pipeline``: the reference's
  hourly cron. Fixed per-run overhead dominates; embedding does little.
- ``search``: read-only. Set-up builds the index with ``run_pipeline`` (a
  cold build, so the layout is what the writers make) and an IVF index as
  ``ann-build`` does, then opens both once, as a search session does. Each
  op answers one held-out note with an exact top-10 (``knn_join``) and an
  IVF top-10 (``ivf_search_cells``).

Every op is checked outside the timed region (``oracle.py``); a failed check
or an exception counts in ``failed``. ``--trace 1`` installs ``spans.py``'s
wrappers and reports per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STUB_DELAY_S = 0.1  # low end of the 100-300 ms embedding API round trip
EDIT_FRACTION = 0.01
K = 10
# Per workload: notes on disk (small enough that set-up plus a few ops fit
# about a minute: see README.md), ops discarded before measuring (the JVM
# warm-up trend flattens after them), and the fewest ops a run measures.
SETTINGS = {
    "reindex": {"notes": 100, "warmup": 2, "min_ops": 3},
    "search": {"notes": 100, "warmup": 2, "min_ops": 4},
}
N_QUERIES = 200  # held-out notes; search ops cycle through them

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "embed_texts_per_doc": "ratio"}
LAYER_UNITS = {
    "session.start_s": "s",
    "bench.warmup_ops": "count",
    "bench.op_p50_traced_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "scan.s": "s",
    "scan.files": "count",
    "delta.s": "s",
    "delta.changed_rows": "count",
    "gate.s": "s",
    "embed.s": "s",
    "embed.requests": "count",
    "embed.texts": "count",
    "embed.texts_per_request": "ratio",
    "embed.server_busy_s": "s",
    "embed.useful_ratio": "ratio",
    "merge.s": "s",
    "merge.buckets_rewritten": "count",
    "merge.bytes_written": "bytes",
    "state.s": "s",
    "state.bytes_written": "bytes",
    "pipeline.action_s": "s",
    "pipeline.driver_s": "s",
    "index.files": "count",
    "index.bytes": "bytes",
    "knn.s": "s",
    "knn.rows_scored": "count",
    "knn.tasks": "count",
    "ivf.s": "s",
    "ivf.cells_probed": "count",
    "ivf.rows_scored": "count",
    "ivf.recall_at_10": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One workload run: session, stub, corpus, set-up, ops, checks."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.cfg = dict(SETTINGS[args.workload])
        if args.notes:
            self.cfg["notes"] = args.notes
        if args.warmup is not None:
            self.cfg["warmup"] = args.warmup
        if args.ops is not None:
            self.cfg["min_ops"] = args.ops
        self.work = os.path.realpath(
            os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        )
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.spark = None
        self.stub = None
        self.layer_rows: list[dict[str, float]] = []  # one per measured op (trace)
        self.setup_texts = 0
        self.setup_docs = 0

    # -- set-up ----------------------------------------------------------------
    def start(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # Python workers import the package from the checkout; Spark scratch
        # and temp files stay inside the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["no_proxy"] = os.environ["NO_PROXY"] = "127.0.0.1,localhost"
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

        from stub import EmbeddingStub

        self.stub = EmbeddingStub(STUB_DELAY_S).start()
        t0 = time.perf_counter()
        from vectrekker_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
            },
        )
        self.session_s = time.perf_counter() - t0
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.install()

    def stop(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:  # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if self.stub is not None:
            self.stub.close()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))  # only if no other run uses it
        except OSError:
            pass

    def _pipeline_config(self):
        from vectrekker_spark.pipeline import PipelineConfig

        from stub import DIM

        url, dim = self.stub.url, DIM

        def embedder_factory():  # runs once per task, worker-local client
            from vectrekker_spark.embedder import HttpEmbedder

            return HttpEmbedder(url, dim=dim)

        return PipelineConfig(
            content_dir=self.corpus.root,
            state_path=os.path.join(self.work, "state"),
            index_path=os.path.join(self.work, "index"),
            embedder_factory=embedder_factory,
        )

    def setup(self) -> float:
        """Corpus + every index build the workload needs; returns seconds."""
        from corpus import Corpus

        t0 = time.perf_counter()
        self.corpus = Corpus(
            os.path.join(self.work, "notes"), self.cfg["notes"], self.args.seed, N_QUERIES
        )
        self.corpus.generate()
        self.pcfg = self._pipeline_config()
        self._write_run(list(self.corpus.paths), timed=False)
        if self.args.workload == "search":
            self._build_ivf()
        if self.tracer is not None:
            self.tracer.take()
        return time.perf_counter() - t0

    # -- reindex ---------------------------------------------------------------
    def _write_run(self, edited: list[str], timed: bool) -> tuple[float, dict]:
        """run_pipeline after ``edited`` changed; checks the result."""
        import vectrekker_spark.pipeline as pipeline

        before = self.stub.counters.snapshot()
        t0 = time.perf_counter()
        counters = pipeline.run_pipeline(self.spark, self.pcfg)
        dt = time.perf_counter() - t0
        after = self.stub.counters.snapshot()
        stub = {k: after[k] - before[k] for k in ("requests", "texts", "busy_s", "wall_s")}
        problem = self._check_write(counters, edited)
        if not timed:
            if problem:
                raise RuntimeError(f"set-up index build failed its check: {problem}")
            self.setup_texts += stub["texts"]
            self.setup_docs += counters["changed"]
        return dt, {"counters": counters, "stub": stub, "problem": problem}

    def _check_write(self, counters: dict, edited: list[str]) -> str:
        from oracle import check_write, read_index

        ids, mat = read_index(self.pcfg.index_path)
        return check_write(
            counters, edited, self.corpus.paths, ids, mat,
            lambda p: self.stub.vectors.embed_text(self.corpus.texts[p]),
        )

    def reindex_op(self) -> tuple[float, str, dict]:
        edited = self.corpus.edit(EDIT_FRACTION)
        dt, info = self._write_run(edited, timed=True)
        return dt, info["problem"], info

    # -- search ----------------------------------------------------------------
    def _build_ivf(self) -> None:
        """As the ``ann-build`` verb: sqrt(N) cells, multi-assignment 2. Then
        open both indexes once, as a search session does."""
        from vectrekker_spark.operators.ann import ivf_build, ivf_load, ivf_save

        from oracle import ExactOracle, read_index

        index = self.spark.read.parquet(self.pcfg.index_path).select("id", "embedding")
        n_rows = index.count()
        self.n_cells = max(2, min(64, int(n_rows**0.5)))
        self.ivf_path = os.path.join(self.work, "ivf")
        centroids, assign = ivf_build(
            index, n_centroids=self.n_cells, id_col="id", vec_col="embedding", assign_k=2
        )
        ivf_save(centroids, assign, index, self.ivf_path, id_col="id", assign_k=2)
        self.n_probe = max(1, self.n_cells // 3)
        self.index_df = self.spark.read.parquet(self.pcfg.index_path)
        self.centroids, self.cells = ivf_load(self.spark, self.ivf_path)
        self.oracle = ExactOracle(*read_index(self.pcfg.index_path))
        self.query_vecs = [self.stub.vectors.embed_text(t) for t in self.corpus.queries]
        if self.tracer is not None:
            self._load_ivf_layout()

    def _load_ivf_layout(self) -> None:
        """Centroids and cell membership, for the traced probe counts."""
        import numpy as np
        import pyarrow.dataset as ds

        from vectrekker_spark.operators.ann import current_pair

        cells_name, centroids_name = current_pair(self.ivf_path)
        c = ds.dataset(os.path.join(self.ivf_path, centroids_name), format="parquet").to_table()
        order = np.argsort(c.column("cid").to_numpy())
        cvec = np.array(c.column("cvec").to_pylist())[order]
        self.cids = c.column("cid").to_numpy()[order]
        self.cvec_unit = cvec / np.linalg.norm(cvec, axis=1, keepdims=True)
        cells = ds.dataset(
            os.path.join(self.ivf_path, cells_name), format="parquet", partitioning="hive"
        ).to_table(columns=["id", "cid"])
        self.cell_ids: dict[int, set] = {}
        for vid, cid in zip(cells.column("id").to_pylist(), cells.column("cid").to_pylist()):
            self.cell_ids.setdefault(int(cid), set()).add(vid)

    def search_op(self) -> tuple[float, str, dict]:
        import numpy as np

        import vectrekker_spark.operators.ann as ann
        import vectrekker_spark.operators.knn as knn

        i = self.attempted % len(self.query_vecs)
        vec = self.query_vecs[i]
        spark = self.spark
        sc = spark.sparkContext
        sc.setJobGroup(self.group + ".exact", "exact top-k")
        t0 = time.perf_counter()
        q = spark.createDataFrame([("q", vec)], "qid string, qvec array<double>")
        exact = knn.knn_join(q, self.index_df, k=K, id_col="id", vec_col="embedding").collect()
        t1 = time.perf_counter()
        sc.setJobGroup(self.group + ".ivf", "ivf top-k")
        approx = ann.ivf_search_cells(
            q, self.centroids, self.cells, k=K, n_probe=self.n_probe, id_col="id"
        ).collect()
        t2 = time.perf_counter()

        from oracle import check_topk, recall

        qv = np.asarray(vec)
        got_exact = [(r["vec_id"], r["score"]) for r in sorted(exact, key=lambda r: r["rank"])]
        got_ivf = [(r["id"], r["score"]) for r in sorted(approx, key=lambda r: r["rank"])]
        problem = check_topk(got_exact, self.oracle, qv, K, exact=True)
        if not problem:
            problem = check_topk(got_ivf, self.oracle, qv, K, exact=False)
        info = {
            "exact_s": t1 - t0,
            "ivf_s": t2 - t1,
            "recall": recall([x for x, _ in got_ivf], self.oracle, qv, K),
            "qvec": qv,
        }
        return t2 - t0, (f"query {i}: {problem}" if problem else ""), info

    # -- measurement -----------------------------------------------------------
    def run(self) -> dict:
        self.start()
        try:
            setup_s = self.session_s + self.setup()
            op = self.reindex_op if self.args.workload == "reindex" else self.search_op
            lat: list[float] = []
            texts = docs = 0
            warm = [self._one(op, record=False) for _ in range(self.cfg["warmup"])]
            log(f"warm-up op seconds: {[round(x[0], 3) for x in warm if x]}")
            t_end = time.perf_counter() + self.args.seconds
            n = 0
            while time.perf_counter() < t_end or n < self.cfg["min_ops"]:
                res = self._one(op, record=True)
                n += 1
                if res is None:
                    continue
                dt, info = res
                lat.append(dt)
                if self.args.workload == "reindex":
                    texts += info["stub"]["texts"]
                    docs += info["counters"]["changed"]
                else:
                    log(f"op {n}: exact {info['exact_s']:.3f} s, ivf {info['ivf_s']:.3f} s")
            log(f"measured op seconds: {[round(x, 3) for x in lat]}")
            if self.args.workload == "search":
                texts, docs = self.setup_texts, self.setup_docs
            if self.tracer is None:
                metrics = {
                    "setup_s": setup_s,
                    "op_p50_s": median(lat),
                    "embed_texts_per_doc": texts / docs if docs else 0.0,
                }
                units = E2E_UNITS
            else:
                metrics = {name: median([r.get(name, 0.0) for r in self.layer_rows]) for name in LAYER_UNITS}
                metrics["session.start_s"] = self.session_s
                metrics["bench.warmup_ops"] = self.cfg["warmup"]
                metrics["bench.op_p50_traced_s"] = median(lat)
                units = LAYER_UNITS
        finally:
            self.stop()
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def _one(self, op, record: bool):
        """Run one op; count it; on success return (seconds, info)."""
        self.group = f"perfbench-op-{self.attempted}"
        self.spark.sparkContext.setJobGroup(self.group, "op")
        self.attempted += 1
        try:
            dt, problem, info = op()
        except Exception as e:  # an op that raises is a failed op, not a crash
            import traceback

            traceback.print_exc(file=sys.stderr)
            problem, info, dt = f"raised {type(e).__name__}: {e}", {}, 0.0
        if problem:
            self.failed += 1
            log(f"op {self.attempted - 1} FAILED: {problem}")
            if self.tracer is not None:
                self.tracer.take()
            return None
        if self.tracer is not None:
            row = self._layer_row(info)
            if record:
                self.layer_rows.append(row)
        return dt, info

    # -- per-layer (traced run) ------------------------------------------------
    def _layer_row(self, info: dict) -> dict[str, float]:
        from spans import action_seconds, layer_seconds

        from oracle import data_files, dir_bytes

        spans = self.tracer.take()
        sec = layer_seconds(spans)
        row: dict[str, float] = {f"{k}.s": v for k, v in sec.items() if k != "pipeline"}
        if self.args.workload == "reindex":
            row.update(self._spark_counts([self.group]))
            c, st = info["counters"], info["stub"]
            merged = [s.result for s in spans if s.name == "merge_upsert_partitioned"]
            buckets = merged[0] if merged else []
            index = self.pcfg.index_path
            row.update(
                {
                    "scan.files": c["scanned"],
                    "delta.changed_rows": c["changed"],
                    "embed.s": st["wall_s"],
                    "embed.requests": st["requests"],
                    "embed.texts": st["texts"],
                    "embed.texts_per_request": st["texts"] / st["requests"] if st["requests"] else 0.0,
                    "embed.server_busy_s": st["busy_s"],
                    "embed.useful_ratio": c["changed"] / st["texts"] if st["texts"] else 0.0,
                    "merge.buckets_rewritten": len(buckets),
                    "merge.bytes_written": sum(dir_bytes(os.path.join(index, f"__bucket={b}")) for b in buckets),
                    "state.bytes_written": dir_bytes(self.pcfg.state_path),
                    "pipeline.action_s": action_seconds(spans),
                    "pipeline.driver_s": sec.get("pipeline", 0.0) - action_seconds(spans),
                }
            )
        else:
            row.update(self._spark_counts([self.group + ".exact", self.group + ".ivf"]))
            cells = self._probed_cells(info["qvec"])
            row.update(
                {
                    "knn.rows_scored": self.corpus.n,
                    "knn.tasks": self._spark_counts([self.group + ".exact"])["spark.tasks"],
                    "ivf.cells_probed": len(cells),
                    "ivf.rows_scored": len(set().union(*(self.cell_ids.get(c, set()) for c in cells))),
                    "ivf.recall_at_10": info["recall"],
                }
            )
        files = data_files(self.pcfg.index_path)
        row["index.files"] = len(files)
        row["index.bytes"] = sum(os.path.getsize(f) for f in files)
        return row

    def _probed_cells(self, qv) -> list[int]:
        """The n_probe nearest centroids by round-6 cosine, ties by cid."""
        import numpy as np

        s = np.round(self.cvec_unit @ (qv / np.linalg.norm(qv)), 6)
        best = np.lexsort((self.cids, -s))[: self.n_probe]
        return [int(self.cids[i]) for i in best]

    def _spark_counts(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages and tasks of an op's job groups (statusTracker)."""
        st = self.spark.sparkContext.statusTracker()
        jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks:
                ran += 1
                tasks += info.numCompletedTasks
        return {"spark.jobs": len(jobs), "spark.stages": ran, "spark.tasks": tasks}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SETTINGS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--notes", type=int, default=0, help="override the corpus size (smoke tests)")
    p.add_argument("--warmup", type=int, default=None, help="override the warm-up op count")
    p.add_argument("--ops", type=int, default=None, help="override the fewest measured ops")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import vectrekker_spark.pipeline  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    result = Bench(args).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
