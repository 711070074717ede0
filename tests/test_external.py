"""External embedder/sink interface tests (SURVEY.md §2.1 E1/K1/K2 external
half): batched HTTP embed via mapInPandas, retry on transient errors,
foreachPartition vector-store sink — all against a local fake server.
The real network path is NEVER exercised; the fake implements the same
public request/response shapes the clients speak."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from vectrekker_spark.embedder import Embedder, HashingEmbedder, HttpEmbedder, embed_column
from vectrekker_spark.operators.external_sink import HttpVectorSink, write_to_sink

DIM = 8


class _FakeState:
    """Shared recording state for the fake server (thread-safe enough for
    the test's serialized request patterns)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.embed_requests: list[list[str]] = []
        self.upserts: dict[str, list[float]] = {}
        self.indexes: list[dict] = []
        self.fail_next = 0  # fail this many requests before serving
        self.fail_code = 503  # status for injected failures
        self.retry_after: float | None = None  # Retry-After header seconds
        self.reset_next = 0  # drop the connection (no response) this many times
        self.connections = 0  # distinct TCP connections accepted
        self.paths: list[str] = []  # raw request targets (incl. query strings)


class _Handler(BaseHTTPRequestHandler):
    state: _FakeState

    def log_message(self, *a):  # silence
        pass

    def setup(self):
        # one handler instance per accepted TCP connection (keep-alive
        # requests share the instance) → counts distinct connections
        with self.state.lock:
            self.state.connections += 1
        super().setup()

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(n))
        st = self.state
        route = self.path.split("?", 1)[0]  # clients may send query strings
        if route.startswith("http://"):  # proxy-form absolute URI
            import urllib.parse

            route = urllib.parse.urlsplit(route).path
        with st.lock:
            st.paths.append(self.path)
            if st.reset_next > 0:
                st.reset_next -= 1
                # simulate a connection reset: close without any response —
                # the client sees http.client.RemoteDisconnected
                self.close_connection = True
                self.connection.close()
                return
            if st.fail_next > 0:
                st.fail_next -= 1
                self.send_response(st.fail_code)
                if st.retry_after is not None:
                    self.send_header("Retry-After", str(st.retry_after))
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if route == "/embeddings":
                texts = payload["input"]
                st.embed_requests.append(list(texts))
                # deterministic fake: v[j] = (len(text) + j) / 100
                data = [
                    {"embedding": [(len(t) + j) / 100.0 for j in range(DIM)]}
                    for t in texts
                ]
                body = json.dumps({"data": data}).encode()
            elif route == "/indexes":
                st.indexes.append(payload)
                body = b"{}"
            elif route == "/vectors/upsert":
                for v in payload["vectors"]:
                    st.upserts[v["id"]] = v["values"]
                body = b"{}"
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def _serve(state: _FakeState, protocol: str):
    # timeout: an idle keep-alive connection can't block the single-threaded
    # server (and its shutdown) forever
    handler = type(
        "H", (_Handler,), {"state": state, "protocol_version": protocol, "timeout": 5}
    )
    srv = HTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv


@pytest.fixture()
def fake_server():
    state = _FakeState()
    srv = _serve(state, "HTTP/1.0")  # closes after every response
    yield state, f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()
    srv.server_close()


@pytest.fixture()
def fake_server_keepalive():
    state = _FakeState()
    srv = _serve(state, "HTTP/1.1")  # persistent connections
    yield state, f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()
    srv.server_close()


def test_hashing_embedder_satisfies_protocol_and_matches_udf():
    emb = HashingEmbedder(dim=16)
    assert isinstance(emb, Embedder)
    v = emb.embed_batch(["alpha beta", "alpha beta"])
    assert len(v) == 2 and len(v[0]) == 16 and v[0] == v[1]


def test_http_embedder_batches_and_values(fake_server):
    state, url = fake_server
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, batch_size=3)
    try:
        texts = [f"t{i}" * (i + 1) for i in range(7)]  # lengths 2,4,6,...
        vecs = emb.embed_batch(texts)
        assert len(vecs) == 7
        assert vecs[0] == [(2 + j) / 100.0 for j in range(DIM)]
        # 7 texts at batch_size 3 → exactly 3 requests of sizes 3,3,1
        assert [len(r) for r in state.embed_requests] == [3, 3, 1]
    finally:
        emb.close()


def test_http_embedder_retries_transient_errors(fake_server):
    state, url = fake_server
    state.fail_next = 2  # two 503s, then success
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, backoff_s=0.01)
    try:
        vecs = emb.embed_batch(["abc"])
        assert len(vecs) == 1 and vecs[0][0] == 3 / 100.0
    finally:
        emb.close()


def test_http_embedder_gives_up_after_max_retries(fake_server):
    state, url = fake_server
    state.fail_next = 10
    import urllib.error

    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, max_retries=1, backoff_s=0.01)
    try:
        with pytest.raises(urllib.error.HTTPError):
            emb.embed_batch(["abc"])
    finally:
        emb.close()


def test_http_embedder_rejects_wrong_dim(fake_server):
    _, url = fake_server
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM + 1)
    try:
        with pytest.raises(ValueError, match="dim"):
            emb.embed_batch(["abc"])
    finally:
        emb.close()


def test_embed_column_mapinpandas(spark, fake_server):
    _, url = fake_server
    df = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(20)], "id long, text string"
    ).repartition(4)
    out = embed_column(
        df, lambda: HttpEmbedder(f"{url}/embeddings", dim=DIM), micro_batch=8
    )
    rows = {r["id"]: r["embedding"] for r in out.collect()}
    assert len(rows) == 20
    assert rows[4] == [(5 + j) / 100.0 for j in range(DIM)]


def test_embed_column_with_local_embedder(spark):
    # the deterministic implementation behind the same interface — proves the
    # production path and the test path are swappable
    df = spark.createDataFrame([(1, "alpha beta gamma")], "id long, text string")
    out = embed_column(df, lambda: HashingEmbedder(dim=16)).collect()
    assert len(out[0]["embedding"]) == 16


@pytest.mark.slow
def test_embed_column_hashing_default_dim(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma")], "id long, text string")
    out = embed_column(df, HashingEmbedder).collect()
    assert len(out[0]["embedding"]) == 64


def test_run_pipeline_embeds_each_changed_note_once(spark, fake_server, tmp_path):
    # The reference sends each changed note to the embedding API once
    # (vectrekker/main.py:180-185). run_pipeline's indexed count and merge
    # actions each read the embedded delta, so it must be materialized
    # once; and no run — the empty-delta short-circuit included — may leave
    # a cached frame behind in the long-lived session.
    import os

    from vectrekker_spark.operators.delta import read_partitioned_table
    from vectrekker_spark.pipeline import PipelineConfig, run_pipeline

    server, url = fake_server
    content = tmp_path / "content"
    content.mkdir()
    notes = {content / f"n{i}.md": f"note {i} " * (i + 1) for i in range(4)}
    for p, text in notes.items():
        p.write_text(text)
    cfg = PipelineConfig(
        content_dir=str(content),
        state_path=str(tmp_path / "state.parquet"),
        index_path=str(tmp_path / "index.parquet"),
        embedder_factory=lambda: HttpEmbedder(f"{url}/embeddings", dim=DIM),
    )
    jsc = spark.sparkContext._jsc

    def run() -> tuple[int, list[str]]:
        # compared as ids, not a count: an unrelated RDD that an earlier test
        # dropped may be cleaned up mid-run
        cached_before = set(jsc.getPersistentRDDs().keySet())
        server.embed_requests.clear()
        counts = run_pipeline(spark, cfg)
        assert set(jsc.getPersistentRDDs().keySet()) <= cached_before
        index = read_partitioned_table(spark, cfg.index_path).collect()
        assert sorted(r["id"] for r in index) == sorted(str(p) for p in notes)
        for r in index:
            text = notes[content / os.path.basename(r["id"])]
            assert r["embedding"] == [(len(text) + j) / 100.0 for j in range(DIM)]
        texts = sorted(t for req in server.embed_requests for t in req)
        return counts["changed"], texts

    assert run() == (4, sorted(notes.values()))  # cold build

    edited = content / "n2.md"
    mtime = edited.stat().st_mtime
    notes[edited] = "note two, edited"
    edited.write_text(notes[edited])
    os.utime(edited, (mtime + 10, mtime + 10))  # strictly later whole second
    assert run() == (1, ["note two, edited"])

    assert run() == (0, [])  # no-op rerun


# Spark jobs one incremental run may take to re-index 1 note of 100; the
# pipeline takes 15. A listing of every index bucket dir, a footer read for
# the state's schema, a separate count of the over-long docs or a count job
# probing the state merge's strategy would each push it past the budget.
REINDEX_JOB_BUDGET = 15


def test_run_pipeline_incremental_job_budget(spark, fake_server, tmp_path):
    # vectrekker's hourly cron touches only what changed
    # (vectrekker/main.py:143-147): re-indexing one note must not pay for
    # a listing of the whole index or for redundant plan-build jobs. 100
    # notes fill ~52 of the 64 buckets — past Spark's 32-path threshold for
    # a parallel (job-launching) listing of the whole table.
    import os
    import uuid

    from vectrekker_spark.operators.delta import read_partitioned_table
    from vectrekker_spark.pipeline import PipelineConfig, run_pipeline

    server, url = fake_server
    content = tmp_path / "content"
    content.mkdir()
    for i in range(100):
        (content / f"n{i}.md").write_text(f"note {i}")
    cfg = PipelineConfig(
        content_dir=str(content),
        state_path=str(tmp_path / "state.parquet"),
        index_path=str(tmp_path / "index.parquet"),
        embedder_factory=lambda: HttpEmbedder(f"{url}/embeddings", dim=DIM),
    )
    assert run_pipeline(spark, cfg)["indexed"] == 100  # cold build

    edited = content / "n7.md"
    mtime = edited.stat().st_mtime
    edited.write_text("note seven, edited")
    os.utime(edited, (mtime + 10, mtime + 10))  # strictly later whole second
    server.embed_requests.clear()
    sc = spark.sparkContext
    group = f"reindex-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "1-note re-index")
    try:
        counts = run_pipeline(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert counts["changed"] == counts["indexed"] == 1
    assert server.embed_requests == [["note seven, edited"]]
    assert len(jobs) <= REINDEX_JOB_BUDGET, len(jobs)
    index = read_partitioned_table(spark, cfg.index_path)
    assert index.count() == 100
    row = index.filter(F.col("id") == str(edited)).first()
    assert row["embedding"] == [(len("note seven, edited") + j) / 100.0 for j in range(DIM)]


def test_foreach_partition_sink(spark, fake_server):
    state, url = fake_server
    sink = HttpVectorSink(url)
    try:
        sink.create_index_if_absent("docs", DIM, "cosine")
        assert state.indexes == [{"name": "docs", "dimension": DIM, "metric": "cosine"}]

        df = spark.createDataFrame(
            [(f"id{i}", [float(i)] * DIM, {"k": str(i)}) for i in range(50)],
            "id string, embedding array<double>, metadata map<string,string>",
        ).repartition(4)
        write_to_sink(df, lambda: HttpVectorSink(url), batch_size=8)
        assert len(state.upserts) == 50
        assert state.upserts["id7"] == [7.0] * DIM
    finally:
        sink.close()


def test_sink_retries_transient_errors(fake_server):
    state, url = fake_server
    state.fail_next = 1
    sink = HttpVectorSink(url, backoff_s=0.01)
    try:
        sink.upsert([("a", [1.0] * DIM, {})])
        assert state.upserts["a"] == [1.0] * DIM
    finally:
        sink.close()


def test_retry_delay_pure():
    import urllib.error
    from email.message import Message

    from vectrekker_spark.embedder import retry_delay

    # plain exponential backoff without a header
    assert retry_delay(None, 0.5, 0) == 0.5
    assert retry_delay(None, 0.5, 3) == 4.0
    assert retry_delay(None, 0.5, 20, cap_s=60.0) == 60.0  # capped

    def http_err(headers: dict) -> urllib.error.HTTPError:
        msg = Message()
        for k, v in headers.items():
            msg[k] = v
        return urllib.error.HTTPError("http://x", 429, "too many", msg, None)

    # Retry-After raises the delay when larger than the local backoff...
    assert retry_delay(http_err({"Retry-After": "2.5"}), 0.01, 0) == 2.5
    # ...never lowers it, and the cap still applies
    assert retry_delay(http_err({"Retry-After": "0.1"}), 1.0, 2) == 4.0
    assert retry_delay(http_err({"Retry-After": "9999"}), 0.01, 0, cap_s=30.0) == 30.0
    # HTTP-date form is ignored (local backoff)
    assert retry_delay(
        http_err({"Retry-After": "Wed, 21 Oct 2015 07:28:00 GMT"}), 0.5, 1
    ) == 1.0


def test_http_embedder_honors_retry_after(fake_server):
    import time

    state, url = fake_server
    state.fail_next, state.fail_code, state.retry_after = 1, 429, 0.4
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, backoff_s=0.001)
    try:
        t0 = time.perf_counter()
        vecs = emb.embed_batch(["abc"])
        elapsed = time.perf_counter() - t0
        assert len(vecs) == 1
        assert elapsed >= 0.4  # waited the server's budget, not the 1ms backoff
        assert len(state.embed_requests) == 1  # exactly one retry succeeded
    finally:
        emb.close()


def test_http_embedder_retries_connection_reset(fake_server):
    state, url = fake_server
    state.reset_next = 2  # two dropped connections, then success
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, backoff_s=0.01)
    try:
        vecs = emb.embed_batch(["abc"])
        assert len(vecs) == 1 and vecs[0][0] == 3 / 100.0
    finally:
        emb.close()


def test_pooled_client_reuses_keepalive_connection(fake_server_keepalive):
    state, url = fake_server_keepalive
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, batch_size=1)
    try:
        vecs = emb.embed_batch(["a", "bb", "ccc"])  # 3 requests at batch_size 1
        assert len(vecs) == 3
        assert [len(r) for r in state.embed_requests] == [1, 1, 1]
        assert state.connections == 1  # all three rode one pooled connection
    finally:
        emb.close()


def test_pooled_client_non_idempotent_never_replays(fake_server_keepalive):
    # at-least-once hazard: a reused socket dying mid-exchange normally
    # triggers a transparent re-send; idempotent=False must surface the
    # failure instead of replaying the request (class docstring contract)
    from vectrekker_spark.http_client import PooledHttpClient

    state, url = fake_server_keepalive
    client = PooledHttpClient(url)
    try:
        client.post_json("/vectors/upsert", {"vectors": []})  # warm: reused now
        state.reset_next = 1
        with pytest.raises(OSError):
            # the DEFAULT is now non-idempotent: no transparent replay
            client.post_json("/vectors/upsert", {"vectors": []})
        # the server saw the doomed request exactly once — no replay
        assert len(state.paths) == 2
        # opt-in idempotent path still re-dials transparently after a stale
        # socket (the contract the embed/upsert call sites declare)
        client.post_json("/vectors/upsert", {"vectors": []}, idempotent=True)
        state.reset_next = 1
        assert (
            client.post_json("/vectors/upsert", {"vectors": []}, idempotent=True)
            == {}
        )
        assert len(state.paths) == 5  # dropped attempt + transparent replay
    finally:
        client.close()


def test_pooled_client_degrades_on_http10_server(fake_server):
    # an HTTP/1.0 server closes after each response; the pooled client must
    # transparently re-dial instead of failing on the stale socket
    state, url = fake_server
    emb = HttpEmbedder(f"{url}/embeddings", dim=DIM, batch_size=1)
    try:
        vecs = emb.embed_batch(["a", "bb", "ccc"])
        assert len(vecs) == 3
        assert state.connections == 3  # one connection per request, no errors
    finally:
        emb.close()


def test_breaker_opens_and_fails_fast(fake_server):
    from vectrekker_spark.http_client import CircuitOpenError

    state, url = fake_server
    state.fail_next = 10
    emb = HttpEmbedder(
        f"{url}/embeddings",
        dim=DIM,
        max_retries=9,
        backoff_s=0.01,
        breaker_threshold=2,
        breaker_cooldown_s=60.0,
    )
    try:
        with pytest.raises(CircuitOpenError):
            emb.embed_batch(["abc"])
        # the circuit opened after exactly `threshold` requests — the remaining
        # retry budget never hit the server
        assert state.fail_next == 8
    finally:
        emb.close()


def test_sink_breaker_opens_and_fails_fast(fake_server):
    from vectrekker_spark.http_client import CircuitOpenError

    state, url = fake_server
    state.fail_next = 10
    sink = HttpVectorSink(
        url,
        max_retries=9,
        backoff_s=0.01,
        breaker_threshold=3,
        breaker_cooldown_s=60.0,
    )
    try:
        with pytest.raises(CircuitOpenError):
            sink.upsert([("a", [1.0] * DIM, {})])
        assert state.fail_next == 7
    finally:
        sink.close()


def test_breaker_half_open_recovery():
    from vectrekker_spark.http_client import CircuitBreaker, CircuitOpenError

    now = [0.0]
    br = CircuitBreaker(threshold=2, cooldown_s=10.0, clock=lambda: now[0])
    br.before_request()  # closed: no-op
    br.record_failure()
    br.before_request()  # one failure < threshold: still closed
    br.record_failure()  # second failure: opens
    with pytest.raises(CircuitOpenError):
        br.before_request()
    now[0] = 5.0  # cooldown not elapsed
    with pytest.raises(CircuitOpenError):
        br.before_request()
    now[0] = 11.0  # cooldown elapsed: one half-open trial admitted
    br.before_request()
    with pytest.raises(CircuitOpenError):
        br.before_request()  # only ONE trial per window
    br.record_success()  # trial succeeded: circuit closes
    br.before_request()
    br.before_request()  # closed again: unlimited


def test_breaker_half_open_failure_reopens():
    from vectrekker_spark.http_client import CircuitBreaker, CircuitOpenError

    now = [0.0]
    br = CircuitBreaker(threshold=1, cooldown_s=10.0, clock=lambda: now[0])
    br.record_failure()  # opens immediately at threshold 1
    now[0] = 11.0
    br.before_request()  # half-open trial
    br.record_failure()  # trial failed: re-opens with a fresh cooldown
    with pytest.raises(CircuitOpenError):
        br.before_request()
    now[0] = 22.0
    br.before_request()  # next window admits another trial


def test_sink_retries_connection_reset_and_retry_after(fake_server):
    state, url = fake_server
    state.reset_next = 1
    sink = HttpVectorSink(url, backoff_s=0.01)
    try:
        sink.upsert([("a", [1.0] * DIM, {})])
        assert "a" in state.upserts
        state.fail_next, state.fail_code, state.retry_after = 1, 429, 0.2
        import time

        t0 = time.perf_counter()
        sink.upsert([("b", [2.0] * DIM, {})])
        assert time.perf_counter() - t0 >= 0.2
        assert "b" in state.upserts
    finally:
        sink.close()


def test_http_embedder_preserves_query_string(fake_server):
    # Azure-style endpoints carry required query params — they must reach the
    # server with every request
    state, url = fake_server
    emb = HttpEmbedder(f"{url}/embeddings?api-version=2024-02-01", dim=DIM)
    try:
        vecs = emb.embed_batch(["abc"])
        assert len(vecs) == 1
        assert state.paths == ["/embeddings?api-version=2024-02-01"]
    finally:
        emb.close()


def test_breaker_trip_skips_backoff_sleep(fake_server):
    # a failure that trips the breaker must NOT burn the (possibly huge)
    # Retry-After budget before failing fast
    import time

    from vectrekker_spark.http_client import CircuitOpenError

    state, url = fake_server
    state.fail_next, state.fail_code, state.retry_after = 10, 429, 30.0
    emb = HttpEmbedder(
        f"{url}/embeddings",
        dim=DIM,
        max_retries=9,
        backoff_s=0.01,
        breaker_threshold=1,  # first failure trips it
        breaker_cooldown_s=60.0,
    )
    try:
        t0 = time.perf_counter()
        with pytest.raises(CircuitOpenError):
            emb.embed_batch(["abc"])
        assert time.perf_counter() - t0 < 5.0  # no 30 s Retry-After sleep
        assert state.fail_next == 9  # exactly one request hit the server
    finally:
        emb.close()


def test_breaker_unrecorded_trial_expires():
    # a trial admitted but never recorded (exception between the gate and
    # record_*) must not wedge the breaker open forever
    from vectrekker_spark.http_client import CircuitBreaker, CircuitOpenError

    now = [0.0]
    br = CircuitBreaker(threshold=1, cooldown_s=10.0, clock=lambda: now[0])
    br.record_failure()  # opens
    now[0] = 11.0
    br.before_request()  # trial admitted... outcome never recorded
    with pytest.raises(CircuitOpenError):
        br.before_request()  # trial outstanding within its window
    now[0] = 22.0
    br.before_request()  # stale trial expired → a new one is admitted


def test_http_embedder_honors_proxy_env(fake_server, monkeypatch):
    # executors whose only egress is an HTTP proxy: the pooled transport must
    # dial the proxy and send the absolute URI (urllib parity)
    state, url = fake_server
    monkeypatch.setenv("http_proxy", url)
    monkeypatch.delenv("no_proxy", raising=False)
    emb = HttpEmbedder("http://upstream.invalid/embeddings", dim=DIM)
    try:
        vecs = emb.embed_batch(["abc"])
        assert len(vecs) == 1
        # the request reached the PROXY (our fake) carrying the absolute URI
        assert state.paths == ["http://upstream.invalid/embeddings"]
    finally:
        emb.close()


def test_breaker_liveness_property():
    """Hypothesis: under ANY interleaving of failures, successes, unrecorded
    trials, and clock advances, a request is always admitted within two
    cooldown windows of quiet time — the breaker can never wedge permanently
    open (the bug class fixed twice by hand)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vectrekker_spark.http_client import CircuitBreaker, CircuitOpenError

    event = st.sampled_from(["fail", "success", "admit_no_record", "tick"])

    @settings(max_examples=200, deadline=None)
    @given(st.lists(event, max_size=40), st.integers(1, 5))
    def run(events, threshold):
        now = [0.0]
        br = CircuitBreaker(threshold=threshold, cooldown_s=10.0, clock=lambda: now[0])
        for ev in events:
            if ev == "fail":
                br.record_failure()
            elif ev == "success":
                br.record_success()
            elif ev == "admit_no_record":
                try:
                    br.before_request()  # may be refused; outcome never recorded
                except CircuitOpenError:
                    pass
            else:
                now[0] += 3.0
        # liveness: after two full quiet cooldowns, the gate must open
        now[0] += 21.0
        br.before_request()  # must not raise
        # ...and a recorded success fully closes the circuit
        br.record_success()
        br.before_request()
        br.before_request()

    run()
