"""In-process, OpenAI-shaped ``/embeddings`` stub for the benchmark.

POST {"model", "input": [texts]} -> {"data": [{"embedding": [...]}, ...]}
after a fixed injected delay per request, so that every extra request the
program makes costs wall time exactly as a real embedding API would.

Vectors are a deterministic function of the text alone (``embed_text``): a
bag-of-words sum of per-word pseudo-random directions, so notes that share
topic words point the same way and an IVF index has clusters to find.
Components are rounded to 4 decimals, which keeps the JSON short and makes
the vector the client parses bit-identical to ``embed_text(text)``.

The server is a ``ThreadingHTTPServer`` (one thread per connection, so every
Spark task slot can hold a keep-alive connection at once); the counters are
updated under one lock.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

DIM = 1536  # the reference's embedding width (vectrekker/main.py:22)
_WORD = re.compile(r"[a-z]+")


class WordVectors:
    """Deterministic per-word direction table (seeded by the word itself)."""

    def __init__(self, dim: int = DIM) -> None:
        self.dim = dim
        # shared by the server threads: a race only recomputes the same value
        self._cache: dict[str, np.ndarray] = {}

    def get(self, word: str) -> np.ndarray:
        v = self._cache.get(word)
        if v is None:
            seed = int.from_bytes(hashlib.blake2b(word.encode(), digest_size=8).digest(), "little")
            v = self._cache[word] = np.random.default_rng(seed).standard_normal(self.dim)
        return v

    def embed_text(self, text: str) -> list[float]:
        """Unit-normalized bag-of-words vector, rounded to 4 decimals."""
        acc = np.zeros(self.dim)
        for w in _WORD.findall(text.lower()):
            acc += self.get(w)
        n = float(np.linalg.norm(acc))
        if n == 0.0:
            acc[0] = 1.0
            n = 1.0
        return np.round(acc / n, 4).tolist()


class StubCounters:
    """Request/text/busy-time counters, read as snapshots between ops."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.requests = 0
        self.texts = 0
        self.busy_s = 0.0  # sum of per-request handling time (delay included)
        self.inflight = 0
        self.max_inflight = 0
        # union of request intervals: wall time with >= 1 request in flight
        self.wall_s = 0.0
        self._wall_start = 0.0

    def begin(self) -> float:
        t = time.perf_counter()
        with self.lock:
            if self.inflight == 0:
                self._wall_start = t
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)
        return t

    def end(self, t0: float, n_texts: int) -> None:
        t = time.perf_counter()
        with self.lock:
            self.requests += 1
            self.texts += n_texts
            self.busy_s += t - t0
            self.inflight -= 1
            if self.inflight == 0:
                self.wall_s += t - self._wall_start

    def snapshot(self) -> dict[str, float]:
        with self.lock:
            return {
                "requests": self.requests,
                "texts": self.texts,
                "busy_s": self.busy_s,
                "wall_s": self.wall_s,
                "max_inflight": self.max_inflight,
            }


class EmbeddingStub:
    """Start with ``start()``, stop with ``close()`` (also a context manager)."""

    def __init__(self, delay_s: float = 0.1, dim: int = DIM) -> None:
        self.delay_s = delay_s
        self.vectors = WordVectors(dim)
        self.counters = StubCounters()
        # encoded JSON per text, so a text sent again is served without
        # re-encoding 1536 floats (same race rule as WordVectors)
        self._encoded: dict[str, str] = {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/embeddings"

    def _encode(self, text: str) -> str:
        s = self._encoded.get(text)
        if s is None:
            s = json.dumps({"embedding": self.vectors.embed_text(text)})
            self._encoded[text] = s
        return s

    def start(self) -> "EmbeddingStub":
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # keep-alive, as PooledHttpClient expects
            timeout = 30

            def log_message(self, *args):
                pass

            def do_POST(self):
                t0 = stub.counters.begin()
                n = 0
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    texts = json.loads(self.rfile.read(length))["input"]
                    n = len(texts)
                    time.sleep(stub.delay_s)
                    body = ('{"data": [' + ", ".join(stub._encode(t) for t in texts) + "]}").encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                finally:
                    stub.counters.end(t0, n)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None

    def __enter__(self) -> "EmbeddingStub":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()
