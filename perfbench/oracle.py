"""Correctness checks the benchmark runs on every op, outside the timed region.

The index is read straight from its parquet files with pyarrow, not through
Spark, so a check never shares a code path with what it checks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def data_files(root: str) -> list[str]:
    """Visible parquet data files under ``root`` (hidden dot-dirs such as
    staging or swap leftovers are not part of the table)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith("."))
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".parquet")]
    return out


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(root))


def read_index(root: str) -> tuple[list[str], np.ndarray]:
    """(ids, embedding matrix) of every row in an index dir."""
    tables = [pq.read_table(f, columns=["id", "embedding"]) for f in data_files(root)]
    if not tables:
        return [], np.zeros((0, 0))
    t = pa.concat_tables(tables)
    emb = t.column("embedding").combine_chunks()
    flat = emb.flatten().to_numpy(zero_copy_only=False)
    return t.column("id").to_pylist(), flat.reshape(len(emb), -1)


def check_write(
    counters: dict, edited: list[str], paths: list[str], ids: list[str], mat, vector_of
) -> str:
    """'' when one ``run_pipeline`` did what the op expects, else the reason.

    Counters must read scanned = every note, changed = indexed = the edited
    notes, quarantined = 0 (a run that changed nothing is a failure, not a
    fast op); the index must hold exactly one row per note; and up to 16
    edited notes are spot-checked to carry ``vector_of(path)``, the stub
    vector of their current text."""
    want = {"scanned": len(paths), "changed": len(edited), "indexed": len(edited), "quarantined": 0}
    if not edited or counters != want:
        return f"counters {counters} != {want}"
    if sorted(ids) != sorted(paths):
        return f"index holds {len(ids)} rows / {len(set(ids))} ids, want the {len(paths)} notes"
    pos = {x: i for i, x in enumerate(ids)}
    for p in edited[:16]:
        if mat[pos[p]].tolist() != vector_of(p):
            return f"{p} does not carry the stub vector of its current text"
    return ""


class ExactOracle:
    """numpy brute-force cosine top-k over a fixed index."""

    def __init__(self, ids: list[str], mat: np.ndarray) -> None:
        order = np.argsort(np.array(ids, dtype=object), kind="stable")
        self.ids = [ids[i] for i in order]
        self.mat = mat[order]
        self.norms = np.linalg.norm(self.mat, axis=1)
        self.pos = {x: i for i, x in enumerate(self.ids)}

    def scores(self, q: np.ndarray) -> np.ndarray:
        return (self.mat @ q) / (self.norms * np.linalg.norm(q))

    def topk(self, q: np.ndarray, k: int) -> list[tuple[str, float]]:
        """Top-k by score rounded to 6 decimals, ties by id ascending (ids
        are sorted, so a stable sort on the score keeps id order)."""
        s = np.round(self.scores(q), 6)
        best = np.argsort(-s, kind="stable")[:k]
        return [(self.ids[i], float(s[i])) for i in best]


def check_topk(
    got: list[tuple[str, float]], oracle: ExactOracle, q: np.ndarray, k: int, exact: bool
) -> str:
    """'' when ``got`` (id, score) rows are a valid answer, else the reason.

    Every reported score must be the id's true cosine (to 2e-6: the engine
    rounds to 6 decimals and may sum in another order), rows must be sorted
    by (score desc, id asc) and ids distinct and indexed. With ``exact`` the
    rows must also be the brute-force top-k; ids may differ from it only
    where the two scores are equal to within the rounding tolerance."""
    tol = 2e-6
    if len(got) != min(k, len(oracle.ids)):
        return f"expected {k} rows, got {len(got)}"
    if len({i for i, _ in got}) != len(got):
        return "duplicate ids"
    true = oracle.scores(q)
    for i, (vid, sc) in enumerate(got):
        if vid not in oracle.pos:
            return f"id {vid!r} not in index"
        if abs(true[oracle.pos[vid]] - sc) > tol:
            return f"score of {vid!r} is {sc}, true {true[oracle.pos[vid]]:.7f}"
        if i and (-got[i - 1][1], got[i - 1][0]) > (-sc, vid):
            return "rows not in (score desc, id asc) order"
    if exact:
        for (gid, gs), (wid, ws) in zip(got, oracle.topk(q, k)):
            if gid != wid and abs(gs - ws) > tol:
                return f"top-{k} differs from brute force: {gid!r} vs {wid!r}"
    return ""


def recall(got_ids: list[str], oracle: ExactOracle, q: np.ndarray, k: int) -> float:
    want = {i for i, _ in oracle.topk(q, k)}
    return len(want & set(got_ids)) / len(want)
