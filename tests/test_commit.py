"""The versioned-pointer commit protocol (vectrekker_spark/commit.py) that
every persisted vector index (IVF, PQ, IVF-PQ) publishes through, and the
atomic text write of the JSON sidecars. Spark-free: plain files and dirs."""

from __future__ import annotations

import os

import pytest

from vectrekker_spark import commit
from vectrekker_spark.commit import (
    next_version,
    pointer_tokens,
    prune_pointers,
    prune_versions,
    publish,
    resolve,
    write_text_atomic,
)

_PQ_KINDS = ("codebooks", "centroids", "codes", "rotation", "meta")


def _pointer(path, version, tokens, committed=True):
    with open(os.path.join(path, f"CURRENT-v{version}"), "w") as f:
        f.write(tokens + ("\n" if committed else ""))


def _artifact(path, name):
    """A versioned artifact: a dir with one part file, or a .json file."""
    full = os.path.join(path, name)
    if name.endswith(".json"):
        with open(full, "w") as f:
            f.write("{}")
        return
    os.makedirs(full)
    with open(os.path.join(full, "part-0.parquet"), "w") as f:
        f.write("x")


def _save(path, version, kinds=("codebooks", "codes", "meta")):
    """What a writer does: fresh artifacts under ``version``, then publish."""
    names = [f"{k}-v{version}.json" if k == "meta" else f"{k}-v{version}"
             for k in kinds]
    for n in names:
        _artifact(path, n)
    publish(path, names, _PQ_KINDS)
    return names


def test_pointer_prune_never_deletes_newer_committed_pointer(tmp_path):
    """Two racing flips: the slow writer wins the create-exclusive on v1
    but stalls; the fast writer bumps to v2, commits, and prunes first.
    When the slow writer (k=1) then runs ITS prune, it must not remove
    the racer's newer committed CURRENT-v2: highest-wins means the newest
    committed pointer is the index — deleting it rolls the index back,
    possibly to artifacts the racer's own prune already reclaimed."""
    path = str(tmp_path / "race")
    os.makedirs(path)
    # committed history: v0 (old), v1 (slow writer A's flip), v2 (fast
    # writer B's flip — already committed AND pruned: B kept v2 + grace v1)
    for v in (0, 1, 2):
        _pointer(path, v, f"cells-v{v} centroids-v{v}")

    prune_pointers(path, 1)  # slow writer A finishes second with k=1

    survivors = sorted(d for d in os.listdir(path) if d.startswith("CURRENT-v"))
    assert "CURRENT-v2" in survivors, survivors  # racer's pointer intact
    assert "CURRENT-v1" in survivors, survivors  # A's own pointer intact
    # highest-wins read still resolves to the racer's (newest) version
    assert pointer_tokens(path) == ["cells-v2", "centroids-v2"]


def test_pointer_prune_leaves_midwrite_higher_version_alone(tmp_path):
    """A higher version WITHOUT a commit marker may be a racer mid-write,
    not a torn crash — the lower-k prune must leave it; only a LATER flip
    (whose k lands above it) may reclaim it."""
    path = str(tmp_path / "midwrite")
    os.makedirs(path)
    _pointer(path, 0, "cells-v0 centroids-v0")
    _pointer(path, 1, "cells-v1 centroids-v1", committed=False)

    prune_pointers(path, 0)

    assert os.path.exists(os.path.join(path, "CURRENT-v1"))
    assert os.path.exists(os.path.join(path, "CURRENT-v0"))


def test_artifact_prune_keeps_every_pointed_version(tmp_path):
    """prune_versions honors EVERY committed pointer on disk, not just the
    caller's explicit keep-set: a racer that committed a higher pointer
    between our flip and our prune keeps its artifacts (without this, the
    slow writer's keep-set reclaims the fast writer's committed artifacts
    and its surviving pointer dangles). Artifacts of kinds the caller did
    not name, and files that are no artifact, are never touched."""
    path = str(tmp_path / "artifacts")
    os.makedirs(path)
    for d in ["cells-v0", "centroids-v0", "cells-v7", "centroids-v7",
              "cells-v3", "centroids-v3", "codes-v3", "notes-v3.txt"]:
        _artifact(path, d)
    _artifact(path, "README")
    # racer's committed pointer references the v7 pair
    _pointer(path, 5, "cells-v7 centroids-v7")

    # our keep-set only knows our own live pair (v0); v3 is a true orphan
    prune_versions(path, {"cells-v0", "centroids-v0"},
                   ("cells", "centroids", "meta"))

    left = set(os.listdir(path))
    assert {"cells-v0", "centroids-v0", "cells-v7", "centroids-v7"} <= left
    assert "cells-v3" not in left and "centroids-v3" not in left
    assert {"codes-v3", "notes-v3.txt", "README", "CURRENT-v5"} <= left


def test_five_artifact_pointer_resolves_by_kind(tmp_path):
    """A pointer names one artifact per kind in any order and any number;
    the resolver maps them by kind. The three-token IVF pointer parses
    unchanged, and a pointer missing a required kind (another index
    family, or no index) raises naming the rebuild verb."""
    path = str(tmp_path / "five")
    os.makedirs(path)
    _pointer(path, 0, "codebooks-v0 centroids-v0 codes-v3 rotation-v0 "
                      "meta-v0.json")
    assert resolve(path, ("codebooks", "centroids", "codes", "meta"), "x") == {
        "codebooks": "codebooks-v0",
        "centroids": "centroids-v0",
        "codes": "codes-v3",
        "rotation": "rotation-v0",
        "meta": "meta-v0.json",
    }
    assert commit.artifact_version("codes-v3") == 3
    assert commit.artifact_version("meta-v12.json") == 12

    ivf = str(tmp_path / "ivf")
    os.makedirs(ivf)
    _pointer(ivf, 4, "cells-v5 centroids-v2 meta-v2.json")
    names = resolve(ivf, ("cells", "centroids", "meta"), "x")
    assert (names["cells"], names["centroids"], names["meta"]) == (
        "cells-v5", "centroids-v2", "meta-v2.json")

    with pytest.raises(ValueError, match="rebuild the index with pq_save"):
        resolve(ivf, ("codebooks", "codes", "meta"), "pq_save (CLI: pq-build)")
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="found none"):
        resolve(empty, ("cells",), "ivf_save")
    assert not commit.index_exists(empty) and commit.index_exists(ivf)


def test_torn_top_pointer_falls_back_to_previous_version(tmp_path):
    """A pointer without the trailing-newline commit marker (a torn local
    write) is skipped: the reader resolves the next-lower committed one."""
    path = str(tmp_path / "torn")
    os.makedirs(path)
    live = _save(path, 0)
    _pointer(path, 1, "codebooks-v9 codes-v9 meta-v9.json", committed=False)
    assert pointer_tokens(path) == live
    assert resolve(path, ("codebooks", "codes", "meta"), "x")["codes"] == "codes-v0"


def test_grace_keeps_committed_not_torn_higher_version(tmp_path):
    """A crashed save leaves higher-numbered artifacts and a torn pointer.
    The next save takes a version above them (versions never repeat),
    keeps the COMMITTED version as the grace copy and reclaims the torn
    artifacts and pointer — never the reverse."""
    path = str(tmp_path / "grace")
    os.makedirs(path)
    v0 = _save(path, 0)
    # crashed save: artifacts for v1 written, pointer torn
    for n in ("codebooks-v1", "codes-v1"):
        _artifact(path, n)
    _pointer(path, 1, "codebooks-v1 codes-v1", committed=False)

    version = next_version(path, _PQ_KINDS)
    assert version == 2
    v2 = _save(path, version)

    left = set(os.listdir(path))
    assert set(v2) <= left and set(v0) <= left  # live + committed grace
    assert not {"codebooks-v1", "codes-v1", "CURRENT-v1"} & left
    assert pointer_tokens(path) == v2

    # one more save: the grace window moves to v2 and v0 is pruned
    v3 = _save(path, next_version(path, _PQ_KINDS))
    left = set(os.listdir(path))
    assert set(v3) <= left and set(v2) <= left and not set(v0) & left
    assert sorted(d for d in left if d.startswith("CURRENT-v")) == [
        "CURRENT-v2", "CURRENT-v3"]


def test_publish_carries_unchanged_artifacts_forward(tmp_path):
    """A rewrite that replaces one artifact (a compact's codes) names the
    live others in its pointer instead of copying them; the replaced one
    stays as the grace copy for one more rewrite."""
    path = str(tmp_path / "carry")
    os.makedirs(path)
    live = _save(path, 0, _PQ_KINDS)
    for v in (1, 2):
        _artifact(path, f"codes-v{v}")
        names = [f"codes-v{v}" if n.startswith("codes-") else n for n in live]
        publish(path, names, _PQ_KINDS)
    assert pointer_tokens(path) == [
        "codebooks-v0", "centroids-v0", "codes-v2", "rotation-v0", "meta-v0.json"]
    artifacts = {d for d in os.listdir(path) if not d.startswith("CURRENT")}
    assert artifacts == {"codebooks-v0", "centroids-v0", "codes-v1", "codes-v2",
                         "rotation-v0", "meta-v0.json"}


def test_write_text_atomic_replaces_whole_or_not_at_all(tmp_path, monkeypatch):
    """The new text replaces the file in one step; when the write or the
    replace raises, the old file is intact and no temp file is left."""
    target = tmp_path / "meta.json"
    write_text_atomic(str(target), '{"v": 1}')
    assert target.read_text() == '{"v": 1}'
    plain = tmp_path / "plain.json"
    plain.write_text("{}")  # the mode a plain open gives
    assert target.stat().st_mode == plain.stat().st_mode
    plain.unlink()
    write_text_atomic(str(target), '{"v": 2}')
    assert target.read_text() == '{"v": 2}'

    with pytest.raises(TypeError):
        write_text_atomic(str(target), 3)  # the write itself raises

    def fail(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(commit.os, "replace", fail)
    with pytest.raises(OSError, match="disk full"):
        write_text_atomic(str(target), '{"v": 3}')
    assert target.read_text() == '{"v": 2}'
    assert os.listdir(tmp_path) == ["meta.json"]
