"""One commit protocol for every persisted vector index (IVF, PQ, IVF-PQ),
plus the atomic single-file text write the JSON sidecars use.

Versioned layout
----------------
An index directory holds immutable artifacts named ``<kind>-v<N>[.ext]``
(``cells-v3``, ``codebooks-v0``, ``meta-v3.json``, ...) and
``CURRENT-v{K}`` pointer files. The highest committed pointer names the
live artifact set, one name per kind, in one file ("cells-vN
centroids-vM meta-vK.json" for IVF); readers map its tokens by kind, so a
loader can never pair artifacts from two versions. Rewrites (a rebuild,
compact, delete) write complete NEW artifacts and flip the pointer, so
concurrent READERS never observe a missing table: a plan that resolved the
old directory keeps reading its files — the previous version is retained
as a grace copy until the NEXT rewrite prunes it. Reader staleness is
therefore bounded at one rewrite; a session holding a plan across two
rewrites must reload. A rewrite that leaves an artifact unchanged (the
centroids of a compact) carries its name forward in the new pointer
instead of copying it. An aborted rewrite's artifacts are unreferenced
orphans that the next successful rewrite prunes, so they can never be
mispaired with a later version, and metadata can never be a crash ahead
of or behind the tables it describes.

The pointer protocol is object-store safe: immutable create-exclusive
PUTs and LIST-highest reads, no rename anywhere in the live path (the
Delta Lake log's idea, Armbrust et al., VLDB 2020). For the DATA rewrites
on an object store, prefer the lakehouse's own OPTIMIZE/DELETE.

Single-writer contract: index REWRITES must be serialized — two concurrent
rebuilds can be handed the same artifact version by ``next_version``, and
an unflipped writer's artifacts are not protected from the other's prune.
Readers are always safe; a violated contract degrades to pointer-level
last-writer-wins (committed pointers and the artifacts they name are never
deleted by a racer — see ``prune_pointers`` / ``_referenced_names``), not
to a broken index.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Iterable

_POINTER = re.compile(r"CURRENT-v(\d+)")
_ARTIFACT = re.compile(r"([a-z]+)-v(\d+)(?:\.[a-z]+)?")


def _artifact_kind(name: str) -> str | None:
    """``kind`` of a ``<kind>-v<N>[.ext]`` artifact name, else None."""
    m = _ARTIFACT.fullmatch(name)
    return m.group(1) if m else None


def artifact_version(name: str) -> int:
    """``N`` of a ``<kind>-v<N>[.ext]`` artifact name."""
    m = _ARTIFACT.fullmatch(name)
    if not m:
        raise ValueError(f"not a versioned artifact name: {name!r}")
    return int(m.group(2))


def _pointer_versions(path: str) -> list[int]:
    """Versions of every ``CURRENT-v{K}`` pointer file, descending."""
    try:
        names = os.listdir(path)
    except OSError:
        return []
    return sorted(
        (int(m.group(1)) for m in map(_POINTER.fullmatch, names) if m),
        reverse=True,
    )


def _pointer_committed(path: str, version: int) -> bool:
    """True when CURRENT-v{version} is fully written (trailing-newline
    commit marker, ≥1 token)."""
    try:
        with open(os.path.join(path, f"CURRENT-v{version}")) as f:
            raw = f.read()
    except OSError:
        return False
    return raw.endswith("\n") and bool(raw.split())


def pointer_tokens(path: str) -> list[str]:
    """Live pointer tokens (one logical read); [] when absent.

    Highest-wins: each flip writes an immutable ``CURRENT-v{K}`` file with
    a monotonically increasing K and readers LIST the directory and read
    the highest K. A trailing newline is the commit marker: a file without
    it is a torn local write (object stores PUT atomically, so this only
    guards plain filesystems) and the reader falls back to the next-lower
    version, which still names a live-or-grace artifact set."""
    for v in _pointer_versions(path):
        try:
            with open(os.path.join(path, f"CURRENT-v{v}")) as f:
                raw = f.read()
        except OSError:
            continue  # pruned between the listing and the read: try older
        if raw.endswith("\n") and raw.split():
            return raw.split()
    return []


def index_exists(path: str) -> bool:
    """True when a committed pointer lives at ``path``."""
    return bool(pointer_tokens(path))


def resolve(path: str, kinds: Iterable[str], rebuild: str) -> dict[str, str]:
    """``{kind: artifact name}`` of the live version — ONE pointer read, so
    every artifact comes from the same commit. Raises ValueError naming
    ``rebuild`` (the writer and CLI verb that lay the index out) when no
    committed pointer names every required kind: no index, another index
    family, or a layout from an older release."""
    kinds = list(kinds)
    tokens = pointer_tokens(path)
    names = {_artifact_kind(t): t for t in tokens}
    if not all(k in names for k in kinds):
        raise ValueError(
            f"no index at {path}: expected a committed CURRENT-v* pointer "
            f"naming {', '.join(kinds)}, found {tokens or 'none'}; rebuild "
            f"the index with {rebuild}"
        )
    return names


def next_version(path: str, kinds: Iterable[str]) -> int:
    """One above the highest version of any ``kinds`` artifact listed —
    from the LISTING, not the pointer, so a version never repeats even
    after a crashed, never-flipped rewrite."""
    kinds = set(kinds)
    try:
        names = os.listdir(path)
    except OSError:
        names = []
    return max(
        (
            int(m.group(2))
            for m in map(_ARTIFACT.fullmatch, names)
            if m and m.group(1) in kinds
        ),
        default=-1,
    ) + 1


def write_meta(path: str, name: str, meta: dict) -> None:
    """Write a versioned JSON meta artifact. Rename-free on purpose (object
    stores have no rename): the file becomes live ONLY when a later flip
    names it, so no reader can observe it mid-write, and ``next_version``
    never hands out a name twice, so there is no torn-overwrite risk."""
    with open(os.path.join(path, name), "w") as f:
        json.dump(meta, f)


def read_meta(path: str, name: str) -> dict:
    """The meta artifact an already-resolved pointer names, None values
    dropped. A missing file raises (OSError) — the metadata analog of a
    vanished table."""
    with open(os.path.join(path, name)) as f:
        return {k: v for k, v in json.load(f).items() if v is not None}


def _flip_current(path: str, names: Iterable[str]) -> None:
    """Atomically point the index at ``names``.

    Writes a NEW immutable ``CURRENT-v{K}`` pointer file (K = highest
    existing + 1) via create-exclusive — no rename, no overwrite — so the
    same protocol maps onto an object store: every pointer is a single
    atomic PUT (use If-None-Match/conditional-PUT for the create-exclusive
    guarantee there) and readers take the highest listed version. Two
    racing writers land distinct versions and highest-wins gives
    last-writer-wins. Older pointers are then pruned (``prune_pointers``)."""
    names = list(names)
    content = " ".join(names) + "\n"
    versions = _pointer_versions(path)
    k = (versions[0] + 1) if versions else 0
    for _ in range(1000):  # bounded: concurrent flips each bump K once
        try:
            with open(os.path.join(path, f"CURRENT-v{k}"), "x") as f:
                f.write(content)
            break
        except FileExistsError:
            k += 1
    else:
        raise OSError(
            f"could not claim a pointer version under {path}; the already-"
            f"written artifacts {names} are left unreferenced and will be "
            "reclaimed by the next successful rewrite's prune"
        )
    prune_pointers(path, k)


def prune_pointers(path: str, k: int) -> None:
    """Prune pointer files after a flip that claimed version ``k``: keep
    ``k`` plus the highest COMMITTED older one as the grace pointer. The
    cutoff must consider commit markers, not raw version numbers — with a
    TORN CURRENT-v{k-1} left by a crashed flip, a numeric ``< k-1`` cutoff
    would delete the last readable pointer and leave only the unreadable
    torn file (exactly the crash case the protocol exists for). Torn files
    ABOVE grace but BELOW ``k`` are removed too, so they can't become the
    permanent top of the listing; versions above ``k`` belong to a
    concurrent racer that claimed later — committed (deleting it would
    roll the index back) or still mid-write (it only LOOKS torn) — and are
    never removed here. A genuinely torn higher version from a crash is
    cleaned by the next flip, whose ``k`` lands above it."""
    older = [v for v in _pointer_versions(path) if v < k]
    grace = next((v for v in older if _pointer_committed(path, v)), None)
    for old in older:
        if old == grace:
            continue
        try:
            os.remove(os.path.join(path, f"CURRENT-v{old}"))
        except OSError:
            pass


def _referenced_names(path: str) -> set[str]:
    """Artifact names referenced by EVERY committed pointer still present.
    Prune keep-sets union this in so a concurrent flip that committed a
    HIGHER pointer version between our flip and our prune keeps its
    artifacts — without it, the slower writer's explicit live+grace
    keep-set would reclaim the faster writer's committed artifacts and
    leave its surviving pointer dangling. This protects COMMITTED racers
    only; an unflipped rewrite is invisible here (the single-writer
    contract in the module docstring)."""
    names: set[str] = set()
    for v in _pointer_versions(path):
        if _pointer_committed(path, v):
            try:
                with open(os.path.join(path, f"CURRENT-v{v}")) as f:
                    names.update(f.read().split())
            except OSError:
                pass
    return names


def prune_versions(path: str, keep: Iterable[str], kinds: Iterable[str]) -> None:
    """Remove the ``kinds`` artifacts not in ``keep``; nothing else in the
    directory is touched. Callers pass the EXPLICIT names the live and
    grace versions reference, so an aborted rewrite's orphans are
    reclaimed here and a kept version always keeps its whole artifact set;
    every pointer still on disk is additionally honored via
    ``_referenced_names`` (racer safety)."""
    keep = set(keep) | _referenced_names(path)
    kinds = set(kinds)
    for name in os.listdir(path):
        if name in keep or _artifact_kind(name) not in kinds:
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            try:
                os.remove(full)
            except OSError:
                pass


def publish(path: str, names: Iterable[str], kinds: Iterable[str]) -> None:
    """Commit ``names`` (already fully written) as the live version: flip
    the pointer, then prune every ``kinds`` artifact that neither the new
    version nor the one it replaces (the grace copy) references."""
    names = list(names)
    grace = pointer_tokens(path)
    _flip_current(path, names)
    prune_versions(path, set(names) | set(grace), kinds)


def write_text_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: the text goes to a
    uniquely named temp file in the target's directory, then
    ``os.replace`` swaps it in, so a reader sees the old file or the new
    one, never a torn write. The temp file is removed when anything fails.
    It is created exclusively (``mkstemp``'s guarantee) but with the
    process umask's mode rather than ``mkstemp``'s 0600, so the file keeps
    the permissions a plain ``open`` would give its readers."""
    tmp = os.path.join(
        os.path.dirname(os.path.abspath(path)),
        f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp",
    )
    try:
        with open(tmp, "x", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
