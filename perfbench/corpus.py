"""Seeded on-disk markdown corpus: generation, 1 % edits and held-out queries.

Notes are written under ``<root>/dNN/note_NNNNN.md`` (nested, so the scan is
recursive). Each note draws most of its 50-400 words from one of a few
dozen topics, so the stub's bag-of-words vectors cluster by topic.

``sources/files.py`` truncates mtimes to whole seconds, so every write sets
the file's mtime explicitly with ``os.utime`` to a whole-second logical clock
that only moves forward: an edit is always strictly newer than the state.
"""

from __future__ import annotations

import os
import random

BASE_MTIME = 1_700_000_000
N_TOPICS = 40
TOPIC_WORDS = 60
COMMON_WORDS = 300
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _vocabulary(rng: random.Random) -> tuple[list[list[str]], list[str]]:
    seen: set[str] = set()

    def word() -> str:
        while True:
            w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
            if w not in seen:
                seen.add(w)
                return w

    topics = [[word() for _ in range(TOPIC_WORDS)] for _ in range(N_TOPICS)]
    common = [word() for _ in range(COMMON_WORDS)]
    return topics, common


class Corpus:
    """A corpus of ``n`` notes plus ``n_queries`` held-out notes (never on disk)."""

    def __init__(self, root: str, n: int, seed: int, n_queries: int = 0) -> None:
        self.root = root
        self.n = n
        self.rng = random.Random(seed)
        self.topics, self.common = _vocabulary(self.rng)
        self.clock = BASE_MTIME
        self.paths = [
            os.path.join(root, f"d{i % 16:02d}", f"note_{i:05d}.md") for i in range(n)
        ]
        self.texts: dict[str, str] = {}
        self.queries = [self._note() for _ in range(n_queries)]

    def _note(self) -> str:
        rng = self.rng
        topic = self.topics[rng.randrange(N_TOPICS)]
        words = [
            rng.choice(topic) if rng.random() < 0.7 else rng.choice(self.common)
            for _ in range(rng.randint(50, 400))
        ]
        lines = [" ".join(words[i : i + 12]) for i in range(0, len(words), 12)]
        return f"# {words[0]} {words[1]}\n\n" + "\n".join(lines) + "\n"

    def _write(self, path: str, text: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        os.utime(path, (self.clock, self.clock))
        self.texts[path] = text

    def generate(self) -> None:
        for d in range(min(16, self.n)):
            os.makedirs(os.path.join(self.root, f"d{d:02d}"), exist_ok=True)
        for p in self.paths:
            self._write(p, self._note())

    def edit(self, fraction: float) -> list[str]:
        """Rewrite a seeded ``fraction`` of the notes (at least one) with new
        text, one whole second later than any earlier write."""
        self.clock += 1
        k = max(1, round(self.n * fraction))
        chosen = sorted(self.rng.sample(self.paths, k))
        for p in chosen:
            self._write(p, self._note())
        return chosen
