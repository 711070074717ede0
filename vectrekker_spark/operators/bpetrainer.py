"""Distributed BPE tokenizer training + application (L5 companion: the
engine can not just COUNT tokens but learn the tokenizer itself).

Architecture — the shape every production BPE trainer uses (HuggingFace
tokenizers, SentencePiece, the original Sennrich 2016 reference code), and
the right 100 TB split:

1. ``word_freqs`` — the ONLY corpus-sized pass: pre-tokenize with the
   engine's BPE-ish regex (functions/tokenize.BPE_ISH_PATTERN, shared with
   the L5 counter) and aggregate ``(word, freq)``. One shuffle with
   map-side combine, so shuffle volume is O(distinct words), then a
   distributed top-K (``orderBy().limit()`` → TakeOrdered) caps the type
   table at ``max_word_types``. At 100 TB the type table is a few MB —
   Zipf does the compression.
2. ``bpe_train`` — the merge loop runs DRIVER-SIDE over that bounded type
   table (the operators/qualityscore capped-fit precedent): merges depend
   on global pair counts, so the loop is inherently sequential — no
   distributed framework runs it better, they all aggregate-then-iterate.
   Pair counts update incrementally via a pair→words inverted index (the
   Sennrich trick), so each merge touches only words containing the pair.
3. ``bpe_encode`` / ``bpe_token_count`` — zero-shuffle Arrow map with the
   broadcast merge ranks and a per-batch word cache (Zipf again: the cache
   hit rate IS the word-frequency curve).

Determinism contract (mirrored by the tests' from-scratch naive oracle):
merge i is the pair with the highest weighted count, ties broken by the
LEXICOGRAPHICALLY SMALLEST (left, right) pair; within a word, a merge
replaces every non-overlapping occurrence left-to-right. Training is
therefore independent of partitioning and of input order.

Pre-tokenizer parity: the Python side compiles BPE_ISH_PATTERN with
``re.ASCII`` so ``\\s`` means the same ASCII set as Java regex / RE2 —
without it U+00A0 is a token under Java's pattern but invisible to
Python's unicode ``\\s`` (the langid-family mirror-boundary lesson).

Reference scope note: the reference (vectrekker/main.py:170) consumes a
FIXED tokenizer (tiktoken cl100k_base); training one is a north-star
training-pipeline addition (you cannot build a corpus-matched vocab with
the reference at all).
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.commit import write_text_atomic
from vectrekker_spark.functions.tokenize import BPE_ISH_PATTERN

_MODEL_VERSION = 1
# pathological "words" (minified JS, base64 blobs) would dominate the merge
# loop's per-word cost; real trainers cap token-able word length the same way
_MAX_WORD_CHARS = 64


def _pretokenize():
    # re.ASCII: \s must mean the Java/RE2 ASCII class, not unicode-wide
    return re.compile(BPE_ISH_PATTERN, re.ASCII)


def word_freqs(
    df: DataFrame,
    text_col: str = "text",
    max_word_types: int = 30_000,
) -> DataFrame:
    """(word, freq) for the ``max_word_types`` most frequent pre-tokens,
    ordered (freq desc, word asc) — the deterministic top-K the trainer
    consumes. Words longer than 64 chars are excluded (see module note)."""
    if max_word_types < 1:
        raise ValueError("max_word_types must be >= 1")
    return (
        df.select(
            F.explode(
                # idx=0 (whole match): the default group 1 would error —
                # BPE_ISH_PATTERN's only group is non-capturing
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
            ).alias("word")
        )
        .where(F.length("word") <= _MAX_WORD_CHARS)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_word_types)
    )


def _merge_word(symbols: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Replace every non-overlapping occurrence of ``pair`` left-to-right."""
    a, b = pair
    out: list[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


@dataclass
class BPEModel:
    merges: list[tuple[str, str]]
    pattern: str = BPE_ISH_PATTERN
    version: int = _MODEL_VERSION
    # derived: merge pair -> rank (lower = earlier = higher priority)
    ranks: dict[tuple[str, str], int] = field(default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        if not self.ranks:
            self.ranks = {tuple(p): i for i, p in enumerate(self.merges)}

    def encode_word(self, word: str) -> tuple[str, ...]:
        symbols: tuple[str, ...] = tuple(word)
        ranks = self.ranks
        while len(symbols) > 1:
            best_rank = None
            best_pair = None
            for p in zip(symbols, symbols[1:]):
                r = ranks.get(p)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, p
            if best_pair is None:
                break
            symbols = _merge_word(symbols, best_pair)
        return symbols

    def vocab(self) -> set[str]:
        """All single chars seen in merges plus every merged symbol. (The
        full vocab also contains corpus chars never merged — this is the
        model-defined part.)"""
        v: set[str] = set()
        for a, b in self.merges:
            v.update((a, b, a + b))
        return v


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 1_000,
    max_word_types: int = 30_000,
    min_pair_count: int = 2,
    freqs: DataFrame | None = None,
) -> BPEModel:
    """Learn ``n_merges`` BPE merges from the corpus (or a precomputed
    ``word_freqs`` frame). Stops early when the best remaining pair's
    weighted count drops below ``min_pair_count``."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if freqs is None:
        freqs = word_freqs(df, text_col=text_col, max_word_types=max_word_types)
    rows = freqs.collect()  # bounded by max_word_types — a few MB
    words: list[tuple[str, ...]] = []
    wfreq: list[int] = []
    for r in rows:
        if r[0]:
            words.append(tuple(r[0]))
            wfreq.append(int(r[1]))

    # pair counts + inverted index pair -> {word idx}
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, syms in enumerate(words):
        f = wfreq[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words[p].add(wi)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        best_count = 0
        for p, c in pair_counts.items():
            if c > best_count or (c == best_count and best is not None and p < best):
                best, best_count = p, c
        if best is None or best_count < min_pair_count:
            break
        merges.append(best)
        # incremental update: only words containing `best` change
        for wi in list(pair_words[best]):
            old = words[wi]
            new = _merge_word(old, best)
            f = wfreq[wi]
            for p in zip(old, old[1:]):
                pair_counts[p] -= f
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pw = pair_words.get(p)
                if pw is not None:
                    pw.discard(wi)
                    if not pw:
                        del pair_words[p]
            for p in zip(new, new[1:]):
                pair_counts[p] += f
                pair_words[p].add(wi)
            words[wi] = new
    return BPEModel(merges=merges)


def _encode_series(texts: pd.Series, model: BPEModel, rx) -> list[list[str]]:
    cache: dict[str, tuple[str, ...]] = {}
    out: list[list[str]] = []
    for t in texts:
        if t is None:
            out.append([])
            continue
        toks: list[str] = []
        for w in rx.findall(t):
            if len(w) > _MAX_WORD_CHARS:
                toks.append(w)  # untrained long word stays one opaque token
                continue
            enc = cache.get(w)
            if enc is None:
                enc = model.encode_word(w)
                cache[w] = enc
            toks.extend(enc)
        out.append(toks)
    return out


def bpe_encode(
    df: DataFrame,
    model: BPEModel,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """All input columns + ``out_col: array<string>`` — the learned-BPE
    token sequence (NULL text → empty array). Zero-shuffle Arrow map; the
    ranks table rides the closure (bounded by n_merges)."""
    if out_col in df.columns:
        raise ValueError(f"column {out_col!r} already exists on the input")
    rx = _pretokenize()

    def _encode(batch: pd.Series) -> pd.Series:
        return pd.Series(_encode_series(batch, model, rx))

    udf = F.pandas_udf(_encode, "array<string>")
    return df.withColumn(out_col, udf(F.col(text_col)))


def bpe_token_count(
    df: DataFrame,
    model: BPEModel,
    text_col: str = "text",
    out_col: str = "bpe_n_tokens",
) -> DataFrame:
    """All input columns + ``out_col: int`` — learned-BPE token count
    (NULL text → 0). Same kernel as bpe_encode without materializing the
    token arrays into the plan."""
    if out_col in df.columns:
        raise ValueError(f"column {out_col!r} already exists on the input")
    rx = _pretokenize()

    def _count(batch: pd.Series) -> pd.Series:
        return pd.Series(
            [len(t) for t in _encode_series(batch, model, rx)], dtype="int32"
        )

    udf = F.pandas_udf(_count, "int")
    return df.withColumn(out_col, udf(F.col(text_col)))


def bpe_stats(
    df: DataFrame,
    model: BPEModel,
    text_col: str = "text",
) -> dict[str, float]:
    """Tokenizer fertility metrics over a corpus — the standard eval for
    a learned vocabulary: ``tokens_per_word`` (fertility; 1.0 = every
    pre-token is one token, higher = more splitting), ``chars_per_token``
    (compression), ``single_char_token_frac`` (how much text falls
    through to character fallback — the signal that the vocab is too
    small or off-domain). One encode map + ONE aggregate; NULL/empty
    docs contribute nothing."""
    enc = bpe_encode(df, model, text_col=text_col, out_col="__bpe_toks")
    toks = F.col("__bpe_toks")
    row = enc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
        F.sum(
            F.size(F.filter(toks, lambda t: F.length(t) == 1))
        ).alias("n_single"),
        F.sum(
            F.aggregate(
                toks, F.lit(0), lambda acc, t: acc + F.length(t)
            )
        ).alias("n_chars"),
        F.sum(
            F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
        ).alias("n_words"),
    ).first()
    n_tokens = row["n_tokens"] or 0
    n_words = row["n_words"] or 0
    return {
        "n_docs": int(row["n_docs"]),
        "n_words": int(n_words),
        "n_tokens": int(n_tokens),
        "tokens_per_word": round(n_tokens / n_words, 4) if n_words else 0.0,
        "chars_per_token": (
            round((row["n_chars"] or 0) / n_tokens, 4) if n_tokens else 0.0
        ),
        "single_char_token_frac": (
            round((row["n_single"] or 0) / n_tokens, 4) if n_tokens else 0.0
        ),
    }


def bpe_save(model: BPEModel, path: str) -> None:
    """Atomic single-file JSON save (commit.write_text_atomic): a torn
    write can never read back as a truncated merge list."""
    payload = {
        "version": model.version,
        "pattern": model.pattern,
        "merges": [[a, b] for a, b in model.merges],
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    write_text_atomic(path, json.dumps(payload))


def bpe_load(path: str) -> BPEModel:
    try:
        with open(path, encoding="utf-8") as f:
            payload = json.load(f)
    except (json.JSONDecodeError, UnicodeDecodeError) as e:
        raise ValueError(
            f"corrupt BPE model file {path!r} ({e}); re-run bpe_save — the "
            f"atomic write protocol means this file was tampered with or "
            f"written by something else"
        ) from e
    if payload.get("version") != _MODEL_VERSION:
        raise ValueError(
            f"BPE model version {payload.get('version')!r} != {_MODEL_VERSION} "
            f"(refusing to guess merge semantics across versions)"
        )
    for needed in ("merges", "pattern"):
        if needed not in payload:
            raise ValueError(
                f"BPE model file {path!r} has no {needed!r} field — "
                f"truncated or foreign file; re-run bpe_save"
            )
    raw_merges = payload["merges"]
    # each entry must be a PAIR (JSON list), not a string: tuple("ab")
    # is ('a','b') and would silently reinterpret a malformed entry as a
    # character pair (r14s3 review)
    for p in raw_merges:
        if isinstance(p, str) or len(p) != 2 or not all(
            isinstance(s, str) and s for s in p
        ):
            raise ValueError(f"malformed merge entry {p!r} in {path!r}")
    merges = [tuple(p) for p in raw_merges]
    # the stored pattern is a GEOMETRY pin (langid precedent): encode
    # always pre-tokenizes with the engine's BPE_ISH_PATTERN, so merges
    # learned under a different pattern must refuse rather than silently
    # degrade (r14s3 review — the field was stored but never checked)
    if payload["pattern"] != BPE_ISH_PATTERN:
        raise ValueError(
            f"BPE model at {path!r} was trained with a different "
            f"pre-tokenizer pattern than this engine's BPE_ISH_PATTERN — "
            f"its merges don't apply to this pre-tokenization; retrain "
            f"with fit-bpe"
        )
    return BPEModel(merges=merges, pattern=payload["pattern"])
