"""Broadcast Bloom-filter membership — the zero-shuffle scale path for
"filter a 100 TB corpus against a bounded reference set" (benchmark
decontamination, URL/ID blocklists, seen-before checks).

Why a Bloom filter and not the join the exact operators use: the exact
decontamination join (operators/decontaminate.py) shuffles the probe side's
(id, shingle_hash) stream unless Spark broadcasts the reference table; a
Bloom filter compresses the WHOLE reference set into a fixed-size bitmap
(e.g. 10 M shingles at fpp=1% ≈ 12 MB) that broadcasts to every executor,
so probing the corpus is a narrow map — no shuffle, no join, no corpus-side
data movement at all. The price is one-sided error: `might_contain` has
false POSITIVES (rate ≈ fpp) and zero false negatives. For decontamination
and blocklists that direction is safe — an FP only over-drops.

Scale shape:
- Build: one pass over the reference side; the only shuffle is the
  bit-assembly groupBy over ≤ m/64 skinny (word_idx, bits) rows, and the
  driver collects at most m/64 longs (bounded by ``max_bits``).
- Probe: narrow map over the corpus. Two interchangeable kernels:
  ``literal`` attaches the bitmap as a broadcast SINGLE-ROW array (pure
  JVM, zero Python — NOT an expression literal: see _words_row for why),
  ``pandas`` ships the bitmap as a Spark broadcast variable into an
  Arrow-vectorized kernel. Neither shuffles. ``auto`` keeps small bitmaps
  on the Python-free kernel and routes big ones (and all array probes —
  HOFs are interpreted) to Arrow, the similarity_join_self_auto idiom.
- Blooms over shards merge by bitwise OR (same m, k) — a commutative
  monoid, so per-corpus/per-day filters fold in any order.

Hash family (shared md5-prefix family used across the engine, so DuckDB can
mirror the build bit-for-bit — see tests/test_bloom.py's oracle):
h1 = first 8 md5 hex digits, h2 = next 8 digits | 1 (odd), both 32-bit
non-negative; probe i sets bit (h1 + i·h2) mod m (Kirsch–Mitzenmacher
double hashing — i ≤ 30 and h < 2^32 keep every intermediate < 2^37, so
the arithmetic is overflow-free in int64 on the JVM, in numpy, and in
DuckDB alike, no ANSI/wraparound dependence).

Reference scope note: the reference (vectrekker/main.py) has no membership
or decontamination surface; north-star training-pipeline addition.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectrekker_spark.commit import write_text_atomic

MAX_K = 30
# per-byte population counts for bits_set (256-entry lookup, built once)
_POPCOUNT8 = np.array(
    [bin(i).count("1") for i in range(256)], dtype=np.uint64
)
# 2^27 bits = 16 MB bitmap, ≤ 2 M collected longs; sized for ~13 M reference
# items at fpp=1%. Bigger reference sets: raise max_bits explicitly (the
# probe-side broadcast grows linearly) or build per-shard blooms and
# bloom_merge them.
DEFAULT_MAX_BITS = 1 << 27
# scalar-route preference cap, in 64-bit words (16384 → 128 KB bitmap).
# Both kernels handle any size (the JVM kernel rides a broadcast row, not
# an expression literal); measured at sf1 the Arrow kernel is slightly
# faster at every size tested (0.45 vs 0.70 s over 50k probes), so this
# cap only bounds where `auto` still buys the Python-free plan.
LIT_CAP_WORDS = 16384


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bloom_params(expected: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for ``expected`` items at false-positive rate ``fpp``:
    m = -n·ln p / ln²2 rounded up to a word, k = m/n·ln 2 clamped to
    [1, MAX_K]."""
    if expected < 1:
        raise ValueError(f"expected must be >= 1, got {expected}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = math.ceil(-expected * math.log(fpp) / (math.log(2) ** 2))
    m_bits = ((max(m, 64) + 63) // 64) * 64
    k = max(1, min(MAX_K, round(m_bits / expected * math.log(2))))
    return m_bits, k


@dataclass
class BloomFilter:
    """Immutable-by-convention bitmap + parameters. ``words`` is int64
    (bit 63 rides the sign bit; every kernel tests bits with shift-and-mask,
    which is sign-safe). ``n_items`` is the build-side count when known
    (None when the caller supplied m/k and expected explicitly)."""

    words: np.ndarray  # int64, length m_bits // 64
    m_bits: int
    k: int
    n_items: int | None = None
    # builder-provided provenance (e.g. benchmark_bloom's shingle_k /
    # text_col) — persisted in meta.json so consumers can refuse a filter
    # built under different preprocessing instead of silently probing
    # mismatched hashes
    attrs: dict = field(default_factory=dict)
    # applicationId → Broadcast, the _IVF_INDEX_CACHE idiom: one broadcast
    # per SparkSession per filter, released via .release()
    _bc: dict = field(default_factory=dict, repr=False, compare=False)

    def __post_init__(self) -> None:
        self.words = np.asarray(self.words, dtype=np.int64)
        if self.m_bits % 64 != 0 or self.m_bits < 64:
            raise ValueError(f"m_bits must be a positive multiple of 64, got {self.m_bits}")
        if len(self.words) != self.m_bits // 64:
            raise ValueError(
                f"words length {len(self.words)} != m_bits/64 = {self.m_bits // 64}"
            )
        if not (1 <= self.k <= MAX_K):
            raise ValueError(f"k must be in [1, {MAX_K}], got {self.k}")

    def bits_set(self) -> int:
        """Population count of the bitmap (exact). Byte-table popcount —
        np.unpackbits expanded an 8× temporary (128 MB at max size) on
        every estimated_fpp call (r14s3 review)."""
        return int(_POPCOUNT8[self.words.view(np.uint8)].sum())

    def estimated_fpp(self) -> float:
        """Current false-positive rate estimate (load^k). Rises as items
        are added; a saturated filter (load → 1) says "maybe" to
        everything — re-size rather than trust it."""
        return (self.bits_set() / self.m_bits) ** self.k

    def _broadcast(self, spark: SparkSession):
        app = spark.sparkContext.applicationId
        bc = self._bc.get(app)
        if bc is None:
            bc = spark.sparkContext.broadcast(self.words)
            self._bc[app] = bc
        return bc

    def release(self) -> None:
        """Unpersist every broadcast copy (call when done probing)."""
        for bc in self._bc.values():
            try:
                bc.unpersist()
            except Exception:
                pass
        self._bc.clear()


def _hash_pair(col: Column) -> tuple[Column, Column]:
    """(h1, h2) columns of the engine's md5-prefix family; h2 forced odd so
    the double-hash probe sequence covers the bitmap. DuckDB twin:
    ('0x'||substr(md5(x),1,8))::BIGINT / (...9,8)::BIGINT | 1."""
    hx = F.md5(col)
    h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint").bitwiseOR(F.lit(1))
    return h1, h2


def bloom_build(
    df: DataFrame,
    col: Column | str,
    expected: int | None = None,
    fpp: float = 0.01,
    m_bits: int | None = None,
    k: int | None = None,
    max_bits: int = DEFAULT_MAX_BITS,
) -> BloomFilter:
    """One pass over the reference side → BloomFilter.

    Sizing: pass ``expected`` (skips the count job) or let the builder run
    one ``count()`` over the keyed side; ``m_bits``/``k`` override both.
    NULL keys are dropped (membership of NULL is False by contract).

    Plan: explode k probe positions map-side (narrow), groupBy(word_idx)
    bit_or — the shuffle moves at most min(n·k, m/64) 16-byte rows and the
    driver collects ≤ m/64 of them. The corpus/probe side is never touched.
    """
    if expected is not None and expected < 1:
        raise ValueError(
            f"expected must be >= 1 when given, got {expected} — an "
            f"undersized filter saturates and answers 'maybe' to everything"
        )
    keyed = df.select(_c(col).alias("__key")).where(F.col("__key").isNotNull())
    n_items: int | None = expected
    if m_bits is None or k is None:
        n = expected if expected is not None else keyed.count()
        n_items = n
        auto_m, auto_k = bloom_params(max(1, n), fpp)
        m_bits = m_bits if m_bits is not None else auto_m
        k = k if k is not None else auto_k
    m_bits = ((m_bits + 63) // 64) * 64
    if m_bits > max_bits:
        raise ValueError(
            f"bloom bitmap of {m_bits} bits exceeds max_bits={max_bits} "
            f"(driver collects m/64 longs and every probe broadcasts the "
            f"bitmap). Raise max_bits deliberately, or build per-shard "
            f"filters and bloom_merge() them."
        )
    if not (1 <= k <= MAX_K):
        raise ValueError(f"k must be in [1, {MAX_K}], got {k}")
    h1, h2 = _hash_pair(F.col("__key"))
    probes = F.array(*[(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(k)])
    rows = (
        keyed.select(F.explode(probes).alias("pos"))
        .select(
            F.expr("pos DIV 64").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = np.zeros(m_bits // 64, dtype=np.int64)
    for r in rows:
        words[r["word_idx"]] = r["bits"]
    return BloomFilter(words=words, m_bits=m_bits, k=k, n_items=n_items)


def bloom_merge(a: BloomFilter, b: BloomFilter) -> BloomFilter:
    """Union of two filters over the same (m, k): bitwise OR. The result
    answers might_contain(x) = True iff either side would (tested), so
    per-shard builds fold associatively."""
    if (a.m_bits, a.k) != (b.m_bits, b.k):
        raise ValueError(
            f"cannot merge blooms with different params: "
            f"(m={a.m_bits}, k={a.k}) vs (m={b.m_bits}, k={b.k})"
        )
    if a.attrs != b.attrs:
        raise ValueError(
            f"cannot merge blooms with different provenance attrs: "
            f"{a.attrs!r} vs {b.attrs!r} — same (m, k) under different "
            f"preprocessing still probes disjoint hash sets"
        )
    n = None if a.n_items is None or b.n_items is None else a.n_items + b.n_items
    return BloomFilter(
        words=a.words | b.words, m_bits=a.m_bits, k=a.k, n_items=n, attrs=dict(a.attrs)
    )


def bloom_add(bloom: BloomFilter, df: DataFrame, col: Column | str) -> BloomFilter:
    """Fold a new batch's keys into an existing filter (returns a NEW
    filter — the input is never mutated): builds a delta bloom with the
    same (m, k) and ORs it in. The incremental-ingestion shape: one bloom
    per corpus, grown per batch, re-saved with bloom_save. Watch
    estimated_fpp() as it grows — a filter sized for the original corpus
    saturates if the corpus outgrows it several-fold (re-size + rebuild
    then)."""
    # forward the filter's own size as the cap: a bloom legitimately built
    # past DEFAULT_MAX_BITS (explicit max_bits) must stay growable
    delta = bloom_build(df, col, m_bits=bloom.m_bits, k=bloom.k, max_bits=bloom.m_bits)
    delta.attrs = dict(bloom.attrs)
    # delta rows aren't counted (explicit m/k skips the sizing job), so the
    # merged n_items is honestly unknown (None); estimated_fpp() stays the
    # saturation signal
    return bloom_merge(bloom, delta)


# ---------------------------------------------------------------------------
# probe kernels


def _resolve_strategy(strategy: str, bloom: BloomFilter, route: str = "scalar") -> str:
    if strategy not in ("auto", "literal", "pandas"):
        raise ValueError(f"strategy must be auto|literal|pandas, got {strategy!r}")
    if strategy == "auto":
        if route == "array":
            # measured (sf1, 50k docs, k=13): the array literal kernel's
            # zip_with/aggregate lambdas are CodegenFallback (interpreted)
            # and run 3.5× slower than the Arrow kernel (7.8 vs 2.2 s) —
            # the same HOF-vs-codegen result as the simhash A/B. The
            # scalar route has no HOFs and stays literal-first.
            return "pandas"
        return "literal" if len(bloom.words) <= LIT_CAP_WORDS else "pandas"
    return strategy


def _reserve(df: DataFrame, *names: str, what: str = "bloom temp columns") -> None:
    """Refuse to stage temp columns over caller columns — withColumns would
    silently overwrite and the trailing drop() would then destroy the
    caller's data. Shared by every operator that stages __-prefixed temps
    (might_contain, array_hit_counts, decontaminate_bloom,
    exact_dedup_against)."""
    clash = set(names) & set(df.columns)
    if clash:
        raise ValueError(
            f"input already has column(s) {sorted(clash)} — rename them "
            f"(reserved as {what})"
        )


def _words_row(df: DataFrame, bloom: BloomFilter) -> DataFrame:
    """Attach the bitmap to every row as `__bf_words` via a broadcast
    single-row cross join. NOT F.lit(words): PySpark lowers a list literal
    to a CreateArray with one child PER WORD, so a 15k-word bitmap × k
    probe references became a multi-MB expression tree whose evaluation
    dominated the probe (measured 39 s vs 0.8 s for the whole job at sf1).
    The broadcast row materializes the array once per executor and
    element_at stays O(1)."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    words_df = spark.createDataFrame(
        [(bloom.words.tolist(),)],
        T.StructType([T.StructField("__bf_words", T.ArrayType(T.LongType()), False)]),
    )
    return df.crossJoin(F.broadcast(words_df))


def _probe_pred(arr: Column, h1: Column, h2: Column, m_bits: int, k: int) -> Column:
    """JVM membership predicate: all k probed bits set. getbit on the
    element_at word is sign-safe for bit 63."""
    pred = None
    for i in range(k):
        pos = (h1 + F.lit(i) * h2) % F.lit(m_bits)
        word = F.element_at(arr, F.floor(pos / 64).cast("int") + 1)
        bit_set = F.getbit(word, pos % 64) == 1
        pred = bit_set if pred is None else (pred & bit_set)
    return pred


def _scalar_pandas_udf(bc, m_bits: int, k: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def check(h1: pd.Series, h2: pd.Series) -> pd.Series:
        words = bc.value
        mask = h1.isna().to_numpy()
        a = h1.fillna(0).to_numpy(dtype=np.int64)
        b = h2.fillna(1).to_numpy(dtype=np.int64)
        ok = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + i * b) % m_bits
            ok &= ((words[pos >> 6] >> (pos & 63)) & 1).astype(bool)
        ok[mask] = False
        return pd.Series(ok)

    return check


def might_contain(
    df: DataFrame,
    col: Column | str,
    bloom: BloomFilter,
    out_col: str = "might_contain",
    strategy: str = "auto",
) -> DataFrame:
    """Add a boolean column: True if ``col`` MIGHT be in the filter (FP rate
    ≈ fpp), False means definitely absent. NULL keys → False. Zero-shuffle
    either way (plan-asserted in tests); the ``literal`` kernel attaches
    the bitmap via a broadcast single-row cross join (a
    BroadcastNestedLoopJoin node, no data movement beyond the bitmap), the
    ``pandas`` kernel is join-free."""
    strategy = _resolve_strategy(strategy, bloom)
    h1, h2 = _hash_pair(_c(col))
    t1, t2 = "__bf_h1", "__bf_h2"
    _reserve(df, t1, t2, "__bf_words")
    # pre-project the hash pair so md5 evaluates once, not once per probe
    staged = df.withColumns({t1: h1, t2: h2})
    if strategy == "literal":
        staged = _words_row(staged, bloom)
        pred = _probe_pred(
            F.col("__bf_words"), F.col(t1), F.col(t2), bloom.m_bits, bloom.k
        )
        out = staged.withColumn(out_col, F.coalesce(pred, F.lit(False))).drop(
            "__bf_words"
        )
    else:
        udf = _scalar_pandas_udf(bloom._broadcast(df.sparkSession), bloom.m_bits, bloom.k)
        out = staged.withColumn(out_col, udf(F.col(t1), F.col(t2)))
    return out.drop(t1, t2)


def _array_pandas_udf(bc, m_bits: int, k: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def hits(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        words = bc.value
        arrs1 = [
            np.asarray(a, dtype=np.int64) if a is not None else np.empty(0, np.int64)
            for a in h1s
        ]
        arrs2 = [
            np.asarray(a, dtype=np.int64) if a is not None else np.empty(0, np.int64)
            for a in h2s
        ]
        lens = np.array([len(a) for a in arrs1], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(arrs1), dtype=np.int32))
        f1 = np.concatenate(arrs1)
        f2 = np.concatenate(arrs2)
        ok = np.ones(len(f1), dtype=bool)
        for i in range(k):
            pos = (f1 + i * f2) % m_bits
            ok &= ((words[pos >> 6] >> (pos & 63)) & 1).astype(bool)
        # segment sums without reduceat's empty-segment pitfalls
        c = np.concatenate([[0], np.cumsum(ok)])
        ends = np.cumsum(lens)
        starts = ends - lens
        return pd.Series((c[ends] - c[starts]).astype(np.int32))

    return hits


def shingle_hit_counts(
    df: DataFrame,
    text_col: str,
    bloom: BloomFilter,
    id_cols: list[str] | None = None,
    out_col: str = "n_hits",
    shingle_k: int = 3,
) -> DataFrame:
    """Fused ``word_shingles`` → bloom-probe kernel: per-row count of the
    text's distinct word-``shingle_k``-gram shingles that might be in the
    filter. Bit-identical to ``array_hit_counts(df.withColumn(sh,
    word_shingles(text, k)), sh, bloom)`` (property-pinned in
    tests/test_bloom.py) but the shingle arrays never exist as a column:
    only the TEXT crosses the Arrow boundary (word 3-gram shingle arrays
    are ~3× the text bytes — guide §4.1's pass-only-what-the-function-needs
    applied to the engine's own staging), tokenization/shingling runs in
    the kernel via the exact ``java_tokens`` twin of ``tokens()``, and the
    per-shingle probe result is memoized per task (zipfian shingle vocab →
    repeated shingles skip both the md5 and the bitmap probe — the
    ``_TOKEN_CACHE`` idiom). r14 optimization-round measurement at sf0.1
    (d27's probe side, 4750 docs): 0.76 → 0.55 s vs the staged
    JVM-hash + Arrow-probe path.

    Same hash family and NULL/short-text rules as the staged path: NULL or
    ws-only text probes the single '' shingle (``word_shingles``' rule);
    texts with fewer than ``shingle_k`` tokens probe their single all-token
    join. Narrow map, no shuffle, no explode.
    """
    import hashlib

    from vectrekker_spark.functions.pytokens import java_tokens

    id_cols = list(id_cols) if id_cols is not None else ["doc_id"]
    bc = bloom._broadcast(df.sparkSession)
    m_bits, k = bloom.m_bits, bloom.k
    cache_max = _SHINGLE_PROBE_CACHE_MAX

    in_schema = df.select(*id_cols, text_col).schema
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in in_schema if f.name != text_col
    )

    def gen(batches):
        words = bc.value
        cache: dict[str, bool] = {}

        def probe(s: str) -> bool:
            hit = cache.get(s)
            if hit is None:
                dg = hashlib.md5(s.encode("utf-8")).digest()
                h1 = int.from_bytes(dg[:4], "big")
                h2 = int.from_bytes(dg[4:8], "big") | 1
                hit = True
                for i in range(k):
                    pos = (h1 + i * h2) % m_bits
                    if not ((int(words[pos >> 6]) >> (pos & 63)) & 1):
                        hit = False
                        break
                if len(cache) < cache_max:
                    cache[s] = hit
            return hit

        for pdf in batches:
            out = np.empty(len(pdf), np.int32)
            for j, text in enumerate(pdf[text_col]):
                toks = java_tokens((text or "").lower())
                n = len(toks)
                if n >= shingle_k:
                    shset = {
                        " ".join(toks[i : i + shingle_k])
                        for i in range(n - shingle_k + 1)
                    }
                else:
                    shset = {" ".join(toks)}
                out[j] = sum(probe(s) for s in shset)
            res = pdf[[c for c in pdf.columns if c != text_col]].copy()
            res[out_col] = out
            yield res

    return df.select(*id_cols, text_col).mapInPandas(
        gen, schema=f"{out_fields}, {out_col} int"
    )


# per-task cap on the shingle→probe-result memo (the dedup._SHINGLE_CACHE_MAX
# idiom): bools are tiny, the keys dominate (~64 MB worst case at 1M entries)
_SHINGLE_PROBE_CACHE_MAX = 1 << 20


def array_hit_counts(
    df: DataFrame,
    arr_col: Column | str,
    bloom: BloomFilter,
    out_col: str = "n_hits",
    strategy: str = "auto",
) -> DataFrame:
    """Per-row count of array elements that might be in the filter.
    ``arr_col`` is array<string>; NULL array → 0 and NULL ELEMENTS are
    non-hits (filtered before hashing — without this the two kernels
    diverge: NULL poisons the literal kernel's running sum while the
    pandas kernel would probe a garbage NaN→INT_MIN position). Narrow map,
    no explode, no shuffle — the per-doc regroup an explode+groupBy would
    need never happens because the array stays row-local. ``auto`` picks
    the Arrow kernel here (the literal kernel's per-element HOFs are
    interpreted — measured 3.5× slower; pass strategy='literal' only when
    a Python-free plan is worth that)."""
    strategy = _resolve_strategy(strategy, bloom, route="array")
    arr = F.filter(_c(arr_col), lambda s: s.isNotNull())
    hx = F.transform(arr, lambda s: F.md5(s))
    h1s = F.transform(hx, lambda h: F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"))
    h2s = F.transform(
        hx,
        lambda h: F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").bitwiseOR(F.lit(1)),
    )
    t1, t2 = "__bf_h1s", "__bf_h2s"
    _reserve(df, t1, t2, "__bf_words")
    staged = df.withColumns({t1: h1s, t2: h2s})
    if strategy == "literal":
        staged = _words_row(staged, bloom)
        words_col = F.col("__bf_words")
        per_elem = F.zip_with(
            F.col(t1),
            F.col(t2),
            lambda a, b: _probe_pred(words_col, a, b, bloom.m_bits, bloom.k).cast("int"),
        )
        n = F.aggregate(per_elem, F.lit(0), lambda acc, x: acc + x)
        out = staged.withColumn(out_col, F.coalesce(n, F.lit(0))).drop("__bf_words")
    else:
        udf = _array_pandas_udf(bloom._broadcast(df.sparkSession), bloom.m_bits, bloom.k)
        out = staged.withColumn(out_col, udf(F.col(t1), F.col(t2)))
    return out.drop(t1, t2)


# ---------------------------------------------------------------------------
# persistence — single-writer by contract (the ivf_compact contract): one
# process writes a given filter directory; readers see either the old
# complete state or the new one because meta.json is written LAST and load
# requires it.

_META_NAME = "meta.json"
_WORDS_NAME = "words.parquet"
_FORMAT = 1


def bloom_save(bloom: BloomFilter, path: str) -> None:
    """Persist as a directory: sparse non-zero words as parquet, then
    meta.json as the commit marker. Language-neutral so any engine with
    parquet + json can load the filter.

    Overwrite ordering (single WRITER by contract, like ivf rewrites, but
    readers may race): the OLD meta is removed FIRST, so a crash anywhere
    mid-rewrite leaves a directory bloom_load rejects loudly — never the
    old meta silently paired with new words, which could yield false
    NEGATIVES (positions computed mod old-m against bits set mod new-m),
    the one error direction a decontamination gate must not have. The new
    meta goes through commit.write_text_atomic so the marker itself
    appears whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    meta_path = os.path.join(path, _META_NAME)
    if os.path.exists(meta_path):
        os.remove(meta_path)  # un-commit before touching words
    nz = np.nonzero(bloom.words)[0]
    pq.write_table(
        pa.table(
            {
                "word_idx": pa.array(nz, type=pa.int64()),
                "bits": pa.array(bloom.words[nz], type=pa.int64()),
            }
        ),
        os.path.join(path, _WORDS_NAME),
    )
    meta = {
        "format": _FORMAT,
        "m_bits": bloom.m_bits,
        "k": bloom.k,
        "n_items": bloom.n_items,
        "attrs": bloom.attrs,
    }
    write_text_atomic(meta_path, json.dumps(meta))


def bloom_load(path: str) -> BloomFilter:
    """Load a saved filter; a missing/corrupt meta or words file fails
    loudly (no silent empty-filter fallback — an empty filter would wave
    EVERYTHING through a decontamination gate)."""
    import pyarrow.parquet as pq

    meta_path = os.path.join(path, _META_NAME)
    if not os.path.isfile(meta_path):
        raise ValueError(
            f"no bloom meta at {meta_path} — not a saved filter, or a write "
            f"that died before its meta.json commit marker"
        )
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT:
        raise ValueError(f"unsupported bloom format {meta.get('format')!r} at {path}")
    t = pq.read_table(os.path.join(path, _WORDS_NAME))
    words = np.zeros(meta["m_bits"] // 64, dtype=np.int64)
    idx = t.column("word_idx").to_numpy()
    if len(idx) and (idx.min() < 0 or idx.max() >= len(words)):
        raise ValueError(f"bloom words at {path} index outside m_bits={meta['m_bits']}")
    words[idx] = t.column("bits").to_numpy()
    return BloomFilter(
        words=words,
        m_bits=meta["m_bits"],
        k=meta["k"],
        n_items=meta["n_items"],
        attrs=meta.get("attrs") or {},
    )
