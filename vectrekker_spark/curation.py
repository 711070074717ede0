"""End-to-end corpus curation — the composed training-data pipeline:

    exact dedup → near-dup removal (MinHash-LSH) → [semantic dedup] →
    [span-level dedup] → quality filter → language filter →
    [learned quality model] → [LM perplexity] → [BM25 relevance] →
    [benchmark decontamination] → [per-stratum cap] → chunk → embed
    ([...] = opt-in stages)

Each stage is one of the engine's tested operators; this module only wires
them and keeps per-stage counts, so a 100 TB curation run is a sequence of
set-oriented jobs (no driver-side loops) with an auditable funnel report.
Keeper policy everywhere: smallest id in a duplicate group survives.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.functions.text import quality_score, token_count
from vectrekker_spark.operators.chunk import chunk_text
from vectrekker_spark.operators.dedup import exact_dedup_map, minhash_dedup_pairs
from vectrekker_spark.session import truncate_lineage


@dataclass
class CurationConfig:
    min_quality: float = 0.7
    keep_langs: tuple[str, ...] = ()  # empty → keep all
    near_dup_threshold: float = 0.7
    chunk_size: int = 512
    chunk_overlap: int = 64
    # chunk on sentence boundaries instead of fixed character windows:
    # greedy whole-sentence packing into <= chunk_size chars (operators/
    # chunk.chunk_by_sentences; chunk_overlap is ignored — sentence
    # chunks don't overlap). One oversized sentence = one oversized chunk.
    sentence_chunks: bool = False
    embed: bool = True
    text_col: str = "text"
    id_col: str = "doc_id"
    relevance_query: str = ""  # empty → no relevance gate
    # strict threshold: keep docs with BM25 score > min_relevance, so the
    # 0.0 default means "at least one query-term hit" (zero-hit docs score
    # exactly 0.0 and must not pass)
    min_relevance: float = 0.0
    # 0 → off; n ≥ 2 → strip corpus-redundant token spans of ≥ n tokens
    # (operators/spandedup) after near-dup removal, BEFORE the quality
    # gate — deliberately, so quality scores judge the deduplicated text
    # (repeated boilerplate otherwise inflates a doc's apparent quality)
    strip_span_ngram: int = 0
    # '' → off; else a saved benchmark bloom directory (operators/bloom
    # .bloom_save) — docs whose shingles hit the bloom more than
    # ``decontaminate_max_shared`` times are dropped via the zero-shuffle
    # gate (operators/decontaminate.decontaminate_bloom). The shingle k
    # must match the k the bloom was BUILT with — the filter only stores
    # hashes, so a mismatch silently finds no overlaps; keep the two
    # configured together.
    bench_bloom_path: str = ""
    decontaminate_shingle_k: int = 3
    decontaminate_max_shared: int = 0
    # 0.0 → off; else drop embedding-space near-duplicates at/above this
    # round-6 cosine via the cluster-bounded SemDeDup pass
    # (operators/semdedup) — requires ``semantic_vec_col`` on the input
    # docs (document-level embeddings from a prior embed run; the funnel's
    # own embed stage is chunk-level and runs far later)
    semantic_dedup_threshold: float = 0.0
    semantic_vec_col: str = "embedding"
    semantic_n_clusters: int = 0  # 0 → auto (√N rule)
    # '' → off; else a saved hashed-BoW quality model
    # (operators/qualityscore.save_model .npz) applied as a zero-shuffle
    # scored filter after the heuristic quality/lang gates
    quality_model_path: str = ""
    min_model_quality: float = 0.5
    # '' → off; else a saved char-n-gram language-id model
    # (operators/langid.save_langid .npz) that PRODUCES the `lang`
    # column keep_langs filters on — for corpora (crawls) that arrive
    # without one. Zero-shuffle Arrow map before the lang gate.
    langid_model_path: str = ""
    # 0.0 → off; else ALSO require the langid softmax confidence to be at
    # least this (CCNet's rule: ambiguous predictions are dropped even
    # when the argmax lands in keep_langs). Needs langid_model_path.
    min_lang_conf: float = 0.0
    # '' → off; else a saved n-gram LM directory (operators/ngramlm
    # .lm_save): keep docs whose stupid-backoff perplexity is at/below
    # ``max_perplexity`` (the CCNet keep rule) — zero-shuffle Arrow map
    ngram_lm_path: str = ""
    max_perplexity: float = 10_000.0
    # 0 → off; else strip boilerplate LINES (nav/menu/separator chrome)
    # before any other stage: keep lines with >= this many letter-bearing
    # words AND alpha ratio >= boilerplate_min_alpha
    # (functions/text.keep_content_lines, the jusText-shaped heuristic).
    # Runs FIRST — dedup/quality gates then see the cleaned text, the
    # order real pipelines use. Docs whose text strips to '' are dropped.
    strip_boilerplate_min_words: int = 0
    boilerplate_min_alpha: float = 0.5
    # '' → off; else a unicodedata form (NFC/NFKC/NFD/NFKD): run full text
    # normalization (mojibake repair + unicode form + whitespace rules,
    # functions/normalize.normalize_text_exact) as the VERY FIRST stage,
    # so hashes/shingles/scores never see encoding variants of the same
    # text as distinct. Docs normalizing to '' are dropped.
    normalize_form: str = ""
    normalize_fix_encoding: bool = True
    # 0.0 → off; else drop docs whose zlib compression ratio (compressed
    # bytes / raw bytes, functions/normalize.compression_ratio) is BELOW
    # this floor — highly-compressible text is templated/spam (~0.3 vs
    # ~0.55 for prose). Runs with the other Python gates.
    min_compression_ratio: float = 0.0
    # 0 → off; else strip cross-document duplicate PARAGRAPHS (nav bars,
    # cookie banners, license blocks — the CCNet-shaped unit) whose
    # normalized length is >= this many chars, keeping the corpus-minimal
    # (id, pos) occurrence (operators/paradedup). Runs after the line-level
    # boilerplate strip and BEFORE exact dedup, so content hashes and
    # shingles see the deduplicated text. Docs stripping to '' drop here.
    dedup_paragraphs_min_chars: int = 0
    # 0 → off; else strip cross-document duplicate LINES (nav items,
    # "read more" links, footer lines — the RefinedWeb/MassiveText unit,
    # operators/paradedup.dedup_lines) whose normalized length is >= this
    # many chars. Runs just before the paragraph stage: lines are the
    # finer unit, so stripping them first lets paragraph hashes see
    # banner-free blocks. Docs stripping to '' drop here.
    dedup_lines_min_chars: int = 0
    # '' → min-id keeper for near-dup clusters; else the name of a score
    # column on the input docs — each near-dup cluster then keeps its
    # HIGHEST-scoring member (ties → min id; NULL scores last), so dedup
    # never trades away quality (operators/components.near_dedup_keep_best)
    near_dup_keep_by: str = ""
    # 0 → off; else keep at most this many docs per ``stratum_col`` value
    # (the RefinedWeb/FineWeb per-domain cap, operators/quota), chosen in
    # stable hash(id) order — deterministic and growth-stable. Runs LAST
    # among the doc-level gates so the quota binds what actually ships.
    # NOTE: rows with a NULL doc id are dropped by this stage (a NULL id
    # has no stable hash order), so ``after_stratum_cap`` can shrink
    # beyond the cap effect on corpora with NULL ids.
    max_docs_per_stratum: int = 0
    # 0 → off; else cap each stratum's total TOKEN count instead of (or in
    # addition to) its doc count — the unit mixture budgets actually bind
    # in. Greedy prefix in stable hash(id) order (growth-stable like the
    # doc cap); whitespace token_count on text_col. Same NULL-id rule.
    max_tokens_per_stratum: int = 0
    stratum_col: str = "source"


@dataclass
class CurationResult:
    chunks: DataFrame
    funnel: dict[str, int] = field(default_factory=dict)
    # the DataFrames curate() cached while building `chunks`; call
    # unpersist() once the final consumer has materialized (caches are
    # otherwise pinned for the session — a real leak for repeated
    # curate/assemble calls in one long-lived driver)
    caches: tuple[DataFrame, ...] = ()
    # frames materialized via localCheckpoint (plan truncation, r14/r15):
    # their storage blocks belong to the internal checkpointed RDD, not a
    # cache-manager entry, so DataFrame.unpersist() would be a silent
    # no-op on them (advisor r14) — unpersist() below releases them
    # through the RDD handle instead
    checkpoints: tuple[DataFrame, ...] = ()
    # wall seconds attributed to each funnel key: the time between that
    # stage's materializing count and the previous one. Because every
    # stage is cached before its count, the delta approximates the
    # stage's own cost — but Spark is lazy, so work a later consumer
    # re-derives past an evicted cache is NOT captured here. Profiling
    # aid, not an accounting guarantee. The one-pass quality/lang
    # aggregation bills its whole job to after_near_dedup (the three
    # counts are one job by design); after_quality/after_lang show 0.0.
    stage_seconds: dict[str, float] = field(default_factory=dict)

    def unpersist(self) -> None:
        for df in self.caches:
            df.unpersist()
        for df in self.checkpoints:
            _release_local_checkpoint(df)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor-storage blocks of a localCheckpoint()'d DataFrame.

    DataFrame.unpersist() consults the cache manager, which has no entry
    for a checkpointed frame — its blocks belong to the internal
    checkpointed RDD (a LogicalRDD leaf in the analyzed plan). Release
    that RDD directly; best-effort (a frame that is not actually a
    checkpoint leaf, or a future Spark that reshapes the plan class, just
    keeps its blocks until GC — the pre-r15 behavior)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — py4j surface: degrade to GC cleanup
        pass


def _materialize_truncated(
    docs: DataFrame, caches: list, checkpoints: list
) -> DataFrame:
    """Materialize a funnel waist and TRUNCATE its logical plan (guide
    §3.3/§5: .cache() keeps the full tree, so every later action re-plans
    it — measured ~20 s of driver planning per action on the sf1 funnel).

    Deployment policy (executor-loss safety) is ``session.truncate_lineage``'s;
    where it declines (cluster, no checkpoint dir) the funnel falls back to
    cache(), which keeps the re-planning tax but never turns an executor
    loss into a funnel abort — the funnel releases it in unpersist(). The
    returned frame is appended to the matching release list."""
    out = truncate_lineage(docs)
    if out is not None:
        checkpoints.append(out)
        return out
    out = docs.cache()
    caches.append(out)
    return out


def _drop_near_dups(docs: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Remove the larger id of every near-dup pair (transitively safe for the
    keeper-is-min policy: any doc that loses one comparison is dropped).
    With ``near_dup_keep_by`` set, clusters keep their best-scoring member
    instead (full connected components — the pair shortcut only works for
    the min-id policy)."""
    if cfg.near_dup_keep_by:
        from vectrekker_spark.operators.components import near_dedup_keep_best

        losers = near_dedup_keep_best(
            docs,
            cfg.near_dup_keep_by,
            threshold=cfg.near_dup_threshold,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
        ).where(~F.col("keep")).select(cfg.id_col)
        return docs.join(losers, cfg.id_col, "left_anti")
    pairs = minhash_dedup_pairs(
        docs, threshold=cfg.near_dup_threshold,
        text_col=cfg.text_col, id_col=cfg.id_col,
    )
    losers = pairs.select(F.col("r_id").alias(cfg.id_col)).distinct()
    return docs.join(losers, cfg.id_col, "left_anti")


def curate(docs: DataFrame, cfg: CurationConfig | None = None) -> CurationResult:
    """Run the funnel; returns chunked (and optionally embedded) rows plus
    per-stage survivor counts."""
    cfg = cfg or CurationConfig()
    if cfg.strip_boilerplate_min_words < 0:
        # run-START validation contract, like every sibling knob
        raise ValueError(
            f"CurationConfig.strip_boilerplate_min_words must be >= 0 (0 "
            f"disables), got {cfg.strip_boilerplate_min_words}"
        )
    if cfg.strip_boilerplate_min_words and not (
        0.0 <= cfg.boilerplate_min_alpha <= 1.0
    ):
        raise ValueError(
            f"CurationConfig.boilerplate_min_alpha must be in [0, 1], "
            f"got {cfg.boilerplate_min_alpha}"
        )
    if cfg.strip_span_ngram and cfg.strip_span_ngram < 2:
        # fail before any stage executes (run-START validation contract)
        raise ValueError(
            f"CurationConfig.strip_span_ngram must be 0 (off) or >= 2, "
            f"got {cfg.strip_span_ngram}"
        )
    if cfg.normalize_form and cfg.normalize_form not in (
        "NFC", "NFKC", "NFD", "NFKD",
    ):
        # run-START validation: a bad form must fail before any stage runs
        raise ValueError(
            f"CurationConfig.normalize_form must be '' (off) or a "
            f"unicodedata form (NFC/NFKC/NFD/NFKD), got {cfg.normalize_form!r}"
        )
    if cfg.min_compression_ratio:
        # run-START validation (the standard contract): a ratio >= 1
        # drops every document; the helper column must be free
        if not 0.0 <= cfg.min_compression_ratio < 1.0:
            raise ValueError(
                f"CurationConfig.min_compression_ratio must be in [0, 1) "
                f"(0.0 disables; ratios are compressed/raw bytes), got "
                f"{cfg.min_compression_ratio}"
            )
        if "__zratio" in docs.columns:
            raise ValueError(
                "CurationConfig.min_compression_ratio is set but the input "
                "already has a '__zratio' column — the gate's helper would "
                "collide; drop or rename it first"
            )
    if cfg.dedup_paragraphs_min_chars:
        # run-START validation: the stage's helper columns must be free
        # before any stage executes (same contract as the quota's __rn)
        if cfg.dedup_paragraphs_min_chars < 0:
            raise ValueError(
                f"CurationConfig.dedup_paragraphs_min_chars must be >= 0 "
                f"(0 disables), got {cfg.dedup_paragraphs_min_chars}"
            )
        for col in (
            "paras_dropped", "__para_dedup_text", "__pd_id", "__pd_drop_pos",
        ):
            if col in docs.columns:
                raise ValueError(
                    f"CurationConfig.dedup_paragraphs_min_chars is set but "
                    f"the input already has a {col!r} column — the "
                    f"paragraph-dedup stage's helper would collide; drop "
                    f"or rename it first"
                )
    if cfg.dedup_lines_min_chars:
        # same run-START contract as the paragraph stage (shared helpers)
        if cfg.dedup_lines_min_chars < 0:
            raise ValueError(
                f"CurationConfig.dedup_lines_min_chars must be >= 0 "
                f"(0 disables), got {cfg.dedup_lines_min_chars}"
            )
        for col in (
            "paras_dropped", "__line_dedup_text", "__pd_id", "__pd_drop_pos",
        ):
            if col in docs.columns:
                raise ValueError(
                    f"CurationConfig.dedup_lines_min_chars is set but the "
                    f"input already has a {col!r} column — the line-dedup "
                    f"stage's helper would collide; drop or rename it first"
                )
    if cfg.near_dup_keep_by:
        # run-START validation: the score column must exist before the
        # expensive LSH stage runs
        if cfg.near_dup_keep_by not in docs.columns:
            raise ValueError(
                f"CurationConfig.near_dup_keep_by is set but the input has "
                f"no {cfg.near_dup_keep_by!r} column — the quality-aware "
                f"keeper needs a score column on the docs frame"
            )
        for col in ("__nb_neg", "__nb_best_id"):
            if col in docs.columns:
                raise ValueError(
                    f"CurationConfig.near_dup_keep_by is set but the input "
                    f"already has a {col!r} column — reserved by "
                    f"near_dedup_keep_best; drop or rename it first"
                )
    if cfg.semantic_dedup_threshold:
        # run-START validation: a missing embedding column or nonsense
        # threshold must fail before any dedup stage executes
        if not 0.0 < cfg.semantic_dedup_threshold <= 1.0:
            raise ValueError(
                f"CurationConfig.semantic_dedup_threshold must be in (0, 1] "
                f"(0.0 disables), got {cfg.semantic_dedup_threshold}"
            )
        if cfg.semantic_vec_col not in docs.columns:
            raise ValueError(
                f"CurationConfig.semantic_dedup_threshold is set but the "
                f"input has no {cfg.semantic_vec_col!r} column — semantic "
                f"dedup needs document-level embeddings on the docs frame"
            )
        if cfg.semantic_n_clusters < 0:
            raise ValueError(
                f"CurationConfig.semantic_n_clusters must be >= 0 (0 = "
                f"auto), got {cfg.semantic_n_clusters}"
            )
    if cfg.max_docs_per_stratum:
        # run-START validation: a missing stratum column or negative cap
        # must fail before any dedup stage executes
        if cfg.max_docs_per_stratum < 0:
            raise ValueError(
                f"CurationConfig.max_docs_per_stratum must be >= 0 (0 "
                f"disables), got {cfg.max_docs_per_stratum}"
            )
        if cfg.stratum_col not in docs.columns:
            raise ValueError(
                f"CurationConfig.max_docs_per_stratum is set but the input "
                f"has no {cfg.stratum_col!r} column — the per-stratum cap "
                f"needs a stratum (domain/source) column on the docs frame"
            )
        if "__rn" in docs.columns:
            # the cap operator reserves this helper column; failing at the
            # LAST funnel gate would waste every dedup stage that ran first
            raise ValueError(
                "CurationConfig.max_docs_per_stratum is set but the input "
                "already has a '__rn' column — the cap's ranking helper "
                "would collide at the final gate; drop or rename it first"
            )
    if cfg.max_tokens_per_stratum:
        # same run-START contract as the doc cap (the token budget is the
        # final funnel gate right after it)
        if cfg.max_tokens_per_stratum < 0:
            raise ValueError(
                f"CurationConfig.max_tokens_per_stratum must be >= 0 (0 "
                f"disables), got {cfg.max_tokens_per_stratum}"
            )
        if cfg.stratum_col not in docs.columns:
            raise ValueError(
                f"CurationConfig.max_tokens_per_stratum is set but the "
                f"input has no {cfg.stratum_col!r} column — the token "
                f"budget needs a stratum (domain/source) column"
            )
        for col in ("__qt_tok", "__qt_before", "__qt_o0", "__qt_o1"):
            if col in docs.columns:
                raise ValueError(
                    f"CurationConfig.max_tokens_per_stratum is set but the "
                    f"input already has a {col!r} column — reserved by "
                    f"cap_tokens_per_stratum; rename it first"
                )
    quality_model = None
    if cfg.quality_model_path:
        # load (and validate) at run START — same contract as the bloom;
        # the score-column collision and a never-passable threshold must
        # also fail here, not after the dedup stages already ran
        from vectrekker_spark.operators.qualityscore import load_model

        quality_model = load_model(cfg.quality_model_path)
        if "quality_score" in docs.columns:
            raise ValueError(
                "CurationConfig.quality_model_path is set but the input "
                "already has a 'quality_score' column — the learned gate "
                "would collide mid-funnel; drop or rename it first"
            )
        if not 0.0 <= cfg.min_model_quality <= 1.0:
            raise ValueError(
                f"CurationConfig.min_model_quality must be in [0, 1] "
                f"(scores are sigmoids), got {cfg.min_model_quality}"
            )
    if cfg.min_lang_conf:
        # run-START validation: the confidence gate needs the model that
        # produces lang_conf, and a threshold > 1 drops everything
        if not 0.0 <= cfg.min_lang_conf <= 1.0:
            raise ValueError(
                f"CurationConfig.min_lang_conf must be in [0, 1] "
                f"(softmax confidences), got {cfg.min_lang_conf}"
            )
        if not cfg.langid_model_path:
            raise ValueError(
                "CurationConfig.min_lang_conf is set but langid_model_path "
                "is not — the confidence gate consumes the model's "
                "lang_conf column"
            )
        if "lang_conf" in docs.columns:
            raise ValueError(
                "CurationConfig.min_lang_conf is set but the input already "
                "has a 'lang_conf' column — the gate's helper would "
                "collide; drop or rename it first"
            )
    langid_model = None
    if cfg.langid_model_path:
        # load (and validate) at run START — same contract as the quality
        # model above; a `lang` column colliding with the one this model
        # would produce must fail before any dedup stage runs
        from vectrekker_spark.operators.langid import load_langid

        langid_model = load_langid(cfg.langid_model_path)
        if "lang" in docs.columns:
            raise ValueError(
                "CurationConfig.langid_model_path is set but the input "
                "already has a 'lang' column — either trust the existing "
                "labels (unset langid_model_path) or drop the column first"
            )
    if not cfg.langid_model_path and cfg.keep_langs and "lang" not in docs.columns:
        raise ValueError(
            "CurationConfig.keep_langs is set but the input has no 'lang' "
            "column and no langid_model_path to produce one"
        )
    ngram_lm = None
    if cfg.ngram_lm_path:
        # load (and validate) at run START — torn saves raise in lm_load
        from vectrekker_spark.operators.ngramlm import lm_load

        if cfg.max_perplexity <= 0:
            raise ValueError(
                f"CurationConfig.max_perplexity must be > 0, got "
                f"{cfg.max_perplexity} — a non-positive cutoff drops "
                f"every document (perplexities are >= ~1)"
            )
        if "perplexity" in docs.columns:
            raise ValueError(
                "CurationConfig.ngram_lm_path is set but the input already "
                "has a 'perplexity' column — the LM gate would collide "
                "mid-funnel; drop or rename it first"
            )
        ngram_lm = lm_load(docs.sparkSession, cfg.ngram_lm_path)
    bench_bloom = None
    if cfg.bench_bloom_path:
        # load (and thereby validate) the benchmark filter at run START —
        # a bad path/corrupt filter must not fail after dedup already ran
        from vectrekker_spark.operators.bloom import bloom_load

        if cfg.decontaminate_shingle_k < 1:
            raise ValueError(
                f"CurationConfig.decontaminate_shingle_k must be >= 1, "
                f"got {cfg.decontaminate_shingle_k}"
            )
        if cfg.decontaminate_max_shared < 0:
            raise ValueError(
                f"CurationConfig.decontaminate_max_shared must be >= 0, "
                f"got {cfg.decontaminate_max_shared} — a negative gate "
                f"drops every document"
            )
        bench_bloom = bloom_load(cfg.bench_bloom_path)
        kind = bench_bloom.attrs.get("kind")
        if kind is not None and kind != "shingles":
            raise ValueError(
                f"benchmark bloom at {cfg.bench_bloom_path} has provenance "
                f"kind={kind!r}, not a shingle filter — the decontamination "
                f"gate would match nothing (bloom-build --kind shingles)"
            )
        built_k = bench_bloom.attrs.get("shingle_k")
        if built_k is not None and built_k != cfg.decontaminate_shingle_k:
            raise ValueError(
                f"benchmark bloom at {cfg.bench_bloom_path} was built with "
                f"shingle_k={built_k} but decontaminate_shingle_k="
                f"{cfg.decontaminate_shingle_k}: mismatched shingling "
                f"probes disjoint hashes and the gate would be a silent "
                f"no-op"
            )
    import time as _time

    docs = docs.cache()  # read once: every stage + count consumes it
    caches = [docs]
    checkpoints: list[DataFrame] = []  # localCheckpoint'd waists (see unpersist)
    funnel: dict[str, int] = {}
    stage_seconds: dict[str, float] = {}
    _t_last = [_time.monotonic()]

    def _record(name: str, n: int) -> None:
        # each funnel count materializes its stage's cached chain; the
        # wall delta between consecutive counts ≈ that stage's cost (see
        # CurationResult.stage_seconds for the laziness caveat)
        now = _time.monotonic()
        stage_seconds[name] = round(now - _t_last[0], 3)
        _t_last[0] = now
        funnel[name] = n

    _record("input", docs.count())

    # -1. unicode/encoding normalization (opt-in): the very first rewrite,
    # so every later hash/shingle/score sees canonical text. Zero-shuffle
    # Arrow map (functions/normalize); docs normalizing to '' drop here.
    if cfg.normalize_form:
        from vectrekker_spark.functions.normalize import normalize_text_exact

        docs = (
            normalize_text_exact(
                docs,
                text_col=cfg.text_col,
                out_col=cfg.text_col,
                form=cfg.normalize_form,
                fix_encoding=cfg.normalize_fix_encoding,
            )
            .where(F.col(cfg.text_col).isNull() | (F.length(cfg.text_col) > 0))
            .cache()
        )
        caches.append(docs)
        _record("after_normalize", docs.count())

    # 0. line-level boilerplate strip (opt-in): normalize text BEFORE any
    # dedup/gate so content hashes, shingles and scores see the cleaned
    # document, not its nav chrome. Narrow JVM-side map; docs whose text
    # strips to '' drop here (NULL text passes through — the null rule).
    if cfg.strip_boilerplate_min_words:
        from vectrekker_spark.functions.text import keep_content_lines

        docs = docs.withColumn(
            cfg.text_col,
            keep_content_lines(
                cfg.text_col,
                min_words=cfg.strip_boilerplate_min_words,
                min_alpha=cfg.boilerplate_min_alpha,
            ),
        ).where(
            F.col(cfg.text_col).isNull() | (F.length(cfg.text_col) > 0)
        ).cache()
        caches.append(docs)
        _record("after_boilerplate", docs.count())

    # 0a'. cross-document line dedup (opt-in): the finer RefinedWeb unit
    # runs before the paragraph stage so paragraph hashes see banner-free
    # blocks (same narrow no-text-shuffle shape; operators/paradedup).
    if cfg.dedup_lines_min_chars:
        from vectrekker_spark.operators.paradedup import dedup_lines

        docs = (
            dedup_lines(
                docs,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                min_chars=cfg.dedup_lines_min_chars,
                out_col="__line_dedup_text",
            )
            .withColumn(cfg.text_col, F.col("__line_dedup_text"))
            .drop("__line_dedup_text", "paras_dropped")
            .where(F.col(cfg.text_col).isNull() | (F.length(cfg.text_col) > 0))
            .cache()
        )
        caches.append(docs)
        _record("after_line_dedup", docs.count())

    # 0b. cross-document paragraph dedup (opt-in): collapse repeated
    # blocks (banners/footers/licenses) to their corpus-canonical
    # occurrence BEFORE exact dedup, so content hashes/shingles judge the
    # deduplicated text. The document text never shuffles — only a narrow
    # (id, pos, hash) stream plus per-doc drop lists (operators/paradedup).
    if cfg.dedup_paragraphs_min_chars:
        from vectrekker_spark.operators.paradedup import dedup_paragraphs

        docs = (
            dedup_paragraphs(
                docs,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                min_chars=cfg.dedup_paragraphs_min_chars,
                out_col="__para_dedup_text",
            )
            .withColumn(cfg.text_col, F.col("__para_dedup_text"))
            .drop("__para_dedup_text", "paras_dropped")
            .where(F.col(cfg.text_col).isNull() | (F.length(cfg.text_col) > 0))
            .cache()
        )
        caches.append(docs)
        _record("after_para_dedup", docs.count())

    # 1. exact dedup: keep min-id per content hash. The semi-join alone
    # keeps every ROW carrying a keeper id — with CONTENT-HASH doc ids
    # (the sources/text_formats policy: identical text ⇒ identical id,
    # e.g. a crawl's mirrors via warc_docs) duplicate rows share the
    # keeper id and would all survive, making this stage a no-op exactly
    # on the corpora that need it most (found by scripts/crawl_benchmark).
    # dropDuplicates on the id closes that: rows sharing an id share
    # their text by construction of any content-derived id scheme, so
    # collapsing them is the stage's own semantics, not data loss.
    keepers = exact_dedup_map(docs, text_col=cfg.text_col, id_col=cfg.id_col).select(
        F.col("keep_id").alias(cfg.id_col)
    )
    docs = docs.join(keepers, cfg.id_col, "left_semi")
    # collapse same-id rows DETERMINISTICALLY: dropDuplicates keeps an
    # arbitrary row, so surviving metadata (url/ts) would vary run-to-run
    # (advisor r13). One row_number over the orderable columns pins the
    # survivor; same single id-shuffle as dropDuplicates.
    from pyspark.sql import Window
    from pyspark.sql.types import AtomicType

    order_cols = [
        f.name for f in docs.schema.fields
        if f.name != cfg.id_col and isinstance(f.dataType, AtomicType)
    ]
    if order_cols:
        w = Window.partitionBy(cfg.id_col).orderBy(
            *[F.col(c).asc_nulls_first() for c in order_cols]
        )
        docs = (
            docs.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .drop("__rk")
        )
    else:
        docs = docs.dropDuplicates([cfg.id_col])
    _record("after_exact_dedup", docs.count())

    # 2. near-dup removal. Plan truncation, not a plain cache (r14
    # optimization, guide §3.3/§7.3): by this point the lineage holds the
    # boilerplate HOFs, the exact-dedup join, and the whole LSH pipeline —
    # and a .cache() does NOT truncate the LOGICAL plan, so every
    # downstream action (a dozen stage counts, the pack sizing job, the
    # shard write) re-analyzed and re-optimized the full tree: measured
    # ~20 s of pure DRIVER planning per late-stage action on the sf1
    # funnel (23 s to count 300 cached rows). Truncating at the survivor
    # set (the funnel's waist, ≪ corpus) collapsed the whole funnel
    # 156 → ~70 s. Cluster fault-tolerance is gated inside the helper
    # (advisor r14): lineage truncation is only taken where an executor
    # loss cannot abort the funnel (local mode / reliable checkpoint).
    docs = _materialize_truncated(_drop_near_dups(docs, cfg), caches, checkpoints)

    # 2b. optional semantic dedup: drop embedding-space near-duplicates the
    # token-level MinHash pass can't see (paraphrases, translations of the
    # same content). Cluster-bounded SemDeDup — broadcast-centroid narrow
    # assignment, one cid shuffle, per-cell greedy min-id prune. Cached:
    # every later stage re-reads the survivors.
    if cfg.semantic_dedup_threshold:
        from vectrekker_spark.operators.semdedup import semantic_dedup

        # same plan-truncation (and cluster gating) as the near-dup stage
        # above: the SemDeDup assignment + per-cell prune subtree is the
        # other big planning payload downstream actions were re-optimizing
        # per action
        docs = _materialize_truncated(
            semantic_dedup(
                docs,
                threshold=cfg.semantic_dedup_threshold,
                n_clusters=cfg.semantic_n_clusters or None,
                id_col=cfg.id_col,
                vec_col=cfg.semantic_vec_col,
            ),
            caches,
            checkpoints,
        )
        _record("after_semantic_dedup", docs.count())

    # 2c. optional span-level dedup: strip corpus-redundant token spans in
    # place (doc count unchanged — the funnel records how many documents
    # were touched). Cached: later stages consume the stripped text
    # repeatedly, and the spans' gram cache joins the funnel's lifecycle.
    if cfg.strip_span_ngram:
        from vectrekker_spark.operators.spandedup import (
            duplicate_spans,
            strip_duplicate_spans,
        )

        spans = duplicate_spans(
            docs, n=cfg.strip_span_ngram,
            id_col=cfg.id_col, text_col=cfg.text_col,
        )
        if spans._cached_grams is not None:
            caches.append(spans._cached_grams)
        # persist the spans themselves, not just the gram stream: the
        # funnel count below materializes the dup-agg/flag-join/island
        # chain (the expensive duplicate-proportional stages past the
        # cache), and without this the strip would re-run all of it
        # instead of reading the tiny cached span table
        spans = spans.persist()
        caches.append(spans)
        _record(
            "span_stripped_docs", spans.select(cfg.id_col).distinct().count()
        )
        docs = strip_duplicate_spans(
            docs, id_col=cfg.id_col, text_col=cfg.text_col,
            out_col=cfg.text_col, spans=spans,
        ).cache()
        caches.append(docs)

    # 2d. optional language identification: produce the `lang` column the
    # gate below consumes (CCNet's first text gate). Zero-shuffle Arrow
    # map (model broadcast); runs AFTER the dedups so the Python stage
    # sees only survivors. Cached — the one-pass agg and the filter both
    # re-read the predictions.
    if langid_model is not None:
        from vectrekker_spark.operators.langid import predict_lang

        docs = predict_lang(
            docs,
            langid_model,
            text_col=cfg.text_col,
            # confidence only materializes when the gate below consumes it
            conf_col="lang_conf" if cfg.min_lang_conf else None,
        ).cache()
        caches.append(docs)

    # 3+4. quality and language filters. The three funnel counts (post-near-dup,
    # post-quality, post-lang) come from ONE conditional-aggregation pass over
    # the cached survivors instead of three .count() actions — count_if is a
    # map-side partial agg, so this is one job, one tiny shuffle.
    q_ok = quality_score(F.col(cfg.text_col)) >= cfg.min_quality
    lang_ok = (
        F.col("lang").isin(*cfg.keep_langs) if cfg.keep_langs else F.lit(True)
    )
    if cfg.min_lang_conf:
        # CCNet's confidence rule: an ambiguous prediction is as good as
        # a wrong language — gate on the softmax confidence too
        lang_ok = lang_ok & (F.col("lang_conf") >= cfg.min_lang_conf)
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(q_ok).alias("nq"),
        F.count_if(q_ok & lang_ok).alias("nql"),
    ).first()
    _record("after_near_dedup", row["n"])  # bills the one-pass agg job
    funnel["after_quality"] = row["nq"]
    stage_seconds["after_quality"] = 0.0
    funnel["after_lang"] = row["nql"]
    stage_seconds["after_lang"] = 0.0
    docs = docs.filter(q_ok & lang_ok)

    # 4pre. optional compression-ratio gate: drop docs whose zlib ratio
    # falls below the floor (templated/spam text compresses far under
    # prose — the Gopher-stack cheap signal, functions/normalize). One
    # zero-shuffle Arrow map, placed with the other Python gates after
    # the cheap JVM filters. NULL/empty text has no ratio and survives.
    if cfg.min_compression_ratio:
        from vectrekker_spark.functions.normalize import compression_ratio

        docs = (
            compression_ratio(
                docs, text_col=cfg.text_col, out_col="__zratio"
            )
            .where(
                F.col("__zratio").isNull()
                | (F.col("__zratio") >= cfg.min_compression_ratio)
            )
            .drop("__zratio")
            .cache()
        )
        caches.append(docs)
        _record("after_compression", docs.count())

    # 4a. optional learned quality gate: the hashed-BoW linear model scores
    # the heuristic survivors as one zero-shuffle Arrow map (weights
    # broadcast) — after the cheap JVM gates so the Python stage sees the
    # smallest set, before the join-heavy BM25 relevance stage. Cached:
    # the Python scoring map must not re-execute per downstream action.
    if quality_model is not None:
        from vectrekker_spark.operators.qualityscore import quality_filter

        docs = quality_filter(
            docs,
            quality_model[0],
            bias=quality_model[1],
            min_score=cfg.min_model_quality,
            text_col=cfg.text_col,
        ).cache()
        caches.append(docs)
        _record("after_model_quality", docs.count())

    # 4a'. optional n-gram LM perplexity gate (CCNet rule: keep docs the
    # reference LM finds likely). Zero-shuffle Arrow map like 4a; cached
    # for the same reason.
    if ngram_lm is not None:
        from vectrekker_spark.operators.ngramlm import perplexity_filter

        docs = perplexity_filter(
            docs, ngram_lm, max_ppl=cfg.max_perplexity, text_col=cfg.text_col
        ).cache()
        caches.append(docs)
        _record("after_perplexity", docs.count())

    # 4b. optional query-relevance gate: keep documents whose Okapi BM25
    # score against the topic terms clears the threshold (query-targeted
    # corpora). Runs after the cheap filters so the scored set is smallest.
    # Strict >: zero-hit docs score exactly 0.0 and never pass. Cached:
    # the BM25 pipeline (aggregates + explode + joins) must not re-execute
    # for the chunk stage's consumption.
    if cfg.relevance_query:
        from vectrekker_spark.operators.tfidf import bm25_scores

        rel = bm25_scores(
            docs, cfg.relevance_query, id_col=cfg.id_col, text_col=cfg.text_col
        )
        if rel._cached_base is not None:  # release with the funnel's caches
            caches.append(rel._cached_base)
        keep = rel.filter(F.col("score") > cfg.min_relevance).select(cfg.id_col)
        docs = docs.join(keep, cfg.id_col, "left_semi").cache()
        caches.append(docs)
        _record("after_relevance", docs.count())

    # 4c. optional benchmark decontamination against the pre-built bloom:
    # a narrow map over the (already filtered, smallest) survivor set —
    # no join, no shuffle. Bloom false positives only over-drop, the safe
    # direction for a contamination gate.
    if bench_bloom is not None:
        from vectrekker_spark.operators.decontaminate import decontaminate_bloom

        docs = decontaminate_bloom(
            docs, bench_bloom,
            text_col=cfg.text_col,
            k=cfg.decontaminate_shingle_k,
            max_shared=cfg.decontaminate_max_shared,
        ).cache()
        caches.append(docs)
        _record("after_decontaminate", docs.count())

    # 4d. optional per-stratum quota: at most N docs per domain/source,
    # stable hash(id) order (operators/quota — WindowGroupLimit pre-prunes
    # map-side, so a hot domain ships cap×P rows, never its whole data).
    # Last doc-level gate on purpose: the cap binds the exported set.
    if cfg.max_docs_per_stratum:
        from vectrekker_spark.operators.quota import cap_per_stratum_random

        docs = cap_per_stratum_random(
            docs, cfg.max_docs_per_stratum,
            strata_col=cfg.stratum_col, id_col=cfg.id_col,
        ).cache()
        caches.append(docs)
        _record("after_stratum_cap", docs.count())

    # 4e. optional per-stratum TOKEN budget: greedy prefix in the same
    # stable hash(id) order (operators/quota.cap_tokens_per_stratum — the
    # text payload never enters the window shuffle). After the doc cap:
    # both bind the exported set, tokens are the finer unit.
    if cfg.max_tokens_per_stratum:
        from vectrekker_spark.operators.sampling import sample_bucket
        from vectrekker_spark.operators.quota import cap_tokens_per_stratum

        docs = cap_tokens_per_stratum(
            docs.where(F.col(cfg.id_col).isNotNull()),
            cfg.max_tokens_per_stratum,
            strata_col=cfg.stratum_col,
            order_cols=[sample_bucket(cfg.id_col, "quota0"), F.col(cfg.id_col)],
            id_col=cfg.id_col,
            text_col=cfg.text_col,
        ).cache()
        caches.append(docs)
        _record("after_token_budget", docs.count())

    # 5. chunk — cached so the funnel count and the caller's consumption
    # execute the (mapInPandas) chunk stage exactly once
    if cfg.sentence_chunks:
        from vectrekker_spark.operators.chunk import chunk_by_sentences

        chunks = chunk_by_sentences(
            docs, text_col=cfg.text_col, id_col=cfg.id_col,
            max_chars=cfg.chunk_size,
        ).cache()
    else:
        chunks = chunk_text(
            docs, text_col=cfg.text_col, id_col=cfg.id_col,
            size=cfg.chunk_size, overlap=cfg.chunk_overlap,
        ).cache()
    caches.append(chunks)
    _record("chunks", chunks.count())

    # 6. embed (Arrow-batched hashing embedder; swap for a real model UDF).
    # Applied on top of the cached chunks, so a downstream action runs the
    # embed UDF once over cached rows rather than re-deriving the funnel.
    if cfg.embed:
        from vectrekker_spark.queries.vector import hash_embed_batch

        embed = F.pandas_udf(lambda s: hash_embed_batch(s), "array<double>")
        chunks = chunks.withColumn("embedding", embed(F.col("chunk_text")))

    return CurationResult(
        chunks=chunks, funnel=funnel, caches=tuple(caches),
        checkpoints=tuple(checkpoints),
        stage_seconds=stage_seconds,
    )


@dataclass
class AssemblyConfig:
    """curate → pack → shuffle → sharded export, end to end.

    The curation default here is embed=False (unlike bare CurationConfig):
    training shards carry text + token counts, and silently running the
    embed UDF over every chunk on the default path would be a large hidden
    cost. Opt in explicitly if shards should carry embeddings.
    """

    curation: CurationConfig = field(
        default_factory=lambda: CurationConfig(embed=False)
    )
    max_tokens: int = 2048
    shuffle_seed: str = "epoch0"
    rows_per_shard: int = 100_000
    # '' → count tokens with the whitespace proxy; else a saved fit-bpe
    # model (operators/bpetrainer.bpe_save JSON): sequence packing budgets
    # LEARNED-BPE token counts — the counts that actually bind when the
    # packed sequences feed a model trained with that tokenizer. Loaded
    # (and validated) at run START.
    bpe_model_path: str = ""


def assemble_training_set(
    docs: DataFrame, out_path: str, cfg: AssemblyConfig | None = None
) -> dict[str, int]:
    """The full training-data assembly pipeline: the curation funnel, greedy
    sequence packing to ``max_tokens``, a deterministic seeded shuffle of
    SEQUENCES (chunks stay contiguous and ordered inside their sequence),
    and a sharded parquet export sized for data loaders. Returns the funnel
    report extended with sequence stats. Every stage is a set-oriented job —
    the whole pipeline is a handful of shuffles regardless of corpus size.
    """
    from vectrekker_spark.operators.packing import pack_sequences
    from vectrekker_spark.operators.sampling import sample_bucket
    from vectrekker_spark.sources.sinks import write_shards

    cfg = cfg or AssemblyConfig()
    bpe_model = None
    if cfg.bpe_model_path:
        # run-START validation (the quality-model contract): a torn or
        # missing model must fail before the funnel runs
        from vectrekker_spark.operators.bpetrainer import bpe_load

        bpe_model = bpe_load(cfg.bpe_model_path)
    res = curate(docs, cfg.curation)
    if bpe_model is not None:
        from vectrekker_spark.operators.bpetrainer import bpe_token_count

        chunks = bpe_token_count(
            res.chunks, bpe_model, text_col="chunk_text", out_col="n_tokens"
        )
    else:
        chunks = res.chunks.withColumn(
            "n_tokens", token_count(F.col("chunk_text")).cast("int")
        )
    packed = pack_sequences(
        chunks, cfg.max_tokens,
        doc_col=cfg.curation.id_col, chunk_col="chunk_id",
    )
    # shuffle at sequence granularity: order by (hash(seed, seq), seq, pos)
    shuffled = packed.orderBy(
        sample_bucket("seq_id", cfg.shuffle_seed), F.col("seq_id"), F.col("seq_pos")
    )
    write_shards(shuffled, out_path, cfg.rows_per_shard)
    # count sequences from the WRITTEN shards: free (footer-level scan of
    # one small column) vs re-running the pack shuffle + applyInPandas
    spark = docs.sparkSession
    funnel = dict(res.funnel)
    funnel["sequences"] = (
        spark.read.parquet(out_path).select("seq_id").distinct().count()
    )
    # per-stage wall times ride along under a reserved key so the CLI and
    # benchmarks can surface them without a signature change; consumers
    # iterating stage counts should skip keys starting with "_"
    funnel["_stage_seconds"] = dict(res.stage_seconds)
    # the funnel's caches have served their purpose once shards are on disk
    res.unpersist()
    return funnel
