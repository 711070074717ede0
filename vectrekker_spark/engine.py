"""Engine facade: one object tying session + catalog + operators together.

Entry points (SURVEY.md §3.2): ``Engine.sql`` (Catalyst parser), ``Engine.table``
(DataFrame builder), and the operator helpers re-exported from
``vectrekker_spark.operators``. All three converge on the same logical-plan
pipeline; there is no engine-private IR — Spark's analyzed/optimized plan *is*
the IR (inspect with ``df.explain(True)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from vectrekker_spark.catalog import DEFAULT_SF_DIR, load_tables, register_views


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables = load_tables(spark, sf_dir)
        self._ivf: dict = {}
        register_views(spark, sf_dir)

    def table(self, name: str) -> DataFrame:
        return self._tables[name]

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- operator sugar ---------------------------------------------------
    def knn(self, query_vec, k: int = 10) -> DataFrame:
        from vectrekker_spark.operators.knn import topk_nn

        return topk_nn(self.table("embeddings"), query_vec, k=k)

    def knn_join(self, queries_df: DataFrame, k: int = 5) -> DataFrame:
        from vectrekker_spark.operators.knn import knn_join

        return knn_join(queries_df, self.table("embeddings"), k=k)

    def ivf_index(self, n_centroids: int = 16, assign_k: int = 2):
        """Build (or return the cached) IVF index for the embeddings table.
        The build (KMeans fit + corpus-wide assignment join) is the expensive
        part of approximate search — pay it once per session, not per query."""
        key = (n_centroids, assign_k)
        if key not in self._ivf:
            from vectrekker_spark.operators.ann import ivf_build

            centroids, assign = ivf_build(
                self.table("embeddings"), n_centroids=n_centroids, assign_k=assign_k
            )
            self._ivf[key] = (centroids, assign.cache())
        return self._ivf[key]

    def approx_knn(
        self,
        queries_df: DataFrame,
        k: int = 10,
        n_centroids: int = 16,
        n_probe: int = 6,
        assign_k: int = 2,
    ) -> DataFrame:
        """IVF approximate kNN join (the scale path): kmeans cells with
        multi-assignment; see operators/ann for the recall/cost dials. The
        build is cached on the engine (ivf_index), so repeated queries pay
        only the probe."""
        from vectrekker_spark.operators.ann import ivf_search

        centroids, assign = self.ivf_index(n_centroids, assign_k)
        return ivf_search(
            queries_df, self.table("embeddings"), centroids, assign, k=k, n_probe=n_probe
        )

    def save_ann_index(
        self,
        path: str,
        n_centroids: int = 16,
        assign_k: int = 2,
        quantize: bool = False,
    ) -> None:
        """Persist the (session-cached) IVF index as the cid-partitioned
        inverted-list layout (operators/ann.ivf_save) — pay the build once
        per corpus version, not per session; extend with ivf_append.
        ``quantize`` stores int8 cells (IVF-SQ8, ~4× smaller)."""
        from vectrekker_spark.operators.ann import ivf_save

        centroids, assign = self.ivf_index(n_centroids, assign_k)
        ivf_save(
            centroids,
            assign,
            self.table("embeddings"),
            path,
            assign_k=assign_k,
            quantize=quantize,
        )

    def approx_knn_persisted(
        self,
        path: str,
        queries_df: DataFrame,
        k: int = 10,
        n_probe: int = 6,
        rerank: bool = True,
    ) -> DataFrame:
        """IVF kNN against a save_ann_index/ann-build directory: probes read
        only their cells' partitions (static or dynamic pruning), zero build
        cost in this session. On a quantized index, ``rerank`` (default)
        supplies the embeddings table for the exact full-precision re-rank;
        set False for codes-only scores (no corpus read at all)."""
        from vectrekker_spark.operators.ann import ivf_load, ivf_meta, ivf_search_cells

        centroids, cells = ivf_load(self.spark, path)
        corpus = (
            self.table("embeddings")
            if rerank and ivf_meta(self.spark, path).get("quantized")
            else None
        )
        return ivf_search_cells(
            queries_df, centroids, cells, k=k, n_probe=n_probe, corpus=corpus
        )

    def embed(self, df: DataFrame, embedder_factory=None, text_col: str = "text") -> DataFrame:
        """Append an `embedding` column via the pluggable Embedder protocol
        (deterministic hashing embedder unless a factory is given)."""
        from vectrekker_spark.embedder import HashingEmbedder, embed_column

        return embed_column(
            df, embedder_factory or (lambda: HashingEmbedder()), text_col=text_col
        )

    def split(self, df: DataFrame, id_col: str = "doc_id", **kw) -> DataFrame:
        """Deterministic salted-hash train/val/test split (operators/split)."""
        from vectrekker_spark.operators.split import hash_split

        return hash_split(df, id_col, **kw)

    def decontaminate(
        self, train: DataFrame, bench: DataFrame, **kw
    ) -> DataFrame:
        """Drop training docs sharing n-gram shingles with a benchmark set
        (operators/decontaminate)."""
        from vectrekker_spark.operators.decontaminate import decontaminate

        return decontaminate(train, bench, **kw)

    def profile(self, df: DataFrame, **kw) -> DataFrame:
        """One-scan per-column data-quality profile
        (operators/profile.profile_table)."""
        from vectrekker_spark.operators.profile import profile_table

        return profile_table(df, **kw)

    def profile_diff(self, old: DataFrame, new: DataFrame, **kw) -> DataFrame:
        """Drift gates between two profile snapshots
        (operators/profile.profile_diff)."""
        from vectrekker_spark.operators.profile import profile_diff

        return profile_diff(old, new, **kw)

    def top_tokens(self, df: DataFrame, k: int = 20, **kw):
        """One-pass approximate global top-k tokens
        (operators/sketch.top_tokens): local candidates + Count-Min
        estimates, no token-stream shuffle."""
        from vectrekker_spark.operators.sketch import top_tokens

        return top_tokens(df, k=k, **kw)

    def benchmark_bloom(self, bench: DataFrame, **kw):
        """Compress a benchmark set's shingles into a broadcastable
        BloomFilter (operators/decontaminate.benchmark_bloom); persist it
        with operators.bloom.bloom_save for reuse across runs."""
        from vectrekker_spark.operators.decontaminate import benchmark_bloom

        return benchmark_bloom(bench, **kw)

    def decontaminate_bloom(self, train: DataFrame, bench_bloom, **kw) -> DataFrame:
        """Zero-shuffle decontamination against a pre-built benchmark bloom
        (operators/decontaminate.decontaminate_bloom): one narrow map over
        the corpus, false positives only over-drop."""
        from vectrekker_spark.operators.decontaminate import decontaminate_bloom

        return decontaminate_bloom(train, bench_bloom, **kw)

    def asof_join(
        self, left: DataFrame, right: DataFrame, key: str, **kw
    ) -> DataFrame:
        """Most-recent-state time-series join (operators/asofjoin)."""
        from vectrekker_spark.operators.asofjoin import asof_join

        return asof_join(left, right, key, **kw)

    def top_terms(self, df: DataFrame, k: int = 100, **kw) -> DataFrame:
        """Corpus TF-IDF top terms (operators/tfidf)."""
        from vectrekker_spark.operators.tfidf import top_terms

        return top_terms(df, k=k, **kw)

    def bm25(self, df: DataFrame, query: str | list[str], **kw) -> DataFrame:
        """(id, score) Okapi BM25 relevance of each document to the query
        terms — the lexical gate for query-targeted corpus curation.

        The result carries a persisted intermediate (so the text column is
        scanned once, not three times); when done with it, long-lived
        drivers call ``Engine.release_bm25(result)`` — per-call caches
        otherwise accumulate in storage memory across repeated queries."""
        from vectrekker_spark.operators.tfidf import bm25_scores

        return bm25_scores(df, query, **kw)

    @staticmethod
    def release_bm25(result: DataFrame) -> None:
        """Unpersist the cached intermediate a ``bm25`` result carries."""
        from vectrekker_spark.operators.tfidf import release

        release(result)

    def near_dedup(self, df: DataFrame, threshold: float = 0.7, **kw) -> DataFrame:
        """Cluster-aware near-dedup: MinHash pairs → connected components →
        keep one representative per cluster (operators/components)."""
        from vectrekker_spark.operators.components import near_dedup_clusters

        return near_dedup_clusters(df, threshold=threshold, **kw)

    def sample(self, df: DataFrame, fraction: float, **kw) -> DataFrame:
        """Deterministic hash-Bernoulli sample (operators/sampling)."""
        from vectrekker_spark.operators.sampling import hash_sample

        return hash_sample(df, fraction, **kw)

    def mix(self, df: DataFrame, rates: dict[str, float], **kw) -> DataFrame:
        """Per-stratum mixture sampling, e.g. {"wiki": 1.0, "crawl": 0.1}
        (operators/sampling.stratified_hash_sample)."""
        from vectrekker_spark.operators.sampling import stratified_hash_sample

        return stratified_hash_sample(df, rates, **kw)

    def cap_per_stratum(self, df: DataFrame, cap: int, **kw) -> DataFrame:
        """Keep at most ``cap`` rows per stratum under a caller-supplied
        total order (operators/quota — the RefinedWeb/FineWeb domain cap;
        pass order_cols=[...] ending in a unique tie-break)."""
        from vectrekker_spark.operators.quota import cap_per_stratum

        return cap_per_stratum(df, cap, **kw)

    def cap_tokens_per_stratum(
        self, df: DataFrame, token_budget: int, **kw
    ) -> DataFrame:
        """Greedy per-stratum TOKEN budget (the unit mixture budgets bind
        in; operators/quota.cap_tokens_per_stratum)."""
        from vectrekker_spark.operators.quota import cap_tokens_per_stratum

        return cap_tokens_per_stratum(df, token_budget, **kw)

    def cap_per_stratum_random(self, df: DataFrame, cap: int, **kw) -> DataFrame:
        """Stable hash-order per-stratum quota: deterministic, partition-
        invariant, growth-stable (operators/quota.cap_per_stratum_random)."""
        from vectrekker_spark.operators.quota import cap_per_stratum_random

        return cap_per_stratum_random(df, cap, **kw)

    def shuffle_order(self, df: DataFrame, seed: str = "s0", **kw) -> DataFrame:
        """Deterministic global training-order shuffle
        (operators/sampling.seeded_shuffle)."""
        from vectrekker_spark.operators.sampling import seeded_shuffle

        return seeded_shuffle(df, seed=seed, **kw)

    def pack_sequences(
        self, chunks: DataFrame, max_tokens: int, **kw
    ) -> DataFrame:
        """Greedy first-fit packing of chunks into fixed-token-budget
        training sequences (operators/packing)."""
        from vectrekker_spark.operators.packing import pack_sequences

        return pack_sequences(chunks, max_tokens, **kw)

    def near_dedup_against(
        self, new: DataFrame, corpus: DataFrame, threshold: float = 0.7, **kw
    ) -> DataFrame:
        """Incremental near-dedup of a new batch against the existing corpus
        (operators/dedup.minhash_dedup_against); pass corpus_bands= to reuse
        a persisted band index."""
        from vectrekker_spark.operators.dedup import minhash_dedup_against

        return minhash_dedup_against(new, corpus, threshold=threshold, **kw)

    def exact_dedup_against(
        self, new: DataFrame, history: DataFrame, **kw
    ) -> DataFrame:
        """Incremental EXACT dedup of a new batch against history
        (operators/dedup.exact_dedup_against); pass history_bloom= (see
        operators/dedup.content_bloom) so definite-new rows skip the
        verification join."""
        from vectrekker_spark.operators.dedup import exact_dedup_against

        return exact_dedup_against(new, history, **kw)

    def duplicate_spans(self, df: DataFrame, n: int = 10, **kw) -> DataFrame:
        """Redundant token spans (boilerplate/quoted passages repeated
        across the corpus) per document — span-level exact substring
        dedup (operators/spandedup.duplicate_spans). The result carries a
        persisted gram stream; long-lived drivers call
        ``Engine.release_spans(result)`` when done (the bm25 idiom)."""
        from vectrekker_spark.operators.spandedup import duplicate_spans

        return duplicate_spans(df, n=n, **kw)

    def strip_spans(self, df: DataFrame, n: int = 10, **kw) -> DataFrame:
        """All columns + ``text_clean``: the text with redundant spans
        removed, one canonical occurrence kept corpus-wide
        (operators/spandedup.strip_duplicate_spans). Carries the derived
        spans' gram cache — release with ``Engine.release_spans``."""
        from vectrekker_spark.operators.spandedup import (
            strip_duplicate_spans,
        )

        return strip_duplicate_spans(df, n=n, **kw)

    @staticmethod
    def release_spans(result: DataFrame) -> None:
        """Unpersist the cached gram stream a ``duplicate_spans`` /
        ``strip_spans`` result carries."""
        from vectrekker_spark.operators.spandedup import release

        release(result)

    def strip_boilerplate(
        self, df: DataFrame, min_words: int = 3,
        min_alpha: float = 0.5, text_col: str = "text",
    ) -> DataFrame:
        """Strip nav/menu/separator lines from the text column (C19,
        functions/text.keep_content_lines); rows whose text strips to ''
        are kept here — use curate() for the dropping funnel stage."""
        from vectrekker_spark.functions.text import keep_content_lines

        # the same run-START validation curate()/the CLI enforce: an
        # out-of-range alpha silently blanks EVERY document and a
        # negative min_words keeps the nav chrome the caller asked to
        # strip (r10 review finding — the facade was the one unguarded
        # entry point)
        if min_words < 0:
            raise ValueError(
                f"strip_boilerplate: min_words must be >= 0, got {min_words}"
            )
        if not 0.0 <= min_alpha <= 1.0:
            raise ValueError(
                f"strip_boilerplate: min_alpha must be in [0, 1], got {min_alpha}"
            )
        return df.withColumn(
            text_col,
            keep_content_lines(text_col, min_words=min_words, min_alpha=min_alpha),
        )

    def parse_robots(self, df: DataFrame, **kw) -> DataFrame:
        """robots.txt bodies → (host, pattern, is_allow, prec) rules
        (functions/robots, RFC 9309)."""
        from vectrekker_spark.functions.robots import parse_robots

        return parse_robots(df, **kw)

    def robots_allowed(self, frontier: DataFrame, rules: DataFrame, **kw) -> DataFrame:
        """Adds ``robots_allowed`` per frontier URL (longest-match rules,
        allow wins ties, absent robots → allowed)."""
        from vectrekker_spark.functions.robots import robots_allowed

        return robots_allowed(frontier, rules, **kw)

    def parse_crawl_delays(self, df: DataFrame, **kw) -> DataFrame:
        """(host, crawl_delay) for hosts whose robots.txt declares one
        (functions/robots)."""
        from vectrekker_spark.functions.robots import parse_crawl_delays

        return parse_crawl_delays(df, **kw)

    def normalize_text(self, df: DataFrame, **kw) -> DataFrame:
        """Full text normalization: mojibake repair + unicode form +
        whitespace rules (functions/normalize.normalize_text_exact)."""
        from vectrekker_spark.functions.normalize import normalize_text_exact

        return normalize_text_exact(df, **kw)

    def compression_ratio(self, df: DataFrame, **kw) -> DataFrame:
        """zlib-compressed/raw byte ratio per doc — the cheap spam signal
        (functions/normalize.compression_ratio)."""
        from vectrekker_spark.functions.normalize import compression_ratio

        return compression_ratio(df, **kw)

    def fit_bpe(self, df: DataFrame, n_merges: int = 1000, **kw):
        """Learn a BPE tokenizer from the corpus (operators/bpetrainer:
        distributed word counts, bounded driver-side merge loop)."""
        from vectrekker_spark.operators.bpetrainer import bpe_train

        return bpe_train(df, n_merges=n_merges, **kw)

    def bpe_encode(self, df: DataFrame, model, **kw) -> DataFrame:
        """Apply a learned BPE model: adds ``bpe_tokens`` (zero-shuffle
        broadcast Arrow map)."""
        from vectrekker_spark.operators.bpetrainer import bpe_encode

        return bpe_encode(df, model, **kw)

    def bpe_token_count(self, df: DataFrame, model, **kw) -> DataFrame:
        """Learned-BPE token counts: adds ``bpe_n_tokens``."""
        from vectrekker_spark.operators.bpetrainer import bpe_token_count

        return bpe_token_count(df, model, **kw)

    def bpe_stats(self, df: DataFrame, model, **kw) -> dict:
        """Tokenizer fertility metrics (tokens/word, chars/token,
        single-char fallback fraction) over a corpus."""
        from vectrekker_spark.operators.bpetrainer import bpe_stats

        return bpe_stats(df, model, **kw)

    def duplicate_paragraphs(self, df: DataFrame, **kw) -> DataFrame:
        """(id, pos, para_hash) for every non-canonical occurrence of a
        cross-document duplicated paragraph (operators/paradedup)."""
        from vectrekker_spark.operators.paradedup import duplicate_paragraphs

        return duplicate_paragraphs(df, **kw)

    def dedup_paragraphs(self, df: DataFrame, **kw) -> DataFrame:
        """Strip cross-document duplicate paragraphs, keeping the
        corpus-canonical (min (id, pos)) occurrence; adds ``text_dedup``
        + ``paras_dropped`` (operators/paradedup, the CCNet unit)."""
        from vectrekker_spark.operators.paradedup import dedup_paragraphs

        return dedup_paragraphs(df, **kw)

    def dedup_lines(self, df: DataFrame, **kw) -> DataFrame:
        """Strip cross-document duplicate LINES (the RefinedWeb unit:
        nav items, footer lines), keeping the corpus-canonical (min
        (id, pos)) occurrence (operators/paradedup.dedup_lines)."""
        from vectrekker_spark.operators.paradedup import dedup_lines

        return dedup_lines(df, **kw)

    def near_dedup_keep_best(
        self, df: DataFrame, score_col: str, **kw
    ) -> DataFrame:
        """(doc_id, cluster_id, keep) near-dup clustering where each
        cluster keeps its highest-``score_col`` member (ties → min id;
        operators/components.near_dedup_keep_best)."""
        from vectrekker_spark.operators.components import near_dedup_keep_best

        return near_dedup_keep_best(df, score_col, **kw)

    def dsir_fit(self, df: DataFrame, **kw):
        """Hashed-n-gram log-probability vector of a corpus — the p / q
        halves of DSIR importance weighting (operators/dsir)."""
        from vectrekker_spark.operators.dsir import fit_feature_dist

        return fit_feature_dist(df, **kw)

    def dsir_weights(
        self, df: DataFrame, logp_target, logp_raw, **kw
    ) -> DataFrame:
        """Add the DSIR importance log-weight column — how much more
        target-like than raw-like each document is (operators/dsir)."""
        from vectrekker_spark.operators.dsir import importance_weights

        return importance_weights(df, logp_target, logp_raw, **kw)

    def dsir_select(self, df: DataFrame, k: int, **kw) -> DataFrame:
        """Sample k docs without replacement ∝ exp(importance weight)
        via deterministic Gumbel-top-k (operators/dsir)."""
        from vectrekker_spark.operators.dsir import dsir_select

        return dsir_select(df, k, **kw)

    def redact_pii(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """Replace emails/phones in `text_col` with placeholder tags
        (functions/text.redact_pii), in place of the original column."""
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.text import redact_pii

        return df.withColumn(text_col, redact_pii(F.col(text_col)))

    def semantic_dedup(
        self, df: DataFrame, threshold: float = 0.95, **kw
    ) -> DataFrame:
        """Corpus minus embedding-space near-duplicates, cluster-bounded
        SemDeDup recipe (operators/semdedup.semantic_dedup — min id per
        near-dup chain survives). Pass centroids= (e.g. a persisted IVF
        index's centroids) to keep decisions stable across incremental
        runs."""
        from vectrekker_spark.operators.semdedup import semantic_dedup

        return semantic_dedup(df, threshold=threshold, **kw)

    def semantic_dedup_decisions(
        self, df: DataFrame, threshold: float = 0.95, **kw
    ) -> DataFrame:
        """Per-row (id, cid, keep, dup_of, score) audit frame for
        semantic_dedup — what dropped, near what, how close."""
        from vectrekker_spark.operators.semdedup import (
            semantic_dedup_decisions,
        )

        return semantic_dedup_decisions(df, threshold=threshold, **kw)

    def semantic_dedup_against(
        self,
        new: DataFrame,
        kept: DataFrame,
        centroids: DataFrame,
        threshold: float = 0.95,
        **kw,
    ) -> DataFrame:
        """Incremental semantic dedup: per-NEW-row (id, cid, keep, dup_of,
        score) against a kept history under a FIXED quantizer
        (operators/semdedup.semantic_dedup_against). Append-only ids keep
        accumulated batches exactly equal to a one-shot run."""
        from vectrekker_spark.operators.semdedup import semantic_dedup_against

        return semantic_dedup_against(
            new, kept, centroids, threshold=threshold, **kw
        )

    def fit_quality(self, labeled: DataFrame, **kw):
        """(weights, bias) from a BOUNDED labeled sample — driver-side
        hashed-BoW logistic fit (operators/qualityscore.fit_linear_quality;
        train small, apply at scale)."""
        from vectrekker_spark.operators.qualityscore import fit_linear_quality

        return fit_linear_quality(labeled, **kw)

    def score_quality(self, df: DataFrame, weights, bias: float = 0.0, **kw) -> DataFrame:
        """All columns + ``quality_score`` = sigmoid(mean hashed-token
        weight + bias), one zero-shuffle narrow map
        (operators/qualityscore.score_linear)."""
        from vectrekker_spark.operators.qualityscore import score_linear

        return score_linear(df, weights, bias=bias, **kw)

    def quality_filter(
        self, df: DataFrame, weights, bias: float = 0.0, min_score: float = 0.5, **kw
    ) -> DataFrame:
        """Rows at/above min_score under the linear quality model
        (operators/qualityscore.quality_filter); NULL-text rows drop."""
        from vectrekker_spark.operators.qualityscore import quality_filter

        return quality_filter(df, weights, bias=bias, min_score=min_score, **kw)

    def fit_ngram_lm(self, ref: DataFrame, **kw):
        """Bounded bigram LM with stupid backoff from a reference corpus
        (operators/ngramlm.fit_ngram_lm) — two capped count aggregations."""
        from vectrekker_spark.operators.ngramlm import fit_ngram_lm

        return fit_ngram_lm(ref, **kw)

    def score_perplexity(self, df: DataFrame, lm, **kw) -> DataFrame:
        """All columns + ``perplexity`` under the LM — one zero-shuffle
        Arrow map (operators/ngramlm.score_perplexity)."""
        from vectrekker_spark.operators.ngramlm import score_perplexity

        return score_perplexity(df, lm, **kw)

    def perplexity_filter(self, df: DataFrame, lm, max_ppl: float, **kw) -> DataFrame:
        """Rows at/below max_ppl (the CCNet keep rule); NULL/token-less
        rows drop (operators/ngramlm.perplexity_filter)."""
        from vectrekker_spark.operators.ngramlm import perplexity_filter

        return perplexity_filter(df, lm, max_ppl, **kw)

    # --- crawl→corpus surface (r13) ------------------------------------

    def read_warc(self, path: str, **kw) -> DataFrame:
        """WARC/WET records → (warc_file, record_id, url, ts, warc_type,
        mime, charset, text) (sources/text_formats.read_warc)."""
        from vectrekker_spark.sources.text_formats import read_warc

        return read_warc(self.spark, path, **kw)

    def warc_docs(self, path: str, **kw) -> DataFrame:
        """WARC/WET → the document schema, content-hash doc ids
        (sources/text_formats.warc_docs)."""
        from vectrekker_spark.sources.text_formats import warc_docs

        return warc_docs(self.spark, path, **kw)

    def warc_html_docs(self, path: str, **kw) -> DataFrame:
        """WARC responses → html_to_text → document schema — the
        WET-generation step (functions/html.warc_html_docs)."""
        from vectrekker_spark.functions.html import warc_html_docs

        return warc_html_docs(self.spark, path, **kw)

    def html_to_text(self, df: DataFrame, html_col: str = "text",
                     out_col: str = "text") -> DataFrame:
        """Expression-tier HTML→text over a column (functions/html)."""
        from pyspark.sql import functions as F

        from vectrekker_spark.functions.html import html_to_text

        return df.withColumn(out_col, html_to_text(F.col(html_col)))

    def dedup_by_url(self, df: DataFrame, **kw) -> DataFrame:
        """URL-level exact dedup after RFC 3986 normalization
        (functions/urls.dedup_by_url)."""
        from vectrekker_spark.functions.urls import dedup_by_url

        return dedup_by_url(df, **kw)

    def host_stats(self, df: DataFrame, **kw) -> DataFrame:
        """(host, domain, n_docs) crawl inventory (functions/urls)."""
        from vectrekker_spark.functions.urls import host_stats

        return host_stats(df, **kw)

    def filter_hosts(self, df: DataFrame, blocklist: DataFrame, **kw) -> DataFrame:
        """Broadcast blocklist filter by host or registered domain
        (functions/urls.filter_hosts)."""
        from vectrekker_spark.functions.urls import filter_hosts

        return filter_hosts(df, blocklist, **kw)

    # --- product quantization (r13, V7) --------------------------------

    def pq_train(self, corpus: DataFrame, **kw) -> DataFrame:
        """PQ codebooks via per-subspace k-means (operators/pq.pq_train)."""
        from vectrekker_spark.operators.pq import pq_train

        return pq_train(corpus, **kw)

    def pq_encode(self, corpus: DataFrame, codebooks: DataFrame, **kw) -> DataFrame:
        """m-byte PQ codes per vector, broadcast codebooks, narrow map
        (operators/pq.pq_encode)."""
        from vectrekker_spark.operators.pq import pq_encode

        return pq_encode(corpus, codebooks, **kw)

    def pq_search(self, queries: DataFrame, codes: DataFrame,
                  codebooks: DataFrame, k: int = 10, **kw) -> DataFrame:
        """ADC top-k over the code table; refine=r for exact rerank
        (operators/pq.pq_search)."""
        from vectrekker_spark.operators.pq import pq_search

        return pq_search(queries, codes, codebooks, k=k, **kw)

    def pq_save(self, codebooks: DataFrame, codes: DataFrame, path: str, **kw):
        """Persist a PQ index with atomic geometry-pinned meta
        (operators/pq.pq_save)."""
        from vectrekker_spark.operators.pq import pq_save

        return pq_save(codebooks, codes, path, **kw)

    def pq_load(self, path: str):
        """(codebooks, codes, meta) for a pq_save'd index
        (operators/pq.pq_load)."""
        from vectrekker_spark.operators.pq import pq_load

        return pq_load(self.spark, path)

    def ivfpq_search(self, queries: DataFrame, codes: DataFrame,
                     codebooks: DataFrame, centroids: DataFrame,
                     assign: DataFrame, k: int = 10, **kw) -> DataFrame:
        """IVF∘PQ: coarse-cell pruning over the PQ code scan
        (operators/pq.ivfpq_search)."""
        from vectrekker_spark.operators.pq import ivfpq_search

        return ivfpq_search(queries, codes, codebooks, centroids, assign,
                            k=k, **kw)
