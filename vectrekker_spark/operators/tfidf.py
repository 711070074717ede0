"""Corpus-level term weighting (TF-IDF family) for vocabulary building and
keyword extraction in training-data pipelines.

Shape at scale: one explode of whitespace tokens (narrow (doc_id, term)
stream — the raw text never shuffles), a partial-aggregating groupBy on
(term, doc) then term for (total_tf, df) — two pipelined aggregations, not
one Expand-doubled distinct aggregate — and a broadcast of the single-row
corpus-size aggregate. No collects, no second scan of the text.

Determinism note (why sqrt and not log): the idf damping uses
`sqrt(n_docs / df)` instead of the textbook `ln(n_docs / df)`. sqrt is
IEEE-754 correctly-rounded in every engine, so Spark (JVM Math.sqrt) and the
DuckDB oracle produce bit-identical doubles; `ln` is only ~1-ulp across libms
(JVM intrinsic vs glibc), which breaks hash-equality at rounding boundaries.
The ranking behavior (rare terms up-weighted, monotone in 1/df) is the same.
Both factors of the score are exact: total_tf is an integer and the division
+ sqrt + multiply are single IEEE ops.

Reference scope note: no term-weighting exists in the reference
(vectrekker/main.py); north-star training-pipeline addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectrekker_spark.functions.text import tokens


def term_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """(term, df, total_tf, tfidf) per distinct lowercased whitespace token.

    tfidf = total_tf * sqrt(n_docs / df) — corpus-summed TF with sqrt-damped
    inverse document frequency (see module docstring for why sqrt).
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    ).filter(F.col("term") != "")
    # Two-phase aggregation instead of count + countDistinct in one agg:
    # a mixed distinct aggregate makes Catalyst Expand every token row ×2
    # before the exchange, doubling the shuffled volume. Grouping by
    # (term, doc) first gets map-side partial aggregation down to distinct
    # pairs, and the second agg reads those pairs once for both totals —
    # measured 0.58 → 0.39 s on the sf0.1 corpus, and at 100 TB the Expand
    # would double the single biggest shuffle in the operator.
    pair = tok.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    tf = pair.groupBy("term").agg(
        F.sum("tf").alias("total_tf"),
        F.count(F.lit(1)).alias("df"),
    )
    if min_df > 1:
        tf = tf.filter(F.col("df") >= min_df)
    n = docs.agg(F.countDistinct(id_col).alias("n_docs"))
    return tf.crossJoin(F.broadcast(n)).select(
        "term",
        "df",
        "total_tf",
        F.round(
            F.col("total_tf")
            * F.sqrt(F.col("n_docs").cast("double") / F.col("df")),
            6,
        ).alias("tfidf"),
    )


def top_terms(docs: DataFrame, k: int = 100, **kw) -> DataFrame:
    """Top-k corpus terms by tfidf (ties broken by term for determinism)."""
    return term_scores(docs, **kw).orderBy(
        F.desc("tfidf"), F.asc("term")
    ).limit(k)


def bm25_scores(
    docs: DataFrame,
    query: str | list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    cache_intermediate: bool = True,
    stable_sum: bool = False,
) -> DataFrame:
    """(id, score): Okapi BM25 relevance of every document to the query
    terms — the standard lexical relevance gate for query-targeted corpus
    curation (keep documents relevant to a topic set).

    score(d) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl)) · (k1+1)
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Scale shape: ONE narrow projection computes doc length
    (size(tokens(text))) and the query-hit token array per row, and that
    skinny (id, dl, hit_toks) intermediate is persisted by default
    (``cache_intermediate=True``), so the TEXT column is scanned exactly
    once no matter how many consumers hang off it (the avgdl/N aggregate
    and the tf branch both read the cache — without it Catalyst re-scans
    per differently-pruned branch). The cached block is a tiny fraction of
    the corpus (no text), and the handle rides the result as
    ``_cached_base`` — long-lived drivers call ``release()`` once the
    scores are consumed. Pass cache_intermediate=False to opt out (e.g.
    when the caller already caches an equivalent projection).
    Doc length rides the (id, term) aggregation as a grouping key (it is
    functionally dependent on id), so no separate lengths join exists; only
    query-term hits are exploded and shuffled (∝ hits, not corpus tokens,
    plus one sentinel row per document — see below); the per-term idf table
    (≤ |query| rows + the sentinel) and the single-row avgdl/N aggregate
    broadcast.

    Zero-fill WITHOUT a join: every document's hit array carries one extra
    sentinel token ``''`` (never a real token — tokens are non-empty by
    construction, and empty query terms are dropped), whose idf row is
    pinned to 0.0. Each document therefore reaches the final per-doc
    aggregate with at least one partial whose contribution is exactly
    +0.0, so documents with no query hits score 0.0 WITHOUT the
    corpus-sized zero-fill join (and its shuffle+sort of the whole id set)
    the r6 implementation paid. Output is one row per DISTINCT id — ids
    are expected unique (the reference's PRIMARY KEY contract). NULL text
    scores 0.0 (its NULL dl makes the sentinel partial NULL; the final
    coalesce restores 0.0) and is excluded from the corpus stats (N,
    avgdl); empty text scores 0.0 and participates with dl = 0.

    Determinism note: by default the per-doc sum is IEEE double addition in
    shuffle order (idf is libm ln), so scores are reproducible only to ~1
    ulp before the round(6); a document whose rounded score lands exactly
    on a filter threshold can in principle flip across runs — pick
    thresholds away from observed score values (the tfidf sqrt trick
    doesn't apply: a multi-term sum has no order-free exact form).
    ``stable_sum=True`` makes the per-doc sum order-deterministic instead:
    the term partials are collected, sorted by term, and folded in order
    (F.aggregate), which an oracle can mirror exactly with an ORDER BY
    list aggregate — use it when scores must hash-compare across engines
    or runs. Costs a per-doc collect_list over ≤|query| partials (bounded
    by the query length, not the document), so the plan shape at scale is
    unchanged.
    """
    terms = query.split() if isinstance(query, str) else list(query)
    terms = sorted({t.lower() for t in terms if t})
    if not terms:
        raise ValueError("bm25_scores: query has no terms")

    from vectrekker_spark.functions.text import token_count

    toks = tokens(F.lower(F.col(text_col)))
    hits = F.filter(toks, lambda t: t.isin(terms))
    base = docs.select(
        F.col(id_col),
        # token_count: codegen regexp count (not an interpreted HOF), and
        # NULL text stays NULL instead of size(null) = -1 poisoning avgdl
        token_count(F.col(text_col)).alias("dl"),
        # '' sentinel appended (NULL-text hits coalesce to empty first):
        # every doc emits ≥1 exploded row → join-free zero-fill (docstring)
        F.concat(F.coalesce(hits, F.array()), F.array(F.lit(""))).alias(
            "hit_toks"
        ),
    )
    if cache_intermediate:
        base = base.persist()
    stats = base.filter(F.col("dl").isNotNull()).agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        base.select(F.col(id_col), "dl", F.explode("hit_toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = (
        tf.filter(F.col("term") != "")
        .groupBy("term")
        # countDistinct over the already-unique (id, term) pairs looks
        # redundant, but Catalyst FUSES tf's groupBy into the distinct
        # rewrite here (the physical plan aggregates on [term, id]
        # directly and prunes dl) — a plain count(1) keeps tf's 3-key
        # aggregate alive and shuffles the extra dl column for identical
        # values (plan-diffed + interleaved A/B'd at sf0.1: no win either
        # cached or uncached). Don't "simplify" this without re-measuring.
        .agg(F.countDistinct(id_col).alias("df"))
    ).unionByName(
        # the sentinel's df row (idf pinned to 0.0 below → contributes
        # exactly +0.0 per document); a literal 1-row frame so the stats
        # aggregate is consumed exactly once by the crossJoin
        docs.sparkSession.range(1).select(
            F.lit("").alias("term"), F.lit(None).cast("long").alias("df")
        )
    )
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "term",
        F.when(F.col("term") == "", F.lit(0.0))
        .otherwise(
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
        )
        .alias("idf"),
        "avgdl",
    )
    part = tf.join(F.broadcast(idf), "term").select(
        F.col(id_col),
        "term",
        (
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        ).alias("part"),
    )
    if stable_sum:
        # order-deterministic fold: sort the ≤|query|+1 partials by term and
        # accumulate left-to-right (see docstring; the '' sentinel sorts
        # first and adds exactly 0.0, so the fold is value-identical to the
        # sentinel-free sum)
        scored = (
            part.groupBy(id_col)
            .agg(
                F.array_sort(F.collect_list(F.struct("term", "part"))).alias("__ps")
            )
            .select(
                F.col(id_col),
                F.round(
                    F.aggregate(
                        "__ps", F.lit(0.0), lambda acc, x: acc + x["part"]
                    ),
                    6,
                ).alias("score"),
            )
        )
    else:
        scored = part.groupBy(id_col).agg(F.round(F.sum("part"), 6).alias("score"))
    # every doc is present via its sentinel row; the only NULL scores are
    # NULL-text docs (NULL dl → NULL partial) — restore their 0.0 here
    out = scored.select(
        F.col(id_col), F.coalesce("score", F.lit(0.0)).alias("score")
    )
    out._cached_base = base if cache_intermediate else None
    return out


def bm25_scores_pivot(
    docs: DataFrame,
    query: str | list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Pivoted BM25: bit-identical to ``bm25_scores(..., stable_sum=True)``
    for corpora with unique ids, at a fraction of the plan.

    The query term set is a small fixed literal list, so instead of
    exploding hit tokens and re-grouping (explode shuffle → 3-key groupBy →
    term join → per-doc collect_list + array_sort + fold), each term's tf
    rides the document row as a column (``size(filter(hits, = t))``), the
    corpus stats (avgdl, N, per-term df) collapse into ONE single-row
    aggregate that broadcasts back, and the per-doc score is the SAME
    term-sorted left-to-right IEEE fold as ``stable_sum=True`` — unrolled
    as a plain expression chain: ``((0.0 + p_t1) + p_t2) + ...`` over the
    sorted terms. Absent terms contribute an exact ``+0.0`` (tf = 0 makes
    the partial ``0.0 / positive``), and IEEE ``x + 0.0 == x`` bitwise for
    the non-negative partials here, so skipping them (what the exploded
    form does) and adding them (this form) fold to the same double. The
    sentinel ''-term of the exploded form is the same exact +0.0 — or NULL
    for NULL text (NULL dl poisons every partial), which the final
    coalesce restores to 0.0, matching ``bm25_scores``'s NULL rule. idf
    stays a JVM ``F.log`` expression over the broadcast (df, N) so the
    libm provenance of every double matches the exploded form op-for-op.

    Plan shape: 2 narrow text scans (stats + scoring; no cached
    intermediate needed), one single-row exchange, one broadcast — no
    explode shuffle, no ObjectHashAggregate, no per-doc array churn.
    Measured 2.02 → ~0.6 s on the sf0.1 bench row (d24) with hash-equal
    results; equivalence is property-pinned in tests/test_curation_ops.py.

    Contract: ids must be unique (the same PRIMARY KEY contract
    ``bm25_scores`` documents) — duplicate ids score per ROW here, where
    the exploded form merges their hit counts per id. The generic
    ``bm25_scores`` remains the arbitrary-|query| path: this pivot widens
    the row by |terms| columns, so keep queries to O(10²) terms.
    """
    terms = query.split() if isinstance(query, str) else list(query)
    terms = sorted({t.lower() for t in terms if t})
    if not terms:
        raise ValueError("bm25_scores_pivot: query has no terms")

    from vectrekker_spark.functions.text import token_count

    toks = tokens(F.lower(F.col(text_col)))
    hits = F.coalesce(F.filter(toks, lambda t: t.isin(terms)), F.array())
    base = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("dl"),
        hits.alias("__hits"),
    ).select(
        F.col(id_col),
        "dl",
        *[
            F.size(F.filter("__hits", lambda x: x == F.lit(t))).alias(f"__tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.avg("dl").alias("avgdl"),  # avg/count skip NULL dl natively
        F.count("dl").alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"__tf_{i}") > 0, 1).otherwise(0)).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def partial(i: int):
        tf = F.col(f"__tf_{i}")
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"__df_{i}") + 0.5) / (F.col(f"__df_{i}") + 0.5)
        )
        return idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )

    # the sentinel ''-term partial of the exploded form: exactly +0.0 for
    # non-NULL text, NULL for NULL text (tf = 1, idf pinned 0.0)
    acc = F.lit(0.0) + F.lit(0.0) * (
        (k1 + 1.0) / (F.lit(1.0) + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    for i in range(len(terms)):  # terms already sorted: the stable_sum order
        acc = acc + partial(i)
    return scored.select(
        F.col(id_col),
        F.coalesce(F.round(acc, 6), F.lit(0.0)).alias("score"),
    )


def release(result: DataFrame) -> None:
    """Unpersist the cached intermediate a ``bm25_scores`` result holds.

    Call after the scores have been consumed (collected/written); a no-op on
    DataFrames with nothing tracked — same caller-controlled cache lifecycle
    idiom as operators/spandedup.release."""
    cached = getattr(result, "_cached_base", None)
    if cached is not None:
        cached.unpersist()
