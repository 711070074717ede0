"""URL functions for the web-corpus pipeline — the operations that sit
between WARC ingest (sources/text_formats.warc_docs emits a `url` column)
and text-level curation: host extraction, URL normalization, URL-level
dedup, and per-host stats for quota stratification.

Everything here is pure Catalyst expression surface (try_parse_url /
regexp_replace / lower — JVM-side, whole-stage-codegen'd, no Python in
the hot path), so a 100 TB crawl pays header-string cost only. DuckDB
mirrors in the tests pin the semantics.

Why URL dedup is first-class: in a web crawl, the same page is fetched
many times across snapshots, and URL-level dedup (after normalization)
removes the bulk of exact refetches for the cost of a narrow string
groupBy — orders of magnitude cheaper than content hashing the payloads
it makes redundant. Content-level dedup (q25/d01/M7) then handles
mirrors and near-dups the URL can't see.

Registered-domain caveat: true eTLD+1 extraction needs the Public Suffix
List (a living external dataset, not available here and a moving target
besides); `host_domain` implements the documented LAST-TWO-LABELS
heuristic with a small built-in set of common two-level public suffixes
(co.uk, com.au, ...). That is the honest 95% answer — callers needing
exact PSL semantics should join their own suffix table (the broadcast
shape is one line on top of `url_host`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# common two-level public suffixes for the last-two-labels heuristic;
# deliberately small and documented — NOT the PSL
_TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za", "com.sg", "com.hk", "co.nz",
)


def url_host(url) -> Column:
    """Lower-cased host of a URL (try_parse_url HOST — JVM built-in);
    NULL for NULL/unparseable input. try_, NOT parse_url: Spark 4's
    parse_url THROWS [INVALID_URL] on malformed input, and one junk URL
    in a 100 TB crawl must classify to NULL, never kill the job (found
    by kernel_fuzz's url_norm family on its first run)."""
    return F.lower(F.try_parse_url(
        F.col(url) if isinstance(url, str) else url, F.lit("HOST")))


def url_path(url) -> Column:
    return F.try_parse_url(F.col(url) if isinstance(url, str) else url,
                           F.lit("PATH"))


def host_domain(url) -> Column:
    """Registered-domain heuristic: the last two host labels, or the last
    THREE when the last two are a known two-level public suffix (see
    module caveat). 'www.example.co.uk' → 'example.co.uk',
    'a.b.example.com' → 'example.com'."""
    h = url_host(url)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    is_two_level = last2.isin(*_TWO_LEVEL_SUFFIXES)
    last3 = F.when(n >= 3, F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1)))
    return F.when(n <= 2, h).when(is_two_level, last3).otherwise(last2)


def host_domain_with_suffixes(
    docs: DataFrame,
    suffixes: DataFrame,
    url_col: str = "url",
    suffix_col: str = "suffix",
    out_col: str = "domain",
) -> DataFrame:
    """All input columns + ``out_col`` = the registered domain under a
    CALLER-SUPPLIED public-suffix table — the exact-PSL path the
    ``host_domain`` heuristic documents (module caveat): quota
    stratification by "domain" must not fuse every ``*.github.io`` user
    site into one stratum, and only a suffix table knows that.

    PSL longest-match semantics over plain suffix rows: the public
    suffix is the LONGEST table entry that tail-matches the host, and
    the registered domain is it plus one more label. A host that IS a
    public suffix has no registered domain (NULL — nothing registers at
    'github.io' itself). Hosts matching no entry fall back to the PSL
    default rule (last label is the suffix → last two labels), which is
    also ``host_domain``'s shape. Wildcard ('*.ck') and exception
    ('!www.ck') PSL rows are NOT supported — they are <1% of the list
    and their absence fails loudly here rather than resolving wrong.

    Scale shape: one broadcast LEFT join per suffix DEPTH (the max label
    count in the table, ≤5 for the real PSL), longest depth wins — the
    doc side never shuffles, so this composes with the quota/host_stats
    consumers as a pure narrow map."""
    bad = (
        suffixes.where(
            F.col(suffix_col).startswith("!")
            | F.col(suffix_col).contains("*")
        )
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            "host_domain_with_suffixes: wildcard ('*.') and exception "
            "('!') PSL rows are not supported — filter them out (plain "
            "suffix rows cover >99% of the list) or resolve them upstream"
        )
    depths = (
        suffixes.select(
            F.size(F.split(F.lower(F.col(suffix_col)), r"\.")).alias("d")
        )
        .agg(F.max("d"))
        .first()[0]
    )
    if not depths:
        raise ValueError("host_domain_with_suffixes: empty suffix table")
    h = url_host(url_col)
    d = docs.withColumn("__host", h)
    parts = F.split(F.col("__host"), r"\.")
    n = F.size(parts)
    for k in range(1, depths + 1):
        cand = F.when(n >= k, F.concat_ws(".", F.slice(parts, -k, k)))
        sfx_k = F.broadcast(
            suffixes.select(F.lower(F.col(suffix_col)).alias(f"__m{k}"))
            .where(F.size(F.split(F.col(f"__m{k}"), r"\.")) == k)
            .distinct()
        )
        d = d.withColumn(f"__c{k}", cand).join(
            sfx_k, F.col(f"__c{k}") == F.col(f"__m{k}"), "left"
        )
    # longest matching depth wins; host == suffix → NULL; no match → the
    # PSL default rule (≡ host_domain's n<=2 → host, else last-2 shape)
    expr = F.when(F.col("__host").isNull(), F.lit(None).cast("string"))
    for k in range(depths, 0, -1):
        hit = F.col(f"__m{k}").isNotNull()
        expr = expr.when(
            hit & (n > k),
            F.concat(F.element_at(parts, -(k + 1)), F.lit("."),
                     F.col(f"__c{k}")),
        ).when(hit, F.lit(None).cast("string"))
    expr = expr.when(n <= 2, F.col("__host")).otherwise(
        F.concat_ws(".", F.slice(parts, -2, 2))
    )
    helper = ["__host"] + [f"__c{k}" for k in range(1, depths + 1)] + [
        f"__m{k}" for k in range(1, depths + 1)
    ]
    return d.withColumn(out_col, expr).drop(*helper)


def normalized_url(url) -> Column:
    """Canonical form for URL-level dedup, applying only transformations
    that preserve the resource identity by the HTTP/URI specs (RFC 3986
    §6 syntax-based normalization):

      - scheme and host lower-cased (case-insensitive per spec)
      - fragment removed (never sent to the server)
      - userinfo KEPT verbatim (``user:pass@`` identifies a different
        resource view; dropping it would alias credentialed and
        anonymous fetches — r13 verdict bug, now pinned by tests)
      - default ports stripped (:80 for http, :443 for https); other
        ports canonicalized to integer form (':08080' → ':8080')
      - trailing '/' removed from non-root paths ('/a/' and '/a' are
        NOT spec-identical, but are the single most common duplicate
        alias in crawls — documented choice, matching common crawler
        canonicalization)
      - empty path → '/'

    Query strings are KEPT verbatim (reordering/dropping params changes
    the resource for many sites; utm-stripping is a policy knob callers
    can layer with one regexp_replace).

    The port comes from try_parse_url AUTHORITY anchored at its END
    (r':([0-9]+)$'), never from a raw prefix regex — an unanchored scan
    reads a numeric password ('http://user:123@h/') or an IPv6 group
    ('http://[::1]/x') as a port and corrupts the dedup key (r13 verdict
    + advisor finding, both reproduced). Authorities java.net.URI
    rejects (junk port 'h:0x', double '@') parse to NULL host and take
    the passthrough arm — one junk URL must never kill or corrupt a
    crawl-scale job."""
    c = F.col(url) if isinstance(url, str) else url
    # regexp_replace can't lower() a capture, so rebuild from parts
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = url_host(c)
    userinfo = F.try_parse_url(c, F.lit("USERINFO"))
    # parse_url has no PORT part (silently NULL — would DROP :8443 from
    # the rebuild); take it from the END of the parsed authority, past
    # any userinfo '@' and any bracketed IPv6 literal
    auth = F.try_parse_url(c, F.lit("AUTHORITY"))
    port_txt = F.nullif(F.regexp_extract(auth, r":([0-9]+)$", 1), F.lit(""))
    port = port_txt.try_cast("long")  # NULL on overflow in ANSI mode too
    # a digit tail that is not a REAL port (cast overflow → NULL, or
    # value > 65535) must NOT silently alias onto the
    # portless URL's dedup key (r14s3 review: ':9{20}' normalized equal
    # to the real page and could evict it in dedup_by_url) — such URLs
    # take the passthrough arm like any other junk
    bad_port = port_txt.isNotNull() & (port.isNull() | (port > 65535))
    path = F.coalesce(url_path(c), F.lit(""))
    query = F.try_parse_url(c, F.lit("QUERY"))
    drop_port = (
        port.isNull()
        | ((scheme == "http") & (port == 80))
        | ((scheme == "https") & (port == 443))
    )
    norm_path = F.when(path == "", F.lit("/")).otherwise(
        F.when(
            (F.length(path) > 1) & path.endswith("/"),
            path.substr(F.lit(1), F.length(path) - 1),
        ).otherwise(path)
    )
    rebuilt = F.concat(
        scheme, F.lit("://"),
        F.when(userinfo.isNull(), F.lit("")).otherwise(
            F.concat(userinfo, F.lit("@"))),
        host,
        F.when(drop_port, F.lit("")).otherwise(
            F.concat(F.lit(":"), port.cast("string"))),
        norm_path,
        F.when(query.isNull(), F.lit("")).otherwise(
            F.concat(F.lit("?"), query)),
    )
    # unparseable (no scheme://host) inputs pass through unchanged rather
    # than collapsing to NULL — a relative or junk "url" is still a key
    return F.when(
        scheme.isNull() | (scheme == "") | host.isNull() | (host == "")
        | bad_port,
        c,
    ).otherwise(rebuilt)


def resolve_url(base, ref) -> Column:
    """Resolve an href ``ref`` against its page URL ``base`` (RFC 3986 §5
    reference resolution, the subset crawl frontiers need — pure
    Catalyst): absolute references pass through, '//host/...' adopts the
    base scheme, '/path' is root-relative, anything else joins the base
    path's directory. Dot-segments ('../') are NOT collapsed — same
    documented stance as normalized_url (they stay distinct keys; a
    dedup pass downstream treats them syntactically). NULL/unparseable
    base with a relative ref → NULL (nothing to resolve against)."""
    b = F.col(base) if isinstance(base, str) else base
    r = F.col(ref) if isinstance(ref, str) else ref
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    authority = F.try_parse_url(b, F.lit("AUTHORITY"))
    root = F.concat(scheme, F.lit("://"), authority)
    bpath = F.coalesce(F.try_parse_url(b, F.lit("PATH")), F.lit(""))
    # base path's directory, always '/'-terminated ('' and '/x' → '/')
    bdir = F.regexp_replace(bpath, r"[^/]*$", "")
    bdir = F.when(bdir == "", F.lit("/")).otherwise(bdir)
    ok_base = (scheme != "") & authority.isNotNull()
    return (
        F.when(r.isNull() | (r == ""), F.lit(None).cast("string"))
        .when(r.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), r)  # absolute URI
        .when(~ok_base, F.lit(None).cast("string"))
        .when(r.startswith("//"), F.concat(scheme, F.lit(":"), r))
        .when(r.startswith("/"), F.concat(root, r))
        # query-only refs keep the WHOLE base path (RFC 3986 §5.3 merge —
        # '?page=2' on '/a/b' is '/a/b?page=2', not the directory; r14s3
        # review: the directory-join arm dropped the base filename for
        # every pagination/sort href)
        .when(
            r.startswith("?"),
            F.concat(
                root,
                F.when(bpath == "", F.lit("/")).otherwise(bpath),
                r,
            ),
        )
        .otherwise(F.concat(root, bdir, r))
    )


def html_links(
    docs: DataFrame,
    html_col: str = "text",
    url_col: str = "url",
    out_col: str = "links",
) -> DataFrame:
    """All input columns + ``out_col`` = the page's outgoing links as
    absolute URLs — the crawl FRONTIER builder that closes the loop
    C21 opened (fetch → extract text → **extract links** → dedup_by_url
    → filter_hosts → fetch...). Pure Catalyst: one regexp_extract_all
    over anchor hrefs (single- or double-quoted), fragments stripped,
    javascript:/mailto:/data:/tel: links dropped, the rest resolved
    against the page URL with resolve_url; duplicates within a page
    collapse. Zero Python, no shuffle — frontier extraction at crawl
    scale is a narrow map; `explode(links)` + dedup_by_url is the next
    snapshot's seed list."""
    c = F.col(html_col)
    # '\shref' (whitespace REQUIRED before the attribute name): '[^>]*?href'
    # also matched data-href/ng-href and injected tracker URLs the page
    # never links (r14s3 review)
    hrefs = F.array_union(
        F.regexp_extract_all(c, F.lit(r'(?is)<a\b[^>]*?\shref\s*=\s*"([^"]*)'), 1),
        F.regexp_extract_all(c, F.lit(r"(?is)<a\b[^>]*?\shref\s*=\s*'([^']*)"), 1),
    )

    def _decode(h):
        # attribute values are entity-escaped ('&' in a query string
        # arrives as '&amp;' — the sitemap_urls rule; skipping the decode
        # put unfetchable URLs in the frontier, r14s3 review). &amp; last
        # (the chained-entity ordering rule, functions/html).
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&apos;", "'"), ("&#39;", "'"), ("&amp;", "&")):
            h = F.replace(h, F.lit(ent), F.lit(ch))
        return h

    resolved = F.filter(
        F.transform(
            hrefs,
            lambda h: resolve_url(
                F.col(url_col),
                F.regexp_replace(F.trim(_decode(h)), r"#.*$", ""),
            ),
        ),
        lambda u: u.isNotNull()
        & ~F.lower(u).rlike(r"^(javascript|mailto|data|tel):"),
    )
    return docs.withColumn(
        out_col,
        F.when(c.isNull(), F.lit(None).cast("array<string>")).otherwise(
            F.array_distinct(resolved)
        ),
    )


def dedup_by_url(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level exact dedup after normalization: smallest id per
    normalized URL survives (the engine-wide keeper policy). NULL urls
    are never 'duplicate NULL content' — they all survive (the
    exact-dedup NULL rule). One narrow string shuffle."""
    from pyspark.sql import Window

    norm = docs.withColumn("__nurl", normalized_url(url_col))
    w = Window.partitionBy("__nurl").orderBy(F.col(id_col).asc())
    keep = (
        norm.where(F.col("__nurl").isNotNull())
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    return keep.unionByName(norm.where(F.col("__nurl").isNull())).drop("__nurl")


def host_stats(
    docs: DataFrame,
    url_col: str = "url",
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """(host, domain, n_docs) — the inventory that feeds per-domain quota
    stratification (operators/quota with stratum_col='domain') and
    domain-skew diagnosis before a crawl-scale run. Pass ``suffixes`` (a
    PSL table — see host_domain_with_suffixes) for exact registered
    domains; default is the documented last-two-labels heuristic."""
    if suffixes is not None:
        base = host_domain_with_suffixes(
            docs.select(F.col(url_col)), suffixes, url_col=url_col
        ).select(url_host(url_col).alias("host"), "domain")
    else:
        base = docs.select(
            url_host(url_col).alias("host"),
            host_domain(url_col).alias("domain"),
        )
    return base.groupBy("host", "domain").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def filter_hosts(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """Drop documents whose host OR registered domain appears in the
    blocklist (host_col column). Blocklists are small (thousands to
    millions of names vs billions of docs) → broadcast anti-joins; the
    doc side never shuffles. NULL-url docs pass (no host to match —
    classify upstream if that's not wanted). Pass ``suffixes`` for
    exact-PSL registered domains (a blocklisted 'github.io' then blocks
    only that host, not every *.github.io user site — and a blocklisted
    'alice.github.io' blocks alice's whole site)."""
    bl = F.broadcast(
        blocklist.select(F.lower(F.col(host_col)).alias("__blocked")).distinct()
    )
    if suffixes is not None:
        d = host_domain_with_suffixes(
            docs, suffixes, url_col=url_col, out_col="__domain"
        ).withColumn("__host", url_host(url_col))
    else:
        d = docs.withColumn("__host", url_host(url_col)).withColumn(
            "__domain", host_domain(url_col)
        )
    d = d.join(bl, d["__host"] == bl["__blocked"], "left_anti")
    d = d.join(bl, d["__domain"] == bl["__blocked"], "left_anti")
    return d.drop("__host", "__domain")


def robots_sitemaps(robots_txt: Column | str) -> Column:
    """Array of Sitemap URLs declared in a robots.txt body. ``Sitemap:``
    lines are GLOBAL per the sitemaps protocol (not scoped to a
    User-agent group), so this is one case-insensitive line-anchored
    regexp over the whole body — pure Catalyst, pairs with
    functions/robots for the rule side. NULL body → NULL."""
    c = F.col(robots_txt) if isinstance(robots_txt, str) else robots_txt
    return F.regexp_extract_all(
        c, F.lit(r"(?im)^[ \t]*sitemap:[ \t]*(\S+)"), 1
    )


def sitemap_urls(xml: Column | str) -> Column:
    """Array of ``<loc>`` URLs from a sitemap (urlset) or sitemap-index
    document, with the five XML entities decoded (sitemap locs are
    XML-escaped by spec — '&' in a query string arrives as '&amp;').
    Works on both leaf sitemaps and index files: callers recurse on
    index entries (they end in .xml by convention, but the honest
    discriminator is fetching them). Pure Catalyst. NULL → NULL."""
    c = F.col(xml) if isinstance(xml, str) else xml
    locs = F.regexp_extract_all(
        c, F.lit(r"(?is)<loc>\s*([^<]*?)\s*</loc>"), 1
    )
    def _decode(u):
        # &amp; last — the chained-entity ordering rule (functions/html)
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&apos;", "'"), ("&amp;", "&")):
            u = F.replace(u, F.lit(ent), F.lit(ch))
        return u
    return F.transform(locs, _decode)
