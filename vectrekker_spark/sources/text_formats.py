"""Row-oriented corpus sources: JSONL (one JSON doc per line — the lingua
franca of LLM training corpora), CSV, and plain-text-lines, normalized to the
engine's document schema (doc_id, text, + passthrough metadata).

All three are plain Spark DataFrame sources, so the scale properties come
free: parallel file listing, per-file splits (gzip'd JSONL stays one split
per file — prefer zstd/uncompressed shards at 100 TB), column pruning, and
partition-directory pruning. An explicit schema is REQUIRED for JSONL/CSV at
scale: schema inference reads the data twice and samples non-deterministically
— every reader here takes or builds one up front.

Doc-id policy: corpora often arrive without stable ids. ``id_col=None``
derives one as the 60-bit md5-prefix of the text (deterministic, stable
under re-sharding/re-ordering, collision-safe to ~2³⁰ docs per Birthday
bound — use the full md5 string for bigger corpora). That beats
``monotonically_increasing_id``, which renumbers whenever partitioning
changes.

Reference scope note: the reference ingests only a directory of whole files
(`vectrekker/main.py:138-147`; covered by sources/files.py); these row
formats are north-star pipeline additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _with_doc_id(df: DataFrame, id_col: str | None, text_col: str) -> DataFrame:
    if id_col is not None:
        return df.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else df
    # 15 hex digits = 60 bits: the full 16 can exceed Long.MAX and a bigint
    # cast of conv()'s unsigned string silently nulls on overflow.
    return df.withColumn(
        "doc_id",
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10).cast("bigint"),
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_col: str | None = None,
    meta_fields: dict[str, T.DataType] | None = None,
    id_type: T.DataType | None = None,
) -> DataFrame:
    """JSONL corpus → (doc_id, text, *meta). Explicit schema (no inference
    pass); malformed lines go to null-text rows and are dropped, not failed —
    at 100 TB a handful of corrupt lines must not kill the job (Spark's
    PERMISSIVE mode). ``id_type`` defaults to long; pass
    ``T.StringType()`` for string-id corpora ('doc-001' ids read as a
    LongType field null out — the r14s3 review's silent-NULL-id trap)."""
    fields = [T.StructField(text_field, T.StringType())]
    if id_col:
        fields.insert(0, T.StructField(id_col, id_type or T.LongType()))
    for name, dtype in (meta_fields or {}).items():
        fields.append(T.StructField(name, dtype))
    df = spark.read.schema(T.StructType(fields)).json(path)
    df = df.withColumnRenamed(text_field, "text") if text_field != "text" else df
    return _with_doc_id(df, id_col, "text").filter(F.col("text").isNotNull())


def read_csv_docs(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_col: str | None = None,
    meta_fields: dict[str, T.DataType] | None = None,
    id_type: T.DataType | None = None,
    **options: str,
) -> DataFrame:
    """CSV corpus → (doc_id, text, *meta). Headers on, multiline quoting
    enabled so embedded newlines in quoted text survive (note: multiline
    CSV files are NOT splittable — shard the files).

    Columns are selected BY HEADER NAME, not position: Spark's
    enforceSchema default maps a user schema positionally and ignores the
    header, so a file whose physical column order differs from the schema
    was silently misread — text under a metadata name, ids parsed from
    the wrong column (r14s3 review). A missing wanted column raises with
    the actual header. ``id_type`` as in read_jsonl; values that don't
    parse null out (try_cast) rather than killing the job."""
    reader = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.csv(path)  # all columns string, named by the header
    wanted = ([id_col] if id_col else []) + [text_field] + list(
        (meta_fields or {})
    )
    missing = [c for c in wanted if c not in raw.columns]
    if missing:
        raise ValueError(
            f"CSV at {path} has no column(s) {missing} — header is "
            f"{raw.columns}"
        )
    cols = []
    if id_col:
        cols.append(
            F.col(id_col)
            .try_cast((id_type or T.LongType()).simpleString())
            .alias(id_col)
        )
    cols.append(F.col(text_field).cast("string").alias(text_field))
    for name, dtype in (meta_fields or {}).items():
        cols.append(F.col(name).try_cast(dtype.simpleString()).alias(name))
    df = raw.select(*cols)
    df = df.withColumnRenamed(text_field, "text") if text_field != "text" else df
    return _with_doc_id(df, id_col, "text").filter(F.col("text").isNotNull())


def read_text_lines(
    spark: SparkSession, path: str, min_chars: int = 1
) -> DataFrame:
    """One document per line of plain text → (doc_id, text), blank/short
    lines dropped. doc_id is the content hash (see module docstring)."""
    df = spark.read.text(path).select(F.col("value").alias("text"))
    return _with_doc_id(
        df.filter(F.length(F.trim("text")) >= min_chars), None, "text"
    )


# ---------------------------------------------------------------------------
# WARC / WET (ISO 28500) — the actual container format of web-scale LLM
# corpora (Common Crawl ships ~100 TB/crawl of .warc.gz / .wet.gz). A WARC
# file is a sequence of records:
#
#     WARC/1.0\r\n  <named-fields: one "Name: value" per CRLF line>\r\n
#     \r\n  <Content-Length bytes of block>  \r\n\r\n
#
# `response` records carry an HTTP response in the block (status line +
# headers + body); WET `conversion` records carry extracted plain text.
# .warc.gz frames ONE gzip member per record (ISO 28500-2:2024 recommends
# it; Common Crawl guarantees it) so readers can resync on member
# boundaries without decompressing the whole file.
#
# Scale shape: the unit of parallelism is the FILE (Common Crawl shards at
# ~1 GB; a crawl is ~90k files), exactly what binaryFile + mapInPandas
# gives — parallel listing, one task per file, Arrow-batched rows out, no
# driver involvement. Gzip members are not splittable anyway, so per-file
# tasks are the honest granularity; at 100 TB the job is ~90k independent
# tasks, each a bounded single-pass walk.
#
# Hostile-input discipline: every length field is bounds-checked against
# the remaining bytes, every walk is budgeted, and malformed input
# CLASSIFIES (records-so-far + a status string) —
# never raises, never loops, never yields a partial record. Fuzz-tested
# under truncation at every offset and random byte flips.


_GZIP_MAGIC = b"\x1f\x8b"
_WARC_MAGIC = b"WARC/"
_MAX_WARC_HEADER = 64 * 1024  # one record's named-field block
_MAX_HTTP_HEADER = 64 * 1024
_MAX_RECORDS_PER_FILE = 1_000_000
_MAX_DECOMPRESSED = 1 << 30  # 1 GiB per file: decompression-bomb guard


def _gunzip_members(data: bytes, max_bytes: int):
    """Concatenated-gzip decode, member by member. Returns (bytes, status):
    status None iff the stream decodes clean end-to-end; otherwise every
    fully-decoded member BEFORE the problem plus a classification
    ('corrupt_gzip', 'truncated_gzip', 'decompressed_too_large',
    'trailing_garbage'). After a corrupt member there is no reliable
    resync point (gzip has no magic-scannable framing), so the walk stops
    — the classify-don't-abort contract keeps the good prefix."""
    import zlib

    out: list[bytes] = []
    total = 0
    i, n = 0, len(data)
    while i < n:
        if data[i : i + 2] != _GZIP_MAGIC:
            return b"".join(out), "trailing_garbage"
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[i:], max_bytes - total + 1)
        except zlib.error:
            return b"".join(out), "corrupt_gzip"
        total += len(chunk)
        if total > max_bytes:
            return b"".join(out), "decompressed_too_large"
        out.append(chunk)
        if not d.eof:
            return b"".join(out), "truncated_gzip"
        consumed = (n - i) - len(d.unused_data)
        if consumed <= 0:  # defensive: a no-progress member would spin
            return b"".join(out), "corrupt_gzip"
        i += consumed
    return b"".join(out), None


def parse_warc_records(
    data: bytes,
    max_bytes: int = _MAX_DECOMPRESSED,
    max_records: int = _MAX_RECORDS_PER_FILE,
):
    """Bounded ISO 28500 record walk → (records, status). Each record is
    (named_fields: dict[bytes, bytes] lower-cased keys, block: bytes).
    Transparently unwraps .warc.gz (concatenated members). status is None
    for a clean file, else the classification at which the walk stopped;
    records always holds every complete record before that point."""
    status = None
    if data[:2] == _GZIP_MAGIC:
        data, status = _gunzip_members(data, max_bytes)
    recs: list[tuple[dict, bytes]] = []
    i, n = 0, len(data)
    while i < n:
        # inter-record separator: ISO 28500 mandates two CRLFs after the
        # block; tolerate any run of them (some writers pad)
        while data.startswith(b"\r\n", i):
            i += 2
        if i >= n:
            break
        if not data.startswith(_WARC_MAGIC, i):
            return recs, status or "bad_magic"
        hdr_end = data.find(b"\r\n\r\n", i, i + _MAX_WARC_HEADER)
        if hdr_end < 0:
            return recs, status or (
                "header_too_large" if n - i > _MAX_WARC_HEADER
                else "truncated_header"
            )
        lines = data[i:hdr_end].split(b"\r\n")
        fields: dict[bytes, bytes] = {}
        for line in lines[1:]:  # lines[0] is the version line
            k, sep, v = line.partition(b":")
            if not sep:
                return recs, status or "malformed_header"
            fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields.get(b"content-length", b"x"))
        except ValueError:
            return recs, status or "bad_content_length"
        body_start = hdr_end + 4
        if clen < 0 or body_start + clen > n:
            return recs, status or "truncated_block"
        if len(recs) >= max_records:
            return recs, "record_budget_exceeded"
        recs.append((fields, data[body_start : body_start + clen]))
        i = body_start + clen
    return recs, status


def _split_content_type(v: bytes):
    """(mime, charset) from a Content-Type header value."""
    parts = v.split(b";")
    mime = parts[0].strip().decode("ascii", "replace").lower() or None
    charset = None
    for p in parts[1:]:
        k, s, cv = p.partition(b"=")
        if s and k.strip().lower() == b"charset":
            charset = (
                cv.strip().strip(b'"').decode("ascii", "replace").lower() or None
            )
    return mime, charset


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer body (hex-size CRLF data CRLF …
     0 CRLF). Classify-don't-abort: any malformed framing returns the
    bytes decoded SO FAR plus nothing further corrupt — never raises."""
    out = []
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            break
        size_field = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_field, 16)
        except ValueError:
            break
        if size == 0:
            break
        chunk = body[nl + 2 : nl + 2 + size]
        out.append(chunk)
        if len(chunk) < size:
            break  # truncated final chunk: keep the prefix
        pos = nl + 2 + size + 2  # skip the chunk's trailing CRLF
    return b"".join(out)


def _http_payload(block: bytes):
    """(mime, charset, body) from an HTTP response block; (None, None,
    block) when the block isn't parseable HTTP (the record still yields,
    mime NULL — classify, don't drop).

    Transfer-Encoding chunked is de-framed and Content-Encoding
    gzip/x-gzip/deflate is decompressed (browser-crawl WARCs — Heritrix
    et al. — store the wire bytes; skipping this put still-compressed or
    hex-interleaved bytes through the text decode as U+FFFD mojibake
    that mime filtering happily kept — r14s3 review). Decompression
    failures fall back to the raw body (classify, don't abort)."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    sep = block.find(b"\r\n\r\n", 0, _MAX_HTTP_HEADER)
    if sep < 0:
        return None, None, block
    mime = charset = None
    content_enc = transfer_enc = b""
    for line in block[:sep].split(b"\r\n")[1:]:
        k, s, v = line.partition(b":")
        if not s:
            continue
        key = k.strip().lower()
        if key == b"content-type" and mime is None:
            mime, charset = _split_content_type(v)
        elif key == b"content-encoding":
            content_enc = v.strip().lower()
        elif key == b"transfer-encoding":
            transfer_enc = v.strip().lower()
    body = block[sep + 4 :]
    if b"chunked" in transfer_enc:
        body = _dechunk(body)
    if content_enc in (b"gzip", b"x-gzip"):
        import gzip as _gz

        try:
            body = _gz.decompress(body)
        except Exception:
            pass  # torn/lying encoding: keep the raw bytes
    elif content_enc == b"deflate":
        import zlib as _zl

        try:
            body = _zl.decompress(body)
        except Exception:
            try:
                body = _zl.decompress(body, -15)  # raw-deflate servers
            except Exception:
                pass
    return mime, charset, body


def _decode_text(body: bytes, charset: str | None) -> str:
    """Declared-charset decode with the classify-don't-abort contract: an
    unknown/mislabeled charset (servers lie) falls back to utf-8 with
    replacement — a 100 TB ingest must never die on one bad label.
    utf-8/ascii take the fast path."""
    if charset and charset not in ("utf-8", "utf8", "ascii", "us-ascii"):
        import codecs

        try:
            codecs.lookup(charset)
            return body.decode(charset, "replace")
        except (LookupError, ValueError):
            pass
    return body.decode("utf-8", "replace")


def _warc_doc_rows(path: str, data: bytes, kinds: frozenset, max_bytes: int):
    """Per-file extraction: list of row dicts + terminal status."""

    def dec(b):
        return b.decode("utf-8", "replace") if b is not None else None

    recs, status = parse_warc_records(data, max_bytes=max_bytes)
    rows = []
    for fields, block in recs:
        wtype = dec(fields.get(b"warc-type", b"")).lower()
        if wtype not in kinds:
            continue
        if wtype == "response":
            mime, charset, body = _http_payload(block)
        else:  # conversion (WET) / resource: the block IS the payload
            ct = fields.get(b"content-type")
            mime, charset = _split_content_type(ct) if ct else (None, None)
            body = block
        rows.append(
            {
                "warc_file": path,
                "record_id": dec(fields.get(b"warc-record-id")),
                "url": dec(fields.get(b"warc-target-uri")),
                "ts": dec(fields.get(b"warc-date")),
                "warc_type": wtype,
                "mime": mime,
                "charset": charset,
                "text": _decode_text(body, charset),
            }
        )
    return rows, status


WARC_ROW_SCHEMA = (
    "warc_file string, record_id string, url string, ts string, "
    "warc_type string, mime string, charset string, text string"
)


def read_warc(
    spark: SparkSession,
    path: str,
    kinds: tuple[str, ...] = ("response", "conversion"),
    max_decompressed: int = _MAX_DECOMPRESSED,
) -> DataFrame:
    """WARC/WET corpus → (warc_file, record_id, url, ts, warc_type, mime,
    text). One task per file (see module section note — the honest
    granularity for gzip-member framing), Arrow-batched out. Malformed
    files contribute their clean record prefix and are otherwise silent
    here; run `warc_file_report` for the per-file classification audit."""
    kindset = frozenset(k.lower() for k in kinds)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows, _ = _warc_doc_rows(p, bytes(content), kindset,
                                         max_decompressed)
                out.extend(rows)
            yield pd.DataFrame(
                out,
                columns=[
                    "warc_file", "record_id", "url", "ts", "warc_type",
                    "mime", "charset", "text",
                ],
            )

    return (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        .mapInPandas(gen, schema=WARC_ROW_SCHEMA)
    )


def warc_file_report(
    spark: SparkSession,
    path: str,
    max_decompressed: int = _MAX_DECOMPRESSED,
) -> DataFrame:
    """Per-file parse audit → (warc_file, n_records, n_response,
    n_conversion, status). `status` NULL means the walk reached EOF clean;
    anything else names where it stopped ('corrupt_gzip',
    'truncated_block', ...) — the no-silent-truncation companion to
    read_warc, same classification codes."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                recs, status = parse_warc_records(
                    bytes(content), max_bytes=max_decompressed
                )
                kinds = [
                    r[0].get(b"warc-type", b"").strip().lower() for r in recs
                ]
                out.append(
                    {
                        "warc_file": p,
                        "n_records": len(recs),
                        "n_response": sum(1 for k in kinds if k == b"response"),
                        "n_conversion": sum(
                            1 for k in kinds if k == b"conversion"
                        ),
                        "status": status,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "warc_file", "n_records", "n_response", "n_conversion",
                    "status",
                ],
            )

    return (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        .mapInPandas(
            gen,
            schema="warc_file string, n_records long, n_response long, "
            "n_conversion long, status string",
        )
    )


def warc_docs(
    spark: SparkSession,
    path: str,
    kinds: tuple[str, ...] = ("response", "conversion"),
    min_chars: int = 1,
) -> DataFrame:
    """WARC/WET → the engine's document schema (doc_id, text, url, ts,
    mime): the bridge onto curate()/dedup/quality. doc_id is the text's
    md5-prefix (stable under re-sharding, the module's doc-id policy);
    empty payloads drop."""
    df = read_warc(spark, path, kinds=kinds)
    return _with_doc_id(
        df.filter(F.length("text") >= min_chars), None, "text"
    ).select("doc_id", "text", "url", "ts", "mime")
