"""WARC source adapter: raw Common-Crawl-style web archives → the engine's
pages-table shape (url, warc_ts, html, text, lang — BASELINE.json
input_hint), so a crawl consumer can point the quality-filter pipeline at
.warc / .warc.gz segments directly.

Reference ancestor: the reference's table loaders hand a warehouse table to
the check engine (/root/reference/data_quality/src/sources.py) — this is
the web-archive equivalent for an engine whose input is crawls, not
warehouses.

Design (Spark-first):
  * `spark.read.format("binaryFile")` lists and reads whole segment files —
    WARC's gzip framing is per-RECORD members, so a segment is not
    block-splittable without an index; one task per segment file is the
    standard parallel grain (Common-Crawl segments are ~1 GiB, thousands
    per crawl — file-level parallelism saturates any cluster).
  * Record parsing runs in mapInPandas over the file bytes: pure python
    stdlib (gzip handles concatenated members transparently), Arrow-batched
    output, nothing per-row in the driver.
  * Only WARC-Type: response records yield rows; the HTTP body is returned
    as `html` bytes unmodified (byte fidelity — decoding is the extraction
    stage's job), `text`/`lang` are NULL for the pipeline to fill.

At 100 TB: listing is a metadata operation; each file is read exactly once;
memory per task is one segment (binaryFile materializes the file — cap
segment size or use a streaming reader for pathological archives,
documented rather than hidden).
"""

from __future__ import annotations

import gzip as _gzip
import io
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_SEP = b"\r\n\r\n"


def _split_records(raw: bytes):
    """Yield (warc_headers: dict, body: bytes) per WARC record."""
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and raw[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        head_end = raw.find(_SEP, pos)
        if head_end < 0:
            return
        head = raw[pos:head_end].decode("utf-8", "replace")
        if not head.startswith("WARC/"):
            return
        headers = {}
        for line in head.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            if _:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            return
        body = raw[head_end + len(_SEP) : head_end + len(_SEP) + length]
        yield headers, body
        pos = head_end + len(_SEP) + length


def _http_body(block: bytes) -> bytes:
    """Strip the HTTP response headers from a response record block."""
    i = block.find(_SEP)
    return block[i + len(_SEP):] if i >= 0 else block


def _parse_ts(s: str):
    # WARC 1.0 dates are whole-second; WARC 1.1 allows fractional seconds
    # (modern crawlers emit them) — both must parse, or the record keeps a
    # silently-NULL warc_ts and breaks downstream freshness/date checks
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)
        except (ValueError, TypeError):
            continue
    return None


def parse_warc_bytes(raw: bytes):
    """(url, warc_ts, html) rows from one WARC segment's bytes; transparent
    gzip (member-concatenated, the Common-Crawl framing)."""
    if raw[:2] == b"\x1f\x8b":
        raw = _gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
    out = []
    for headers, body in _split_records(raw):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        out.append((url, _parse_ts(headers.get("warc-date", "")),
                    _http_body(body)))
    return out


# Raw segments above this size trigger a loud warning naming the scale
# path. Parallelism of read_warc is FILE-grain: a few huge .warc.gz
# segments serialize, and binaryFile materializes each whole file in one
# task's memory. Gzip member boundaries cannot be located without a
# sequential decompress of everything before them (magic-byte scans
# false-positive inside compressed data); the scale path is the CDX index
# (record offsets precomputed at crawl time).
WARN_SEGMENT_BYTES = 256 << 20


def read_warc(
    spark: SparkSession,
    path: str,
    warn_segment_bytes: int = WARN_SEGMENT_BYTES,
) -> DataFrame:
    """DataFrame(url, warc_ts, html, text, lang) from .warc/.warc.gz files
    at `path` (glob ok). text/lang are NULL — the pipeline's extraction and
    langid stages fill them; feed the result straight to annotate_pages.

    Parallel grain is one task per FILE (see WARN_SEGMENT_BYTES): segments
    larger than `warn_segment_bytes` raise a RuntimeWarning pointing at
    read_warc_cdx, which reads record-grain byte ranges instead. The size
    probe is metadata-only (binaryFile prunes the content column)."""
    listing = spark.read.format("binaryFile").load(path)
    big = (
        listing.select("path", "length")
        .where(F.col("length") > warn_segment_bytes)
        .limit(5)
        .collect()
    )
    if big:
        import warnings

        names = ", ".join(
            f"{r['path']} ({r['length'] >> 20} MiB)" for r in big
        )
        warnings.warn(
            f"read_warc parallelism is one task per file and each file is "
            f"materialized whole in task memory; segment(s) exceed "
            f"{warn_segment_bytes >> 20} MiB: {names}. Use read_warc_cdx "
            "with the crawl's CDX index for record-grain ranged reads "
            "(bounded memory, record-level parallelism).",
            RuntimeWarning,
            stacklevel=2,
        )
    files = listing.select("content")

    def parse(batches):
        for pdf in batches:
            rows = []
            for raw in pdf["content"]:
                rows.extend(parse_warc_bytes(bytes(raw)))
            yield pd.DataFrame(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": [r[1] for r in rows],
                    "html": [r[2] for r in rows],
                    "text": pd.Series([None] * len(rows), dtype="object"),
                    "lang": pd.Series([None] * len(rows), dtype="object"),
                }
            )

    return files.mapInPandas(parse, PAGES_SCHEMA)


def read_warc_cdx(
    spark: SparkSession,
    warc_dir: str,
    cdx_path: str,
    where=None,
    num_tasks: int | None = None,
) -> DataFrame:
    """DataFrame(url, warc_ts, html, text, lang) planned from a CDX(J)
    index instead of whole segment files — the scale path past read_warc's
    one-task-per-segment grain (NOTES.md 3b).

    CDXJ lines are `urlkey timestamp {json}` where the json carries
    `filename`, `offset`, `length` of the record's own gzip member (the
    Common-Crawl framing: every record is an independently-decompressible
    member). That index makes the archive random-access:

      * the index is PLAIN SPLITTABLE TEXT — `spark.read.text` gives
        parallelism proportional to index bytes, independent of how many
        or how large the segments are (a 1 GiB segment no longer pins a
        whole task's memory);
      * `where` filters (url prefix, mime, status) run on the PARSED INDEX
        — rejected records cost ~100 index bytes each and the archive
        bytes are never read (the crawl-scale equivalent of predicate
        pushdown to the scan);
      * each task then reads ONLY its records' byte ranges, grouped by
        file and ordered by offset for sequential access (ranged GETs on
        an object store); peak memory is one record, not one segment.

    `filename` in the index is resolved relative to `warc_dir`. Reading
    uses stdlib open() — local/NFS paths in this sandbox; an object-store
    deployment swaps the opener for a ranged-GET client (single seam,
    documented rather than hidden).

    Gzipped indexes (`.cdx.gz`, the Common-Crawl distribution format) work
    transparently (Spark's text source decompresses by extension) but a
    gzip member is NOT splittable — one task per index FILE. Common Crawl
    ships ~300 cdx-NNNNN.gz shards per crawl, so file-grain parallelism
    over the index is ample; decompress to plain text only if a single
    huge index file becomes the bottleneck.
    """
    idx = spark.read.text(cdx_path)
    meta = F.from_json(
        F.expr("substring(value, instr(value, '{'))"),
        "url string, filename string, offset string, length string, "
        "status string, mime string",
    )
    parsed = (
        idx.where(F.expr("instr(value, '{')") > 0)
        .select(meta.alias("m"))
        .select(
            F.col("m.url").alias("url"),
            F.col("m.filename").alias("filename"),
            F.col("m.offset").cast("bigint").alias("offset"),
            F.col("m.length").cast("bigint").alias("length"),
            F.col("m.status").alias("status"),
            F.col("m.mime").alias("mime"),
        )
        .where(F.col("filename").isNotNull() & F.col("offset").isNotNull()
               & F.col("length").isNotNull())
    )
    if where is not None:
        parsed = parsed.where(where)
    # group ranged reads per file, sequential within it; the shuffled rows
    # are ~5 small columns of index metadata, never archive bytes.
    # Task count matches the distinct FILE count (one slim index-only job
    # when num_tasks is not given): hash-repartitioning into the session
    # default (200) left mostly-empty tasks on small indexes and let hash
    # collisions pile several large files onto one task while others idled
    # (r3 advice). Range partitioning by (filename, offset) gives each task
    # a contiguous run of files — ~1 file/task at n == n_files, and
    # same-file ranges stay together for sequential access.
    sel = parsed.select("filename", "offset", "length")
    n = num_tasks or max(
        1, sel.agg(F.countDistinct("filename")).collect()[0][0]
    )
    plan = sel.repartitionByRange(
        n, F.col("filename"), F.col("offset")
    ).sortWithinPartitions("filename", "offset")

    return _ranged_fetch(plan, warc_dir)


def _ranged_fetch(plan: DataFrame, warc_dir: str) -> DataFrame:
    """Ranged-read stage over a (filename, offset, length) plan: per task,
    group by file, seek each range sequentially, parse. Peak memory is one
    record's bytes. `warc_dir` resolves the index's relative filenames."""

    def fetch(batches):
        for pdf in batches:
            rows = []
            for fname, grp in pdf.groupby("filename", sort=False):
                with open(f"{warc_dir}/{fname}", "rb") as fh:
                    for off, ln in zip(grp["offset"], grp["length"]):
                        fh.seek(int(off))
                        rows.extend(parse_warc_bytes(fh.read(int(ln))))
            yield pd.DataFrame(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": [r[1] for r in rows],
                    "html": [r[2] for r in rows],
                    "text": pd.Series([None] * len(rows), dtype="object"),
                    "lang": pd.Series([None] * len(rows), dtype="object"),
                }
            )

    return plan.mapInPandas(fetch, PAGES_SCHEMA)


def write_warc_cdx(path: str, records, cdx_path: str) -> None:
    """Per-record-gzip-member WARC segment + CDXJ index — the fixture twin
    of read_warc_cdx (mirrors the Common-Crawl framing: each record its own
    gzip member so (offset, length) ranges decompress independently)."""
    import json as _json
    import os as _os

    fname = _os.path.basename(path)
    offset = 0
    lines = []
    with open(path, "wb") as fh:
        for url, ts, html in records:
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html)
            head = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {ts}\r\n"
                f"Content-Length: {len(http)}"
            ).encode()
            member = _gzip.compress(head + _SEP + http + b"\r\n\r\n")
            fh.write(member)
            key = url.split("://", 1)[-1]
            lines.append(
                f"{key} {ts} " + _json.dumps(
                    {"url": url, "filename": fname, "offset": str(offset),
                     "length": str(len(member)), "status": "200",
                     "mime": "text/html"}
                )
            )
            offset += len(member)
    with open(cdx_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def write_warc(path: str, records, gzip: bool = False) -> None:
    """Write (url, iso_ts, html_bytes) triples as a minimal WARC file —
    the test/fixture twin of read_warc (synthetic archives only; not a
    general-purpose WARC writer)."""
    buf = io.BytesIO()
    for url, ts, html in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts}\r\n"
            f"Content-Length: {len(http)}"
        ).encode()
        buf.write(head + _SEP + http + b"\r\n\r\n")
    data = buf.getvalue()
    if gzip:
        data = _gzip.compress(data)
    with open(path, "wb") as fh:
        fh.write(data)
