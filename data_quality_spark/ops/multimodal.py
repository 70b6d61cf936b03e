"""Multimodal column plumbing: treat image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed in Arrow-batched
``mapInPandas`` stages.

The sandbox has no image/audio codec LIBRARIES, but image container
HEADERS are plain byte layouts: ``real_decode=True`` parses PNG IHDR and
JPEG SOF0/2 width/height in pure Python inside the same Arrow batches (no
external libs, no full pixel decode — exactly what a metadata pass over
100 TB of crawl images should do: header bytes only, payloads never leave
the executor). Formats without a header parser here (audio, video) fall
back to the deterministic fake decoder; swapping in Pillow/librosa for a
full pixel decode remains a one-function change inside the pandas batch.

Scale notes: binary payloads never shuffle (all stages are map-only);
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory when
payloads are large (tune down for video frames).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("digest_md5", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def synthesize_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media table: (media_id, payload binary, format).
    Payload = utf-8 bytes of the text (stand-in for image bytes); format
    cycles deterministically. Purely a fixture builder — real pipelines
    read (id, payload, format) from the lake."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.element_at(
            F.array(F.lit("png"), F.lit("jpeg"), F.lit("wav")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("format"),
    ).where(F.col(text_col).isNotNull())


PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOF markers that carry frame dimensions: C0-CF minus DHT (C4), JPG (C8)
# and DAC (CC). Includes baseline SOF0 and progressive SOF2.
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
_JPEG_STANDALONE = {0x01, *range(0xD0, 0xD8)}  # TEM, RSTn: no length field


def parse_png_header(b: bytes) -> tuple[int, int] | None:
    """(width, height) from a PNG IHDR, or None if not a parseable PNG.
    The spec pins IHDR as the FIRST chunk, immediately after the 8-byte
    signature: length(4) 'IHDR' width(4 BE) height(4 BE) ... — so this is
    a fixed-offset read, no chunk walk and no CRC verification (a metadata
    scan must tolerate payloads a full decoder would reject)."""
    if len(b) < 24 or b[:8] != PNG_SIG or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", b[16:24])
    if w == 0 or h == 0:
        return None
    return w, h


def parse_jpeg_header(b: bytes) -> tuple[int, int] | None:
    """(width, height) from the first JPEG SOF segment, or None.
    Walks the marker stream from SOI: fill 0xFF bytes are skipped,
    standalone markers (TEM/RSTn) advance 2 bytes, every other segment
    carries a 2-byte big-endian length. SOFn (except DHT/JPG/DAC, which
    share the 0xCn range but are not frame headers) carries
    [len(2) precision(1) height(2 BE) width(2 BE)]. Stops at SOS/EOI —
    dimensions always precede entropy-coded data."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    pos = 2
    n = len(b)
    while pos + 1 < n:
        if b[pos] != 0xFF:
            return None  # marker stream out of sync — not a valid JPEG
        while pos + 1 < n and b[pos + 1] == 0xFF:
            pos += 1  # fill bytes
        if pos + 1 >= n:
            return None
        marker = b[pos + 1]
        if marker in _JPEG_STANDALONE:
            pos += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no SOF seen → give up
            return None
        if pos + 4 > n:
            return None
        seglen = struct.unpack(">H", b[pos + 2:pos + 4])[0]
        if seglen < 2:
            return None
        if marker in _JPEG_SOF:
            if pos + 9 > n:
                return None
            h, w = struct.unpack(">HH", b[pos + 5:pos + 9])
            if w == 0 or h == 0:
                return None
            return w, h
        pos += 2 + seglen
    return None


def parse_gif_header(b: bytes) -> tuple[int, int] | None:
    """(width, height) from a GIF logical screen descriptor, or None.
    Fixed layout: 'GIF87a'/'GIF89a' then width(2 LE) height(2 LE) — the
    canvas dimensions (individual frames may be smaller; a metadata scan
    wants the canvas)."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", b[6:10])
    if w == 0 or h == 0:
        return None
    return w, h


def parse_webp_header(b: bytes) -> tuple[int, int] | None:
    """(width, height) from a WebP RIFF container, or None. Handles the
    three first-chunk layouts: 'VP8 ' (lossy — 3-byte frame tag, 9D 01 2A
    sync, then 14-bit LE dims), 'VP8L' (lossless — 0x2F signature then
    (w-1):14 | (h-1):14 packed little-endian) and 'VP8X' (extended —
    24-bit LE canvas minus one). No RIFF size validation: a metadata scan
    must tolerate truncated payloads a full decoder would reject."""
    if len(b) < 16 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    fourcc = b[12:16]
    if fourcc == b"VP8 ":
        if len(b) < 30 or b[23:26] != b"\x9d\x01\x2a":
            return None
        w = struct.unpack("<H", b[26:28])[0] & 0x3FFF
        h = struct.unpack("<H", b[28:30])[0] & 0x3FFF
    elif fourcc == b"VP8L":
        if len(b) < 25 or b[20] != 0x2F:
            return None
        v = struct.unpack("<I", b[21:25])[0]
        w = (v & 0x3FFF) + 1
        h = ((v >> 14) & 0x3FFF) + 1
    elif fourcc == b"VP8X":
        if len(b) < 30:
            return None
        w = 1 + int.from_bytes(b[24:27], "little")
        h = 1 + int.from_bytes(b[27:30], "little")
    else:
        return None
    if w == 0 or h == 0:
        return None
    return w, h


def sniff_image(b: bytes) -> tuple[str, int, int] | None:
    """(format, width, height) for payloads whose container header we can
    parse; None otherwise (caller decides the fallback)."""
    dims = parse_png_header(b)
    if dims is not None:
        return ("png", *dims)
    dims = parse_jpeg_header(b)
    if dims is not None:
        return ("jpeg", *dims)
    dims = parse_gif_header(b)
    if dims is not None:
        return ("gif", *dims)
    dims = parse_webp_header(b)
    if dims is not None:
        return ("webp", *dims)
    return None


def png_bytes(w: int, h: int, tail: bytes = b"") -> bytes:
    """A syntactically real PNG prefix (signature + IHDR with a correct
    CRC32) followed by arbitrary tail bytes — what the fixture builder and
    tests feed the parser. 8-bit RGB, no interlace."""
    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    chunk = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
             + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
    return PNG_SIG + chunk + tail


def jpeg_bytes(w: int, h: int, tail: bytes = b"",
               progressive: bool = False) -> bytes:
    """A syntactically real JPEG prefix: SOI, a JFIF APP0 segment (so the
    parser must actually walk the marker stream, not read a fixed offset),
    then SOF0 (baseline) or SOF2 (progressive) with 3 components."""
    app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HHBB", 1, 1, 0, 0))
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(3))
    sof = ((b"\xff\xc2" if progressive else b"\xff\xc0")
           + struct.pack(">HBHH", 8 + 3 * 3, 8, h, w) + bytes([3]) + comps)
    return b"\xff\xd8" + app0 + sof + tail


def gif_bytes(w: int, h: int, tail: bytes = b"") -> bytes:
    """A syntactically real GIF prefix: GIF89a signature + logical screen
    descriptor (LE dims, global-color-table flags, background, aspect)."""
    return b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x70, 0, 0]) + tail


def webp_bytes(w: int, h: int, tail: bytes = b"",
               lossless: bool = False) -> bytes:
    """A syntactically real WebP prefix: RIFF/WEBP container with either
    a VP8 (lossy: frame tag + 9D 01 2A sync + 14-bit LE dims) or VP8L
    (lossless: 0x2F + packed (w-1,h-1)) first chunk. Odd-length chunk
    bodies get the RIFF pad byte; the RIFF size field covers the tail so
    the container is plausible, though the parser never checks it."""
    if lossless:
        if not (1 <= w <= 16384 and 1 <= h <= 16384):
            raise ValueError("webp_bytes: VP8L dims are 14-bit")
        body = b"\x2f" + struct.pack("<I", (w - 1) | ((h - 1) << 14))
        chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    else:
        if not (1 <= w <= 0x3FFF and 1 <= h <= 0x3FFF):
            raise ValueError("webp_bytes: VP8 dims are 14-bit")
        body = b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", w, h)
        chunk = b"VP8 " + struct.pack("<I", len(body)) + body
    if len(chunk) % 2:
        chunk += b"\x00"
    return (b"RIFF" + struct.pack("<I", 4 + len(chunk) + len(tail))
            + b"WEBP" + chunk + tail)


# header sizes the synthesized payloads add (oracle twins recompute
# n_bytes arithmetically from these)
PNG_HEADER_LEN = len(png_bytes(1, 1))        # 8 sig + 25 IHDR chunk = 33
JPEG_HEADER_LEN = len(jpeg_bytes(1, 1))      # 2 SOI + 18 APP0 + 19 SOF = 39
GIF_HEADER_LEN = len(gif_bytes(1, 1))        # 6 sig + 7 screen desc = 13
WEBP_VP8_HEADER_LEN = len(webp_bytes(1, 1))              # 12 RIFF + 8 + 10
WEBP_VP8L_HEADER_LEN = len(webp_bytes(1, 1, lossless=True))  # 12+8+5+pad


def synthesize_media_real(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fixture builder whose payloads carry GENUINE container headers:
    format cycles png / jpeg / gif / webp / wav by id; the image payloads
    start with a real signature prefix encoding deterministic dimensions
    (w = 16 + id % 625, h = 16 + 7·id % 475; jpeg alternates baseline
    SOF0 and progressive SOF2, webp alternates VP8L and lossy VP8, both
    by id div 5), followed by the utf-8 text bytes. wav payloads are raw
    text bytes — no parser here, so they exercise the fake-decoder
    fallback. The dims being pure id arithmetic is what lets a SQL
    oracle verify the parse round-trip exactly."""
    src = df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("__text"),
    ).where(F.col(text_col).isNotNull())
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("format", StringType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads, fmts = [], [], []
            for mid, text in zip(pdf["media_id"], pdf["__text"]):
                mid = int(mid)
                tail = str(text).encode("utf-8")
                w, h = 16 + mid % 625, 16 + (mid * 7) % 475
                k = mid % 5
                if k == 0:
                    payloads.append(png_bytes(w, h, tail))
                    fmts.append("png")
                elif k == 1:
                    payloads.append(
                        jpeg_bytes(w, h, tail, progressive=(mid // 5) % 2 == 0)
                    )
                    fmts.append("jpeg")
                elif k == 2:
                    payloads.append(gif_bytes(w, h, tail))
                    fmts.append("gif")
                elif k == 3:
                    payloads.append(
                        webp_bytes(w, h, tail, lossless=(mid // 5) % 2 == 0)
                    )
                    fmts.append("webp")
                else:
                    payloads.append(tail)
                    fmts.append("wav")
                ids.append(mid)
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "payload": payloads, "format": fmts}
            )

    return src.mapInPandas(batches, out_schema)


def _fake_decode(payload: bytes, fmt: str) -> tuple[int, int]:
    """STUB for the codec step (no image/audio libs in this container).
    Deterministic pseudo-dimensions from the digest — replace with
    Pillow/librosa decode in production."""
    d = hashlib.md5(payload).digest()
    return 64 + d[0] % 192, 64 + d[1] % 192


def decode_media_meta(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """mapInPandas stage: binary payload → typed metadata row per media.

    ``real_decode=True`` parses genuine container headers (PNG IHDR, JPEG
    SOF0/2 — pure-Python byte reads, no codec libs, no pixel decode): the
    sniffed format and header dimensions win; payloads with no parseable
    image header (audio/video/corrupt) keep the declared format column and
    fall back to the deterministic fake decoder. ``real_decode=False``
    keeps the historical all-fake behavior (fixture-stable digests/dims).
    Either way the Arrow batch iterator shape (Iterator[pd.DataFrame] →
    Iterator[pd.DataFrame]) is the production contract."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            widths, heights, digests, sizes, fmts = [], [], [], [], []
            for p, declared in zip(payloads, pdf["format"]):
                b = bytes(p) if p is not None else b""
                sniffed = sniff_image(b) if real_decode else None
                if sniffed is not None:
                    fmt, w, h = sniffed
                else:
                    fmt = declared
                    w, h = _fake_decode(b, fmt)
                widths.append(w)
                heights.append(h)
                fmts.append(fmt)
                digests.append(hashlib.md5(b).hexdigest())
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": sizes,
                    "digest_md5": digests,
                    "format": fmts,
                    "width": widths,
                    "height": heights,
                }
            )

    return df.mapInPandas(batches, MEDIA_META_SCHEMA)


FRAME_CHARS = 256  # "frame" = fixed-size window of the decoded payload


def sample_frames(
    df: DataFrame,
    frame_chars: int = FRAME_CHARS,
    every_n: int = 2,
) -> DataFrame:
    """Frame-sampling plumbing: ONE media row → N sampled frame rows
    (media_id, frame_idx, n_chars, frame_md5) — every `every_n`-th
    fixed-size window of the decoded payload. This is the 1→N mapInPandas
    contract a real video frame extractor uses (payload → decoded frames →
    per-frame rows); the codec is the stub (windows of the decoded text
    stand in for decoded frames — no video codec is bundled)."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("n_chars", IntegerType()),
            StructField("frame_md5", StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, lens, digs = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                s = bytes(p).decode("utf-8") if p is not None else ""
                n = (len(s) + frame_chars - 1) // frame_chars
                for i in range(0, n, every_n):
                    fr = s[i * frame_chars : (i + 1) * frame_chars]
                    ids.append(mid)
                    idxs.append(i)
                    lens.append(len(fr))
                    digs.append(hashlib.md5(fr.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "n_chars": lens,
                 "frame_md5": digs}
            )

    return df.mapInPandas(batches, out_schema)
