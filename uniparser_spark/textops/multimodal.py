"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Media (image/audio/video) ride through the engine as ``binary`` columns
with a typed metadata struct — the schema, partitioning, Arrow batch
shape, and UDF signatures here are the real production plumbing
(reference input-object flexibility: parsers.py:93-105).

Decode has three explicit modes (no silent fake):

- ``mode="header"`` (default) — REAL container parsing with stdlib
  ``struct``/``zlib``: PNG IHDR, GIF logical-screen + frame walk, JPEG
  SOFn marker walk, WAV RIFF chunk walk.  Unrecognized payloads yield
  NULL dims plus a ``fmt`` of NULL — errors as data, never a crash.
- ``mode="fake"``   — deterministic pseudo-features derived from the
  content hash (the hermetic stand-in used where payloads are not real
  containers).
- ``mode="codec"``  — the seam where Pillow / soundfile / pyav pixel
  decode would plug in; raises NotImplementedError in this container.

``synth_media`` builds VALID minimal PNG/GIF/JPEG/WAV binaries whose
dimensions derive from the row id, so a SQL oracle can predict what the
header parser must recover — the decode is tested against real bytes.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from typing import Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..engine.rows import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
        StructField("mime", StringType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("content_hash", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
    ]
)

# header mode adds what a container parse can actually recover
HEADER_SCHEMA = StructType(
    FEATURE_SCHEMA.fields
    + [
        StructField("fmt", StringType(), True),  # png|gif|jpeg|wav|NULL
        StructField("duration_ms", LongType(), True),  # audio only
    ]
)


# ----------------------------------------------------- container parsers
def _parse_png(b: bytes) -> Optional[dict]:
    # signature + IHDR is mandatory and first (PNG spec 5.2/11.2.2)
    if len(b) < 24 or b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", b[16:24])
    return {"fmt": "png", "width": w, "height": h, "n_frames": 1}


def _parse_gif(b: bytes) -> Optional[dict]:
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", b[6:10])
    packed = b[10]
    pos = 13
    if packed & 0x80:  # global color table present
        pos += 3 * (2 << (packed & 0x07))
    frames = 0
    n = len(b)
    while pos < n:
        tag = b[pos]
        pos += 1
        if tag == 0x3B:  # trailer
            break
        if tag == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < n and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif tag == 0x2C:  # image descriptor
            frames += 1
            if pos + 9 > n:
                break
            lpacked = b[pos + 8]
            pos += 9
            if lpacked & 0x80:  # local color table
                pos += 3 * (2 << (lpacked & 0x07))
            pos += 1  # LZW minimum code size
            while pos < n and b[pos] != 0:  # data sub-blocks
                pos += 1 + b[pos]
            pos += 1
        else:  # corrupt stream: stop, keep what we have
            break
    return {"fmt": "gif", "width": w, "height": h, "n_frames": max(frames, 1)}


_JPEG_SOF = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOF0-15 minus DHT/JPG/DAC


def _parse_jpeg(b: bytes) -> Optional[dict]:
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos, n = 2, len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RST/TEM: no payload
            pos += 2
            continue
        if pos + 4 > n:
            break
        seg_len = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        if marker in _JPEG_SOF:
            if pos + 9 > n:
                break
            h, w = struct.unpack(">HH", b[pos + 5 : pos + 9])
            return {"fmt": "jpeg", "width": w, "height": h, "n_frames": 1}
        pos += 2 + seg_len
    return None


def _parse_wav(b: bytes) -> Optional[dict]:
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, n = 12, len(b)
    byte_rate = data_size = None
    while pos + 8 <= n:
        cid = b[pos : pos + 4]
        size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        if cid == b"fmt " and pos + 16 <= n:
            byte_rate = struct.unpack("<I", b[pos + 16 : pos + 20])[0]
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not byte_rate or data_size is None:
        return None
    return {
        "fmt": "wav",
        "duration_ms": int(data_size * 1000 // byte_rate),
    }


def _parse_bmp(b: bytes) -> Optional[dict]:
    # BITMAPFILEHEADER 'BM' + DIB header; width/height live in the DIB
    if len(b) < 26 or b[:2] != b"BM":
        return None
    dib = struct.unpack("<I", b[14:18])[0]
    if dib >= 40:  # BITMAPINFOHEADER and successors: int32 dims
        w, h = struct.unpack("<ii", b[18:26])
        # negative height = top-down row order, magnitude is the size
        return {"fmt": "bmp", "width": w, "height": abs(h), "n_frames": 1}
    if dib == 12 and len(b) >= 22:  # BITMAPCOREHEADER: uint16 dims
        w, h = struct.unpack("<HH", b[18:22])
        return {"fmt": "bmp", "width": w, "height": h, "n_frames": 1}
    return None


def _parse_tiff(b: bytes) -> Optional[dict]:
    # TIFF 6.0: byte-order mark, magic 42, first IFD walk for tags
    # 256/257 (ImageWidth/ImageLength), SHORT or LONG, inline values
    if len(b) < 8:
        return None
    if b[:4] == b"II*\x00":
        e = "<"
    elif b[:4] == b"MM\x00*":
        e = ">"
    else:
        return None
    off = struct.unpack(e + "I", b[4:8])[0]
    if off + 2 > len(b):
        return None
    n_entries = struct.unpack(e + "H", b[off : off + 2])[0]
    w = h = None
    for i in range(n_entries):
        p = off + 2 + 12 * i
        if p + 12 > len(b):
            break
        tag, typ = struct.unpack(e + "HH", b[p : p + 4])
        if typ == 3:  # SHORT: left-justified in the 4-byte value field
            val = struct.unpack(e + "H", b[p + 8 : p + 10])[0]
        elif typ == 4:  # LONG
            val = struct.unpack(e + "I", b[p + 8 : p + 12])[0]
        else:
            continue
        if tag == 256:
            w = val
        elif tag == 257:
            h = val
    if w is None or h is None:
        return None
    return {"fmt": "tiff", "width": w, "height": h, "n_frames": 1}


# MPEG1 Layer III bitrate (kbps) and sample-rate tables (index 0 =
# free/reserved — treated as unparseable)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
_MP3_RATES = (44100, 48000, 32000, 0)


def _parse_mp3(b: bytes) -> Optional[dict]:
    """MPEG1 Layer III frame-header walk: counts frames and sums sample
    time (1152 samples/frame) — duration without decoding a single
    sample.  An ID3v2 prefix is skipped via its syncsafe size."""
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        size = 0
        for byte in b[6:10]:  # syncsafe uint28
            size = (size << 7) | (byte & 0x7F)
        pos = 10 + size
    n = len(b)
    frames = 0
    samples = 0
    rate = None
    while pos + 4 <= n:
        if b[pos] != 0xFF or (b[pos + 1] & 0xFE) != 0xFA:  # MPEG1 L3 sync
            break
        br = _MP3_BITRATES[b[pos + 2] >> 4]
        sr = _MP3_RATES[(b[pos + 2] >> 2) & 0x03]
        if not br or not sr:
            break
        pad = (b[pos + 2] >> 1) & 0x01
        frames += 1
        samples += 1152
        rate = sr
        pos += 144 * br * 1000 // sr + pad
    if not frames:
        return None
    return {
        "fmt": "mp3",
        "n_frames": frames,
        "duration_ms": int(samples * 1000 // rate),
    }


def _parse_flac(b: bytes) -> Optional[dict]:
    """FLAC STREAMINFO (the mandatory first metadata block): sample
    rate is a 20-bit field and total samples a 36-bit field packed in
    the block's last 8 bytes — duration without touching a frame."""
    if b[:4] != b"fLaC" or len(b) < 8 + 34:
        return None
    block_type = b[4] & 0x7F
    block_len = int.from_bytes(b[5:8], "big")
    if block_type != 0 or block_len < 34:
        return None
    packed = int.from_bytes(b[18:26], "big")
    rate = packed >> 44
    total = packed & ((1 << 36) - 1)
    if not rate:
        return None
    return {"fmt": "flac", "duration_ms": int(total * 1000 // rate)}


def _parse_ico(b: bytes) -> Optional[dict]:
    """ICO directory: first entry's 1-byte width/height (0 encodes
    256); n_frames = image count (multi-size icons)."""
    if len(b) < 6 + 16 or b[:4] != b"\x00\x00\x01\x00":
        return None
    count = struct.unpack("<H", b[4:6])[0]
    if not count:
        return None
    w, h = b[6], b[7]
    return {
        "fmt": "ico",
        "width": w or 256,
        "height": h or 256,
        "n_frames": count,
    }


def _parse_webp(b: bytes) -> Optional[dict]:
    """WEBP (RIFF) extended header: a VP8X chunk carries the canvas
    size as two 24-bit little-endian (value − 1) fields — dims without
    touching VP8 bitstream data.  Simple lossy/lossless files without
    VP8X are left to a real codec (None → the codec seam)."""
    if len(b) < 30 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    if b[12:16] != b"VP8X":
        return None
    w = 1 + int.from_bytes(b[24:27], "little")
    h = 1 + int.from_bytes(b[27:30], "little")
    return {"fmt": "webp", "width": w, "height": h, "n_frames": 1}


def parse_media_header(blob: bytes) -> dict:
    """Sniff + parse a media container header; {} when unrecognized."""
    for parser in (
        _parse_png,
        _parse_gif,
        _parse_jpeg,
        _parse_wav,
        _parse_bmp,
        _parse_tiff,
        _parse_mp3,
        _parse_flac,
        _parse_ico,
        _parse_webp,
    ):
        meta = parser(blob)
        if meta is not None:
            return meta
    return {}


# ------------------------------------------------------ synthetic binaries
def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def make_png(w: int, h: int) -> bytes:
    """A fully valid 8-bit grayscale PNG of zero pixels (CRCs included)."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" * (1 + w) for _ in range(h))  # filter byte + row
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 1))
        + _png_chunk(b"IEND", b"")
    )


def make_gif(w: int, h: int, frames: int = 1) -> bytes:
    """Minimal GIF89a with ``frames`` 1x1 image blocks (2-color GCT)."""
    out = [b"GIF89a", struct.pack("<HH", w, h), bytes([0x80, 0, 0]), b"\x00" * 6]
    img = (
        b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00"  # descriptor
        + b"\x02" + b"\x02\x44\x01" + b"\x00"  # LZW min size + 1 sub-block
    )
    out.extend(img for _ in range(frames))
    out.append(b"\x3b")
    return b"".join(out)


def make_jpeg(w: int, h: int) -> bytes:
    """JPEG header stream: SOI + JFIF APP0 + SOF0 + EOI (enough for any
    dimension sniffer; no entropy-coded scan)."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
        + b"\xff\xd9"
    )


def make_wav(n_samples: int) -> bytes:
    """A real (stdlib ``wave``-written) mono 8-bit PCM file of silence."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(b"\x80" * n_samples)
    return buf.getvalue()


def make_bmp(w: int, h: int) -> bytes:
    """A fully valid 24-bit bottom-up BMP of zero pixels."""
    row = ((24 * w + 31) // 32) * 4  # rows pad to 4-byte boundaries
    pixels = b"\x00" * (row * h)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


def make_tiff(w: int, h: int) -> bytes:
    """Minimal little-endian TIFF: one IFD carrying SHORT
    ImageWidth/ImageLength entries."""
    ifd = struct.pack("<H", 2)
    ifd += struct.pack("<HHIHH", 256, 3, 1, w, 0)  # ImageWidth SHORT
    ifd += struct.pack("<HHIHH", 257, 3, 1, h, 0)  # ImageLength SHORT
    ifd += struct.pack("<I", 0)  # no next IFD
    return b"II*\x00" + struct.pack("<I", 8) + ifd


def make_mp3(n_frames: int) -> bytes:
    """``n_frames`` valid MPEG1 Layer III frame headers (128 kbps,
    44.1 kHz, zero payload) — enough for any frame-walking duration
    sniffer; no entropy data."""
    frame_len = 144 * 128000 // 44100  # 417 bytes, padding bit 0
    frame = b"\xff\xfb\x90\x00" + b"\x00" * (frame_len - 4)
    return frame * n_frames


def make_flac(n_samples: int, rate: int = 8000) -> bytes:
    """FLAC signature + a valid STREAMINFO block (no audio frames —
    enough for any duration sniffer)."""
    packed = (rate << 44) | (0 << 41) | (15 << 36) | n_samples
    streaminfo = (
        struct.pack(">HH", 4096, 4096)  # min/max block size
        + b"\x00" * 6  # min/max frame size unknown
        + struct.pack(">Q", packed)
        + b"\x00" * 16  # unset MD5 of the (absent) audio stream
    )
    return b"fLaC" + b"\x80" + len(streaminfo).to_bytes(3, "big") + streaminfo


def make_ico(w: int, h: int) -> bytes:
    """Single-entry ICO whose payload is a real PNG (PNG-in-ICO is
    valid since Vista); dims <= 256 per the 1-byte directory fields."""
    png = make_png(w, h)
    entry = struct.pack(
        "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32, len(png), 6 + 16
    )
    return b"\x00\x00\x01\x00" + struct.pack("<H", 1) + entry + png


def make_webp(w: int, h: int) -> bytes:
    """Minimal RIFF/WEBP with a VP8X extended-header chunk (canvas
    dims only — no image data, which is exactly what a header scan
    reads)."""
    payload = (
        b"\x00\x00\x00\x00"
        + (w - 1).to_bytes(3, "little")
        + (h - 1).to_bytes(3, "little")
    )
    chunk = b"VP8X" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def synth_media(docs: DataFrame) -> DataFrame:
    """documents → media table of VALID container binaries whose dims
    derive from the id (``id%10`` picks
    png/gif/jpeg/wav/bmp/tiff/mp3/flac/ico/webp; width ``16+id%240``,
    height ``16+(7*id)%240``, gif frames ``1+(id//4)%4``, wav and flac
    samples ``8*(1000+id%1000)`` @8kHz → ``1000+id%1000`` ms, mp3
    frames ``10+id%20`` @1152 samples/44.1 kHz) — the SQL oracle
    predicts exactly what the header parser must recover."""
    fmts = (
        "png", "gif", "jpeg", "wav", "bmp", "tiff", "mp3", "flac", "ico",
        "webp",
    )
    types = {
        "png": "image", "gif": "video", "jpeg": "image", "wav": "audio",
        "bmp": "image", "tiff": "image", "mp3": "audio", "flac": "audio",
        "ico": "image",
        "webp": "image",
    }
    mimes = {
        "png": "image/png", "gif": "video/gif", "jpeg": "image/jpeg",
        "wav": "audio/wav", "bmp": "image/bmp", "tiff": "image/tiff",
        "mp3": "audio/mpeg", "flac": "audio/flac",
        "ico": "image/vnd.microsoft.icon",
        "webp": "image/webp",
    }

    def media(mid):
        mid = int(mid)
        fmt = fmts[mid % 10]
        w, h = 16 + mid % 240, 16 + (7 * mid) % 240
        if fmt == "png":
            blob = make_png(w, h)
        elif fmt == "gif":
            blob = make_gif(w, h, 1 + (mid // 4) % 4)
        elif fmt == "jpeg":
            blob = make_jpeg(w, h)
        elif fmt == "wav":
            blob = make_wav(8 * (1000 + mid % 1000))
        elif fmt == "bmp":
            blob = make_bmp(w, h)
        elif fmt == "tiff":
            blob = make_tiff(w, h)
        elif fmt == "flac":
            blob = make_flac(8 * (1000 + mid % 1000))
        elif fmt == "ico":
            blob = make_ico(w, h)
        elif fmt == "webp":
            blob = make_webp(w, h)
        else:
            blob = make_mp3(10 + mid % 20)
        return [(mid, types[fmt], blob, mimes[fmt])]

    return map_rows(docs.select(F.col("doc_id").alias("media_id")), MEDIA_SCHEMA, media)


# ---------------------------------------------------------------- decode
def _fake_dims(digest: bytes) -> tuple:
    """Deterministic fake decode: dims from the content hash."""
    w = 64 + digest[0] % 192
    h = 64 + digest[1] % 192
    frames = 1 + digest[2] % 16
    return w, h, frames


def decode_media(df: DataFrame, mode: str = "header") -> DataFrame:
    """binary media table → per-item features via mapInPandas.

    One Arrow batch crosses the boundary per
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` items; heavy
    payloads stay in executor memory, never on the driver.  ``mode``
    selects header (real stdlib container parse), fake (hash-derived
    pseudo-features), or codec (the NotImplementedError seam for pixel
    decode).
    """
    if mode not in ("header", "fake", "codec"):
        raise ValueError(f"unknown decode mode {mode!r}")
    schema = HEADER_SCHEMA if mode == "header" else FEATURE_SCHEMA

    def features(mid, mtype, content):
        blob = bytes(content) if content is not None else b""
        # md5 (not sha) so the DuckDB oracle can recompute it
        digest = hashlib.md5(blob).digest()
        if mode == "codec":
            # >>> codec seam: Pillow / soundfile / pyav decode here
            raise NotImplementedError(
                "pixel/sample decode requires image/audio libraries "
                "not present in this environment (header mode "
                "parses container metadata with the stdlib)"
            )
        head = (mid, mtype, len(blob), digest.hex()[:16])
        if mode == "fake":
            w, h, frames = _fake_dims(digest)
            visual = mtype in ("image", "video")
            return [
                (*head, w if visual else None, h if visual else None,
                 frames if mtype == "video" else None)
            ]
        meta = parse_media_header(blob)
        return [
            (*head, meta.get("width"), meta.get("height"), meta.get("n_frames"),
             meta.get("fmt"), meta.get("duration_ms"))
        ]

    projected = df.select("media_id", "media_type", "content")
    return map_rows(projected, schema, features)


def docs_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque media payloads (the
    deterministic stand-in corpus for the decode plumbing)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )
