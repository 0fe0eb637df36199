"""Multimodal columns: images/audio/video as opaque BinaryType payloads
with a typed metadata struct, processed by Arrow-batched mapInPandas.

The Spark-side plumbing — schema, partition-parallel batch iteration,
UDF signatures — is real and tested.  The codec layer is split
honestly in two: formats needing no codec library are REAL
end-to-end — RIFF/WAVE PCM (stdlib ``wave``), Sun AU with exact
integer G.711 µ-law expansion/compression (round 12), the FULL
netpbm family P1-P6 (binary, ASCII and packed-bitmap rasters,
sub-8-bit maxval normalization; round 12 widened P5/P6-only),
uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up/top-down, row
padding; round 12), YUV4MPEG2 video (.y4m — parameter header,
FRAME markers, planar mono/420*/422/444 luma; round 14), and REAL
PNG (round 15 — the compressed raster whose codec stack is
entirely stdlib: zlib IS the DEFLATE layer; CRC-verified chunk walk,
multi-IDAT inflate, all five scanline filters, 8-bit grey/truecolor
non-interlaced) and REAL LZW GIF (round 15 — the compressed raster
whose codec needs NO library at all: variable-width 9→12-bit code
stream, deferred clear, sub-block framing, global/local color
tables, 4-pass interlace; first frame decoded, animation frames
counted) — decode, integer feature extraction, frame
sampling, block-mean resize, re-encode all real — while
transform-codec formats (JPEG/MP3/H.264; PIL/ffmpeg absent in this
environment) remain behind
``decode_stub``: a clearly-marked deterministic fake that derives
pseudo-metadata from the bytes, or raises NotImplementedError in
``strict`` mode where a real decoder is required.

At 100 TB: binary payloads stay columnar (parquet BYTE_ARRAY with page
compression); mapInPandas streams Arrow record batches per partition —
no shuffle is introduced by decode/feature-extract, so the pipeline
cost is one scan + the Python batch boundary.  Size partitions with
spark.sql.files.maxPartitionBytes so a batch of decoded frames fits
executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

MEDIA_META = StructType([
    StructField("media_type", StringType()),   # image/audio/video
    StructField("codec", StringType()),
    StructField("width", IntegerType()),       # px (image/video)
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),    # video frames / audio windows
    StructField("n_bytes", LongType()),
])

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("payload", BinaryType()),
    StructField("meta", MEDIA_META),
])


def attach_payload(df: DataFrame, id_col: str, text_col: str,
                   media_type: str = "image") -> DataFrame:
    """Wrap a column's bytes as a media payload row (test harness for
    the plumbing; a real source would read the bytes from object
    storage)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("raw").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, media_type: str, strict: bool = False) -> dict:
    """STUB — deterministic fake decode.  A real deployment replaces
    this with PIL/ffmpeg/torchaudio; the surrounding Spark plumbing is
    unchanged.  ``strict=True`` raises, marking the unimplemented
    codec path explicitly."""
    if strict:
        raise NotImplementedError(
            "real media decoding requires codec libraries not present "
            "in this environment; wire PIL/ffmpeg here")
    n = len(payload)
    return {
        "width": (n % 640) + 1,
        "height": ((n // 640) % 480) + 1,
        "n_frames": 1 if media_type == "image" else (n % 32) + 1,
    }


def resize_stub(payload: bytes, width: int, height: int,
                strict: bool = False) -> bytes:
    """STUB — deterministic fake resize: a real deployment decodes,
    resamples, re-encodes (PIL/ffmpeg); here the payload is resized to
    a deterministic w·h-proportional byte slice so downstream plumbing
    (schemas, batch shapes, size accounting) is exercised for real."""
    if strict:
        raise NotImplementedError("real resize requires an image codec")
    n = max(1, min(len(payload), (width * height) // 64))
    return payload[:n]


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Sample every ``every_n``-th frame of video/audio payloads: one
    output row per sampled frame with a deterministic per-frame slice.
    Arrow-batched mapInPandas; the explode happens executor-side, so
    output size scales with frames sampled, never with a shuffle."""
    import pandas as pd

    from pyspark.sql.types import IntegerType

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
        StructField("n_frames", IntegerType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = pdf["meta"].tolist() if "meta" in pdf else [{}] * len(pdf)
            rows = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], metas):
                mt = (meta or {}).get("media_type", "video")
                d = decode_stub(bytes(payload), mt)
                nf = d["n_frames"]
                span = max(1, len(payload) // max(nf, 1))
                for i in range(0, nf, every_n):
                    rows.append({
                        "doc_id": doc_id,
                        "frame_idx": i,
                        "frame_bytes": bytes(payload[i * span:(i + 1) * span]),
                        "n_frames": nf,
                    })
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "frame_bytes", "n_frames"])

    return media.mapInPandas(batches, schema=out_schema)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads: fills the
    decoded width/height/n_frames metadata and a per-payload checksum
    feature.  Arrow-batched; one Python roundtrip per record batch,
    zero shuffles."""
    import pandas as pd

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("checksum", LongType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = pdf["meta"].tolist() if "meta" in pdf else [{}] * len(pdf)
            rows = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], metas):
                mt = (meta or {}).get("media_type", "image")
                d = decode_stub(bytes(payload), mt)
                rows.append({
                    "doc_id": doc_id,
                    "media_type": mt,
                    "n_bytes": len(payload),
                    "width": d["width"],
                    "height": d["height"],
                    "n_frames": d["n_frames"],
                    # order-free byte checksum: Σ bytes mod 2^31
                    "checksum": int(sum(payload) % 2_147_483_647),
                })
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# REAL codec paths (round 11).  PIL/ffmpeg are still absent, but two
# widely-used container formats need no codec library at all: RIFF
# WAVE with PCM samples (stdlib `wave` + struct) and binary PNM
# images (P5 grayscale / P6 RGB — the netpbm formats, a trivial
# header + raw bytes).  These paths are fully real — parse, decode to
# arrays, feature-extract, resize — while transform-codec formats
# (JPEG/MP3/H.264) keep the labeled stub (PNG graduated to a real
# path in round 15: stdlib zlib is its whole compression layer).
# Everything emitted is
# integer-exact (sums, truncating means) so goldens replay anywhere.
# ---------------------------------------------------------------------------


def encode_wav_pcm16(samples, sample_rate: int = 16000,
                     channels: int = 1) -> bytes:
    """Serialize int16 samples into a REAL RIFF/WAVE PCM payload
    (stdlib `wave`) — the test/bench harness for the real audio path:
    payloads built here decode with any standards-compliant reader,
    not just ours."""
    import io
    import struct
    import wave

    if isinstance(samples, np.ndarray):
        # vectorized serialization for the synth path; the range
        # check keeps struct.pack's loud-error contract
        arr = samples.astype(np.int64)
        if arr.size and (int(arr.min()) < -0x8000
                         or int(arr.max()) > 0x7FFF):
            struct.pack(f"<{arr.size}h", *arr.tolist())
        frames = arr.astype("<i2").tobytes()
    else:
        frames = struct.pack(f"<{len(samples)}h", *samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def encode_pnm(pixels, width: int, height: int,
               channels: int = 1) -> bytes:
    """Serialize 8-bit pixels (row-major, ``width·height·channels``
    values) into a REAL binary PNM payload — P5 (grayscale) or P6
    (RGB)."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (P5) or 3 (P6)")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel count != width*height*channels")
    magic = b"P5" if channels == 1 else b"P6"
    header = magic + f"\n{width} {height}\n255\n".encode()
    if isinstance(pixels, np.ndarray):
        if pixels.size and (int(pixels.min()) < 0
                            or int(pixels.max()) > 255):
            raise ValueError("bytes must be in range(0, 256)")
        return header + pixels.astype(np.uint8).tobytes()
    return header + bytes(pixels)


def _decode_wav_arr(payload: bytes) -> dict:
    """`decode_wav` with the samples as an int64 numpy array — the
    zero-copy form the feature extractors consume."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, ch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
        nf = w.getnframes()
        raw = w.readframes(nf)
    if sw != 2:
        raise NotImplementedError(f"PCM sample width {sw} not wired "
                                  "(16-bit only)")
    samples = np.frombuffer(
        raw[:len(raw) // 2 * 2], dtype="<i2").astype(np.int64)
    return {"codec": "pcm_s16le", "sample_rate": rate, "channels": ch,
            "n_frames": nf, "samples": samples}


def decode_wav(payload: bytes) -> dict:
    """REAL decode of a RIFF/WAVE PCM payload: container metadata via
    stdlib `wave`, samples as an int16 list (channel-interleaved)."""
    d = _decode_wav_arr(payload)
    d["samples"] = d["samples"].tolist()
    return d


def _decode_pnm_arr(payload: bytes) -> dict:
    """`decode_pnm` with the pixels as a numpy array — the zero-copy
    form the feature extractors consume (binary rasters never build a
    per-pixel python list)."""
    magic = payload[:2]
    if magic not in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6"):
        raise ValueError("not a PNM payload")
    kind = int(magic[1:2])
    channels = 3 if kind in (3, 6) else 1
    bitmap = kind in (1, 4)
    # header: magic, width, height[, maxval] — tokens separated by
    # whitespace, '#' comments run to end-of-line
    want = 2 if bitmap else 3
    pos, fields = 2, []
    while len(fields) < want:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    width, height = fields[0], fields[1]
    maxval = 1 if bitmap else fields[2]
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not wired (maxval <= 255)")
    n = width * height * channels
    if kind in (5, 6):                      # binary byte raster
        pos += 1  # exactly one whitespace after maxval, per spec
        pix = payload[pos:pos + n]
        if len(pix) != n:
            raise ValueError("truncated PNM raster")
        pixels = np.frombuffer(pix, dtype=np.uint8)
    elif kind == 4:                         # packed bits, row-padded
        pos += 1
        stride = -(-width // 8)
        if len(payload) - pos < stride * height:
            raise ValueError("truncated PNM raster")
        packed = np.frombuffer(payload, dtype=np.uint8,
                               count=stride * height, offset=pos)
        bits = np.unpackbits(packed.reshape(height, stride),
                             axis=1)[:, :width]   # MSB-first
        pixels = np.where(bits != 0, 0, 255).reshape(-1)  # 1 = black
    elif kind == 1:                         # ASCII bitmap: digits may
        vals, i = [], pos                   # pack without whitespace
        while i < len(payload) and len(vals) < n:
            c = payload[i:i + 1]
            if c == b"#":
                while i < len(payload) and payload[i:i + 1] != b"\n":
                    i += 1
            elif c in (b"0", b"1"):
                vals.append(int(c))
                i += 1
            elif c.isspace():
                i += 1
            else:
                raise ValueError("bad P1 raster character")
        if len(vals) < n:
            raise ValueError("truncated PNM raster")
        pixels = np.where(np.array(vals, dtype=np.int64) != 0, 0, 255)
    else:                                   # P2/P3 — ASCII tokens
        toks = payload[pos:].split()
        if len(toks) < n:
            raise ValueError("truncated PNM raster")
        vals = np.array([int(t) for t in toks[:n]], dtype=np.int64)
        if vals.size and (int(vals.min()) < 0
                          or int(vals.max()) > maxval):
            raise ValueError("PNM sample out of range")
        pixels = vals
    if not bitmap and maxval != 255:
        # normalize sub-8-bit rasters to the family's 0-255 surface
        # (truncating ×255 DIV maxval — integer-exact)
        pixels = pixels.astype(np.int64) * 255 // maxval
    return {"codec": "pnm", "width": width, "height": height,
            "channels": channels, "pixels": pixels}


def decode_pnm(payload: bytes) -> dict:
    """REAL decode of a PNM payload — the FULL netpbm family as of
    round 12: binary P5 (gray) / P6 (RGB) / P4 (packed 1-bit bitmap)
    and ASCII P1 (bitmap) / P2 (gray) / P3 (RGB).  Parses the
    whitespace/comment-tolerant header, returns pixels as a flat
    row-major list.  Bitmap formats follow the netpbm convention
    (1 = black): values are emitted ALREADY scaled to 0/255
    (1 → 0, 0 → 255) so features mean the same thing across the
    family."""
    d = _decode_pnm_arr(payload)
    d["pixels"] = d["pixels"].tolist()
    return d


def encode_bmp(pixels, width: int, height: int) -> bytes:
    """Serialize RGB pixels (row-major top-down, ``width·height·3``
    values) into a REAL 24-bit uncompressed BMP (BITMAPINFOHEADER,
    BI_RGB): bottom-up rows, BGR byte order, 4-byte row padding —
    payloads built here open in any image viewer."""
    import struct

    px = np.asarray(pixels, dtype=np.int64)
    if px.size != width * height * 3:
        raise ValueError("pixel count != width*height*3")
    if px.size and (int(px.min()) < 0 or int(px.max()) > 255):
        raise ValueError("bytes must be in range(0, 256)")
    stride = (width * 3 + 3) & ~3
    img_size = stride * height
    header = (b"BM"
              + struct.pack("<IHHI", 14 + 40 + img_size, 0, 0, 14 + 40)
              + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                            0, img_size, 2835, 2835, 0, 0))
    # bottom-up rows, BGR byte order, 4-byte row padding — all pure
    # reindexing, done as one vectorized reshape instead of per pixel
    bgr = px.reshape(height, width, 3).astype(np.uint8)[::-1, :, ::-1]
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :width * 3] = bgr.reshape(height, width * 3)
    return header + rows.tobytes()


def _decode_bmp_arr(payload: bytes) -> dict:
    """`decode_bmp` with the pixels as a numpy array — the zero-copy
    form the feature extractors consume."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not wired")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise NotImplementedError(
            f"compressed BMP (method {compression}) not wired")
    if bpp != 24:
        raise NotImplementedError(f"{bpp}-bit BMP not wired (24 only)")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    if len(payload) - pix_off < stride * height:
        raise ValueError("truncated BMP pixel array")
    arr = np.frombuffer(payload, dtype=np.uint8, count=stride * height,
                        offset=pix_off).reshape(height, stride)
    bgr = arr[:, :width * 3].reshape(height, width, 3)
    if not top_down:
        bgr = bgr[::-1]
    return {"codec": "bmp", "width": width, "height": height,
            "channels": 3, "pixels": bgr[:, :, ::-1].reshape(-1)}


def decode_bmp(payload: bytes) -> dict:
    """REAL decode of an uncompressed 24-bit BMP (BITMAPINFOHEADER or
    larger, BI_RGB): honors the pixel-array offset, bottom-up or
    top-down row order, BGR byte order and 4-byte row padding;
    returns pixels as a flat row-major top-down RGB list.  Paletted /
    compressed / other-depth BMPs raise NotImplementedError (labeled
    — wire a real codec box for those)."""
    d = _decode_bmp_arr(payload)
    d["pixels"] = d["pixels"].tolist()
    return d


# --- PNG (ISO/IEC 15948, public): the one "compressed" raster whose
# whole codec stack is STDLIB — zlib IS the DEFLATE layer — so unlike
# JPEG/MP3/H.264 (which need external transform codecs and stay
# labeled stubs) PNG is implementable REAL here (round 15): chunk
# walk with CRC32 verification, multi-IDAT inflate, and the five
# scanline filters (None/Sub/Up/Average/Paeth) applied/unfiltered
# exactly per spec §9.  8-bit greyscale (color type 0) and truecolor
# (type 2), non-interlaced; palette/alpha/16-bit/Adam7 raise labeled
# NotImplementedError. ---

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4) — nearest of the left /
    up / up-left neighbors to their linear estimate, ties resolved
    left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels, width: int, height: int, channels: int = 1,
               filter_type: int = 0) -> bytes:
    """Serialize 8-bit pixels (row-major, ``width·height·channels``
    values) into a REAL PNG — greyscale (color type 0) or RGB
    (type 2), every scanline filtered with ``filter_type`` (0 None /
    1 Sub / 2 Up / 3 Average / 4 Paeth — one knob so the synth path
    exercises every unfilter branch of any standards-compliant
    reader, ours included); IDAT deflated with stdlib zlib.
    Payloads built here open in any image viewer."""
    import struct
    import zlib

    if channels not in (1, 3):
        raise ValueError("channels must be 1 (grey) or 3 (RGB)")
    px = np.asarray(pixels, dtype=np.int64)
    if px.size != width * height * channels:
        raise ValueError("pixel count != width*height*channels")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("filter_type must be 0..4")
    if px.size and (int(px.min()) < 0 or int(px.max()) > 255):
        raise ValueError("bytes must be in range(0, 256)")
    bpp, stride = channels, width * channels
    # the encode-side predictors read RAW (unfiltered) neighbors, so
    # every filter vectorizes whole-image (no sequential dependency —
    # that only exists on the decode side)
    img = px.reshape(height, stride)
    prior = np.vstack([np.zeros((1, stride), dtype=np.int64),
                       img[:-1]])
    left = np.zeros_like(img)
    left[:, bpp:] = img[:, :-bpp]
    ul = np.zeros_like(img)
    ul[:, bpp:] = prior[:, :-bpp]
    if filter_type == 0:
        res = img
    elif filter_type == 1:
        res = img - left
    elif filter_type == 2:
        res = img - prior
    elif filter_type == 3:
        res = img - (left + prior) // 2
    else:
        p = left + prior - ul
        pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                      np.abs(p - ul))
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, prior, ul))
        res = img - pred
    raw = np.empty((height, stride + 1), dtype=np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = (res & 0xFF).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", width, height, 8,
                       0 if channels == 1 else 2, 0, 0, 0)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw.tobytes()))
            + _png_chunk(b"IEND", b""))


def _decode_png_arr(payload: bytes) -> dict:
    """`decode_png` with the pixels as a numpy array — the zero-copy
    form the feature extractors consume."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, ended = 8, None, bytearray(), False
    while pos < len(payload):
        if len(payload) - pos < 12:
            raise ValueError("truncated PNG chunk")
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if len(data) != ln or len(payload) - pos < 12 + ln:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"PNG chunk CRC mismatch in {tag.decode('latin1')}")
        pos += 12 + ln
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            ended = True
            break
    if ihdr is None or not ended or not idat:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    if len(ihdr) != 13:
        # CRC only proves the bytes present are intact, not that 13
        # of them are — keep the loud-ValueError contract instead of
        # letting struct.unpack leak a struct.error
        raise ValueError(f"bad IHDR length {len(ihdr)} (want 13)")
    width, height, depth, color, comp, filt, interlace = \
        struct.unpack(">IIBBBBB", ihdr)
    if interlace != 0:
        raise NotImplementedError("interlaced (Adam7) PNG not wired")
    if depth != 8:
        raise NotImplementedError(f"{depth}-bit PNG not wired (8 only)")
    if color not in (0, 2):
        raise NotImplementedError(
            f"PNG color type {color} not wired (grey/truecolor only)")
    if comp != 0 or filt != 0:
        raise ValueError("bad PNG compression/filter method")
    bpp = 1 if color == 0 else 3
    stride = width * bpp
    want = (stride + 1) * height
    # bounded inflate: the expected raster size is known from IHDR,
    # so never materialize more than want+1 bytes — an unbounded
    # zlib.decompress would let a small crafted payload (high-ratio
    # deflate stream behind a tiny IHDR) exhaust executor memory
    # before the size check could reject it
    dec = zlib.decompressobj()
    out = bytearray()
    data = bytes(idat)
    while data and len(out) <= want and not dec.eof:
        out += dec.decompress(data, want + 1 - len(out))
        data = dec.unconsumed_tail
    raw = bytes(out)
    if len(raw) != want or not dec.eof:
        raise ValueError("PNG raster size mismatch")
    # unfilter row-by-row (Sub/Average/Paeth reconstruct sequentially
    # in x — tiny rows, the bytearray loop wins over numpy there) but
    # accumulate into ONE buffer instead of a growing per-pixel list
    out_px = bytearray(stride * height)
    prior = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if ft == 1:
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ft == 2:
            for x in range(stride):
                line[x] = (line[x] + prior[x]) & 0xFF
        elif ft == 3:
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (a + prior[x]) // 2) & 0xFF
        elif ft == 4:
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                c = prior[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(a, prior[x], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out_px[y * stride:(y + 1) * stride] = line
        prior = bytes(line)
    return {"codec": "png", "width": width, "height": height,
            "channels": bpp,
            "pixels": np.frombuffer(bytes(out_px), dtype=np.uint8)}


def decode_png(payload: bytes) -> dict:
    """REAL decode of a PNG payload: signature check, chunk walk with
    per-chunk CRC32 VERIFICATION (corruption fails loudly, never
    decodes garbage), multi-IDAT concatenation, zlib inflate, and
    exact unfiltering of all five scanline filter types — so
    standards-compliant output from ANY encoder (whatever filters it
    chose per row) decodes here, not just our own.  Ancillary chunks
    are skipped.  8-bit grey/truecolor non-interlaced only:
    palette/alpha color types, other bit depths and Adam7 interlace
    raise NotImplementedError (labeled).  Returns pixels as a flat
    row-major list."""
    d = _decode_png_arr(payload)
    d["pixels"] = d["pixels"].tolist()
    return d


def resize_png(payload: bytes, factor: int) -> bytes:
    """REAL image downsample for PNG payloads: decode → block-mean
    resample → re-encode (filter 0) — the PNM/BMP resize contract on
    the PNG container."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    d = decode_png(payload)
    out, ow, oh = _block_mean(d["pixels"], d["width"], d["height"],
                              d["channels"], factor)
    return encode_png(out, ow, oh, channels=d["channels"])


# --- Sun AU audio: 24-byte big-endian header + raw samples.  µ-law
# decode/encode are the exact G.711 integer formulas — no codec
# library, no floats, replayable anywhere. ---

_AU_MAGIC = b".snd"


def ulaw_to_pcm16(u: int) -> int:
    """Exact G.711 µ-law expansion (one byte → int16), the table-free
    integer formula (ITU-T G.711; bias 0x84, 8 segments)."""
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    x = (((mant << 3) + 0x84) << exp) - 0x84
    return -x if sign else x


_ULAW_SEG_END = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF)


def pcm16_to_ulaw(x: int) -> int:
    """Exact G.711 µ-law compression (int16 → one byte): the sox /
    CPython-``audioop`` 14-bit reference algorithm (arithmetic >>2,
    clip 8159, bias 33, segment table) — byte-identical to
    ``audioop.lin2ulaw`` on all inputs (differential-tested), and
    inverse-consistent with ``ulaw_to_pcm16`` up to µ-law
    quantization."""
    x = int(x) >> 2                    # floors negatives, like C >>
    if x < 0:
        x = -x
        mask = 0x7F
    else:
        mask = 0xFF
    x = min(x, 8159) + (0x84 >> 2)
    for seg, end in enumerate(_ULAW_SEG_END):
        if x <= end:
            return ((seg << 4) | ((x >> (seg + 1)) & 0x0F)) ^ mask
    return 0x7F ^ mask


_ULAW_SEG_END_ARR = np.array(_ULAW_SEG_END, dtype=np.int64)


def _pcm16_to_ulaw_arr(x: np.ndarray) -> np.ndarray:
    """Vectorized `pcm16_to_ulaw` — element-wise identical (numpy's
    >> on signed ints is arithmetic, like C and python int >>;
    differential-pinned in tests)."""
    x = np.asarray(x, dtype=np.int64) >> 2
    mask = np.where(x < 0, 0x7F, 0xFF)
    x = np.minimum(np.abs(x), 8159) + (0x84 >> 2)
    seg = np.searchsorted(_ULAW_SEG_END_ARR, x, side="left")
    segc = np.minimum(seg, 7)
    val = (segc << 4) | ((x >> (segc + 1)) & 0x0F)
    return (np.where(seg > 7, 0x7F, val) ^ mask).astype(np.uint8)


def encode_au(samples, sample_rate: int = 8000, channels: int = 1,
              encoding: str = "ulaw") -> bytes:
    """Serialize int16 samples into a REAL Sun AU payload — µ-law
    (encoding 1, via the exact G.711 compressor) or 16-bit linear PCM
    big-endian (encoding 3)."""
    import struct

    if encoding == "ulaw":
        arr = (samples if isinstance(samples, np.ndarray)
               else np.array([int(s) for s in samples],
                             dtype=np.int64))
        data = _pcm16_to_ulaw_arr(arr).tobytes()
        enc = 1
    elif encoding == "pcm16":
        if isinstance(samples, np.ndarray):
            arr = samples.astype(np.int64)
            if arr.size and (int(arr.min()) < -0x8000
                             or int(arr.max()) > 0x7FFF):
                struct.pack(f">{arr.size}h", *arr.tolist())
            data = arr.astype(">i2").tobytes()
        else:
            data = struct.pack(f">{len(samples)}h", *samples)
        enc = 3
    else:
        raise ValueError("encoding must be 'ulaw' or 'pcm16'")
    header = _AU_MAGIC + struct.pack(">IIIII", 24, len(data), enc,
                                     sample_rate, channels)
    return header + data


_ULAW_EXPAND = np.array([ulaw_to_pcm16(u) for u in range(256)],
                        dtype=np.int64)


def _decode_au_arr(payload: bytes) -> dict:
    """`decode_au` with the samples as an int64 numpy array — the
    zero-copy form the feature extractors consume (µ-law expands
    through a 256-entry table built from the exact G.711 formula)."""
    import struct

    if payload[:4] != _AU_MAGIC:
        raise ValueError("not an AU payload")
    off, size, enc, rate, ch = struct.unpack_from(">IIIII", payload, 4)
    if size == 0xFFFFFFFF:                    # "unknown size" marker
        size = len(payload) - off
    data = payload[off:off + size]
    if len(data) != size:
        raise ValueError("truncated AU data")
    if enc == 1:
        samples = _ULAW_EXPAND[np.frombuffer(data, dtype=np.uint8)]
        codec = "ulaw"
    elif enc == 3:
        samples = np.frombuffer(
            data[:len(data) // 2 * 2], dtype=">i2").astype(np.int64)
        codec = "pcm_s16be"
    else:
        raise NotImplementedError(f"AU encoding {enc} not wired "
                                  "(1=µ-law, 3=PCM16 only)")
    return {"codec": codec, "sample_rate": rate, "channels": ch,
            "n_frames": int(samples.size) // max(ch, 1),
            "samples": samples}


def decode_au(payload: bytes) -> dict:
    """REAL decode of a Sun AU payload: big-endian header, then µ-law
    (encoding 1 — expanded through the exact G.711 formula) or 16-bit
    linear PCM BE (encoding 3) to an int16 sample list.  Other
    encodings raise NotImplementedError (labeled)."""
    d = _decode_au_arr(payload)
    d["samples"] = d["samples"].tolist()
    return d


def sniff_media(payload: bytes) -> str | None:
    """Container sniff by magic bytes: 'wav' / 'au' / 'pnm' / 'bmp' /
    'png' / 'gif' / 'y4m' for the real decoder paths, None for
    everything else (stub territory)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:9] == b"YUV4MPEG2":
        return "y4m"
    if payload[:8] == _PNG_MAGIC:
        return "png"
    if payload[:4] == _AU_MAGIC:
        return "au"
    if (payload[:1] == b"P" and payload[1:2] in b"123456"
            and payload[2:3].isspace()):
        return "pnm"
    if payload[:2] == b"BM":
        return "bmp"
    return None


_AUDIO_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_ms", LongType()),
    StructField("peak", IntegerType()),
    StructField("energy_mean", LongType()),
    StructField("zero_crossings", LongType()),
])


def _audio_feature_row(doc_id, b: bytes) -> dict | None:
    """Per-payload audio feature math — shared by ``audio_features``
    and the fused ``synth_features`` (one formula, no drift)."""
    kind = sniff_media(b)
    if kind not in ("wav", "au"):
        return None
    d = (_decode_wav_arr(b) if kind == "wav"
         else _decode_au_arr(b))
    s = d["samples"]                # int64; s² ≤ 2³⁰, so
    n = int(s.size)                 # the Σs² stays exact
    nz = s[s != 0] < 0              # in int64 to ~8e9
    return {                        # samples per payload
        "doc_id": doc_id,
        "sample_rate": d["sample_rate"],
        "channels": d["channels"],
        "n_samples": n,
        "duration_ms": 1000 * d["n_frames"]
        // max(d["sample_rate"], 1),
        "peak": int(np.abs(s).max()) if n else 0,
        "energy_mean": (int(np.dot(s, s)) // n) if n else 0,
        "zero_crossings": int(
            np.count_nonzero(nz[1:] != nz[:-1])),
    }


def audio_features(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction over WAV-PCM and Sun-AU payloads
    (µ-law expanded through the exact G.711 integers — round 12)
    (mapInPandas, Arrow-batched, zero shuffles): per payload —
    ``(doc_id, sample_rate, channels, n_samples, duration_ms, peak,
    energy_mean, zero_crossings)``.  All integers: peak = max |s|,
    energy_mean = Σs² DIV n (truncating mean square), zero_crossings
    counts sign flips over the interleaved stream.  Other payloads
    are skipped (emit nothing) — route compressed formats to a real
    codec box, not past it."""
    import pandas as pd

    out_schema = _AUDIO_FEATURES_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [r for doc_id, payload
                    in zip(pdf["doc_id"], pdf["payload"])
                    if (r := _audio_feature_row(doc_id,
                                                bytes(payload)))]
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.mapInPandas(batches, schema=out_schema)


_IMAGE_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("mean_milli", LongType()),
    StructField("min_px", IntegerType()),
    StructField("max_px", IntegerType()),
])


def _image_feature_row(doc_id, b: bytes) -> dict | None:
    """Per-payload image feature math — shared by ``image_features``
    and the fused ``synth_features`` (one formula, no drift)."""
    kind = sniff_media(b)
    if kind not in ("pnm", "bmp", "png", "gif"):
        return None
    d = {"pnm": _decode_pnm_arr, "bmp": _decode_bmp_arr,
         "png": _decode_png_arr,
         "gif": _decode_gif_arr}[kind](b)
    px = d["pixels"]
    n = int(px.size)
    return {
        "doc_id": doc_id,
        "width": d["width"], "height": d["height"],
        "channels": d["channels"],
        "mean_milli": (1000 * int(px.sum(dtype=np.int64))
                       // n) if n else 0,
        "min_px": int(px.min()) if n else 0,
        "max_px": int(px.max()) if n else 0,
    }


def image_features(media: DataFrame) -> DataFrame:
    """REAL image feature extraction over PNM (full P1-P6 family),
    24-bit BMP (round 12), 8-bit grey/truecolor PNG and LZW GIF
    (round 15) payloads (mapInPandas, zero shuffles):
    ``(doc_id, width, height, channels, mean_milli, min_px, max_px)``
    with the mean as a truncating ×1000 integer.  Other payloads emit
    nothing."""
    import pandas as pd

    out_schema = _IMAGE_FEATURES_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [r for doc_id, payload
                    in zip(pdf["doc_id"], pdf["payload"])
                    if (r := _image_feature_row(doc_id,
                                                bytes(payload)))]
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.mapInPandas(batches, schema=out_schema)


def _block_mean(px, w: int, h: int, c: int, factor: int) -> tuple:
    """``factor×factor`` block mean (truncating integer division;
    ragged right/bottom blocks average their actual pixels) — the
    shared resample kernel behind the PNM and BMP resizes."""
    ow, oh = -(-w // factor), -(-h // factor)
    out = bytearray()
    for oy in range(oh):
        for ox in range(ow):
            for ch in range(c):
                acc = cnt = 0
                for y in range(oy * factor, min((oy + 1) * factor, h)):
                    for x in range(ox * factor, min((ox + 1) * factor, w)):
                        acc += px[(y * w + x) * c + ch]
                        cnt += 1
                out.append(acc // cnt)
    return list(out), ow, oh


def resize_pnm(payload: bytes, factor: int) -> bytes:
    """REAL image downsample for binary PNM payloads: block-mean
    resample re-encoded as PNM (P5/P6; ASCII and bitmap inputs
    re-encode into the equivalent binary raster).  An actual resize —
    decode → resample → re-encode — not the byte-slice stub."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    d = decode_pnm(payload)
    out, ow, oh = _block_mean(d["pixels"], d["width"], d["height"],
                              d["channels"], factor)
    return encode_pnm(out, ow, oh, channels=d["channels"])


def resize_bmp(payload: bytes, factor: int) -> bytes:
    """REAL image downsample for 24-bit BMP payloads (round 12): the
    same block-mean kernel, re-encoded as a standards-valid BMP."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    d = decode_bmp(payload)
    out, ow, oh = _block_mean(d["pixels"], d["width"], d["height"],
                              3, factor)
    return encode_bmp(out, ow, oh)


def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """Distributed REAL resize over PNM, BMP and PNG payloads
    (mapInPandas, zero shuffles): ``(doc_id, payload, width,
    height)`` with the payload re-encoded at the reduced size in its
    own container.  Other payloads emit nothing — including GIF,
    deliberately: the resampled block means would need a NEW color
    table (re-quantization), which is a lossy editorial choice, not
    a resize; decode GIFs and re-encode into a truecolor container
    instead."""
    import pandas as pd

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                kind = sniff_media(b)
                if kind == "pnm":
                    rb = resize_pnm(b, factor)
                    d = decode_pnm(rb)
                elif kind == "bmp":
                    rb = resize_bmp(b, factor)
                    d = decode_bmp(rb)
                elif kind == "png":
                    rb = resize_png(b, factor)
                    d = decode_png(rb)
                else:
                    continue
                rows.append({"doc_id": doc_id, "payload": rb,
                             "width": d["width"], "height": d["height"]})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.mapInPandas(batches, schema=out_schema)


_SYNTH_KINDS = ("wav", "pnm", "au", "bmp", "png", "gif", "y4m")


def _synth_payload(i: int, kind: str) -> bytes:
    """One deterministic synthetic payload for id ``i`` — the shared
    per-id synthesis behind ``synth_media`` and the fused
    ``synth_features`` / ``synth_phash`` paths (one formula, so the
    fused and staged forms can never drift).  The per-id sample/pixel
    math runs vectorized (numpy broadcasts over the raster/stream
    axes); values are non-negative before each % so python and numpy
    agree."""
    if kind in ("wav", "au"):
        period = 8 + (i % 23)
        n = 256 + (i % 128)
        t = np.arange(n, dtype=np.int64)
        tri = (t % period) * 2000 - period * 1000
        rate = 8000 + 1000 * (i % 5)
        return (encode_wav_pcm16(tri, sample_rate=rate)
                if kind == "wav"
                else encode_au(tri, sample_rate=rate))
    if kind == "y4m":
        # gradient frames with a +96 luma jump mid-stream (the
        # deterministic scene cut the features must localize);
        # dims/frames/fps derive from the id
        w, h = 8 + (i % 5) * 2, 6 + (i % 4) * 2
        nf, num = 3 + (i % 4), 24 + (i % 6)
        x = np.arange(w, dtype=np.int64)
        y = np.arange(h, dtype=np.int64)
        f = np.arange(nf, dtype=np.int64)
        grid = x[None, :] * 7 + y[:, None] * 13 + i
        cut = np.where(f >= nf // 2, 96, 0)
        fr = ((grid[None, :, :] + (f * 29 + cut)
               [:, None, None]) % 256)
        return encode_y4m(list(fr.reshape(nf, -1)), w, h, fps_num=num)
    w, h = 16 + (i % 17), 12 + (i % 13)
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    if kind in ("pnm", "png", "gif"):
        # ONE shared grey gradient for the raster kinds — the oracles
        # replay this exact formula, so it must not fork per container
        px = ((x[None, :] * 7 + y[:, None] * 13 + i) % 256).reshape(-1)
        # png: the filter cycles through ALL FIVE scanline filters
        # across ids, so a corpus round-trip exercises every unfilter
        # branch (the oracle replays only the pixel math — filters
        # must cancel)
        return (encode_pnm(px, w, h) if kind == "pnm"
                else encode_gif(px, w, h) if kind == "gif"
                else encode_png(px, w, h, filter_type=i % 5))
    ch = np.arange(3, dtype=np.int64)
    px = ((x[None, :, None] * 7 + y[:, None, None]
           * 13 + i + ch[None, None, :] * 41) % 256).reshape(-1)
    return encode_bmp(px, w, h)


def synth_media(df: DataFrame, id_col: str, kind: str = "wav") -> DataFrame:
    """Deterministic REAL media synthesis from any id column — the
    sandbox stand-in for an object-store media source: each id mints
    a genuine WAV-PCM or µ-law AU payload (integer triangle wave
    whose period derives from the id), a genuine P5 / 24-bit BMP
    image (gradient+id pattern), or a genuine YUV4MPEG2 mono video
    (gradient frames with a deterministic mid-stream scene cut),
    built executor-side in mapInPandas
    so the corpus-scale path is the real one (scan → batch →
    encode), not a driver loop."""
    import pandas as pd

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ])
    if kind not in _SYNTH_KINDS:
        raise ValueError(
            "kind must be 'wav', 'au', 'pnm', 'bmp', 'png', 'gif' "
            "or 'y4m'")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [{"doc_id": int(doc_id),
                     "payload": _synth_payload(int(doc_id), kind)}
                    for doc_id in pdf["__id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    # _widen first (r15): the id projection comes off a narrow scan
    # (one file at bench scale), so the per-row Python encode ran on
    # 1-2 tasks; the synth is the expensive stage and the repartition
    # moves 8-byte ids.  No-op on a ≥cluster-wide scan (guide §2.5
    # input-skew note — same fix as dedup's hash stages).
    from kafkadirect_spark.functions.dedup import _widen

    return (_widen(df.select(F.col(id_col).cast("long").alias("__id")))
            .mapInPandas(batches, schema=out_schema))


def _synth_fused(df: DataFrame, id_col: str, kind: str,
                 row_fn, out_schema: StructType) -> DataFrame:
    """Shared body of the fused synth→derive operators: ONE
    mapInPandas running ``_synth_payload`` and ``row_fn`` back to
    back per id (r16, guide §4.1): the synthesized payload never
    crosses the Python→JVM→Arrow→Python boundary between the synth
    and feature stages, and each task holds ONE Python worker instead
    of two chained ones — the staged form's 2·cores concurrent-worker
    demand made its stage wall spawn-latency-bound whenever the
    worker pool was cold (measured: the staged image suite's steady
    stage is ~15 s task time, but a cold pool reads 66 s and 3-4×
    the wall).  Same per-id formulas as the staged operators by
    construction — both call the same ``_synth_payload`` /
    ``row_fn`` helpers."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [r for i in pdf["__id"]
                    if (r := row_fn(int(i),
                                    _synth_payload(int(i), kind)))]
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    from kafkadirect_spark.functions.dedup import _widen

    return (_widen(df.select(F.col(id_col).cast("long").alias("__id")))
            .mapInPandas(batches, schema=out_schema))


def synth_features(df: DataFrame, id_col: str,
                   kind: str = "wav") -> DataFrame:
    """``{audio,image,video}_features(synth_media(df, id, kind))``
    fused into ONE Python stage — result-identical to the staged
    composition (same ``_synth_payload`` + per-payload row helpers),
    with the payload column never materialized through the JVM.  Use
    the staged operators when the payloads themselves are the
    product; use this when only the features are."""
    if kind not in _SYNTH_KINDS:
        raise ValueError(
            "kind must be 'wav', 'au', 'pnm', 'bmp', 'png', 'gif' "
            "or 'y4m'")
    row_fn, schema = {
        "wav": (_audio_feature_row, _AUDIO_FEATURES_SCHEMA),
        "au": (_audio_feature_row, _AUDIO_FEATURES_SCHEMA),
        "pnm": (_image_feature_row, _IMAGE_FEATURES_SCHEMA),
        "bmp": (_image_feature_row, _IMAGE_FEATURES_SCHEMA),
        "png": (_image_feature_row, _IMAGE_FEATURES_SCHEMA),
        "gif": (_image_feature_row, _IMAGE_FEATURES_SCHEMA),
        "y4m": (_video_feature_row, _VIDEO_FEATURES_SCHEMA),
    }[kind]
    return _synth_fused(df, id_col, kind, row_fn, schema)


def synth_phash(df: DataFrame, id_col: str,
                kind: str = "pnm") -> DataFrame:
    """``image_phash(synth_media(df, id, kind))`` fused into ONE
    Python stage — result-identical to the staged composition (same
    ``_synth_payload`` + ``_image_phash_row``); see
    ``synth_features``."""
    if kind not in ("pnm", "bmp", "png", "gif"):
        raise ValueError("kind must be 'pnm', 'bmp', 'png' or 'gif'")
    return _synth_fused(df, id_col, kind, _image_phash_row,
                        _IMAGE_PHASH_SCHEMA)


# ---------------------------------------------------------------------------
# DuckDB oracle replays (round 12) for the REAL media paths: the
# synth_media payload math + the integer feature math, end to end in
# SQL.  Engine == oracle holds IFF encode → decode round-trips the
# samples/pixels exactly — a driver row over these verifies the whole
# container codec, not just the feature arithmetic.  Registration-
# ready for r13.
# ---------------------------------------------------------------------------


def synth_audio_features_oracle_sql(table: str = "documents",
                                    id_col: str = "doc_id") -> str:
    """DuckDB replay of ``audio_features(synth_media(df, id,
    'wav'))``: the triangle-wave synthesis (period/n/rate derived
    from the id) and the integer features (peak, truncating mean
    square, nonzero-stream sign flips) — the WAV container itself is
    exercised on the ENGINE side only, so a match proves the PCM16
    encode/decode round-trip bit-exactly."""
    return f"""
    WITH ids AS (SELECT DISTINCT {id_col} AS i FROM {table}),
    p AS (SELECT i, 8 + (i % 23) AS period, 256 + (i % 128) AS n,
                 8000 + 1000 * (i % 5) AS rate FROM ids),
    v AS (SELECT i, n, rate,
                 (t % period) * 2000 - period * 1000 AS s, t
          FROM (SELECT i, period, n, rate,
                       unnest(generate_series(0, n - 1)) AS t
                FROM p)),
    zc AS (
      SELECT i, SUM(CASE WHEN prev IS NOT NULL
                          AND (prev < 0) <> (s < 0)
                         THEN 1 ELSE 0 END)::BIGINT AS z
      FROM (SELECT i, s,
                   lag(s) OVER (PARTITION BY i ORDER BY t) AS prev
            FROM v WHERE s <> 0)
      GROUP BY i)
    SELECT v.i AS {id_col},
           CAST(ANY_VALUE(v.rate) AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           COUNT(*)::BIGINT AS n_samples,
           (1000 * ANY_VALUE(v.n) // ANY_VALUE(v.rate))::BIGINT
             AS duration_ms,
           CAST(MAX(abs(v.s)) AS INTEGER) AS peak,
           (SUM(v.s * v.s) // COUNT(*))::BIGINT AS energy_mean,
           COALESCE(ANY_VALUE(zc.z), 0)::BIGINT AS zero_crossings
    FROM v LEFT JOIN zc ON zc.i = v.i
    GROUP BY v.i
    """


def synth_image_features_oracle_sql(kind: str = "pnm",
                                    table: str = "documents",
                                    id_col: str = "doc_id") -> str:
    """DuckDB replay of ``image_features(synth_media(df, id,
    kind))`` for kind ∈ {'pnm', 'bmp', 'png', 'gif'}: the
    gradient-pattern pixel synthesis and the integer features — the
    raster container (P5 header+raw / BMP bottom-up BGR padded rows /
    PNG CRC-verified chunks + zlib inflate + the per-id scanline
    filter / GIF sub-block LZW + gray palette) is exercised on the
    ENGINE side only, so a match proves the image encode/decode
    round-trip (for PNG, across all five filter types — the synth
    cycles ``filter_type = id % 5``).  For gif the engine expands
    the gray palette to RGB triplets: channels reads 3 and the
    triplicated mean/min/max equal the gray ones exactly
    (floor(3S·1000 / 3n) = floor(S·1000 / n))."""
    if kind not in ("pnm", "bmp", "png", "gif"):
        raise ValueError("kind must be 'pnm', 'bmp', 'png' or 'gif'")
    channels = 3 if kind in ("bmp", "gif") else 1
    pix = ("(x * 7 + y * 13 + i + ch * 41) % 256" if kind == "bmp"
           else "(x * 7 + y * 13 + i) % 256")
    ch_src = (", (SELECT unnest(generate_series(0, 2)) AS ch)"
              if kind == "bmp" else "")
    return f"""
    WITH ids AS (SELECT DISTINCT {id_col} AS i FROM {table}),
    dims AS (SELECT i, 16 + (i % 17) AS w, 12 + (i % 13) AS h
             FROM ids),
    px AS (
      SELECT d.i, d.w, d.h, {pix} AS v
      FROM dims d,
           (SELECT unnest(generate_series(0, 31)) AS x),
           (SELECT unnest(generate_series(0, 24)) AS y){ch_src}
      WHERE x < d.w AND y < d.h)
    SELECT i AS {id_col},
           CAST(ANY_VALUE(w) AS INTEGER) AS width,
           CAST(ANY_VALUE(h) AS INTEGER) AS height,
           CAST({channels} AS INTEGER) AS channels,
           (1000 * SUM(v) // COUNT(*))::BIGINT AS mean_milli,
           CAST(MIN(v) AS INTEGER) AS min_px,
           CAST(MAX(v) AS INTEGER) AS max_px
    FROM px
    GROUP BY i
    """


# ---------------------------------------------------------------------------
# Perceptual image hashing (round 12): average-hash near-dup over the
# REAL rasters — multimodal dedup, not just features.
# ---------------------------------------------------------------------------


def phash64(pixels, width: int, height: int, channels: int):
    """64-bit average hash (aHash) of a decoded raster, integer-exact:
    gray = truncating channel mean; an 8×8 grid assigns pixel column
    ``x`` to cell ``(x·8) DIV width`` (ditto rows — every cell is
    non-empty for width, height ≥ 8); cell value = truncating mean of
    its gray pixels; threshold = truncating mean of the 64 cell
    values; bit ``gy·8+gx`` is set iff its cell is STRICTLY above the
    threshold.  Returned as two non-negative 32-bit halves
    ``(hi, lo)`` so both engines stay inside BIGINT.

    The aHash property the tests pin: a constant brightness shift
    (no wraparound) moves every cell and the threshold equally, so
    the hash is invariant; small local edits flip few cells →
    small Hamming distance."""
    if width < 8 or height < 8:
        raise ValueError("phash64 needs width and height >= 8")
    px = np.asarray(pixels, dtype=np.int64)
    gray = (px.reshape(-1, channels).sum(axis=1) // channels
            if channels != 1 else px)
    gx = (np.arange(width, dtype=np.int64) * 8) // width
    gy = (np.arange(height, dtype=np.int64) * 8) // height
    cell = (gy[:, None] * 8 + gx[None, :]).reshape(-1)
    cnt = np.bincount(cell, minlength=64)
    tot = np.zeros(64, dtype=np.int64)
    np.add.at(tot, cell, gray)
    cells = tot // cnt
    thr = int(cells.sum()) // 64
    hi = lo = 0
    for b in np.flatnonzero(cells > thr).tolist():
        if b < 32:
            lo |= 1 << b
        else:
            hi |= 1 << (b - 32)
    return hi, lo


_IMAGE_PHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("phash_hi", LongType()),
    StructField("phash_lo", LongType()),
    StructField("n_ones", IntegerType()),
])


def _image_phash_row(doc_id, b: bytes) -> dict | None:
    """Per-payload aHash math — shared by ``image_phash`` and the
    fused ``synth_phash`` (one formula, no drift)."""
    kind = sniff_media(b)
    if kind not in ("pnm", "bmp", "png", "gif"):
        return None
    d = {"pnm": _decode_pnm_arr, "bmp": _decode_bmp_arr,
         "png": _decode_png_arr,
         "gif": _decode_gif_arr}[kind](b)
    if d["width"] < 8 or d["height"] < 8:
        return None
    hi, lo = phash64(d["pixels"], d["width"], d["height"],
                     d["channels"])
    return {"doc_id": doc_id, "phash_hi": hi, "phash_lo": lo,
            "n_ones": bin(hi).count("1") + bin(lo).count("1")}


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash per image payload (PNM family / 24-bit
    BMP / 8-bit PNG / LZW GIF — the real decoders), zero shuffles:
    ``(doc_id, phash_hi, phash_lo, n_ones)``.  Non-image payloads and rasters
    smaller than 8×8 emit nothing (same skip contract as
    ``image_features``)."""
    import pandas as pd

    out_schema = _IMAGE_PHASH_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [r for doc_id, payload
                    in zip(pdf["doc_id"], pdf["payload"])
                    if (r := _image_phash_row(doc_id,
                                              bytes(payload)))]
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.mapInPandas(batches, schema=out_schema)


def phash_pairs(hashes: DataFrame, id_col: str = "doc_id",
                max_hamming: int = 6) -> DataFrame:
    """Near-duplicate image pairs by aHash Hamming distance ≤
    ``max_hamming`` — the image twin of ``dedup.simhash_pairs``, and
    the same pigeonhole contract: candidates bucket on the hash's 8
    BYTES (8 bands × 8 bits), so recall is EXACT for
    ``max_hamming < 8``; band collisions pay one row-local
    ``bit_count(xor)`` verification each.  Shuffles: one (band, byte)
    bucket exchange — never all-pairs.  Returns
    ``(id_a, id_b, hamming)``."""
    if not 0 <= max_hamming < 8:
        raise ValueError("max_hamming must be in [0, 8) — 8 bands of "
                         "8 bits give exact recall below 8 only")
    bands = F.explode(F.array(*[
        F.struct(
            F.lit(t).alias("band"),
            F.expr(f"CAST(({'phash_lo' if t < 4 else 'phash_hi'} DIV "
                   f"{1 << (8 * (t % 4))}) % 256 AS INT)").alias("byte"))
        for t in range(8)])).alias("b")
    tagged = hashes.select(F.col(id_col), "phash_hi", "phash_lo", bands) \
        .select(id_col, "phash_hi", "phash_lo", "b.band", "b.byte")
    a = tagged.alias("a")
    b = tagged.alias("b")
    cand = (a.join(b, ["band", "byte"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.phash_hi").alias("__ha"),
                    F.col("a.phash_lo").alias("__la"),
                    F.col("b.phash_hi").alias("__hb"),
                    F.col("b.phash_lo").alias("__lb"))
            .distinct())
    ham = (F.bit_count(F.expr("__ha ^ __hb"))
           + F.bit_count(F.expr("__la ^ __lb")))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def synth_phash_pairs_oracle_sql(kind: str = "pnm",
                                 max_hamming: int = 6,
                                 table: str = "documents",
                                 id_col: str = "doc_id") -> str:
    """DuckDB replay of ``phash_pairs(image_phash(synth_media(...)))``
    end to end: gradient pixel synthesis → gray → 8×8 truncating cell
    means → threshold bits → 32-bit halves → byte bands → bucket
    pairs → bit_count(xor) Hamming — a green row proves the raster
    container round-trip AND the whole perceptual-dedup pipeline."""
    if kind not in ("pnm", "bmp", "png", "gif"):
        raise ValueError("kind must be 'pnm', 'bmp', 'png' or 'gif'")
    if not 0 <= max_hamming < 8:
        raise ValueError("max_hamming must be in [0, 8)")
    if kind in ("pnm", "png", "gif"):       # same greyscale gradient
        # (gif's RGB expansion triplicates the gray value, and the
        # phash gray conversion (r+g+b)//3 maps it straight back)
        gray = "(x * 7 + y * 13 + i) % 256"
        gsrc = ""
    else:
        # truncating 3-channel mean of the BMP gradient
        gray = ("((x*7 + y*13 + i) % 256 + (x*7 + y*13 + i + 41) % 256"
                " + (x*7 + y*13 + i + 82) % 256) // 3")
        gsrc = ""
    return f"""
    WITH ids AS (SELECT DISTINCT {id_col} AS i FROM {table}),
    dims AS (SELECT i, 16 + (i % 17) AS w, 12 + (i % 13) AS h
             FROM ids),
    px AS (
      SELECT d.i, d.w, d.h, x, y, {gray} AS g
      FROM dims d,
           (SELECT unnest(generate_series(0, 31)) AS x),
           (SELECT unnest(generate_series(0, 24)) AS y){gsrc}
      WHERE x < d.w AND y < d.h),
    cells AS (
      SELECT i, ((y * 8) // h) * 8 + (x * 8) // w AS b,
             SUM(g) // COUNT(*) AS cv
      FROM px GROUP BY i, ((y * 8) // h) * 8 + (x * 8) // w),
    thr AS (SELECT i, SUM(cv) // 64 AS t FROM cells GROUP BY i),
    hash AS (
      SELECT c.i,
             SUM(CASE WHEN c.cv > thr.t AND c.b >= 32
                      THEN 1::BIGINT << (c.b - 32) ELSE 0 END)
               ::BIGINT AS hi,
             SUM(CASE WHEN c.cv > thr.t AND c.b < 32
                      THEN 1::BIGINT << c.b ELSE 0 END)::BIGINT AS lo
      FROM cells c JOIN thr ON thr.i = c.i
      GROUP BY c.i),
    bands AS (
      SELECT i, hi, lo, t AS band,
             CASE WHEN t < 4 THEN (lo // (1::BIGINT << (8 * t))) % 256
                  ELSE (hi // (1::BIGINT << (8 * (t - 4)))) % 256
             END AS byte
      FROM hash, (SELECT unnest(generate_series(0, 7)) AS t)),
    cand AS (
      SELECT DISTINCT a.i AS id_a, b.i AS id_b,
             a.hi AS ha, a.lo AS la, b.hi AS hb, b.lo AS lb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.byte = b.byte AND a.i < b.i)
    SELECT id_a, id_b,
           (bit_count(xor(ha, hb)) + bit_count(xor(la, lb)))::INTEGER
             AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
          <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# REAL video container (round 14): YUV4MPEG2 (.y4m) — the public
# uncompressed video interchange format (mjpegtools; plain-text
# header + raw planar frames, no codec library needed).  Completes
# the image/audio/VIDEO triad of real container round-trips; H.264/
# VP9/AV1 and friends stay behind decode_stub like every compressed
# format (env-blocked).
# ---------------------------------------------------------------------------

_Y4M_MAGIC = b"YUV4MPEG2"

# luma-first planar frame size in PIXELS per EXACT 8-bit colorspace
# tag, as a (num, den) multiplier of w*h; luma plane is always first.
# Exact-match only: a prefix match would silently mis-size 10/16-bit
# streams (C420p10/C420p16 carry 2 bytes per sample) — unknown tags
# must raise, not truncate.
_Y4M_CS = {
    "mono": (1, 1),
    "420": (3, 2), "420jpeg": (3, 2), "420mpeg2": (3, 2),
    "420paldv": (3, 2),
    "422": (2, 1),
    "444": (3, 1),
}


# --- GIF (CompuServe 87a/89a, public spec): the raster whose whole
# compression layer — LZW — needs NO library at all (round 15, the
# PNG lesson continued): variable-width LSB-first code stream with
# dictionary growth 9→12 bits, clear/end codes, deferred-clear
# full-table behavior, sub-block framing, global/local color tables
# and 4-pass interlace are all implemented per spec.  decode is
# bounded by the descriptor-declared raster size (the PNG
# decompression-bomb discipline).  The encoder writes a valid LZW
# stream via the classic literal+periodic-CLEAR technique (public),
# so payloads built here open in any viewer; the decoder additionally
# reads REAL dictionary-compressed streams (pinned against an
# independent spec-built LZW compressor in the tests). ---


def _lzw_decode(data: bytes, min_code_size: int,
                max_pixels: int) -> bytes:
    """GIF-flavor LZW decode to palette indices, output bounded at
    ``max_pixels`` (a crafted stream cannot balloon memory — it fails
    loudly the moment it overruns the declared raster)."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    # chunk-parsed decode: all codes up to the next possible width
    # change parse at the current width in ONE vectorized pass (each
    # code adds at most one table entry, so the boundary is known in
    # advance); literal runs are emitted whole and their table
    # entries materialized lazily — only when a dictionary reference
    # actually needs them.  Reparse happens only on width growth or
    # CLEAR.  Behavior (output bytes AND error paths) is identical to
    # the scalar bit-loop this replaces.
    allbits = np.unpackbits(np.frombuffer(data, dtype=np.uint8),
                            bitorder="little")
    nbits_total = allbits.size
    out = bytearray()
    bitpos = 0
    width = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [None, None]
    table: list[bytes | None] = list(base)
    next_code = end + 1          # counts RESERVED slots incl. pending
    prev: int | None = None
    pending: list[int] = []      # literal codes with lazy table entries
    pend_prev: int | None = None
    pow2 = np.array([1 << b for b in range(12)], dtype=np.uint32)

    while True:
        room = ((1 << width) - next_code) if width < 12 else (1 << 30)
        room = max(room, 1)
        avail = (nbits_total - bitpos) // width
        if avail <= 0:
            raise ValueError("truncated GIF LZW stream")
        take = min(room, avail)
        parse_width = width
        codes = (allbits[bitpos:bitpos + take * width]
                 .reshape(take, width).astype(np.uint32) @ pow2[:width])
        specials = np.flatnonzero(codes >= clear)
        i = 0
        si = 0
        restart = False
        while i < take:
            nxt = int(specials[si]) if si < specials.size else take
            if nxt > i:                       # literal run [i, nxt)
                run = codes[i:nxt]
                if not pending:
                    pend_prev = prev
                pending.extend(run.tolist())
                out += run.astype(np.uint8).tobytes()
                grow = (nxt - i) if prev is not None else (nxt - i - 1)
                next_code = min(next_code + grow, 4096)
                prev = int(run[-1])
                if len(out) > max_pixels:
                    raise ValueError(
                        "GIF LZW output exceeds declared raster")
                i = nxt
                continue
            code = int(codes[i])
            i += 1
            si += 1
            if code == clear:
                pending.clear()
                pend_prev = None
                table = list(base)
                next_code = end + 1
                width = min_code_size + 1
                prev = None
                restart = True        # old-width parse is now invalid
                break
            if code == end:
                return bytes(out)
            if pending:                        # materialize lazily
                p = pend_prev
                for c in pending:
                    if p is not None and len(table) < 4096 \
                            and len(table) < next_code:
                        table.append(table[p] + table[c][:1])
                    p = c
                pending.clear()
                pend_prev = None
            if prev is None:
                raise ValueError("bad GIF LZW code after clear")
            if code < next_code and code < len(table) \
                    and table[code] is not None:
                entry = table[code]
            elif code == next_code:
                entry = table[prev] + table[prev][:1]
            else:
                raise ValueError(f"bad GIF LZW code {code}")
            out += entry
            if next_code < 4096:            # full table: stop adding
                table.append(table[prev] + entry[:1])
                next_code += 1
            prev = code
            if len(out) > max_pixels:
                raise ValueError(
                    "GIF LZW output exceeds declared raster")
        bitpos += i * parse_width
        if restart:
            continue
        if width < 12 and next_code >= (1 << width):
            width += 1


_GIF_GCT = bytes(v for g in range(256) for v in (g, g, g))


def encode_gif(pixels, width: int, height: int) -> bytes:
    """Serialize 8-bit GRAYSCALE pixels into a REAL GIF87a payload:
    256-entry gray global color table, one image, LZW stream written
    with the classic literal-codes + periodic-CLEAR technique (a
    fully valid stream any decoder reads; the code width stays at 9
    bits by clearing before the dictionary would grow past it).
    Payloads built here open in any image viewer."""
    import struct

    if not 1 <= width <= 0xFFFF or not 1 <= height <= 0xFFFF:
        raise ValueError("width/height must be in [1, 65535]")
    px = np.asarray(pixels, dtype=np.int64)
    if px.size != width * height:
        raise ValueError("pixel count != width*height")
    if px.size and (int(px.min()) < 0 or int(px.max()) > 255):
        raise ValueError("pixel out of range")
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x70 | 0x07, 0, 0])    # 256-entry GCT
    out += _GIF_GCT
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) \
        + b"\x00"
    out += bytes([8])                            # LZW min code size
    # code stream: initial CLEAR, then literals with a re-CLEAR
    # before each 128th pixel (the decoder's table never reaches 512
    # entries, so the code width stays at 9 bits) — laid out as one
    # uint16 code vector and bit-packed in a single numpy pass
    n = px.size
    n_clear = (n - 1) // 128 if n else 0
    codes = np.empty(1 + n + n_clear + 1, dtype=np.uint16)
    codes[0] = 256
    j = np.arange(n, dtype=np.int64)
    codes[1 + j + j // 128] = px.astype(np.uint16)
    cj = np.arange(128, n, 128, dtype=np.int64)
    codes[cj + cj // 128] = 256
    codes[-1] = 257
    bits = np.zeros(((codes.size * 9 + 7) // 8) * 8, dtype=np.uint8)
    base = np.arange(codes.size, dtype=np.int64) * 9
    for b in range(9):
        bits[base + b] = (codes >> b) & 1
    stream = np.packbits(bits, bitorder="little").tobytes()
    for k in range(0, len(stream), 255):
        blk = stream[k:k + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def _decode_gif_arr(payload: bytes) -> dict:
    """`decode_gif` with the pixels as a numpy array — the zero-copy
    form the feature extractors consume."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = payload[pos:pos + 3 * n]
        if len(gct) != 3 * n:
            raise ValueError("truncated GIF color table")
        pos += 3 * n
    first = None
    n_frames = 0
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF (no trailer)")
        b = payload[pos]
        pos += 1
        if b == 0x3B:                            # trailer
            break
        if b == 0x21:                            # extension
            pos += 1                             # label
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension")
                ln = payload[pos]
                pos += 1 + ln
                if ln == 0:
                    break
        elif b == 0x2C:                          # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            _, _, w, h = struct.unpack_from("<HHHH", payload, pos)
            ip = payload[pos + 8]
            pos += 9
            interlaced = bool(ip & 0x40)
            ct = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                ct = payload[pos:pos + 3 * n]
                if len(ct) != 3 * n:
                    raise ValueError("truncated GIF color table")
                pos += 3 * n
            if pos >= len(payload):
                raise ValueError("truncated GIF image")
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF image data")
                ln = payload[pos]
                pos += 1
                if ln == 0:
                    break
                blk = payload[pos:pos + ln]
                if len(blk) != ln:
                    raise ValueError("truncated GIF image data")
                data += blk
                pos += ln
            n_frames += 1
            if first is None:
                if ct is None:
                    raise ValueError("GIF image with no color table")
                if w < 1 or h < 1:
                    raise ValueError("bad GIF image dimensions")
                idx = _lzw_decode(bytes(data), mcs, w * h)
                if len(idx) != w * h:
                    raise ValueError("GIF raster size mismatch")
                idx_arr = np.frombuffer(idx, dtype=np.uint8)
                if interlaced:                   # 4-pass row order
                    order = np.array(
                        list(range(0, h, 8)) + list(range(4, h, 8))
                        + list(range(2, h, 4)) + list(range(1, h, 2)),
                        dtype=np.int64)
                    fixed = np.empty((h, w), dtype=np.uint8)
                    fixed[order] = idx_arr.reshape(h, w)
                    idx_arr = fixed.reshape(-1)
                n_ct = len(ct) // 3
                if idx_arr.size and int(idx_arr.max()) >= n_ct:
                    raise ValueError(
                        "GIF pixel index outside color table")
                px = (np.frombuffer(ct, dtype=np.uint8)
                      .reshape(-1, 3)[idx_arr].reshape(-1))
                first = (w, h, px)
        else:
            raise ValueError(f"bad GIF block 0x{b:02x}")
    if first is None:
        raise ValueError("GIF with no image")
    w, h, px = first
    return {"codec": "gif", "width": w, "height": h, "channels": 3,
            "pixels": px, "n_frames": n_frames}


def decode_gif(payload: bytes) -> dict:
    """REAL decode of a GIF payload: header + logical screen
    descriptor, global/local color tables, extension blocks skipped,
    sub-block reassembly, full variable-width LZW (dictionary growth
    9→12 bits, deferred clear), 4-pass interlace reordering, palette
    → RGB expansion.  The FIRST image is decoded (``n_frames``
    counts all image descriptors — animation frames beyond the first
    are walked, not decoded).  Corruption fails loudly; the LZW
    output is bounded by the declared raster (the PNG bomb
    discipline)."""
    d = _decode_gif_arr(payload)
    d["pixels"] = d["pixels"].tolist()
    return d


def encode_y4m(frames, width: int, height: int, fps_num: int = 25,
               fps_den: int = 1) -> bytes:
    """Serialize luma frames (each a flat row-major list of
    ``width·height`` 8-bit values) into a REAL YUV4MPEG2 payload
    (``Cmono`` colorspace — grayscale video, exactly the planar luma
    the features consume).  Payloads built here parse with any
    standards-compliant y4m reader (mjpegtools/ffmpeg), not just
    ours."""
    if width < 1 or height < 1:
        raise ValueError("width/height must be >= 1")
    if fps_num < 1 or fps_den < 1:
        raise ValueError("fps must be a positive rational")
    out = bytearray(
        b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 Cmono\n"
        % (width, height, fps_num, fps_den))
    for fr in frames:
        if isinstance(fr, np.ndarray):
            if fr.size != width * height:
                raise ValueError("frame pixel count != width*height")
            if fr.size and (int(fr.min()) < 0 or int(fr.max()) > 255):
                raise ValueError("bytes must be in range(0, 256)")
            out += b"FRAME\n"
            out += fr.astype(np.uint8).tobytes()
        else:
            if len(fr) != width * height:
                raise ValueError("frame pixel count != width*height")
            out += b"FRAME\n"
            out += bytes(fr)
    return bytes(out)


def _decode_y4m_arr(payload: bytes) -> dict:
    """`decode_y4m` with each luma plane as a numpy array — the
    zero-copy form the feature extractors consume."""
    if payload[:9] != _Y4M_MAGIC:
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated y4m header")
    w = h = None
    num, den = 25, 1
    cs = "420"                       # spec default when C is absent
    for tok in payload[10:nl].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            num, den = (int(x) for x in val.split(":"))
        elif tag == "I":
            if val not in ("p", "?"):
                raise NotImplementedError(
                    f"interlaced y4m (I{val}) not wired "
                    "(progressive only)")
        elif tag == "C":
            if val not in _Y4M_CS:
                raise NotImplementedError(
                    f"y4m colorspace C{val} not wired "
                    "(8-bit mono/420*/422/444 only)")
            cs = val
        # A (aspect) and X (extension) tags carry no pixel layout
    if not w or not h or w < 1 or h < 1:
        raise ValueError("y4m header missing W/H")
    if num < 1 or den < 1:
        raise ValueError("y4m header has non-positive frame rate")
    # subsampled chroma planes are ceil(w/2)·ceil(h/2)-shaped for odd
    # dims — the flat w·h·mul product would mis-size them, so odd
    # dims are only wired where no axis is subsampled
    if (cs.startswith("420") and (w % 2 or h % 2)) \
            or (cs == "422" and w % 2):
        raise NotImplementedError(
            f"odd dimensions ({w}x{h}) with subsampled chroma "
            f"C{cs} not wired (mono/444 accept any dims)")
    mul_n, mul_d = _Y4M_CS[cs]
    fsize = w * h * mul_n // mul_d
    luma_n = w * h
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos:pos + 5] != b"FRAME":
            raise ValueError("corrupt y4m FRAME marker")
        pos = fnl + 1
        if pos + fsize > len(payload):
            raise ValueError("truncated y4m frame data")
        frames.append(np.frombuffer(payload, dtype=np.uint8,
                                    count=luma_n, offset=pos))
        pos += fsize
    return {"codec": "y4m", "width": w, "height": h,
            "fps_num": num, "fps_den": den, "colorspace": cs,
            "n_frames": len(frames), "frames": frames}


def decode_y4m(payload: bytes) -> dict:
    """REAL decode of a YUV4MPEG2 payload: parse the parameter header
    (W/H/F/I/A/C/X tags), walk the FRAME markers, return per-frame
    LUMA planes (chroma planes of 420/422/444 are parsed past, not
    kept — every feature here is luma-space).  Interlaced streams and
    colorspaces outside mono/420*/422/444 raise NotImplementedError
    (labeled), truncated payloads raise ValueError."""
    d = _decode_y4m_arr(payload)
    d["frames"] = [f.tolist() for f in d["frames"]]
    return d


_VIDEO_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("fps_num", IntegerType()),
    StructField("fps_den", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("mean_luma_milli", LongType()),
    StructField("max_delta_milli", LongType()),
    StructField("cut_frame", IntegerType()),
])


def _video_feature_row(doc_id, b: bytes) -> dict | None:
    """Per-payload video feature math — shared by ``video_features``
    and the fused ``synth_features`` (one formula, no drift)."""
    if sniff_media(b) != "y4m":
        return None
    d = _decode_y4m_arr(b)
    w, h, nf = d["width"], d["height"], d["n_frames"]
    sums = [int(fr.sum(dtype=np.int64))
            for fr in d["frames"]]
    area = w * h
    deltas = [1000 * abs(b2 - a) // area
              for a, b2 in zip(sums, sums[1:])]
    max_d = max(deltas, default=0)
    cut = (deltas.index(max_d) + 1) if deltas else None
    return {
        "doc_id": doc_id, "width": w, "height": h,
        "n_frames": nf,
        "fps_num": d["fps_num"], "fps_den": d["fps_den"],
        "duration_ms": 1000 * nf * d["fps_den"]
        // max(d["fps_num"], 1),
        "mean_luma_milli": (1000 * sum(sums)
                            // (nf * area)) if nf else 0,
        "max_delta_milli": max_d,
        "cut_frame": cut,
    }


def video_features(media: DataFrame) -> DataFrame:
    """REAL video feature extraction over YUV4MPEG2 payloads
    (mapInPandas, Arrow-batched, zero shuffles): per payload —
    ``(doc_id, width, height, n_frames, fps_num, fps_den,
    duration_ms, mean_luma_milli, max_delta_milli, cut_frame)``.
    All integers: duration_ms = 1000·frames·den DIV num,
    mean_luma_milli the truncating ×1000 mean over every luma sample,
    max_delta_milli the LARGEST inter-frame mean-luma jump
    (1000·|Σf − Σf−1| DIV (w·h)) — the scene-change / shot-cut
    signal — and cut_frame the FIRST frame index achieving it (NULL
    for single-frame streams).  Non-y4m payloads emit nothing —
    route compressed video to a real codec box, not past it."""
    import pandas as pd

    out_schema = _VIDEO_FEATURES_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [r for doc_id, payload
                    in zip(pdf["doc_id"], pdf["payload"])
                    if (r := _video_feature_row(doc_id,
                                                bytes(payload)))]
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.mapInPandas(batches, schema=out_schema)


def video_frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling over YUV4MPEG2 payloads: every
    ``every_n``-th luma frame is re-encoded as a genuine P5 raster —
    ``(doc_id, frame_idx, width, height, payload)`` — so sampled
    frames flow straight into the image pipeline (`image_features`,
    `image_phash`, `resize_images`): the video→keyframe→image-dedup
    composition a multimodal curation pipeline runs.  The explode
    happens executor-side inside mapInPandas (output scales with
    frames KEPT, input pays one scan, zero shuffles); non-y4m
    payloads emit nothing."""
    import pandas as pd

    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if sniff_media(b) != "y4m":
                    continue
                d = _decode_y4m_arr(b)
                w, h = d["width"], d["height"]
                for idx in range(0, d["n_frames"], every_n):
                    rows.append({
                        "doc_id": doc_id, "frame_idx": idx,
                        "width": w, "height": h,
                        "payload": encode_pnm(d["frames"][idx], w, h),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.mapInPandas(batches, schema=out_schema)


def synth_video_features_oracle_sql(table: str = "documents",
                                    id_col: str = "doc_id") -> str:
    """DuckDB replay of ``video_features(synth_media(df, id,
    'y4m'))``: the per-frame gradient synthesis (dims / frame count /
    fps / mid-stream +96 luma jump derived from the id) and the
    integer features — the y4m container (header tags, FRAME
    markers, planar luma) is exercised on the ENGINE side only, so a
    match proves the encode/decode round-trip bit-exactly, including
    the scene-cut localization."""
    return f"""
    WITH ids AS (SELECT DISTINCT {id_col} AS i FROM {table}),
    p AS (SELECT i, 8 + (i % 5) * 2 AS w, 6 + (i % 4) * 2 AS h,
                 3 + (i % 4) AS nf, 24 + (i % 6) AS num FROM ids),
    px AS (
      SELECT p.i, p.w, p.h, p.nf, p.num, f,
             (x * 7 + y * 13 + p.i + f * 29
              + CASE WHEN f >= p.nf // 2 THEN 96 ELSE 0 END) % 256
               AS v
      FROM p,
           (SELECT unnest(generate_series(0, 5)) AS f),
           (SELECT unnest(generate_series(0, 15)) AS x),
           (SELECT unnest(generate_series(0, 11)) AS y)
      WHERE f < p.nf AND x < p.w AND y < p.h),
    fs AS (
      SELECT i, f, SUM(v) AS s,
             ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,
             ANY_VALUE(nf) AS nf, ANY_VALUE(num) AS num
      FROM px GROUP BY i, f),
    d AS (
      SELECT i, f, w, h, nf, num, s,
             1000 * abs(s - lag(s) OVER (PARTITION BY i ORDER BY f))
               // (w * h) AS dm
      FROM fs),
    agg AS (
      SELECT i, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,
             ANY_VALUE(nf) AS nf, ANY_VALUE(num) AS num,
             SUM(s) AS total,
             COALESCE(MAX(dm), 0) AS maxd
      FROM d GROUP BY i),
    cf AS (
      SELECT d.i, MIN(d.f) AS cut
      FROM d JOIN (SELECT i, MAX(dm) AS maxd FROM d GROUP BY i) m
        ON d.i = m.i AND d.dm = m.maxd
      GROUP BY d.i)
    SELECT agg.i AS {id_col},
           CAST(agg.w AS INTEGER) AS width,
           CAST(agg.h AS INTEGER) AS height,
           CAST(agg.nf AS INTEGER) AS n_frames,
           CAST(agg.num AS INTEGER) AS fps_num,
           CAST(1 AS INTEGER) AS fps_den,
           (1000 * agg.nf // agg.num)::BIGINT AS duration_ms,
           (1000 * agg.total // (agg.nf * agg.w * agg.h))::BIGINT
             AS mean_luma_milli,
           agg.maxd::BIGINT AS max_delta_milli,
           CAST(cf.cut AS INTEGER) AS cut_frame
    FROM agg LEFT JOIN cf ON agg.i = cf.i
    """
