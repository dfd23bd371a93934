"""Multimodal columns: image/audio/video as opaque ``binary`` content plus
typed metadata, processed with Arrow-batched ``mapInPandas``.

The Spark-side plumbing (schema, batch iteration, partition-preserving
feature extraction) is real and tested. Decode coverage (r11-r13):
WAV/PCM, 24-bpp BMP, 8-bit truecolor PNG and palette GIF are REAL
decodes — :func:`parse_wav` / :func:`_wav_blob_stats` walk the RIFF
chunk list and compute sample-level stats, :func:`parse_bmp` /
:func:`_bmp_blob_stats` honor the BMP offset/stride layout (top-down
heights included), :func:`parse_png` / :func:`_png_blob_stats` (r12)
decode through a REAL compression layer (CRC-verified chunk walk,
stdlib ``zlib`` inflate, all five spec scanline filters; r15 adds
Adam7 interlacing — pass-local unfiltering + positional
de-interlace), and
:func:`parse_gif` / :func:`_gif_blob_stats` (r13) decode through a
REAL LZW layer implemented from the spec — variable code width,
clear/EOI, the KwKwK case, table-full freeze — with no codec library
at all, and baseline JPEG (r14, the first LOSSY format) is a real
decode too: ``operators/jpeg.py`` runs the full marker/DQT/DHT/
DRI/entropy/dezigzag/dequant/IDCT pipeline from the spec. Pure byte
arithmetic (plus stdlib zlib for PNG), byte-exact against DuckDB
BLOB oracles, fuzz-total on hostile bytes. All seven decoders in
:data:`BLOB_STATS` are real; :func:`extract_features` is the one
codec-free path, a deterministic byte histogram per object.

At scale: binary payloads stay columnar in parquet, flow executor-side in
Arrow record batches, and never pass through the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .jpeg import _JPEG_STRUCT, _jpeg_blob_stats

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("mime", T.StringType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ])),
])

FEATURE_DIM = 64


def documents_as_media(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Treat the documents table as a binary media table (UTF-8 payloads) —
    the offline stand-in for an image/audio corpus with identical plumbing."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )


def _byte_histogram(data: bytes, dim: int = FEATURE_DIM) -> list[int]:
    counts = [0] * dim
    for b in data:
        counts[b % dim] += 1
    return counts


def byte_feature_mapper(dim: int = FEATURE_DIM):
    """mapInPandas mapper: binary content -> `dim`-bucket byte histogram
    (the deterministic 'fake decode' feature extractor). Output schema:
    media_id bigint, feat array<bigint>."""
    def mapper(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "feat": [_byte_histogram(bytes(c), dim) for c in pdf["content"]],
            })
    return mapper


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    return media.mapInPandas(byte_feature_mapper(dim),
                             schema="media_id bigint, feat array<bigint>")


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling as metadata math (no decode): one row per
    sampled frame offset within `meta.duration_ms`."""
    return (media
            .filter(F.col("meta.duration_ms").isNotNull())
            .select("media_id",
                    F.explode(F.sequence(F.lit(0), F.col("meta.duration_ms"),
                                         F.lit(every_ms))).alias("frame_ms")))


# -- container sniffing (r10): typed binary ops, no codec ------------------

#: real container magic numbers (PNG / JPEG / RIFF-WAV)
MAGIC_PNG = bytes([0x89, 0x50, 0x4E, 0x47])
MAGIC_JPEG = bytes([0xFF, 0xD8, 0xFF])
MAGIC_RIFF = b"RIFF"


def synth_media_corpus(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Deterministic mixed-container binary corpus: each document's
    UTF-8 payload prefixed with a REAL container magic chosen by
    id % 3 — the offline stand-in for a mixed image/audio lake whose
    byte-level structure (not just its metadata) is inspectable.
    NULL text yields NULL content (an unreadable object)."""
    k = F.col(id_col) % 3
    magic = (F.when(k == 0, F.lit(MAGIC_PNG))
             .when(k == 1, F.lit(MAGIC_JPEG))
             .otherwise(F.lit(MAGIC_RIFF)))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.concat(magic, F.encode(F.col(text_col), "UTF-8"))
        .alias("content"))


def _le_hex(x, nbytes: int):
    """Little-endian hex rendering of a non-negative integer column —
    the byte-serialization primitive for container synthesis (2 hex
    chars per byte, least-significant byte first)."""
    x = x.cast("bigint") if hasattr(x, "cast") else F.lit(int(x))
    return F.concat(*[
        F.lpad(F.hex(F.shiftright(x, 8 * i) % 256), 2, "0")
        for i in range(nbytes)])


def synth_wav_corpus(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic corpus of REAL RIFF/WAVE PCM files, built with
    pure Catalyst byte arithmetic (no codec, no Python): each
    document's UTF-8 payload — zero-padded to an even byte count —
    becomes the 16-bit-LE mono sample data of a canonical 44-byte-
    header WAV whose sample rate cycles 8000/16000/44100 Hz by
    ``id % 3``. Every field (RIFF size, fmt chunk, byte rate, block
    align, data size) is the value a real encoder would write, so
    :func:`decode_wav_stats` is exercising a genuine container parse,
    and stdlib ``wave`` opens these files unchanged
    (tests/test_round11_props.py round-trips both directions).
    NULL text yields NULL content (an unreadable object)."""
    rate = (F.when(F.col(id_col) % 3 == 0, F.lit(8000))
            .when(F.col(id_col) % 3 == 1, F.lit(16000))
            .otherwise(F.lit(44100))).cast("bigint")
    raw = F.encode(F.col(text_col), "UTF-8")
    data = F.when(F.length(raw) % 2 == 1,
                  F.concat(raw, F.lit(b"\x00"))).otherwise(raw)
    dlen = F.length(data)
    hexfile = F.concat(
        F.lit("52494646"), _le_hex(dlen + 36, 4),      # "RIFF", riff size
        F.lit("57415645"), F.lit("666D7420"),          # "WAVE", "fmt "
        _le_hex(F.lit(16), 4),                         # fmt chunk size
        _le_hex(F.lit(1), 2), _le_hex(F.lit(1), 2),    # PCM, mono
        _le_hex(rate, 4), _le_hex(rate * 2, 4),        # rate, byte rate
        _le_hex(F.lit(2), 2), _le_hex(F.lit(16), 2),   # block align, bits
        F.lit("64617461"), _le_hex(dlen, 4),           # "data", data size
        F.hex(data))
    return docs.select(F.col(id_col).alias("media_id"),
                       F.unhex(hexfile).alias("content"))


def _wav_pcm16(data: bytes):
    """The shared container walk: validate the RIFF/WAVE preamble and
    walk the word-aligned chunk list (any chunk order, unknown chunks
    skipped) to the ``fmt `` and ``data`` chunks. Returns
    ``(sample_rate, n_channels, pcm_bytes)`` for 16-bit PCM, else
    ``None`` (unreadable / non-PCM / non-16-bit — outside this
    decoder)."""
    import struct

    if data is None or len(data) < 12 or data[0:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return None
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (csz,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + csz]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        pos += 8 + csz + (csz & 1)  # RIFF chunks are word-aligned
    if fmt is None or pcm is None:
        return None
    audio_format, n_ch, rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1 or bits != 16 or n_ch < 1 or rate < 1:
        return None
    return rate, n_ch, pcm


def parse_wav(data: bytes | None) -> tuple | None:
    """Plain-Python WAV/PCM decode — REAL container parsing, pure byte
    arithmetic, no codec library (VERDICT r10 list #5). Returns
    ``(sample_rate, n_channels, bits_per_sample, n_samples,
    duration_ms, rms)`` — n_samples is frames per channel, rms is over
    all channels' samples, both floats unrounded (callers round
    engine-consistently) — or ``None`` for unreadable/non-16-bit-PCM
    payloads. This is the executable spec the Arrow kernel in
    :func:`_wav_blob_stats` batches (sample loop here is pure Python on
    purpose — the independent third implementation); stdlib
    ``wave``-written files round-trip through it
    (tests/test_round11_props.py)."""
    hdr = _wav_pcm16(data)
    if hdr is None:
        return None
    rate, n_ch, pcm = hdr
    n_frames = len(pcm) // (2 * n_ch)
    n_vals = n_frames * n_ch
    ss = 0
    for k in range(n_vals):
        u = pcm[2 * k] + 256 * pcm[2 * k + 1]
        v = u - 65536 if u >= 32768 else u
        ss += v * v
    rms = float(ss / n_vals) ** 0.5 if n_vals else None
    duration_ms = n_frames * 1000.0 / rate
    return (rate, n_ch, 16, n_frames, duration_ms, rms)


_WAV_STRUCT = ("struct<sample_rate:int,n_channels:int,bits_per_sample:int,"
               "n_samples:bigint,duration_ms:double,rms:double>")


def _wav_blob_stats(data: bytes):
    """Per-blob WAV kernel: :func:`parse_wav` with numpy int64 sample
    math (exact sum of squares; identical doubles to the plain-Python
    spec, pinned in tests/test_round11_props.py). ``None`` for
    unreadable payloads."""
    import numpy as np

    hdr = _wav_pcm16(data)
    if hdr is None:
        return None
    rate, n_ch, pcm = hdr
    n_frames = len(pcm) // (2 * n_ch)
    n_vals = n_frames * n_ch
    if n_vals:
        s = np.frombuffer(pcm[:2 * n_vals], dtype="<i2")
        ss = int(np.dot(s.astype(np.int64), s.astype(np.int64)))
        rms = float(ss / n_vals) ** 0.5
    else:
        rms = None
    return (rate, n_ch, 16, n_frames, n_frames * 1000.0 / rate, rms)


def decode_wav_stats(media: DataFrame) -> DataFrame:
    """Per-object WAV decode (typed audio metadata + RMS)."""
    return decode_blob_stats(media, "wav")


def synth_bmp_corpus(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic corpus of REAL 24-bpp uncompressed BMP files,
    built with pure Catalyst byte arithmetic (no codec): each
    document's UTF-8 bytes become BGR pixel rows of a
    BITMAPFILEHEADER+BITMAPINFOHEADER image whose width cycles 4..8
    px by ``id % 5``; height = as many full pixel rows as the text
    provides, each row zero-padded to the format's 4-byte stride —
    the stride-vs-row-bytes distinction is exactly what makes the
    decode real. Every header field (file size, data offset, header
    size, planes, bpp, compression=BI_RGB, image size) is the value a
    real encoder writes. NULL text yields NULL content."""
    w = (F.col(id_col) % 5 + 4).cast("bigint")
    data_hex = F.hex(F.encode(F.col(text_col), "UTF-8"))
    h = (F.length(data_hex) / 2 / (3 * w)).cast("bigint")
    pad = (4 - (3 * w) % 4) % 4
    img_size = (3 * w + pad) * h
    # h = 0 must emit a header-only file: sequence(0, -1) would count
    # DOWN and append two garbage "rows" after a height-0 header
    # (ADVICE r11).
    rows_hex = F.when(h >= 1, F.array_join(
        F.transform(
            F.sequence(F.lit(0), h - 1),
            lambda r: F.concat(
                F.substring(data_hex, (r * 6 * w + 1).cast("int"),
                            (6 * w).cast("int")),
                F.repeat(F.lit("00"), pad.cast("int")))), "")) \
        .otherwise(F.lit(""))
    hexfile = F.concat(
        F.lit("424D"), _le_hex(img_size + 54, 4),      # 'BM', file size
        F.lit("00000000"), _le_hex(F.lit(54), 4),      # reserved, offset
        _le_hex(F.lit(40), 4),                         # infoheader size
        _le_hex(w, 4), _le_hex(h, 4),                  # width, height
        _le_hex(F.lit(1), 2), _le_hex(F.lit(24), 2),   # planes, bpp
        _le_hex(F.lit(0), 4), _le_hex(img_size, 4),    # BI_RGB, img size
        _le_hex(F.lit(0), 4), _le_hex(F.lit(0), 4),    # x/y px-per-meter
        _le_hex(F.lit(0), 4), _le_hex(F.lit(0), 4),    # palette counts
        rows_hex)
    return docs.select(F.col(id_col).alias("media_id"),
                       F.unhex(hexfile).alias("content"))


def synth_bmp_rle_corpus(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Deterministic corpus of REAL RLE8-COMPRESSED BMP files (r15),
    pure Catalyst byte arithmetic: each document's UTF-8 bytes become
    the 8-bpp palette indices of an image whose width cycles 4..8 px
    by ``id % 5``; height = full pixel rows, capped at
    ``_BMP_RLE_SYNTH_MAX_PIXELS`` total pixels (the oracle derives
    its literal from this constant, so synthesis and oracle cannot
    drift across the decoder's allocation cap). Rows are stored
    BOTTOM-UP (file row j carries source row h-1-j, the BMP
    convention the decoder must invert) and the encoding alternates
    per file row to exercise the whole RLE8 machine: even rows use
    ABSOLUTE mode (00, n, raw indices, padded to a 2-byte boundary —
    the pad is live whenever w is odd), odd rows use unit ENCODED
    runs (01, index); every row ends with the 00 00 end-of-line
    escape and the stream with 00 01 end-of-bitmap. Palette =
    ``_BMP_RLE_PALETTE_HEX`` (BGR0 quads of the affine GIF palette
    convention). NULL text yields NULL content; text shorter than
    one row yields a structurally valid height-0 file the decoder
    rejects to NULLs."""
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    w0 = (F.col("media_id") % 5 + 4).cast("bigint")
    hlen = (F.length("_hex") / 2 / w0).cast("bigint")
    h = F.when(hlen.isNotNull(),
               F.least(hlen,
                       (F.lit(_BMP_RLE_SYNTH_MAX_PIXELS) / w0)
                       .cast("bigint")))
    b1 = b0.select("media_id", "_hex", h.alias("_h"))
    hcol = F.col("_h")

    def row_hex(j):
        # file row j carries SOURCE row h-1-j (bottom-up storage)
        s = hcol - 1 - j
        rhex = F.substring("_hex", (s * w0 * 2 + 1).cast("int"),
                           (w0 * 2).cast("int"))
        absolute = F.concat(
            F.lit("00"), F.lpad(F.hex(w0), 2, "0"), rhex,
            F.when(w0 % 2 == 1, F.lit("00")).otherwise(F.lit("")))
        runs = F.array_join(
            F.transform(F.sequence(F.lit(0), w0 - 1),
                        lambda c: F.concat(
                            F.lit("01"),
                            F.substring("_hex",
                                        ((s * w0 + c) * 2 + 1)
                                        .cast("int"), 2))), "")
        return F.concat(F.when(j % 2 == 0, absolute).otherwise(runs),
                        F.lit("0000"))              # end of line

    enc = F.when(hcol >= 1, F.concat(
        F.array_join(F.transform(F.sequence(F.lit(0), hcol - 1),
                                 row_hex), ""),
        F.lit("0001"))).otherwise(F.lit("0001"))    # end of bitmap
    b2 = b1.select("media_id", "_h", enc.alias("_e"))
    img_size = (F.length("_e") / 2).cast("bigint")
    offset = 14 + 40 + 1024
    hexfile = F.concat(
        F.lit("424D"), _le_hex(img_size + offset, 4),  # 'BM', file size
        F.lit("00000000"), _le_hex(F.lit(offset), 4),  # resv, data offset
        _le_hex(F.lit(40), 4),                         # infoheader size
        _le_hex(w0, 4), _le_hex(F.col("_h"), 4),       # width, height
        _le_hex(F.lit(1), 2), _le_hex(F.lit(8), 2),    # planes, 8 bpp
        _le_hex(F.lit(1), 4), _le_hex(img_size, 4),    # BI_RLE8, size
        _le_hex(F.lit(0), 4), _le_hex(F.lit(0), 4),    # px-per-meter
        _le_hex(F.lit(0), 4), _le_hex(F.lit(0), 4),    # palette counts
        F.lit(_BMP_RLE_PALETTE_HEX),
        F.col("_e"))
    return b2.select("media_id",
                     F.when(F.col("_h").isNotNull(),
                            F.unhex(hexfile)).alias("content"))


def parse_bmp(data: bytes | None) -> tuple | None:
    """Plain-Python BMP decode — REAL pixel access, pure byte
    arithmetic, no codec library: validates the 'BM' preamble, reads
    the pixel-data offset and BITMAPINFOHEADER fields, rejects
    anything but uncompressed 24-bpp (BI_RGB), honors the 4-byte row
    stride (padding bytes NEVER enter the channel sums) and negative
    heights (top-down storage). Returns ``(width, height, n_pixels,
    mean_b, mean_g, mean_r)`` with means unrounded (callers round
    engine-consistently), or ``None`` for unreadable payloads. The
    executable spec behind :func:`_bmp_blob_stats`."""
    import struct

    if data is None or len(data) < 54 or data[0:2] != b"BM":
        return None
    (offset,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40 or len(data) < 14 + hdr_size:
        return None
    width, height_s = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if width <= 0 or height_s == 0 or planes != 1 or bpp != 24 \
            or compression != 0:
        return None
    height = abs(height_s)
    stride = (3 * width + 3) // 4 * 4
    if offset + stride * height > len(data):
        return None
    sb = sg = sr = 0
    for r in range(height):
        row = data[offset + r * stride:offset + r * stride + 3 * width]
        for p in range(width):
            sb += row[3 * p]
            sg += row[3 * p + 1]
            sr += row[3 * p + 2]
    n_px = width * height
    return (width, height, n_px,
            sb / n_px, sg / n_px, sr / n_px)


_BMP_STRUCT = ("struct<width:int,height:int,n_pixels:bigint,"
               "mean_b:double,mean_g:double,mean_r:double>")


def _bmp_blob_stats(data: "bytes | None"):
    """Module-level per-blob KERNEL path for uncompressed 24-bpp BMP
    (the ``bmp`` entry of :data:`BLOB_STATS`, shared by
    decode_bmp_stats and the single-pass dispatch): numpy
    stride-sliced channel sums, same NULL contract as
    :func:`parse_bmp`. Returns ``(w, h, n_px, mean_b, mean_g,
    mean_r)`` or ``None``; never raises on hostile bytes."""
    import struct

    import numpy as np

    if data is None or len(data) < 54 or data[0:2] != b"BM":
        return None
    (offset,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40 or len(data) < 14 + hdr_size:
        return None
    width, height_s = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if width <= 0 or height_s == 0 or planes != 1 \
            or bpp != 24 or compression != 0:
        return None
    height = abs(height_s)
    stride = (3 * width + 3) // 4 * 4
    if offset + stride * height > len(data):
        return None
    px = (np.frombuffer(data, dtype=np.uint8,
                        count=stride * height, offset=offset)
          .reshape(height, stride)[:, :3 * width]
          .reshape(-1, 3).astype(np.int64))
    n_px = width * height
    s = px.sum(axis=0)
    return (width, height, n_px,
            int(s[0]) / n_px, int(s[1]) / n_px, int(s[2]) / n_px)


def decode_bmp_stats(media: DataFrame) -> DataFrame:
    """Per-object 24-bpp BMP decode (dimensions + channel means)."""
    return decode_blob_stats(media, "bmp")


#: synthesis cap on w*h for the RLE8 BMP corpus, mirrored by the
#: multimodal_bmp_rle_stats oracle's least(dlen // w, cap // w)
#: literal (DERIVED from this constant at registration — the GIF
#: cap-drift lesson, caught again by this round's self-review: an
#: uncapped synthesis would exceed the decoder's allocation cap on
#: multi-megabyte documents and diverge from the oracle).
_BMP_RLE_SYNTH_MAX_PIXELS = 4096

#: absolute decoded-pixel cap for RLE8 BMP (the GIF-decode lesson,
#: sharpened: RLE ZERO-FILLS unwritten pixels, so — unlike the
#: uncompressed path, whose offset + stride*h <= len(data) check is
#: data-derived — a hostile header (65535 x 65535 + a 2-byte EOB)
#: could demand a 4.3e9-pixel allocation from almost no input. An
#: absolute cap is therefore the only sound bound here.
_BMP_RLE_MAX_PIXELS = 1 << 24

#: RLE8 BMPs are 8-bpp palette images; reuse the GIF palette
#: convention (channels are affine functions of the index, so palette
#: INDIRECTION is observable in the channel means).
_BMP_RLE_PALETTE_HEX = "".join(
    f"{(13 * i + 5) % 256:02X}{(7 * i + 1) % 256:02X}"
    f"{(3 * i + 7) % 256:02X}00"        # BGR0 quads
    for i in range(256))


def _bmp_rle_indices(data: bytes | None) -> tuple | None:
    """Plain-Python RLE8 BMP decode to TOP-DOWN palette indices — a
    REAL run-length decompression layer (r15; the uncompressed
    decoder rejects biCompression != 0): validates the 'BM' header
    and a BITMAPINFOHEADER with biBitCount=8 / biCompression=1
    (BI_RLE8), reads the 256-entry BGR0 palette, then runs the full
    RLE8 machine — encoded runs (count, index), absolute mode
    (00, n>=3, n raw indices, padded to a 2-byte boundary), end-of-
    line (00 00), end-of-bitmap (00 01), and delta skips (00 02 dx
    dy); pixels never written decode to index 0, per convention.
    Rows are stored bottom-up and FLIPPED to image order — the flip
    is invisible to every mean, so consumers that must see it use
    the row-weighted statistic. Returns ``(width, height, palette,
    indices)`` (row-major, top-down) or ``None``."""
    import struct

    if data is None or len(data) < 54 + 1024 or data[0:2] != b"BM":
        return None
    (offset,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        return None
    w, height_s = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if w <= 0 or height_s <= 0 or planes != 1 or bpp != 8 \
            or compression != 1:
        return None                      # RLE8 is bottom-up only
    h = height_s
    if w * h > _BMP_RLE_MAX_PIXELS:
        return None
    pal = data[14 + hdr_size:14 + hdr_size + 1024]
    if len(pal) != 1024 or offset > len(data):
        return None
    rows = [[0] * w for _ in range(h)]
    x, y = 0, 0                          # y counts bottom-up rows
    pos = offset
    while True:
        if pos + 2 > len(data):
            return None                  # ran out before EOB
        c, v = data[pos], data[pos + 1]
        pos += 2
        if c > 0:                        # encoded run
            if y >= h or x + c > w:
                return None
            rows[y][x:x + c] = [v] * c
            x += c
            continue
        if v == 0:                       # end of line
            x, y = 0, y + 1
            continue
        if v == 1:                       # end of bitmap
            break
        if v == 2:                       # delta: skip right/up
            if pos + 2 > len(data):
                return None
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > w or y > h:
                return None
            continue
        # absolute mode: v >= 3 raw indices, word-aligned
        if y >= h or x + v > w or pos + v > len(data):
            return None
        rows[y][x:x + v] = data[pos:pos + v]
        x += v
        pos += v + (v & 1)
    # bottom-up -> top-down
    idxs = []
    for r in range(h - 1, -1, -1):
        idxs.extend(rows[r])
    return (w, h, pal, idxs)


def parse_bmp_rle(data: bytes | None) -> tuple | None:
    """RLE8 BMP stats (the executable spec behind
    :func:`_bmp_rle_blob_stats`): :func:`_bmp_rle_indices` for the
    pixel path, then the palette-channel means PLUS the exact
    integer ``sum((row + 1) * index)`` over the top-down image — the
    statistic that makes the bottom-up row FLIP oracle-visible
    (every mean is invariant under row reordering). Returns
    ``(width, height, n_pixels, mean_idx, row_weighted_idx, mean_r,
    mean_g, mean_b)`` or ``None``.

    No production path calls it: it stays as the spec oracle the numpy
    RLE kernel is tested against."""
    bi = _bmp_rle_indices(data)
    if bi is None:
        return None
    w, h, pal, idxs = bi
    n_px = w * h
    si = sum(idxs)
    rw = sum((k // w + 1) * v for k, v in enumerate(idxs))
    # palette quads are BGR0
    sr = sum(pal[4 * i + 2] for i in idxs)
    sg = sum(pal[4 * i + 1] for i in idxs)
    sb = sum(pal[4 * i] for i in idxs)
    return (w, h, n_px, si / n_px, rw,
            sr / n_px, sg / n_px, sb / n_px)


def _bmp_rle_indices_np(data: "bytes | None"):
    """INDEPENDENT RLE8 pixel path for the Arrow kernel (ADVICE r15
    low #2: the kernel previously reused :func:`_bmp_rle_indices`, so
    a decode bug in the shared machine was invisible to the
    spec-vs-kernel fuzz agreement test — unlike PNG/GIF/JPEG, whose
    kernels are genuinely independent twins). Same semantics,
    independently written: header fields via ``int.from_bytes``
    instead of ``struct``, the escape machine scattering runs into a
    FLAT bottom-up numpy surface instead of per-row lists, absolute
    runs copied via ``np.frombuffer``, and the bottom-up flip as a
    single ``[::-1]`` view. Returns ``(width, height, palette,
    top_down_uint8_2d)`` or ``None`` on exactly the inputs the spec
    NULLs (agreement fuzz-pinned in tests/test_round15_props.py,
    including delta/multi-count-run streams the synthesized corpus
    never emits)."""
    import numpy as np

    if data is None or len(data) < 1078 or not data.startswith(b"BM"):
        return None
    off = int.from_bytes(data[10:14], "little")
    hsz = int.from_bytes(data[14:18], "little")
    if hsz < 40:
        return None
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    if (w <= 0 or h <= 0                     # RLE8 is bottom-up only
            or int.from_bytes(data[26:28], "little") != 1   # planes
            or int.from_bytes(data[28:30], "little") != 8   # bpp
            or int.from_bytes(data[30:34], "little") != 1   # BI_RLE8
            or w * h > _BMP_RLE_MAX_PIXELS):
        return None
    pal = data[14 + hsz:14 + hsz + 1024]
    if len(pal) != 1024 or off > len(data):
        return None
    n = len(data)
    flat = np.zeros(w * h, dtype=np.uint8)   # bottom-up row-major
    x = y = 0                                # y counts bottom-up rows
    pos = off
    while True:
        if n - pos < 2:
            return None                      # ran out before EOB
        count, val = data[pos], data[pos + 1]
        pos += 2
        if count:                            # encoded run
            if y >= h or x + count > w:
                return None
            flat[y * w + x:y * w + x + count] = val
            x += count
        elif val == 0:                       # end of line
            x, y = 0, y + 1
        elif val == 1:                       # end of bitmap
            break
        elif val == 2:                       # delta: skip right/up
            if n - pos < 2:
                return None
            x, y = x + data[pos], y + data[pos + 1]
            pos += 2
            if x > w or y > h:
                return None
        else:                                # absolute: val raw indices
            if y >= h or x + val > w or pos + val > n:
                return None
            flat[y * w + x:y * w + x + val] = np.frombuffer(
                data, np.uint8, val, pos)
            x += val
            pos += val + (val & 1)           # word-alignment pad
    return (w, h, pal, flat.reshape(h, w)[::-1])


_BMP_RLE_STRUCT = ("struct<width:int,height:int,n_pixels:bigint,"
                   "mean_idx:double,row_weighted_idx:bigint,"
                   "mean_r:double,mean_g:double,mean_b:double>")


def _bmp_rle_blob_stats(data: bytes):
    """Per-blob RLE8 BMP kernel over the INDEPENDENT
    :func:`_bmp_rle_indices_np` pixel path (the spec twin is
    :func:`_bmp_rle_indices` — ADVICE r15 low #2 restored the
    dual-implementation discipline here), with exact int64 histogram
    dot products for the palette-channel means and one int64 dot for
    the row-weighted statistic. ``None`` for unreadable payloads."""
    import numpy as np

    bi = _bmp_rle_indices_np(data)
    if bi is None:
        return None
    w, h, pal, top_down = bi
    arr = top_down.astype(np.int64)
    parr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 4)
    counts = np.bincount(arr.reshape(-1), minlength=256)
    n_px = w * h
    si = int(np.dot(counts, np.arange(256, dtype=np.int64)))
    rw = int(np.dot(np.arange(1, h + 1, dtype=np.int64),
                    arr.sum(axis=1)))
    chan = [int(np.dot(counts, parr[:, c].astype(np.int64)))
            for c in (2, 1, 0)]            # quads are BGR0
    return (w, h, n_px, si / n_px, rw, chan[0] / n_px,
            chan[1] / n_px, chan[2] / n_px)


def decode_bmp_rle_stats(media: DataFrame) -> DataFrame:
    """Per-object RLE8 BMP decode (palette-index and channel stats)."""
    return decode_blob_stats(media, "bmp_rle")


def _be_hex(x, nbytes: int):
    """Big-endian hex rendering of a non-negative integer column —
    PNG's network-byte-order sibling of :func:`_le_hex`."""
    x = x.cast("bigint") if hasattr(x, "cast") else F.lit(int(x))
    return F.lpad(F.hex(x), 2 * nbytes, "0")


#: one deflate STORED block holds <= 65535 raw bytes; the synthesis
#: emits a single block, so image height is capped to fit
_PNG_STORED_MAX = 65535
_ADLER_MOD = 65521


def synth_png_corpus(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic corpus of REAL PNG files (RFC 2083), built with
    pure Catalyst byte arithmetic — including the zlib layer: each
    document's UTF-8 bytes become the RGB pixel rows of an 8-bit
    truecolor PNG whose width cycles 3..9 px by ``id % 7``; height =
    as many full pixel rows as the text provides, capped so the
    scanline stream fits ONE deflate STORED block (BTYPE=00 — deflate
    with no compression, still a fully standard zlib stream that
    ``zlib.decompress`` / any PNG reader inflates). Rows alternate
    filter type 0 (None) and 1 (Sub: each byte minus the byte one
    pixel left, mod 256), so decoding requires genuine UNFILTERING,
    not a byte copy. Every checksum is real and computed in
    Catalyst: chunk CRC-32s via ``F.crc32`` (same polynomial as PNG),
    the zlib Adler-32 via two integer folds over the scanline bytes
    (s1 = 1+sum(b) mod 65521; s2 = n+sum((n-i)*b_i) mod 65521 — the
    products stay under int64 by the stored-block cap). NULL text
    yields NULL content."""
    # Staged projections, not one expression tree: each stage's alias
    # is referenced MORE THAN ONCE downstream (and is non-cheap), so
    # CollapseProject keeps the boundary and every fold below reads a
    # bound attribute. Inlining scan_hex into the Adler lambdas would
    # re-evaluate the whole scanline build per BYTE — O(n^2), measured
    # as a hang on a 50 KB document.
    w = (F.col("media_id") % 7 + 3).cast("bigint")
    stride = 3 * w                      # bytes per pixel row (no pad)
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    hlen = (F.length("_hex") / 2 / stride).cast("bigint")
    # explicit NULL gate: F.least SKIPS nulls, so a NULL text would
    # otherwise fall through to the cap instead of a NULL file
    h = F.when(hlen.isNotNull(), F.least(
        hlen, (F.lit(_PNG_STORED_MAX) / (stride + 1)).cast("bigint")))
    b1 = b0.select("media_id", "_hex", h.alias("_h"))
    # hex -> integer bytes ONCE (conv+substring are the expensive ops:
    # the first cut re-parsed hex in the Sub filter and again in the
    # Adler folds — 5 parses/byte, 9.3 s at sf0.1; this shape parses
    # each used byte once and does integer math everywhere else)
    used = F.col("_h") * stride
    d_arr = F.when(F.col("_h") >= 1, F.transform(
        F.sequence(F.lit(0), used - 1),
        lambda i: F.conv(F.substring("_hex", (i * 2 + 1).cast("int"),
                                     2), 16, 10).cast("bigint"))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    b1b = b1.select("media_id", "_h", d_arr.alias("_d"))

    def row_bytes(r):
        # filter byte + the row's (possibly Sub-filtered) byte values
        flt = (F.col("media_id") + r) % 2   # deterministic 0/1 per row
        raw = F.slice("_d", (r * stride + 1).cast("int"),
                      stride.cast("int"))
        sub = F.transform(
            F.sequence(F.lit(0), stride - 1),
            lambda i: (F.element_at("_d", (r * stride + i + 1)
                                    .cast("int"))
                       - F.when(i >= 3,
                                F.element_at("_d", (r * stride + i - 2)
                                             .cast("int")))
                       .otherwise(F.lit(0)) + 256) % 256)
        return F.concat(F.array(flt),
                        F.when(flt == 0, raw).otherwise(sub))

    fb = F.when(F.col("_h") >= 1, F.flatten(
        F.transform(F.sequence(F.lit(0), F.col("_h") - 1), row_bytes))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    raw_len = F.col("_h") * (stride + 1)    # (filter byte + row) * h
    b3 = b1b.select("media_id", "_h", fb.alias("_fb"),
                    raw_len.alias("_rl"))
    return _png_container(b3, w, interlace=0)


def _png_container(b3: DataFrame, w, interlace: int) -> DataFrame:
    """Shared container tail of the PNG syntheses: wrap a
    ``(media_id, _h, _fb, _rl)`` frame — ``_fb`` the filtered
    scanline-stream bytes, ``_rl`` its length (NULL for NULL text) —
    into a REAL zlib stored-block IDAT plus CRC'd chunks, with the
    IHDR interlace byte as given. Every checksum computed in
    Catalyst: chunk CRC-32s via ``F.crc32``, the zlib Adler-32 via
    two integer folds."""
    scan_hex = F.array_join(
        F.transform("_fb", lambda b: F.lpad(F.hex(b), 2, "0")), "")
    s1 = (1 + F.aggregate(F.col("_fb"), F.lit(0).cast("bigint"),
                          lambda a, x: a + x)) % _ADLER_MOD
    # weighted fold with a (position, sum) struct accumulator; the
    # (n - i) * byte products stay under int64 by the stored-block cap
    s2w = F.aggregate(
        F.col("_fb"),
        F.struct(F.lit(0).cast("bigint").alias("i"),
                 F.lit(0).cast("bigint").alias("s")),
        lambda a, x: F.struct(
            (a["i"] + 1).alias("i"),
            (a["s"] + (F.col("_rl") - a["i"]) * x).alias("s")),
        lambda a: a["s"])
    s2 = (F.col("_rl") + s2w) % _ADLER_MOD
    adler = F.when(F.col("_rl") > 0,
                   s2 * F.lit(65536) + s1).otherwise(F.lit(1))
    zlib_hex = F.concat(
        F.lit("7801"),                              # zlib hdr, 32K window
        F.lit("01"),                                # BFINAL=1, BTYPE=00
        _le_hex(F.col("_rl"), 2),                   # LEN
        _le_hex(65535 - F.col("_rl"), 2),           # NLEN (ones' compl.)
        scan_hex, _be_hex(adler, 4))
    b4 = b3.select("media_id", "_h", zlib_hex.alias("_z"))
    ihdr_data = F.concat(_be_hex(w, 4), _be_hex(F.col("_h"), 4),
                         F.lit("08"),               # bit depth 8
                         F.lit("02"),               # color type 2 (RGB)
                         F.lit("0000"),             # comp/filter
                         F.lit(f"0{interlace:d}"))  # interlace method
    ihdr_crc = _be_hex(F.crc32(F.unhex(
        F.concat(F.lit("49484452"), ihdr_data))), 4)
    idat_crc = _be_hex(F.crc32(F.unhex(
        F.concat(F.lit("49444154"), F.col("_z")))), 4)
    iend_crc = _be_hex(F.crc32(F.unhex(F.lit("49454E44"))), 4)
    hexfile = F.concat(
        F.lit("89504E470D0A1A0A"),                  # PNG signature
        F.lit("0000000D"), F.lit("49484452"), ihdr_data, ihdr_crc,
        _be_hex(F.length("_z") / 2, 4),
        F.lit("49444154"), F.col("_z"), idat_crc,
        F.lit("00000000"), F.lit("49454E44"), iend_crc)
    return b4.select("media_id", F.unhex(hexfile).alias("content"))


def synth_png_interlaced_corpus(docs: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Deterministic corpus of REAL Adam7-INTERLACED PNG files (r15),
    pure Catalyst including the zlib layer: the same pixel source as
    :func:`synth_png_corpus` (document bytes as RGB rows, width 3..9
    by ``id % 7``) but serialized in the seven-pass Adam7 order —
    each non-empty pass contributes its own scanlines (filter byte +
    the pass sub-image's row, GATHERED from the source pixels at
    (y0 + dy*j, x0 + dx*i)), filters alternating None/Sub per
    emitted row with Sub applied WITHIN the pass row (pass-local
    filtering is exactly what a de-interlacing decoder must get
    right: a full-image unfilter over the pass stream corrupts every
    Sub row). Empty passes (pw or ph = 0 — e.g. pass 2 at w <= 4,
    passes 3/5/7 at small heights) emit nothing, not even filter
    bytes, per spec. Height cap: the interlaced stream carries up to
    ~15h/8 + 7 filter bytes, so h <= 65528 // (3w + 2) keeps one
    stored block sufficient. NULL text yields NULL content."""
    w = (F.col("media_id") % 7 + 3).cast("bigint")
    stride = 3 * w
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    hlen = (F.length("_hex") / 2 / stride).cast("bigint")
    h = F.when(hlen.isNotNull(), F.least(
        hlen, (F.lit(65528) / (stride + 2)).cast("bigint")))
    b1 = b0.select("media_id", "_hex", h.alias("_h"))
    used = F.col("_h") * stride
    d_arr = F.when(F.col("_h") >= 1, F.transform(
        F.sequence(F.lit(0), used - 1),
        lambda i: F.conv(F.substring("_hex", (i * 2 + 1).cast("int"),
                                     2), 16, 10).cast("bigint"))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    b1b = b1.select("media_id", "_h", d_arr.alias("_d"))
    hcol = F.col("_h")
    empty = F.expr("CAST(array() AS ARRAY<BIGINT>)")

    def pass_rows(p, x0, dx, y0, dy):
        pw = F.when(w > x0, F.floor((w - x0 + dx - 1) / dx)
                    .cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        ph = F.when(hcol > y0, F.floor((hcol - y0 + dy - 1) / dy)
                    .cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        stride_p = 3 * pw

        def gather(j, q):
            # source byte for pass-row byte q of pass row j: pixel
            # (y0 + dy*j, x0 + dx*(q // 3)), channel q % 3
            pos = ((y0 + dy * j) * w
                   + (x0 + dx * F.floor(q / 3).cast("bigint"))) * 3 \
                + q % 3
            return F.element_at("_d", (pos + 1).cast("int"))

        def row_bytes(j):
            flt = (F.col("media_id") + p + j) % 2
            raw = F.transform(F.sequence(F.lit(0), stride_p - 1),
                              lambda q: gather(j, q))
            sub = F.transform(
                F.sequence(F.lit(0), stride_p - 1),
                lambda q: (gather(j, q)
                           - F.when(q >= 3, gather(j, q - 3))
                           .otherwise(F.lit(0)) + 256) % 256)
            return F.concat(F.array(flt),
                            F.when(flt == 0, raw).otherwise(sub))

        return F.when(
            (pw >= 1) & (ph >= 1),
            F.flatten(F.transform(F.sequence(F.lit(0), ph - 1),
                                  row_bytes))).otherwise(empty)

    fb = F.when(hcol >= 1, F.concat(*[
        pass_rows(p, *geo) for p, geo in enumerate(_ADAM7)])) \
        .otherwise(empty)
    b2 = b1b.select("media_id", "_h", fb.alias("_fb"))
    rl = F.when(F.col("_h").isNotNull(),
                F.size("_fb").cast("bigint"))
    b3 = b2.select("media_id", "_h", "_fb", rl.alias("_rl"))
    return _png_container(b3, w, interlace=1)


def _png_unfilter_row(ft: int, line: bytearray, prev: bytes) -> bool:
    """In-place unfilter of one scanline per the PNG spec (filters
    0-4, bpp = 3); returns False on an unknown filter type."""
    stride = len(line)
    if ft == 0:
        return True
    if ft == 1:                                     # Sub
        for i in range(3, stride):
            line[i] = (line[i] + line[i - 3]) & 255
        return True
    if ft == 2:                                     # Up
        for i in range(stride):
            line[i] = (line[i] + prev[i]) & 255
        return True
    if ft == 3:                                     # Average
        for i in range(stride):
            a = line[i - 3] if i >= 3 else 0
            line[i] = (line[i] + (a + prev[i]) // 2) & 255
        return True
    if ft == 4:                                     # Paeth
        for i in range(stride):
            a = line[i - 3] if i >= 3 else 0
            c = prev[i - 3] if i >= 3 else 0
            b = prev[i]
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (line[i] + pr) & 255
        return True
    return False


#: Adam7 pass grid (PNG spec 4.5.9 / libpng convention): per pass
#: (x0, dx, y0, dy) — pass p covers pixels (y0 + dy*j, x0 + dx*i).
#: A pass whose sub-image is empty (pw or ph == 0) emits NO
#: scanlines, not even filter bytes.
_ADAM7 = ((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
          (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2))


def _png_pass_plan(w: int, h: int, inter: int) -> list[tuple]:
    """Non-empty (x0, dx, y0, dy, pw, ph) pass geometry: the single
    full-image pass for inter=0, the Adam7 grid for inter=1."""
    passes = _ADAM7 if inter else ((0, 1, 0, 1),)
    plan = []
    for x0, dx, y0, dy in passes:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw >= 1 and ph >= 1:
            plan.append((x0, dx, y0, dy, pw, ph))
    return plan


def _png_pixels(data: bytes | None) -> tuple | None:
    """Plain-Python PNG decode to DE-INTERLACED pixel rows — REAL
    pixel access through the REAL compression layer, stdlib ``zlib``
    only: validates the 8-byte signature, walks the length-prefixed
    chunk list VERIFYING every chunk's CRC-32, concatenates IDAT
    payloads, inflates the zlib stream, and unfilters each scanline
    (all five spec filters) PASS-LOCALLY — non-interlaced images are
    the single-pass special case, Adam7 (interlace=1, r15) walks the
    seven-pass grid and scatters each pass's pixels back to their
    image positions. Returns ``(width, height, rows)`` with ``rows``
    a list of 3*w-byte bytearrays, or ``None`` for anything
    unreadable. 8-bit truecolor only. Exposed separately from
    :func:`parse_png` so tests can pin SCATTER POSITIONS exactly —
    channel means alone are invariant under any pixel permutation,
    so a mis-scattering de-interlacer would pass every mean-based
    oracle."""
    import struct
    import zlib

    if data is None or len(data) < 8 \
            or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat, ok_end = 8, None, [], False
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        if pos + 12 + ln > len(data):
            return None
        chunk = data[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(typ + chunk) & 0xFFFFFFFF != crc:
            return None
        if typ == b"IHDR":
            if ln != 13 or ihdr is not None:
                return None
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            ok_end = True
            break
        pos += 12 + ln
    if ihdr is None or not ok_end:
        return None
    w, h, depth, ctype, comp, filt, inter = ihdr
    if not (0 < w and 0 < h and depth == 8 and ctype == 2
            and comp == 0 and filt == 0 and inter in (0, 1)):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    plan = _png_pass_plan(w, h, inter)
    if len(raw) != sum(ph * (1 + 3 * pw)
                       for _, _, _, _, pw, ph in plan):
        return None
    out = [bytearray(3 * w) for _ in range(h)]
    pos = 0
    for x0, dx, y0, dy, pw, ph in plan:
        stride_p = 3 * pw
        prev = bytes(stride_p)
        for j in range(ph):
            ft = raw[pos]
            line = bytearray(raw[pos + 1:pos + 1 + stride_p])
            pos += 1 + stride_p
            if not _png_unfilter_row(ft, line, prev):
                return None
            prev = bytes(line)
            orow = out[y0 + dy * j]
            for i in range(pw):
                x = x0 + dx * i
                orow[3 * x:3 * x + 3] = line[3 * i:3 * i + 3]
    return w, h, out


def parse_png(data: bytes | None) -> tuple | None:
    """Plain-Python PNG decode to stats (the executable spec behind
    :func:`_png_blob_stats`): :func:`_png_pixels` for the pixel path
    (chunk walk, CRC verification, zlib inflate, pass-local
    unfiltering, Adam7 de-interlacing), then exact channel sums.
    Returns ``(width, height, n_pixels, mean_r, mean_g, mean_b)``
    with unrounded means, or ``None`` for anything unreadable."""
    px = _png_pixels(data)
    if px is None:
        return None
    w, h, rows = px
    sums = [0, 0, 0]
    for row in rows:
        for i in range(3 * w):
            sums[i % 3] += row[i]
    n = w * h
    return (w, h, n, sums[0] / n, sums[1] / n, sums[2] / n)


_PNG_STRUCT = ("struct<width:int,height:int,n_pixels:bigint,"
               "mean_r:double,mean_g:double,mean_b:double>")


def _png_blob_pixels(data: bytes):
    """numpy twin of :func:`_png_pixels`: same chunk walk / CRC
    verification / zlib inflate, but unfiltering is vectorized per
    pass row (Sub = per-channel cumsum mod 256, Up = vector add mod
    256; Average/Paeth fall back to the spec loop) and Adam7
    scatter is one fancy-indexed assignment per pass. Returns
    ``(w, h, uint8 ndarray of shape (h, 3*w))`` or ``None``. Module
    level so tests can pin kernel scatter positions against
    :func:`_png_pixels` — means alone cannot see a permutation."""
    import struct
    import zlib

    import numpy as np

    if data is None or len(data) < 8 \
            or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat, ok_end = 8, None, [], False
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        if pos + 12 + ln > len(data):
            return None
        chunk = data[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(typ + chunk) & 0xFFFFFFFF != crc:
            return None
        if typ == b"IHDR":
            if ln != 13 or ihdr is not None:
                return None
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            ok_end = True
            break
        pos += 12 + ln
    if ihdr is None or not ok_end:
        return None
    w, h, depth, ctype, comp, filt, inter = ihdr
    if not (0 < w and 0 < h and depth == 8 and ctype == 2
            and comp == 0 and filt == 0 and inter in (0, 1)):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    plan = _png_pass_plan(w, h, inter)
    if len(raw) != sum(ph * (1 + 3 * pw)
                       for _, _, _, _, pw, ph in plan):
        return None
    img = np.zeros((h, 3 * w), dtype=np.uint8)
    pos = 0
    for x0, dx, y0, dy, pw, ph in plan:
        stride_p = 3 * pw
        seg = raw[pos:pos + ph * (1 + stride_p)]
        pos += ph * (1 + stride_p)
        arr = np.frombuffer(seg, dtype=np.uint8).reshape(
            ph, 1 + stride_p)
        fts = arr[:, 0]
        lines = arr[:, 1:]
        outp = np.zeros((ph, stride_p), dtype=np.uint8)
        prev = np.zeros(stride_p, dtype=np.uint8)
        for r in range(ph):
            ft = int(fts[r])
            if ft == 0:
                row = lines[r].copy()
            elif ft == 1:           # Sub: per-channel cumsum mod 256
                row = np.cumsum(
                    lines[r].reshape(-1, 3).astype(np.int64),
                    axis=0).astype(np.uint8).reshape(-1)
            elif ft == 2:           # Up: vector add mod 256
                row = lines[r] + prev
            else:                   # Average/Paeth: spec loop
                lb = bytearray(lines[r].tobytes())
                if not _png_unfilter_row(ft, lb, prev.tobytes()):
                    return None
                row = np.frombuffer(bytes(lb), dtype=np.uint8)
            outp[r] = row
            prev = row
        ys = y0 + dy * np.arange(ph)
        cs = (3 * (x0 + dx * np.arange(pw))[:, None]
              + np.arange(3)).ravel()
        img[np.ix_(ys, cs)] = outp
    return w, h, img


def _png_blob_stats(data: bytes):
    """Per-blob PNG kernel over :func:`_png_blob_pixels` (the numpy
    twin of the spec pixel path — genuinely independent unfiltering
    and de-interlacing) with exact int64 channel sums. ``None`` for
    unreadable payloads."""
    px = _png_blob_pixels(data)
    if px is None:
        return None
    w, h, img = px
    s = img.reshape(-1, 3).astype("int64").sum(axis=0)
    n_px = w * h
    return (w, h, n_px, int(s[0]) / n_px, int(s[1]) / n_px,
            int(s[2]) / n_px)


def decode_png_stats(media: DataFrame) -> DataFrame:
    """Per-object PNG decode (dimensions + channel means)."""
    return decode_blob_stats(media, "png")


# -- GIF / LZW (r13): the fourth real decode, through a REAL LZW layer ------

#: 256-entry global color table: channel values are affine functions of
#: the palette index (r,g,b) = ((3i+7), (7i+1), (13i+5)) mod 256 — a
#: deterministic non-identity mapping, so palette INDIRECTION is
#: observable in the channel means (an index-as-color bug shifts them).
_GIF_PALETTE = [((3 * i + 7) % 256, (7 * i + 1) % 256, (13 * i + 5) % 256)
                for i in range(256)]
_GIF_PALETTE_HEX = "".join(f"{r:02X}{g:02X}{b:02X}"
                           for r, g, b in _GIF_PALETTE)

#: literals per clear-delimited LZW block in the synthesis. After a
#: CLEAR the decoder table holds 258 entries and each literal beyond
#: the first adds one, so <=250 literals keeps the table under 512 and
#: EVERY code in the stream is 9 bits wide — letting Catalyst bit-pack
#: with fixed-width integer arithmetic while remaining a fully standard
#: variable-width LZW stream any GIF reader decodes.
_GIF_GROUP = 250
_GIF_MCS = 8          # LZW minimum code size: 8-bit palette indices
#: synthesis cap on w*h, mirrored by every GIF oracle's
#: ``least(dlen // w, cap // w)`` literal — the registry derives those
#: literals FROM this constant, so the two cannot drift. Distinct from
#: ``_GIF_DECODE_MAX_PIXELS`` below: a second module-level assignment
#: under one shared name silently shadowed this one for two rounds
#: (VERDICT r14 "What's wrong #1") — the synthesis cap was 2^24 at
#: runtime while the oracles pinned 4096, divergent for any document
#: longer than 4096 bytes.
_GIF_SYNTH_MAX_PIXELS = 4096


def synth_gif_corpus(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Non-interlaced wrapper of :func:`_synth_gif` (the original
    corpus; see there for the construction)."""
    return _synth_gif(docs, id_col, text_col, interlaced=False)


def synth_gif_interlaced_corpus(docs: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """INTERLACED wrapper of :func:`_synth_gif` (r15): the image
    descriptor sets the appendix E interlace flag and the LZW stream
    carries the pixel rows in four-pass FILE order — so a decoder
    that ignores the flag reads a row-permuted image, observable via
    the row-position-weighted statistic."""
    return _synth_gif(docs, id_col, text_col, interlaced=True)


def _synth_gif(docs: DataFrame, id_col: str, text_col: str,
               interlaced: bool) -> DataFrame:
    """Deterministic corpus of REAL GIF89a files (GIF spec 89a, 1990),
    built with pure Catalyst byte arithmetic INCLUDING the LZW layer:
    each document\'s UTF-8 bytes become the 8-bit palette indices of an
    image whose width cycles 2..7 px by ``id % 6``; height = as many
    full pixel rows as the text provides, capped at
    ``_GIF_SYNTH_MAX_PIXELS`` total pixels. The image data is a genuine
    variable-width LZW code stream (clear code 256, EOI 257, 9-bit
    codes by the ``_GIF_GROUP`` clear-interleave invariant above)
    bit-packed LSB-first and framed into <=255-byte sub-blocks — the
    "uncompressed GIF" encoding every LZW-patent-era tool shipped, and
    still a stream a spec decoder must run its full table machinery
    on. Global color table = ``_GIF_PALETTE_HEX``. NULL text yields
    NULL content; a text shorter than one pixel row yields a valid
    header-only file with height 0 (the synth_bmp/synth_png h=0
    convention — every ``sequence`` upper bound below is guarded
    against counting down).

    Staged projections (the synth_png lesson): each stage\'s alias is
    referenced more than once downstream, so CollapseProject keeps the
    boundary and the per-byte folds read bound attributes instead of
    re-evaluating the whole upstream expression per byte."""
    w = (F.col("media_id") % 6 + 2).cast("bigint")
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    hlen = (F.length("_hex") / 2 / w).cast("bigint")
    h = F.when(hlen.isNotNull(),
               F.least(hlen,
                       (F.lit(_GIF_SYNTH_MAX_PIXELS) / w).cast("bigint")))
    b1 = b0.select("media_id", "_hex", h.alias("_h"))
    npx = F.col("_h") * w
    # interlaced serialization: output pixel i comes from SOURCE row
    # srow(i // w) per the appendix E pass counts (n1 rows 0 mod 8,
    # n2 rows 4 mod 8, n3 rows 2 mod 4, the rest odd)
    hcol = F.col("_h")
    n1 = F.floor((hcol + 7) / 8).cast("bigint")
    n2 = F.floor((hcol + 3) / 8).cast("bigint")
    n3 = F.floor((hcol + 1) / 4).cast("bigint")

    def src_pos(i):
        if not interlaced:
            return i
        fr = F.floor(i / w).cast("bigint")
        srow = (F.when(fr < n1, 8 * fr)
                .when(fr < n1 + n2, 8 * (fr - n1) + 4)
                .when(fr < n1 + n2 + n3, 4 * (fr - n1 - n2) + 2)
                .otherwise(2 * (fr - n1 - n2 - n3) + 1))
        return srow * w + i % w

    px = F.when(npx >= 1, F.transform(
        F.sequence(F.lit(0), npx - 1),
        lambda i: F.conv(F.substring("_hex",
                                     (src_pos(i) * 2 + 1).cast("int"),
                                     2),
                         16, 10).cast("bigint"))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    b2 = b1.select("media_id", "_h", px.alias("_px"))
    # LZW code stream: [CLEAR, <=250 literals]* ++ [EOI]; h=0 -> the
    # minimal valid stream [CLEAR, EOI] (greatest() guards the
    # sequence(0, -1) count-down trap)
    n_groups = F.greatest(
        F.lit(1).cast("bigint"),
        F.ceil(F.size("_px") / _GIF_GROUP).cast("bigint"))
    codes = F.concat(
        F.flatten(F.transform(
            F.sequence(F.lit(0), n_groups - 1),
            lambda g: F.concat(
                F.array(F.lit(256).cast("bigint")),
                F.slice("_px", (g * _GIF_GROUP + 1).cast("int"),
                        _GIF_GROUP)))),
        F.array(F.lit(257).cast("bigint")))
    b3 = b2.select("media_id", "_h", codes.alias("_c"))
    # bit-pack the 9-bit codes LSB-first: output byte j covers global
    # bits [8j, 8j+8), which touch at most two codes; with s = 8j mod 9
    # and k = (8j - s)/9, byte_j = (code_k >> s | code_{k+1} << (9-s))
    # & 255 — expressed as exact integer div/mul via a 2^s lookup
    n_codes = F.size("_c").cast("bigint")
    n_bytes = ((n_codes * 9 + 7) / 8).cast("bigint")
    pow2 = F.array(*[F.lit(1 << i).cast("bigint") for i in range(9)])

    def byte_of(j):
        s = (j * 8) % 9
        k = ((j * 8 - s) / 9).cast("bigint")
        p = F.element_at(pow2, (s + 1).cast("int"))
        c1 = F.element_at("_c", (k + 1).cast("int"))
        # the last byte's second code may not exist: try_element_at
        # (plain element_at THROWS out-of-bounds under ANSI mode)
        c2 = F.coalesce(F.try_element_at(F.col("_c"),
                                         (k + 2).cast("int")),
                        F.lit(0).cast("bigint"))
        return (F.floor(c1 / p).cast("bigint")
                + c2 * (F.lit(512) / p).cast("bigint")) % 256

    data = F.when(n_bytes >= 1, F.transform(
        F.sequence(F.lit(0), n_bytes - 1), byte_of)) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    dh = F.array_join(F.transform(data, lambda b: F.lpad(F.hex(b), 2, "0")),
                      "")
    b4 = b3.select("media_id", "_h", dh.alias("_dh"))
    # frame into <=255-byte sub-blocks: length byte + payload each
    n_dbytes = (F.length("_dh") / 2).cast("bigint")
    n_sub = F.ceil(n_dbytes / 255).cast("bigint")   # >= 1: stream >= 3 bytes
    subs = F.transform(
        F.sequence(F.lit(0), n_sub - 1),
        lambda t: F.concat(
            _le_hex(F.least(F.lit(255).cast("bigint"),
                            n_dbytes - t * 255), 1),
            F.substring("_dh", (t * 510 + 1).cast("int"), 510)))
    hexfile = F.concat(
        F.lit("474946383961"),                      # "GIF89a"
        _le_hex(w, 2), _le_hex(F.col("_h"), 2),     # logical screen
        F.lit("F7"),                                # GCT, 8bpp, 256 entries
        F.lit("0000"),                              # bg index, aspect
        F.lit(_GIF_PALETTE_HEX),
        F.lit("2C"), F.lit("00000000"),             # image desc, left/top
        _le_hex(w, 2), _le_hex(F.col("_h"), 2),
        F.lit("40" if interlaced else "00"),        # no LCT; interlace bit
        F.lit(f"{_GIF_MCS:02X}"),                   # LZW min code size
        F.array_join(subs, ""),
        F.lit("00"),                                # block terminator
        F.lit("3B"))                                # trailer
    return b4.select("media_id", F.unhex(hexfile).alias("content"))


def _gif_lzw_decode(mcs: int, data: bytes,
                    max_pixels: int) -> list[int] | None:
    """Spec GIF-LZW decode (GIF89a appendix F): variable code width
    starting at mcs+1, LSB-first bit packing, CLEAR resets the table,
    the KwKwK case (code == next index) emits prev + prev[0], width
    grows when the table fills its code space (to at most 12 bits),
    and a full table (4096) freezes until the next CLEAR. Returns the
    pixel index list, or None for malformed streams (no EOI, code
    beyond the table, overlong output)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: list[list[int] | None] = [[i] for i in range(clear)] + [None, None]
    prev: list[int] | None = None
    out: list[int] = []
    pos, nbits = 0, len(data) * 8
    while pos + width <= nbits:
        code = 0
        for b in range(width):           # per-bit loop: the executable
            p = pos + b                  # spec; the kernel uses a
            if (data[p >> 3] >> (p & 7)) & 1:   # shift-buffer instead
                code |= 1 << b
        pos += width
        if code == clear:
            table = [[i] for i in range(clear)] + [None, None]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]     # KwKwK
        else:
            return None
        out.extend(entry)
        if len(out) > max_pixels:
            return None
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return None                          # ran out of bits before EOI


def _gif_interlace_source_rows(h: int) -> list[int]:
    """GIF89a appendix E interlace order: file row k of an interlaced
    image holds SOURCE row ``rows[k]`` — the four passes cover rows
    0,8,16,... then 4,12,... then 2,6,10,... then 1,3,5,..."""
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


def _gif_indices(data: bytes | None) -> tuple | None:
    """Plain-Python GIF decode to DE-INTERLACED palette indices —
    REAL pixel access through the REAL LZW compression layer, pure
    integer/bit arithmetic, no codec library: validates the
    GIF87a/89a signature, parses the logical screen descriptor and
    global color table, skips extension blocks, decodes the FIRST
    image descriptor's sub-block-framed LZW stream with the full
    variable-width table machinery, and (r15) reorders rows per the
    appendix E four-pass grid when the descriptor's interlace flag
    is set. Returns ``(width, height, palette, indices)`` with
    ``indices`` a row-major list in IMAGE order, or ``None`` for
    anything unreadable. Exposed separately from :func:`parse_gif`
    because every mean is invariant under row permutation — only a
    positional consumer (parse_gif_rowpos, or a test) can see a
    de-interlacing bug."""
    if data is None or len(data) < 13 \
            or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw = data[6] | data[7] << 8
    sh = data[8] | data[9] << 8
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            return None
        gct = data[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:                    # trailer before any image
            return None
        if b == 0x21:                    # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            return None
        if pos + 10 > len(data):
            return None
        w = data[pos + 5] | data[pos + 6] << 8
        h = data[pos + 7] | data[pos + 8] << 8
        ipacked = data[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:               # local color table wins
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(data):
                return None
            pal = data[pos:pos + 3 * n]
            pos += 3 * n
        if pal is None or pos >= len(data):
            return None
        mcs = data[pos]
        pos += 1
        if not (2 <= mcs <= 11):
            return None
        chunks = []
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            if pos + 1 + ln > len(data):
                return None
            chunks.append(data[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        if pos >= len(data):
            return None
        if not (0 < w and 0 < h and w <= sw and h <= sh):
            return None
        if w * h > _GIF_DECODE_MAX_PIXELS:
            # the kernel NULLs oversized frames before allocating
            # (ADVICE r13 medium); the spec mirrors the cap so the
            # two stay pinned equal on every input. (The kernel's
            # second, data-derived bound needs no mirror: a stream of
            # ln bytes cannot emit more than (8*ln//(mcs+1))*4096
            # pixels, so this decode returns None on those anyway.)
            return None
        idxs = _gif_lzw_decode(mcs, b"".join(chunks), w * h)
        if idxs is None or len(idxs) != w * h:
            return None
        if any(3 * i + 2 >= len(pal) for i in idxs):
            return None
        if ipacked & 0x40:               # interlaced: de-permute rows
            out = [0] * (w * h)
            for k, srow in enumerate(_gif_interlace_source_rows(h)):
                out[srow * w:(srow + 1) * w] = idxs[k * w:(k + 1) * w]
            idxs = out
        return (w, h, pal, idxs)
    return None


def parse_gif(data: bytes | None) -> tuple | None:
    """Plain-Python GIF decode to stats (the executable spec behind
    :func:`_gif_blob_stats`): :func:`_gif_indices` for the pixel path,
    then palette-channel means over the decoded indices. Returns
    ``(width, height, n_pixels, mean_idx, mean_r, mean_g, mean_b)``
    with unrounded means, or ``None`` for anything unreadable."""
    gi = _gif_indices(data)
    if gi is None:
        return None
    w, h, pal, idxs = gi
    n_px = w * h
    si = sum(idxs)
    sr = sum(pal[3 * i] for i in idxs)
    sg = sum(pal[3 * i + 1] for i in idxs)
    sb = sum(pal[3 * i + 2] for i in idxs)
    return (w, h, n_px, si / n_px, sr / n_px, sg / n_px, sb / n_px)


def parse_gif_rowpos(data: bytes | None) -> tuple | None:
    """Row-POSITION-aware GIF stats (the executable spec behind
    :func:`_gif_rowpos_blob_stats`): mean index plus the exact integer
    ``sum((row + 1) * index)`` over the de-interlaced image — the
    statistic that makes the interlace permutation ORACLE-VISIBLE
    (every mean is invariant under row reordering; this is not).
    Returns ``(width, height, n_pixels, mean_idx,
    row_weighted_idx)`` or ``None``."""
    gi = _gif_indices(data)
    if gi is None:
        return None
    w, h, _pal, idxs = gi
    n_px = w * h
    si = sum(idxs)
    rw = sum((k // w + 1) * v for k, v in enumerate(idxs))
    return (w, h, n_px, si / n_px, rw)


_GIF_STRUCT = ("struct<width:int,height:int,n_pixels:bigint,"
               "mean_idx:double,mean_r:double,mean_g:double,"
               "mean_b:double>")

#: absolute decoded-pixel cap for the Arrow GIF kernel (ADVICE r13
#: medium): the header's width*height fields are attacker-controlled
#: (up to 65535*65535 ~= 4.3e9 pixels = 34 GB of int64), so the output
#: buffer must never be sized from the header alone. 2^24 pixels
#: (128 MB of int64 per image) is far beyond any stats-screening
#: corpus; larger frames decode to the all-NULL struct, the same
#: "unreadable" verdict the quality gate already consumes. NOT the
#: same knob as ``_GIF_SYNTH_MAX_PIXELS`` (the synthesis/oracle cap):
#: the decoder must accept any spec-valid frame up to its allocation
#: bound, while the synthesis deliberately emits small frames.
_GIF_DECODE_MAX_PIXELS = 1 << 24


def _gif_blob_stats(data: bytes):
    """Per-blob GIF kernel over :func:`_gif_blob_indices` (the
    numpy/shift-register twin of the spec pixel path) with exact int64
    histogram dot products (np.bincount over the decoded indices x the
    palette arrays) instead of per-pixel sums. ``None`` for unreadable
    payloads."""
    import numpy as np

    gi = _gif_blob_indices(data)
    if gi is None:
        return None
    w, h, pal, idxs = gi
    parr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
    counts = np.bincount(idxs, minlength=parr.shape[0])
    n_px = w * h
    si = int(np.dot(counts, np.arange(parr.shape[0], dtype=np.int64)))
    ch = [int(np.dot(counts, parr[:, c].astype(np.int64)))
          for c in range(3)]
    return (w, h, n_px, si / n_px, ch[0] / n_px, ch[1] / n_px,
            ch[2] / n_px)


def _gif_blob_indices(data: bytes):
    """numpy twin of :func:`_gif_indices`: same container walk, but
    the LZW inner loop is a genuinely independent implementation — a
    shift-register bit reader (no per-bit loop) over prefix/suffix
    code arrays with stack backtracking (no list-of-lists table) —
    and (r15) interlaced frames are de-permuted with one fancy-index
    row assignment. Returns ``(w, h, palette_bytes, int64 index
    array in IMAGE order)`` or ``None``. Module level so tests can
    pin kernel ROW POSITIONS against the spec — means alone cannot
    see a permutation."""
    import numpy as np

    def lzw(mcs, data, want):
            ln = len(data)
            # Bound the preallocation BEFORE touching the stream
            # (ADVICE r13 medium): a stream of ln bytes holds at most
            # floor(8*ln/(mcs+1)) codes (every code is >= mcs+1 bits)
            # and each code expands to at most a 4096-entry chain, so
            # a header whose want exceeds that bound -- or the
            # absolute _GIF_DECODE_MAX_PIXELS cap -- cannot possibly
            # fill the buffer and must NULL out here instead of raising
            # MemoryError in the executor (the 'unreadable payloads
            # decode to an all-NULL struct, never an error' contract
            # stream_media_decode relies on).
            if want > _GIF_DECODE_MAX_PIXELS \
                    or want > (8 * ln // (mcs + 1)) * 4096:
                return None
            clear, eoi = 1 << mcs, (1 << mcs) + 1
            width = mcs + 1
            prefix = [-1] * 4096
            suffix = [0] * 4096
            for i in range(clear):
                suffix[i] = i
            next_code = clear + 2
            out = np.empty(want, dtype=np.int64)
            n_out = 0
            prev = -1
            first = 0
            buf = 0
            nbuf = 0
            ptr = 0
            stack = []
            while True:
                while nbuf < width:
                    if ptr >= ln:
                        return None
                    buf |= data[ptr] << nbuf
                    nbuf += 8
                    ptr += 1
                code = buf & ((1 << width) - 1)
                buf >>= width
                nbuf -= width
                if code == clear:
                    next_code = clear + 2
                    width = mcs + 1
                    prev = -1
                    continue
                if code == eoi:
                    return out if n_out == want else None
                if prev < 0:
                    if code >= clear:
                        return None
                    if n_out >= want:
                        return None
                    out[n_out] = code
                    n_out += 1
                    prev, first = code, code
                    continue
                c = code
                if code == next_code:
                    stack.append(first)   # KwKwK
                    c = prev
                elif code > next_code:
                    return None
                while c >= clear:         # backtrack prefix chain
                    stack.append(suffix[c])
                    c = prefix[c]
                stack.append(c)
                first = c
                if n_out + len(stack) > want:
                    return None
                while stack:
                    out[n_out] = stack.pop()
                    n_out += 1
                if next_code < 4096:
                    prefix[next_code] = prev
                    suffix[next_code] = first
                    next_code += 1
                    if next_code == (1 << width) and width < 12:
                        width += 1
                prev = code
            return None

    if data is None or len(data) < 13 \
            or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw = data[6] | data[7] << 8
    sh = data[8] | data[9] << 8
    pos, gct = 13, None
    if data[10] & 0x80:
        n = 2 << (data[10] & 0x07)
        if pos + 3 * n > len(data):
            return None
        gct = data[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:
            break
        if b == 0x21:
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C or pos + 10 > len(data):
            break
        w = data[pos + 5] | data[pos + 6] << 8
        h = data[pos + 7] | data[pos + 8] << 8
        ipacked = data[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(data):
                break
            pal = data[pos:pos + 3 * n]
            pos += 3 * n
        if pal is None or pos >= len(data):
            break
        mcs = data[pos]
        pos += 1
        if not (2 <= mcs <= 11):
            break
        chunks = []
        bad = False
        while pos < len(data) and data[pos] != 0:
            ln2 = data[pos]
            if pos + 1 + ln2 > len(data):
                bad = True
                break
            chunks.append(data[pos + 1:pos + 1 + ln2])
            pos += 1 + ln2
        if bad or pos >= len(data):
            break
        if not (0 < w and 0 < h and w <= sw and h <= sh):
            break
        idxs = lzw(mcs, b"".join(chunks), w * h)
        if idxs is None:
            break
        parr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
        if int(idxs.max()) >= parr.shape[0]:
            break
        if ipacked & 0x40:               # interlaced: de-permute rows
            img = np.empty_like(idxs).reshape(h, w)
            img[np.asarray(_gif_interlace_source_rows(h))] = \
                idxs.reshape(h, w)
            idxs = img.reshape(-1)
        return (w, h, pal, idxs)
    return None


_GIF_ROWPOS_STRUCT = ("struct<width:int,height:int,n_pixels:bigint,"
                      "mean_idx:double,row_weighted_idx:bigint>")


def _gif_rowpos_blob_stats(data: bytes):
    """Row-POSITION-aware per-blob GIF kernel: mean index plus the
    exact integer ``sum((row + 1) * index)`` over the de-interlaced
    image — the statistic that makes the interlace permutation
    ORACLE-VISIBLE (means are invariant under row reordering). Same
    :func:`_gif_blob_indices` pixel path as :func:`_gif_blob_stats`;
    the weighted sum is one int64 dot of row sums with 1..h."""
    import numpy as np

    gi = _gif_blob_indices(data)
    if gi is None:
        return None
    w, h, _pal, idxs = gi
    rows = idxs.reshape(h, w).sum(axis=1)
    rw = int(np.dot(np.arange(1, h + 1, dtype=np.int64), rows))
    n_px = w * h
    return (w, h, n_px, int(idxs.sum()) / n_px, rw)


def decode_gif_stats(media: DataFrame) -> DataFrame:
    """Per-object GIF decode (palette-index and channel means)."""
    return decode_blob_stats(media, "gif")


def decode_gif_rowpos_stats(media: DataFrame) -> DataFrame:
    """Per-object row-position-aware GIF decode (interlace-sensitive
    stats)."""
    return decode_blob_stats(media, "gif_rowpos")


#: Per-format Arrow decode table: format -> (UDF name, return struct,
#: per-blob stats kernel). The name is what plans print (``_png(...)``);
#: each kernel takes ``bytes`` and returns one tuple in struct field
#: order, or ``None`` for an unreadable payload. Serves the per-format
#: ``decode_*_stats`` passes and :func:`media_dispatch_stats`, whose
#: sniffed kind's subtype (``image/png`` -> ``png``) is the key.
BLOB_STATS = {
    "wav": ("_wav", _WAV_STRUCT, _wav_blob_stats),
    "bmp": ("_bmp", _BMP_STRUCT, _bmp_blob_stats),
    "bmp_rle": ("_bmp_rle", _BMP_RLE_STRUCT, _bmp_rle_blob_stats),
    "png": ("_png", _PNG_STRUCT, _png_blob_stats),
    "gif": ("_gif", _GIF_STRUCT, _gif_blob_stats),
    "gif_rowpos": ("_gif_rp", _GIF_ROWPOS_STRUCT, _gif_rowpos_blob_stats),
    "jpeg": ("_jpeg", _JPEG_STRUCT, _jpeg_blob_stats),
}


def blob_stats_udf(name: str, struct: str, stats_fn):
    """Arrow-batched decode UDF named ``name``: binary content ->
    ``struct`` via the per-blob kernel ``stats_fn``. NULL and
    unreadable payloads decode to an all-NULL struct, never an error —
    a 100 TB media lake always carries corrupt objects. The output
    frame is built from per-field lists, so pandas infers the same
    column dtypes for every format. Scale: scalar pandas_udf =>
    per-partition Arrow batches, map-only, no shuffle, payload bytes
    never leave the executors."""
    from pyspark.sql.functions import pandas_udf

    fields = [f.split(":")[0] for f in struct[len("struct<"):-1].split(",")]
    empty = (None,) * len(fields)

    def udf(blobs: pd.Series) -> pd.DataFrame:
        cols = [[] for _ in fields]
        for b in blobs:
            res = stats_fn(bytes(b)) if b is not None else None
            for col, v in zip(cols, empty if res is None else res):
                col.append(v)
        return pd.DataFrame(dict(zip(fields, cols)))

    udf.__name__ = udf.__qualname__ = name
    return pandas_udf(udf, struct)


def decode_blob_stats(media: DataFrame, fmt: str) -> DataFrame:
    """Per-object decode of one ``BLOB_STATS`` format over a
    (media_id, content) frame: one map-only Arrow pass, unreadable
    objects surfaced as NULL stats."""
    udf = blob_stats_udf(*BLOB_STATS[fmt])
    w = media.select("media_id", udf(F.col("content")).alias("w"))
    return w.select("media_id", "w.*")


def sniff_magic(content) -> "F.Column":
    """Container type from leading magic bytes as a pure Catalyst
    expression over the hex prefix (DuckDB 1.0 has no BLOB substring,
    so both engines compare substr(hex(content)) — 2 hex chars per
    byte, byte-exact and codec-free). Unrecognized or NULL payloads
    sniff as 'unknown'."""
    hx = F.hex(content)
    return (F.when(F.substring(hx, 1, 8) == "89504E47", F.lit("image/png"))
            .when(F.substring(hx, 1, 6) == "FFD8FF", F.lit("image/jpeg"))
            .when(F.substring(hx, 1, 8) == "52494646", F.lit("audio/wav"))
            .otherwise(F.lit("unknown")))


def sniff_media_kind(content) -> "F.Column":
    """:func:`sniff_magic` widened to every container this module can
    actually decode (adds GIF and BMP) — the router expression for
    media_decode_dispatch. Kept separate so the original's oracle-
    pinned three-way contract (multimodal_magic_audit) is untouched."""
    hx = F.hex(content)
    return (F.when(F.substring(hx, 1, 8) == "89504E47", F.lit("image/png"))
            .when(F.substring(hx, 1, 6) == "FFD8FF", F.lit("image/jpeg"))
            .when(F.substring(hx, 1, 8) == "47494638", F.lit("image/gif"))
            .when(F.substring(hx, 1, 4) == "424D", F.lit("image/bmp"))
            .when(F.substring(hx, 1, 8) == "52494646", F.lit("audio/wav"))
            .otherwise(F.lit("unknown")))


def sniff_media_kind_py(data: "bytes | None") -> str:
    """Plain-Python twin of :func:`sniff_media_kind` (r16), for the
    single-pass dispatch kernel: identical verdicts byte for byte —
    the Catalyst expression compares hex prefixes, which is exactly a
    bytes-prefix match, and NULL content falls through every WHEN to
    'unknown' (agreement fuzz-pinned in tests/test_round16_props.py)."""
    if data is None:
        return "unknown"
    if data.startswith(b"\x89PNG"):
        return "image/png"
    if data.startswith(b"\xff\xd8\xff"):
        return "image/jpeg"
    if data.startswith(b"GIF8"):
        return "image/gif"
    if data.startswith(b"BM"):
        return "image/bmp"
    if data.startswith(b"RIFF"):
        return "audio/wav"
    return "unknown"


_DISPATCH_SCHEMA = ("media_id bigint, kind string, width int, "
                    "height int, n_pixels bigint, decoded boolean")


def media_dispatch_stats(media: DataFrame, *,
                         audio_fields: bool = False) -> DataFrame:
    """SINGLE-PASS mixed-format dispatch (r16): sniff each object's
    kind from its leading bytes and route it to the matching decode
    kernel PER ROW, inside ONE ``mapInPandas`` stage. Serves both the
    streaming/unstored shape (a six-branch plan over an unstored batch
    would re-scan it once per format — 6x read amplification, the
    defect VERDICT r14 flagged on the batch key — plus five extra
    Arrow stage overheads) and, since the r16 optimization round, the
    BATCH keys over the persisted kind-partitioned firehose: the
    dispatch consumes EVERY kind, so partition pruning buys the
    branch plan nothing — six pruned scans and one full scan read the
    same bytes — while the branch shape pays six Arrow stage launches
    and a six-way union where one stage suffices (measured 2.75 s ->
    1.11 s at sf0.1; every decode kernel is per-blob anyway, so
    per-row routing adds only a dict dispatch). One scan, one Python
    stage, no shuffle, payload bytes never leave the executor; equals
    the six-branch composition object for object (same kernels, same
    NULL contracts — parity pinned in tests/test_round16_props.py).

    Returns (media_id, kind, width, height, n_pixels, decoded):
    images carry their decoded dimensions, audio carries NULL dims
    with decoded=true, unroutable/undecodable payloads surface as
    decoded=false (kind='unknown' when even the magic is foreign).
    ``audio_fields=True`` appends (sample_rate int, n_samples bigint)
    — NULL except for decodable WAV objects, where they carry the
    exact ``decode_wav_stats`` values (rate from the fmt chunk, frames =
    data bytes // (2 * channels)) — so quality gates can derive
    duration flags from the same single pass; the default output is
    byte-identical to the pre-flag shape."""
    cols = ("media_id", "kind", "width", "height", "n_pixels",
            "decoded") + (("sample_rate", "n_samples")
                          if audio_fields else ())

    def mapper(batches):
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                data = bytes(blob) if blob is not None else None
                kind = sniff_media_kind_py(data)
                entry = BLOB_STATS.get(kind.rpartition("/")[2])
                r = entry[2](data) if entry is not None else None
                w = h = npx = rate = frames = None
                if r is not None and kind == "audio/wav":
                    # the batch formula's decoded flag for audio is
                    # sample_rate IS NOT NULL from the WAV kernel;
                    # dims stay NULL (heterogeneous-schema reality)
                    rate, frames = r[0], r[3]
                elif r is not None:
                    w, h, npx = r[0], r[1], r[2]
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(npx)
                out["decoded"].append(r is not None)
                if audio_fields:
                    out["sample_rate"].append(rate)
                    out["n_samples"].append(frames)
            yield pd.DataFrame(out)

    schema = _DISPATCH_SCHEMA + (", sample_rate int, n_samples bigint"
                                 if audio_fields else "")
    return media.mapInPandas(mapper, schema=schema)
