"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) — the FIFTH real decode,
and the first LOSSY one (VERDICT r13 list #2: "ship
multimodal_jpeg_stats with the established treatment, or close the
codec chapter"). The established treatment, in full:

* :func:`synth_jpeg_corpus` — a corpus of REAL baseline JFIF-less JPEG
  files built with pure Catalyst byte arithmetic INCLUDING the entropy
  layer: each document's UTF-8 bytes become uniform 8x8 blocks of an
  8-bit grayscale image (one block per byte, a single block row), and
  the scan is a genuine Huffman-coded bitstream — per-block DC
  DIFFERENCE categories + value bits + EOB, variable-length codes from
  the file's own DHT segments, MSB-first bit packing, 1-padding to the
  byte boundary, and real 0xFF 0x00 byte stuffing. With the DC quant
  step pinned at 8, the forward DCT of a uniform block is EXACT
  (S(0,0) = 8*(px-128), quantizes to px-128 with zero loss), so the
  lossy pipeline is exactly invertible on this corpus and the DuckDB
  oracle can derive the decoded stats straight from the text bytes —
  the multimodal_gif_stats recipe applied to an entropy-coded format.
* :func:`_jpeg_blob_stats` — the per-blob Arrow kernel that decodes FULL
  baseline grayscale JPEG, far more than the synthesis emits: marker
  walk (APPn/COM skip, fill bytes), multi-table DQT (8- and 16-bit)
  and DHT (canonical code reconstruction), SOF0 validation, DRI/RSTn
  restart intervals, the complete DC+AC entropy decoder (EXTEND,
  ZRL, EOB), dezigzag, dequantization, and the spec'd integer IDCT —
  hostile headers NULL out before any allocation (the ADVICE r13
  lesson applied from day one: absolute pixel cap + a data-derived
  MCU bound).
* :func:`parse_jpeg` — the genuinely independent plain-Python spec
  decoder the kernel is pinned equal to: per-spec MINCODE/MAXCODE/
  VALPTR Huffman decode (Annex F) instead of the kernel's (len, code)
  dict, a literal zigzag table instead of the kernel's generated
  diagonal walk, and per-pixel Python IDCT loops instead of numpy
  tensordot. A standard-table Huffman ENCODER round-trips AC-rich
  streams through both in tests/test_jpeg.py (hypothesis).

Decode spec (shared constant, like the GIF palette formula): the IDCT
is the exact int64 dot product with the 2^20-scaled ROUNDED cosine
basis B[v][u][y][x] = round(2^20 * C(v)C(u)/4 * cos((2y+1)v*pi/16) *
cos((2x+1)u*pi/16)), descaled with half-up rounding
((acc + 2^19) >> 20), level-shifted +128 and clamped to [0, 255].
Every term is an integer, so the sum is fold-order-free and the two
implementations agree bit-exactly by construction; the basis exceeds
the spec's Annex A accuracy requirements trivially (it is the real
IDCT rounded at 20 fractional bits). Color: 3-component 4:4:4 frames
decode through interleaved MCUs with per-component quant/Huffman
tables and independent DC predictors, then the CCIR 601 full-range
YCbCr -> RGB conversion in exact 16-bit fixed point (constants
below). Progressive (SOF2, Annex G): both decoders run a multi-scan
coefficient-accumulation engine — DC first scans over
point-transformed values, DC refinement bits (two's-complement OR),
AC band scans first/refine with the full G.1.2 EOB-run and
correction-bit machinery, restart intervals throughout — and
baseline is simply its one-scan special case; progressive streams
truncated before EOI decode to NULL rather than silently emitting
partial-precision stats. Subsampled color: 4:2:0 (Y 2x2, chroma 1x1)
decodes through real MCU geometry — four Y data units per macroblock
with the DC predictor chaining through them, per-component block
grids — and chroma is box-upsampled (pixel replication, libjpeg's
non-fancy mode) before conversion; the upsampling CONVENTION is
pinned here because the spec deliberately leaves the interpolation
filter open; 4:2:2 (Y 2x1) and 4:1:1 (Y 4x1) decode through the same
generalized geometry with horizontal-only chroma replication at 2x /
4x (hypothesis-pinned kernel==spec, tests/test_jpeg.py). Scope
boundary (all-NULL struct, documented): other sampling layouts
(4:4:0, mixed multi-factor chroma, anything off the whitelist),
interpolating upsamplers, and arithmetic-coded scans.

Reference parity: media metadata extraction the reference delegates
to client-side libraries (streamlit_app.py display layer).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F

#: synthesis cap: blocks (= text bytes) consumed per document. 48
#: blocks = a 384x8 image; the oracle mirrors least(dlen, 48).
_JPEG_MAX_BLOCKS = 48

#: absolute decoded-pixel cap (the _GIF_DECODE_MAX_PIXELS discipline): SOF0
#: dimensions are attacker-controlled up to 65535x65535; frames whose
#: X*Y exceeds 2^24 decode to the all-NULL struct before anything is
#: allocated.
_JPEG_MAX_PIXELS = 1 << 24

#: YCbCr -> RGB decode-spec constants (shared, like the IDCT basis):
#: the CCIR 601 full-range conversion in 16-bit fixed point, rounded
#: once at definition —
#:   R = Y + (( CR_R*(Cr-128)                 + 2^15) >> 16)
#:   G = Y - (( CB_G*(Cb-128) + CR_G*(Cr-128) + 2^15) >> 16)
#:   B = Y + (( CB_B*(Cb-128)                 + 2^15) >> 16)
#: with arithmetic (floor) shift and [0,255] clamp. All-integer, so
#: both implementations agree bit-exactly and the DuckDB oracle can
#: replay the conversion with floor(x/65536).
_CR_R = 91881     # round(1.402    * 2^16)
_CB_B = 116130    # round(1.772    * 2^16)
_CB_G = 22554     # round(0.344136 * 2^16)
_CR_G = 46802     # round(0.714136 * 2^16)


# ---------------------------------------------------------------------------
# shared spec constants
# ---------------------------------------------------------------------------

def _zigzag_order() -> list:
    """Zigzag scan order generated as the diagonal walk (spec Figure
    A.6): entry k = natural index (row*8+col) of the k-th scanned
    coefficient. parse_jpeg carries the literal table; a test pins the
    two equal."""
    out = []
    r = c = 0
    up = True
    for _ in range(64):
        out.append(r * 8 + c)
        if up:
            if c == 7:
                r += 1
                up = False
            elif r == 0:
                c += 1
                up = False
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
                up = True
            elif c == 0:
                r += 1
                up = True
            else:
                r += 1
                c -= 1
    return out


#: the same table, written out (spec Figure A.6) — parse_jpeg's copy,
#: independent of the generator above
_ZIGZAG_LITERAL = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]


def _dct_basis_q20() -> list:
    """The decode spec's IDCT basis: B[v][u][y][x] as nested lists of
    EXACT integers (2^20-scaled, rounded once at table build). Both
    implementations call this same closed-form builder — the shared-
    constant convention (module docstring) — and everything downstream
    is int64."""
    inv_sqrt2 = 1.0 / math.sqrt(2.0)
    basis = []
    for v in range(8):
        cv = inv_sqrt2 if v == 0 else 1.0
        bu = []
        for u in range(8):
            cu = inv_sqrt2 if u == 0 else 1.0
            by = []
            for y in range(8):
                cy = math.cos((2 * y + 1) * v * math.pi / 16.0)
                bx = []
                for x in range(8):
                    cx = math.cos((2 * x + 1) * u * math.pi / 16.0)
                    bx.append(round((1 << 20) * cv * cu / 4.0 * cy * cx))
                by.append(bx)
            bu.append(by)
        basis.append(bu)
    return basis


# ---------------------------------------------------------------------------
# synthesis: documents -> real baseline JPEG files, in Catalyst
# ---------------------------------------------------------------------------

#: the synthesis's own Huffman tables, written into the file's DHT
#: segments: DC = categories 0..11 all at code length 4 (canonical
#: codes 0..11), AC = the single symbol EOB (0x00) at code length 1
#: (canonical code 0). Unusual but fully standard tables — a spec
#: decoder must RECONSTRUCT them from BITS/HUFFVAL, which is exactly
#: the machinery the fixture should exercise (the Annex K defaults are
#: exercised by the test encoder instead).
_SYNTH_HEADER_HEX = (
    "FFD8"                                        # SOI
    "FFDB0043" "00" + "08" * 64 +                 # DQT: Pq/Tq=0, all q=8
    "FFC4001F" "00" "0000000C" + "00" * 12        # DHT DC: 12 codes @ len 4
    + "000102030405060708090A0B"
    + "FFC40014" "10" "01" + "00" * 15 + "00"     # DHT AC: EOB @ len 1
)
_SYNTH_EOI_HEX = "FFD9"


def synth_jpeg_corpus(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Deterministic corpus of REAL baseline JPEG files from document
    text, pure Catalyst (module docstring). Byte i of the text becomes
    block i's uniform gray value: with quant step 8, quantized DC =
    px-128 exactly, so DC(0) = px_0-128 and every later block's coded
    DIFF is just px_i - px_{i-1} — a real differentially-coded,
    category-bucketed, variable-length Huffman stream whose decode
    provably returns the original bytes. Image = one row of
    min(bytes, 48) blocks (width 8n, height 8). NULL text -> NULL
    content; empty text -> NULL content (a 0-width JPEG frame is not
    representable, unlike the BMP/PNG/GIF h=0 convention)."""
    return _synth_jpeg(docs, id_col, text_col, [lambda u: u])


def synth_jpeg_color_corpus(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """The 3-component sibling: byte u becomes one 4:4:4 YCbCr MCU
    with Y = u and affine chroma planes Cb = (3u+7) mod 256,
    Cr = (7u+1) mod 256 (the GIF-palette convention: the color
    transform is observable in the channel means, not an identity).
    The scan interleaves Y/Cb/Cr blocks per MCU with three
    INDEPENDENT DC predictors — the interleaving and per-component
    predictor state are exactly what the color decode path must get
    right. Same lossless-at-quant-8 contract per channel, so the
    oracle derives R/G/B means from the text bytes through the exact
    integer YCbCr conversion (module constants)."""
    return _synth_jpeg(docs, id_col, text_col, [
        lambda u: u,
        lambda u: (u * 3 + 7) % 256,
        lambda u: (u * 7 + 1) % 256,
    ])


def _synth_jpeg_subsampled(docs: DataFrame, id_col: str, text_col: str,
                           *, n_extra_y: int, samp_hex: str,
                           sof_h_hex: str, mcu_w: int) -> DataFrame:
    """Shared construction behind the three SUBSAMPLED color corpora
    (4:2:0 / 4:2:2 / 4:1:1 — collapsed from three near-verbatim
    copies by the r15 self-review): byte u becomes one MCU whose
    FIRST Y data unit carries the coded DC difference, followed by
    ``n_extra_y`` cat-0 Y entries (the predictor chains through
    them per A.2.3), then one 8x8 block each of the affine chroma
    planes Cb=(3u+7)%256 / Cr=(7u+1)%256. ``samp_hex`` is the SOF
    component list (Y sampling factors + chroma 1x1), ``sof_h_hex``
    the frame height, ``mcu_w`` the pixel width per MCU (X =
    mcu_w * n_MCUs). Lossless-at-quant-8 per channel, so every
    variant's oracle replays the same per-byte RGB formula at its
    own geometry."""
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    nb = F.when(
        F.col("_hex").isNotNull(),
        F.least((F.length("_hex") / 2).cast("bigint"),
                F.lit(_JPEG_MAX_BLOCKS).cast("bigint")))
    b1 = b0.select("media_id", "_hex", nb.alias("_n"))
    px = F.when(F.col("_n") >= 1, F.transform(
        F.sequence(F.lit(0), F.col("_n") - 1),
        lambda i: F.conv(F.substring("_hex", (i * 2 + 1).cast("int"), 2),
                         16, 10).cast("bigint"))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    b2 = b1.select("media_id", "_n", px.alias("_px"))

    pow2 = F.array(*[F.lit(1 << i).cast("bigint") for i in range(9)])

    def dc_bits(cur, prev):
        diff = cur - prev
        cat = (F.when(diff == 0, F.lit(0).cast("bigint"))
               .otherwise(F.length(
                   F.conv(F.abs(diff).cast("string"), 10, 2))
                   .cast("bigint")))
        mapped = (F.when(diff >= 0, diff)
                  .otherwise(diff
                             + F.element_at(pow2, (cat + 1).cast("int"))
                             - 1))
        vbits = (F.lpad(F.conv(mapped.cast("string"), 10, 2), 8, "0")
                 .substr((F.lit(9) - cat).cast("int"), cat.cast("int")))
        return F.concat(
            F.lpad(F.conv(cat.cast("string"), 10, 2), 4, "0"),
            vbits, F.lit("0"))

    def mcu_bits(i):
        cur_u = F.element_at("_px", (i + 1).cast("int"))
        first = i == F.lit(0)
        prev_u = F.element_at("_px", i.cast("int"))
        parts = [
            # Y_0 carries the coded difference; the remaining Y units
            # are cat-0 + EOB ("00000") — same value, zero diff
            dc_bits(cur_u,
                    F.when(first, F.lit(128).cast("bigint"))
                    .otherwise(prev_u)),
            F.lit("00000" * n_extra_y),
            dc_bits((cur_u * 3 + 7) % 256,
                    F.when(first, F.lit(128).cast("bigint"))
                    .otherwise((prev_u * 3 + 7) % 256)),
            dc_bits((cur_u * 7 + 1) % 256,
                    F.when(first, F.lit(128).cast("bigint"))
                    .otherwise((prev_u * 7 + 1) % 256)),
        ]
        return F.concat(*parts)

    bs0 = F.when(F.col("_n") >= 1, F.array_join(
        F.transform(F.sequence(F.lit(0), F.col("_n") - 1), mcu_bits),
        ""))
    b3 = b2.select("media_id", "_n", bs0.alias("_bs0"))
    b4 = b3.select("media_id", "_n",
                   _pad_bits(F.col("_bs0")).alias("_bs"))
    eh = F.when(F.col("_n") >= 1, _bits_to_entropy_hex(F.col("_bs")))
    b5 = b4.select("media_id", "_n", eh.alias("_eh"))
    hexfile = F.concat(
        F.lit(_SYNTH_HEADER_HEX),
        F.lit("FFC00011" "08" + sof_h_hex),        # SOF0: P=8, Y
        F.lpad(F.hex(F.col("_n") * mcu_w), 4, "0"),  # X = mcu_w * n
        F.lit("03" + samp_hex + "021100" "031100"),  # Y; Cb/Cr 1x1
        F.lit("FFDA000C" "03" "0100" "0200" "0300" "003F00"),
        F.col("_eh"),
        F.lit(_SYNTH_EOI_HEX))
    content = F.when(F.col("_n") >= 1, F.unhex(hexfile))
    return b5.select("media_id", content.alias("content"))


def synth_jpeg_420_corpus(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The 4:2:0 SUBSAMPLED sibling: one 16x16 MCU per byte — FOUR
    uniform Y data units (one coded difference + three cat-0
    entries) and one block per chroma plane, box-upsampled 2x both
    axes by the decoder. Geometry 16n x 16, 256 px/byte; shared
    construction in :func:`_synth_jpeg_subsampled`."""
    return _synth_jpeg_subsampled(docs, id_col, text_col,
                                  n_extra_y=3, samp_hex="012200",
                                  sof_h_hex="0010", mcu_w=16)

def synth_jpeg_422_corpus(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The 4:2:2 sibling (Y 2x1 — the broadcast/video-frame layout):
    one 8x16 MCU per byte — TWO Y data units side by side + one
    block per chroma plane, box-upsampled 2x HORIZONTALLY only (the
    axis-asymmetric upsampler is what this variant pins). Geometry
    16n x 8, 128 px/byte; shared construction in
    :func:`_synth_jpeg_subsampled`."""
    return _synth_jpeg_subsampled(docs, id_col, text_col,
                                  n_extra_y=1, samp_hex="012100",
                                  sof_h_hex="0008", mcu_w=16)

def synth_jpeg_411_corpus(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The 4:1:1 sibling (Y 4x1 — the DV/camcorder layout): one 8x32
    MCU per byte — FOUR Y data units in a row + one block per chroma
    plane, box-upsampled 4x HORIZONTALLY (the factor-4 replication
    is what this variant pins). Geometry 32n x 8, 256 px/byte;
    shared construction in :func:`_synth_jpeg_subsampled`."""
    return _synth_jpeg_subsampled(docs, id_col, text_col,
                                  n_extra_y=3, samp_hex="014100",
                                  sof_h_hex="0008", mcu_w=32)

#: the progressive synthesis's AC table: the six EOBn symbols this
#: corpus can need (EOB runs up to 48 blocks -> rbits <= 5) at a flat
#: 3-bit code length — canonical codes 0..5, one per rbits value, so
#: code(EOBn with rbits=r) == r. DHT payload: Tc/Th=0x10, BITS[3]=6,
#: HUFFVAL = 00 10 20 30 40 50.
_PROG_AC_DHT_HEX = ("FFC40019" "10" "0000" "06" + "00" * 13
                    + "001020304050")


def synth_jpeg_progressive_corpus(docs: DataFrame,
                                  id_col: str = "doc_id",
                                  text_col: str = "text") -> DataFrame:
    """PROGRESSIVE sibling of :func:`synth_jpeg_corpus`: the same
    uniform-block grayscale images, delivered as a REAL three-scan
    progressive (SOF2) file built in pure Catalyst —

    1. DC first scan (Ah=0, Al=1): Huffman-coded DIFFERENCES of the
       point-transformed DC (arithmetic shift: (px-128) >> 1), a
       genuine variable-length category stream;
    2. DC refinement scan (Ah=1, Al=0): one raw appended bit per
       block (px & 1 — exact for negatives via two's-complement OR);
    3. AC band scan [1, 63] (Ah=0, Al=0): every band is zero, so the
       whole image is ONE EOB run — an EOBn symbol whose run length
       is the block count, exercising the G.1.2.2 run machinery the
       decoder must get right (rbits extension bits included).

    Because (v>>1)<<1 | (v&1) == v for every two's-complement v, the
    successive-approximation decode restores DC = px-128 exactly, so
    the decoded stats remain a pure function of the text bytes and
    the DuckDB oracle is the SAME formula as the baseline key's. NULL
    or empty text -> NULL content."""
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    nb = F.when(
        F.col("_hex").isNotNull(),
        F.least((F.length("_hex") / 2).cast("bigint"),
                F.lit(_JPEG_MAX_BLOCKS).cast("bigint")))
    b1 = b0.select("media_id", "_hex", nb.alias("_n"))
    px = F.when(F.col("_n") >= 1, F.transform(
        F.sequence(F.lit(0), F.col("_n") - 1),
        lambda i: F.conv(F.substring("_hex", (i * 2 + 1).cast("int"), 2),
                         16, 10).cast("bigint"))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    b2 = b1.select("media_id", "_n", px.alias("_px"))

    pow2 = F.array(*[F.lit(1 << i).cast("bigint") for i in range(9)])

    def pt1(u):
        # point-transformed DC at Al=1: arithmetic (px-128) >> 1
        return F.shiftright((u - 128).cast("bigint"), 1)

    def dc_first_bits(i):
        cur = pt1(F.element_at("_px", (i + 1).cast("int")))
        prev = (F.when(i == F.lit(0), F.lit(0).cast("bigint"))
                .otherwise(pt1(F.element_at("_px", i.cast("int")))))
        diff = cur - prev
        cat = (F.when(diff == 0, F.lit(0).cast("bigint"))
               .otherwise(F.length(
                   F.conv(F.abs(diff).cast("string"), 10, 2))
                   .cast("bigint")))
        mapped = (F.when(diff >= 0, diff)
                  .otherwise(diff
                             + F.element_at(pow2, (cat + 1).cast("int"))
                             - 1))
        vbits = (F.lpad(F.conv(mapped.cast("string"), 10, 2), 8, "0")
                 .substr((F.lit(9) - cat).cast("int"), cat.cast("int")))
        # no EOB: a progressive DC scan codes ONLY the DC entry
        return F.concat(
            F.lpad(F.conv(cat.cast("string"), 10, 2), 4, "0"), vbits)

    s1 = F.when(F.col("_n") >= 1, F.array_join(
        F.transform(F.sequence(F.lit(0), F.col("_n") - 1),
                    dc_first_bits), ""))
    s2 = F.when(F.col("_n") >= 1, F.array_join(
        F.transform(F.sequence(F.lit(0), F.col("_n") - 1),
                    lambda i: (F.element_at("_px", (i + 1).cast("int"))
                               % 2).cast("string")), ""))
    # one EOBn covering all n blocks: 3-bit code == rbits, then rbits
    # extension bits of (n - 2^rbits)
    rbits = (F.length(F.conv(F.col("_n").cast("string"), 10, 2))
             - 1).cast("bigint")
    ext = F.col("_n") - F.element_at(pow2, (rbits + 1).cast("int"))
    s3 = F.when(F.col("_n") >= 1, F.concat(
        F.lpad(F.conv(rbits.cast("string"), 10, 2), 3, "0"),
        F.lpad(F.conv(ext.cast("string"), 10, 2), 8, "0")
        .substr((F.lit(9) - rbits).cast("int"), rbits.cast("int"))))
    b3 = b2.select("media_id", "_n", s1.alias("_s1"), s2.alias("_s2"),
                   s3.alias("_s3"))
    b4 = b3.select("media_id", "_n",
                   _pad_bits(F.col("_s1")).alias("_p1"),
                   _pad_bits(F.col("_s2")).alias("_p2"),
                   _pad_bits(F.col("_s3")).alias("_p3"))
    b5 = b4.select(
        "media_id", "_n",
        F.when(F.col("_n") >= 1,
               _bits_to_entropy_hex(F.col("_p1"))).alias("_e1"),
        F.when(F.col("_n") >= 1,
               _bits_to_entropy_hex(F.col("_p2"))).alias("_e2"),
        F.when(F.col("_n") >= 1,
               _bits_to_entropy_hex(F.col("_p3"))).alias("_e3"))
    hexfile = F.concat(
        F.lit("FFD8"
              "FFDB0043" "00" + "08" * 64),       # DQT: all q=8
        F.lit("FFC2000B" "08" "0008"),            # SOF2: P=8, Y=8
        F.lpad(F.hex(F.col("_n") * 8), 4, "0"),   # X = 8 * n_blocks
        F.lit("01" "01" "11" "00"),               # Nf=1; C=1, 1x1, Tq=0
        F.lit("FFC4001F" "00" "0000000C" + "00" * 12
              + "000102030405060708090A0B"),      # DC: 12 cats @ len 4
        F.lit(_PROG_AC_DHT_HEX),                  # AC: EOBn table
        F.lit("FFDA0008" "01" "0100" "000001"),   # scan 1: DC, Al=1
        F.col("_e1"),
        F.lit("FFDA0008" "01" "0100" "000010"),   # scan 2: DC refine
        F.col("_e2"),
        F.lit("FFDA0008" "01" "0100" "013F00"),   # scan 3: AC [1,63]
        F.col("_e3"),
        F.lit(_SYNTH_EOI_HEX))
    content = F.when(F.col("_n") >= 1, F.unhex(hexfile))
    return b5.select("media_id", content.alias("content"))


def _pad_bits(bs):
    """1-pad a '0'/'1' bitstring column to the byte boundary (spec
    B.2.1)."""
    padlen = (F.lit(8) - F.length(bs) % 8) % 8
    return F.concat(bs, F.lit("1111111")
                    .substr(F.lit(1), padlen.cast("int")))


def _bits_to_entropy_hex(bs):
    """Byte-packed hex of a byte-aligned bitstring column, with REAL
    0xFF 0x00 stuffing (spec B.1.1.5)."""
    n_bytes = (F.length(bs) / 8).cast("bigint")
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_bytes - 1),
            lambda j: F.concat(
                F.lpad(F.hex(F.conv(
                    bs.substr((j * 8 + 1).cast("int"), F.lit(8)),
                    2, 10).cast("bigint")), 2, "0"),
                F.when(F.conv(
                    bs.substr((j * 8 + 1).cast("int"), F.lit(8)),
                    2, 10).cast("bigint") == 255,
                    F.lit("00")).otherwise(F.lit("")))),
        "")


def _synth_jpeg(docs: DataFrame, id_col: str, text_col: str,
                channels: list) -> DataFrame:
    """Shared Catalyst builder: one interleaved baseline MCU per text
    byte, len(channels) components (1x1 sampling), all components on
    quant table 0 (step 8) and Huffman tables 0 — per-component DC
    predictors encoded per spec F.1.1.5.2.

    Staged projections (the synth_png lesson): every stage alias below
    is read more than once downstream, so CollapseProject keeps the
    boundaries and the per-block folds read bound attributes."""
    nf = len(channels)
    b0 = docs.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("_hex"))
    nb = F.when(
        F.col("_hex").isNotNull(),
        F.least((F.length("_hex") / 2).cast("bigint"),
                F.lit(_JPEG_MAX_BLOCKS).cast("bigint")))
    b1 = b0.select("media_id", "_hex", nb.alias("_n"))
    px = F.when(F.col("_n") >= 1, F.transform(
        F.sequence(F.lit(0), F.col("_n") - 1),
        lambda i: F.conv(F.substring("_hex", (i * 2 + 1).cast("int"), 2),
                         16, 10).cast("bigint"))) \
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    b2 = b1.select("media_id", "_n", px.alias("_px"))

    pow2 = F.array(*[F.lit(1 << i).cast("bigint") for i in range(9)])

    def dc_bits(cur, prev):
        # category code (4 bits: canonical code == category) ++ DIFF
        # value bits (one's-complement convention for negatives) ++
        # EOB (1 bit, code 0)
        diff = cur - prev
        cat = (F.when(diff == 0, F.lit(0).cast("bigint"))
               .otherwise(F.length(
                   F.conv(F.abs(diff).cast("string"), 10, 2))
                   .cast("bigint")))
        mapped = (F.when(diff >= 0, diff)
                  .otherwise(diff
                             + F.element_at(pow2, (cat + 1).cast("int"))
                             - 1))
        vbits = (F.lpad(F.conv(mapped.cast("string"), 10, 2), 8, "0")
                 .substr((F.lit(9) - cat).cast("int"), cat.cast("int")))
        return F.concat(
            F.lpad(F.conv(cat.cast("string"), 10, 2), 4, "0"),
            vbits, F.lit("0"))

    def mcu_bits(i):
        cur_u = F.element_at("_px", (i + 1).cast("int"))
        parts = []
        for chan in channels:
            prev_c = (F.when(i == F.lit(0), F.lit(128).cast("bigint"))
                      .otherwise(chan(
                          F.element_at("_px", i.cast("int")))))
            parts.append(dc_bits(chan(cur_u), prev_c))
        return F.concat(*parts) if nf > 1 else parts[0]

    bs0 = F.when(F.col("_n") >= 1, F.array_join(
        F.transform(F.sequence(F.lit(0), F.col("_n") - 1), mcu_bits),
        ""))
    b3 = b2.select("media_id", "_n", bs0.alias("_bs0"))
    b4 = b3.select("media_id", "_n",
                   _pad_bits(F.col("_bs0")).alias("_bs"))
    eh = F.when(F.col("_n") >= 1, _bits_to_entropy_hex(F.col("_bs")))
    b5 = b4.select("media_id", "_n", eh.alias("_eh"))
    sof_len = 8 + 3 * nf
    sof_hex = (f"FFC0{sof_len:04X}" "08" "0008")
    comps_hex = "".join(f"{c + 1:02X}1100" for c in range(nf))
    sos_len = 6 + 2 * nf
    sos_hex = (f"FFDA{sos_len:04X}{nf:02X}"
               + "".join(f"{c + 1:02X}00" for c in range(nf))
               + "003F00")
    hexfile = F.concat(
        F.lit(_SYNTH_HEADER_HEX),
        F.lit(sof_hex),                           # SOF0: P=8, Y=8
        F.lpad(F.hex(F.col("_n") * 8), 4, "0"),   # X = 8 * n_MCUs
        F.lit(f"{nf:02X}" + comps_hex),           # Nf; (Ci, 1x1, Tq=0)*
        F.lit(sos_hex),
        F.col("_eh"),
        F.lit(_SYNTH_EOI_HEX))
    content = F.when(F.col("_n") >= 1, F.unhex(hexfile))
    return b5.select("media_id", content.alias("content"))


# ---------------------------------------------------------------------------
# plain-Python spec decoder (the independent reference implementation)
# ---------------------------------------------------------------------------

def _annexf_tables(bits: list, vals: list):
    """Annex F (F.15/F.16) decode tables: MINCODE/MAXCODE/VALPTR per
    code length. MAXCODE = -1 marks an empty length."""
    mincode, maxcode, valptr = [0] * 17, [-1] * 17, [0] * 17
    code, k = 0, 0
    for ln in range(1, 17):
        if bits[ln - 1] == 0:
            maxcode[ln] = -1
        else:
            valptr[ln] = k
            mincode[ln] = code
            code += bits[ln - 1]
            k += bits[ln - 1]
            maxcode[ln] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, vals


class _BitsEnd(Exception):
    pass


class _SpecBitReader:
    """Per-spec bit source over ONE entropy-coded segment (already
    unstuffed, RST-delimited). MSB first."""

    def __init__(self, seg: bytes):
        self.seg = seg
        self.pos = 0          # bit position

    def nextbit(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.seg):
            raise _BitsEnd()
        bit = (self.seg[byte] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.nextbit()
        return v


def _extend(v: int, t: int) -> int:
    """Annex F EXTEND: map the t received bits to the signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _spec_decode_sym(rd: _SpecBitReader, tab) -> int | None:
    """Annex F Figure F.16 DECODE over MINCODE/MAXCODE/VALPTR."""
    mincode, maxcode, valptr, vals = tab
    code = rd.nextbit()
    ln = 1
    while maxcode[ln] < 0 or code > maxcode[ln]:
        ln += 1
        if ln > 16:
            return None
        code = (code << 1) | rd.nextbit()
    return vals[valptr[ln] + code - mincode[ln]]


def _split_entropy(data: bytes, p: int):
    """Unstuff the entropy-coded data starting at offset p into
    RST-delimited segments. Returns (segments, rst_numbers, end)."""
    segs, rsts = [], []
    cur = bytearray()
    n = len(data)
    while p < n:
        b = data[p]
        if b != 0xFF:
            cur.append(b)
            p += 1
            continue
        if p + 1 >= n:
            break
        m = data[p + 1]
        if m == 0x00:
            cur.append(0xFF)
            p += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            rsts.append(m - 0xD0)
            cur = bytearray()
            p += 2
        else:
            break                      # EOI or next marker: scan over
    segs.append(bytes(cur))
    return segs, rsts, p


def _spec_decode_scan(segs, rsts, dri, n_units, uw, scomps,
                      ss, se, ah, al, coefs):
    """One scan's entropy decode into the raw zigzag coefficient
    accumulator (un-dequantized — quantization is applied once at
    EOI). Handles every scan shape this engine supports: baseline
    full-band interleaved (ss=0, se=63, ah=al=0) at 1x1 or 4:2:0
    sampling (each MCU carries hi*vi data units per component, left-
    to-right top-to-bottom, one DC predictor per COMPONENT chaining
    through them — spec A.2.3), progressive DC first (diffs of
    DC>>al) and DC refinement (one raw bit per block), and
    progressive AC band scans — first (with EOB-run skips, spec
    G.1.2.2) and refinement (correction bits over nonzero history +
    EOB-run tails, G.1.2.3). ``scomps`` is a list of
    (sof_comp_index, dctab, actab, hi, vi, comp_blocks_w) in scan
    order; ``uw`` is the unit-raster width (MCU columns). Restart
    boundaries reset the DC predictors and the EOB run. Returns True,
    or None on malformed streams."""
    if dri:
        need = (n_units - 1) // dri    # RST between every dri units
        if len(rsts) != need or any(r != i % 8 for i, r in enumerate(rsts)):
            return None
    elif rsts:
        return None                    # RST without DRI: malformed
    unit = 0
    p1, m1 = 1 << al, -(1 << al)
    for si, seg in enumerate(segs):
        rd = _SpecBitReader(seg)
        preds = {sc[0]: 0 for sc in scomps}
        eobrun = 0
        in_seg = (n_units - unit) if si == len(segs) - 1 else dri
        for _ in range(in_seg):
            try:
                for ci, dctab, actab, hi, vi, bw_c in scomps:
                    my, mx = divmod(unit, uw)
                    for bofs in range(hi * vi):
                        v0, h0 = divmod(bofs, hi)
                        block = coefs[ci][(my * vi + v0) * bw_c
                                          + (mx * hi + h0)]
                        if ss == 0 and ah == 0:
                            # DC first (prog: se==0) / baseline full band
                            t = _spec_decode_sym(rd, dctab)
                            if t is None or t > 15:
                                return None
                            preds[ci] += _extend(rd.receive(t), t)
                            block[0] = preds[ci] << al
                            k = 1
                            while k <= se:
                                rs = _spec_decode_sym(rd, actab)
                                if rs is None:
                                    return None
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += r
                                if k > se:
                                    return None
                                block[k] = _extend(rd.receive(s), s) << al
                                k += 1
                        elif ss == 0:
                            # DC refinement: one raw bit per block
                            # (two's-complement OR, exact for negatives)
                            if rd.nextbit():
                                block[0] |= p1
                        elif ah == 0:
                            # AC band, first pass (G.1.2.2)
                            if eobrun > 0:
                                eobrun -= 1
                                continue
                            k = ss
                            while k <= se:
                                rs = _spec_decode_sym(rd, actab)
                                if rs is None:
                                    return None
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    eobrun = (1 << r) + rd.receive(r) - 1
                                    break
                                k += r
                                if k > se:
                                    return None
                                block[k] = _extend(rd.receive(s), s) << al
                                k += 1
                        else:
                            # AC band refinement (G.1.2.3): corrections
                            # ride along runs and EOB tails
                            k = ss
                            if eobrun == 0:
                                while k <= se:
                                    rs = _spec_decode_sym(rd, actab)
                                    if rs is None:
                                        return None
                                    r, s = rs >> 4, rs & 15
                                    if s == 0:
                                        if r < 15:
                                            eobrun = (1 << r) + rd.receive(r)
                                            break
                                        val = 0
                                    elif s == 1:
                                        val = p1 if rd.nextbit() else m1
                                    else:
                                        return None
                                    while k <= se:
                                        z = block[k]
                                        if z != 0:
                                            if rd.nextbit() and (z & p1) == 0:
                                                block[k] = z + (p1 if z >= 0
                                                                else m1)
                                        else:
                                            if r == 0:
                                                break
                                            r -= 1
                                        k += 1
                                    if val != 0:
                                        if k > se:
                                            return None
                                        block[k] = val
                                    k += 1
                            if eobrun > 0:
                                while k <= se:
                                    z = block[k]
                                    if z != 0:
                                        if rd.nextbit() and (z & p1) == 0:
                                            block[k] = z + (p1 if z >= 0
                                                            else m1)
                                    k += 1
                                eobrun -= 1
            except _BitsEnd:
                return None
            unit += 1
    return True if unit == n_units else None


_SPEC_BASIS = None


def parse_jpeg(data: bytes | None) -> tuple | None:
    """Spec JPEG decode to image stats: returns
    (width, height, n_pixels, mean_gray, mean_r, mean_g, mean_b) —
    mean_gray is the luma-plane mean (always present); the RGB means
    are present for 3-component color frames (4:4:4, 4:2:0, 4:2:2,
    and 4:1:1 — exact integer YCbCr conversion, module constants;
    subsampled chroma box-replicated) and None for grayscale — or
    None entirely for anything unreadable / out of the documented
    scope (module docstring: off-whitelist sampling layouts,
    interpolating upsamplers, and arithmetic coding are the NULL
    boundary).
    Handles baseline sequential (SOF0) AND
    progressive (SOF2) frames through one multi-scan engine: raw
    zigzag coefficients accumulate across scans (DC first/refine, AC
    band first/refine with EOB runs), dequantization and the
    per-pixel Python IDCT over the shared integer basis run once at
    EOI. The independent twin of :func:`_jpeg_blob_stats`."""
    global _SPEC_BASIS
    if _SPEC_BASIS is None:
        _SPEC_BASIS = _dct_basis_q20()
    basis = _SPEC_BASIS
    if data is None or len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        return None
    qts: dict = {}
    huffs: dict = {}
    sof = None
    prog = False
    dri = 0
    coefs = None
    p = 2
    try:
        while True:
            if data[p] != 0xFF:
                return None
            p += 1
            while data[p] == 0xFF:     # fill bytes (B.1.1.2)
                p += 1
            m = data[p]
            p += 1
            if m == 0xD9:
                break                  # EOI: frame complete
            if 0xD0 <= m <= 0xD7 or m == 0x01:
                continue               # standalone markers
            ln = (data[p] << 8) | data[p + 1]
            if ln < 2:
                return None
            seg = data[p + 2:p + ln]
            if len(seg) != ln - 2:
                return None
            p += ln
            if m == 0xDB:              # DQT (possibly several tables)
                q = 0
                while q < len(seg):
                    pq, tq = seg[q] >> 4, seg[q] & 15
                    q += 1
                    if pq == 0:
                        qts[tq] = list(seg[q:q + 64])
                        q += 64
                    elif pq == 1:
                        qts[tq] = [(seg[q + 2 * i] << 8) | seg[q + 2 * i + 1]
                                   for i in range(64)]
                        q += 128
                    else:
                        return None
                    if len(qts[tq]) != 64:
                        return None
            elif m == 0xC4:            # DHT (possibly several tables)
                q = 0
                while q < len(seg):
                    tc, th = seg[q] >> 4, seg[q] & 15
                    q += 1
                    bits = list(seg[q:q + 16])
                    if len(bits) != 16:
                        return None
                    q += 16
                    nv = sum(bits)
                    vals = list(seg[q:q + nv])
                    if len(vals) != nv:
                        return None
                    q += nv
                    huffs[(tc, th)] = _annexf_tables(bits, vals)
            elif m in (0xC0, 0xC2):    # SOF0 baseline / SOF2 progressive
                if sof is not None or seg[0] != 8:
                    return None
                prog = (m == 0xC2)
                y = (seg[1] << 8) | seg[2]
                x = (seg[3] << 8) | seg[4]
                nf = seg[5]
                if nf not in (1, 3) or y < 1 or x < 1:
                    return None
                comps = []
                for ci in range(nf):
                    o = 6 + 3 * ci
                    comps.append((seg[o], seg[o + 1], seg[o + 2]))
                if nf == 1:
                    # single-component frames are never interleaved;
                    # sampling factors are irrelevant — normalize
                    comps = [(comps[0][0], 0x11, comps[0][2])]
                hvs = [c[1] for c in comps]
                if nf == 3 and hvs not in ([0x11] * 3,
                                           [0x22, 0x11, 0x11],
                                           [0x21, 0x11, 0x11],
                                           [0x41, 0x11, 0x11]):
                    return None        # 4:4:4/4:2:0/4:2:2/4:1:1 only
                if prog and hvs != [0x11] * len(comps):
                    return None        # subsampled progressive: NULL
                if len({c[0] for c in comps}) != nf:
                    return None        # duplicate component ids
                sof = (x, y, comps)
            elif m in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                       0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None            # other frame types (arith etc.)
            elif m == 0xDD:            # DRI
                dri = (seg[0] << 8) | seg[1]
            elif m == 0xDA:            # SOS (one of possibly many)
                if sof is None:
                    return None
                x, y, comps = sof
                nf = len(comps)
                ns = seg[0]
                if ns < 1 or len(seg) < 4 + 2 * ns:
                    return None
                o = 1 + 2 * ns
                ss, se = seg[o], seg[o + 1]
                ah, al = seg[o + 2] >> 4, seg[o + 2] & 15
                if not prog:
                    if ns != nf or ss != 0 or se != 63 or ah or al:
                        return None
                else:
                    if ss == 0:
                        if se != 0:
                            return None
                    elif ns != 1 or not (1 <= ss <= se <= 63):
                        return None
                    if al > 13 or (ah and ah != al + 1):
                        return None
                ids = {c[0]: i for i, c in enumerate(comps)}
                hmax = max(c[1] >> 4 for c in comps)
                vmax = max(c[1] & 15 for c in comps)
                mw = (x + 8 * hmax - 1) // (8 * hmax)
                mh = (y + 8 * vmax - 1) // (8 * vmax)
                scomps = []
                last = -1
                blocks_in_unit = 0
                for i in range(ns):
                    cs = seg[1 + 2 * i]
                    td, ta = seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15
                    if cs not in ids or ids[cs] <= last:
                        return None    # unknown / out of SOF order
                    last = ids[cs]
                    dctab = huffs.get((0, td))
                    actab = huffs.get((1, ta))
                    if ss == 0 and ah == 0 and dctab is None:
                        return None
                    if se > 0 and actab is None:
                        return None
                    hi = comps[ids[cs]][1] >> 4
                    vi = comps[ids[cs]][1] & 15
                    blocks_in_unit += hi * vi
                    scomps.append((ids[cs], dctab, actab,
                                   hi, vi, mw * hi))
                n_units = mw * mh
                if coefs is None:
                    # first scan: spec requires DC-first; every block
                    # costs >= 1 bit (a 1-bit DC Huffman code for
                    # category 0 is legal — ADVICE r14: the old 2-bit
                    # assumption falsely NULLed such files), so
                    # blocks <= 8 * remaining scan bytes bounds the
                    # allocation by the data (the GIF lesson)
                    if ss != 0 or ah != 0:
                        return None
                    if x * y > _JPEG_MAX_PIXELS:
                        return None
                    if n_units * blocks_in_unit \
                            > 8 * max(len(data) - p, 0):
                        return None
                    coefs = [[[0] * 64
                              for _ in range(mw * (c[1] >> 4)
                                             * mh * (c[1] & 15))]
                             for c in comps]
                segs, rsts, p = _split_entropy(data, p)
                if _spec_decode_scan(segs, rsts, dri, n_units, mw,
                                     scomps, ss, se, ah, al,
                                     coefs) is None:
                    return None
                if not prog:
                    break              # baseline: one full-band scan
                    # IS the image (EOI optional, as before);
                    # progressive keeps walking — only EOI says the
                    # scan script ended, so truncation NULLs instead
                    # of silently emitting partial-precision stats
            # APPn / COM / anything else with a length: skipped
    except IndexError:
        return None
    if sof is None or coefs is None:
        return None
    x, y, comps = sof
    nf = len(comps)
    hmax = max(c[1] >> 4 for c in comps)
    vmax = max(c[1] & 15 for c in comps)
    mw = (x + 8 * hmax - 1) // (8 * hmax)
    mh = (y + 8 * vmax - 1) // (8 * vmax)
    qtabs = []
    for _cid, _hv, tq in comps:
        if tq not in qts:
            return None
        qtabs.append(qts[tq])

    def idct_px(nat, py, pxx):
        acc = 0
        for v in range(8):
            row = nat[v * 8:v * 8 + 8]
            bvy = basis[v]
            for u in range(8):
                if row[u]:
                    acc += row[u] * bvy[u][py][pxx]
        val = ((acc + (1 << 19)) >> 20) + 128
        return 0 if val < 0 else (255 if val > 255 else val)

    def deq_nat(ci, bi):
        zz = coefs[ci][bi]
        qt = qtabs[ci]
        nat = [0] * 64
        for k in range(64):
            if zz[k]:
                nat[_ZIGZAG_LITERAL[k]] = zz[k] * qt[k]
        return nat

    # per-component pixel planes at the component's own resolution;
    # subsampled components are read through the replication mapping
    # (py*vi//vmax, px*hi//hmax) — the pinned box-upsampling
    # convention (module docstring)
    planes = []
    for ci in range(nf):
        hi, vi = comps[ci][1] >> 4, comps[ci][1] & 15
        bw_c, bh_c = mw * hi, mh * vi
        plane = [[0] * (bw_c * 8) for _ in range(bh_c * 8)]
        for bi in range(bw_c * bh_c):
            nat = deq_nat(ci, bi)
            by, bx = divmod(bi, bw_c)
            for py in range(8):
                rowp = plane[by * 8 + py]
                for pxx in range(8):
                    rowp[bx * 8 + pxx] = idct_px(nat, py, pxx)
        planes.append((plane, hi, vi))
    t_y = t_r = t_g = t_b = 0
    lplane = planes[0][0]
    for py in range(y):
        lrow = lplane[py * planes[0][2] // vmax]
        if nf == 3:
            cbrow = planes[1][0][py * planes[1][2] // vmax]
            crrow = planes[2][0][py * planes[2][2] // vmax]
        for pxx in range(x):
            lum = lrow[pxx * planes[0][1] // hmax]
            t_y += lum
            if nf == 3:
                cb = cbrow[pxx * planes[1][1] // hmax] - 128
                cr = crrow[pxx * planes[2][1] // hmax] - 128
                r = lum + ((_CR_R * cr + 32768) >> 16)
                g = lum - ((_CB_G * cb + _CR_G * cr + 32768) >> 16)
                b = lum + ((_CB_B * cb + 32768) >> 16)
                t_r += 0 if r < 0 else (255 if r > 255 else r)
                t_g += 0 if g < 0 else (255 if g > 255 else g)
                t_b += 0 if b < 0 else (255 if b > 255 else b)
    n_px = x * y
    if nf == 1:
        return (x, y, n_px, t_y / n_px, None, None, None)
    return (x, y, n_px, t_y / n_px, t_r / n_px, t_g / n_px, t_b / n_px)


# ---------------------------------------------------------------------------
# Arrow kernel
# ---------------------------------------------------------------------------

_JPEG_STRUCT = ("struct<width:int,height:int,n_pixels:bigint,"
                "mean_gray:double,"
                "mean_r:double,mean_g:double,mean_b:double>")


_JPEG_KERNEL_CONSTS = None


def _jpeg_kernel_consts():
    """Lazy per-process kernel constants (IDCT basis tensor + natural-
    order zigzag walk) — built once per worker, shared by the UDF and
    the dispatch kernel."""
    global _JPEG_KERNEL_CONSTS
    if _JPEG_KERNEL_CONSTS is None:
        import numpy as np
        _JPEG_KERNEL_CONSTS = (np.array(_dct_basis_q20(), dtype=np.int64),
                               _zigzag_order())
    return _JPEG_KERNEL_CONSTS


def _kernel_build_huff(bits, vals):
    table = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _KernelBits:
    __slots__ = ("seg", "byte", "nbuf", "buf")

    def __init__(self, seg):
        self.seg = seg
        self.byte = 0
        self.buf = 0
        self.nbuf = 0

    def take(self, n):
        while self.nbuf < n:
            if self.byte >= len(self.seg):
                return None
            self.buf = (self.buf << 8) | self.seg[self.byte]
            self.byte += 1
            self.nbuf += 8
        self.nbuf -= n
        v = (self.buf >> self.nbuf) & ((1 << n) - 1)
        return v

    def sym(self, table):
        ln, code = 0, 0
        while ln < 16:
            b = self.take(1)
            if b is None:
                return None
            code = (code << 1) | b
            ln += 1
            s = table.get((ln, code))
            if s is not None:
                return s
        return None


def _kernel_decode_scan(data, p, dri, n_units, uw, scomps,
                ss, se, ah, al, coefs):
    """One scan's entropy decode into the int64 zigzag
    accumulator; the kernel-side twin of _spec_decode_scan
    (same scan shapes, its own reader/table idioms). Returns
    the offset past the entropy data, or None."""
    segs, rsts, p2 = _split_entropy(data, p)
    if dri:
        need = (n_units - 1) // dri
        if len(rsts) != need or any(r != i % 8
                                    for i, r in enumerate(rsts)):
            return None
    elif rsts:
        return None
    unit = 0
    p1v, m1v = 1 << al, -(1 << al)
    for si, seg in enumerate(segs):
        rd = _KernelBits(seg)
        preds = {sc[0]: 0 for sc in scomps}
        eobrun = 0
        left = (n_units - unit) if si == len(segs) - 1 else dri
        for _ in range(left):
            for ci, dct, act, hi, vi, bw_c in scomps:
                my, mx = divmod(unit, uw)
                for bofs in range(hi * vi):
                    v0, h0 = divmod(bofs, hi)
                    zz = coefs[ci][(my * vi + v0) * bw_c
                                   + (mx * hi + h0)]
                    if ss == 0 and ah == 0:
                        t = rd.sym(dct)
                        if t is None or t > 15:
                            return None
                        v = rd.take(t)
                        if v is None:
                            return None
                        if t and v < (1 << (t - 1)):
                            v -= (1 << t) - 1
                        preds[ci] += v
                        zz[0] = preds[ci] << al
                        k = 1
                        while k <= se:
                            rs = rd.sym(act)
                            if rs is None:
                                return None
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break
                            k += r
                            if k > se:
                                return None
                            v = rd.take(s)
                            if v is None:
                                return None
                            if v < (1 << (s - 1)):
                                v -= (1 << s) - 1
                            zz[k] = v << al
                            k += 1
                    elif ss == 0:
                        b = rd.take(1)
                        if b is None:
                            return None
                        if b:
                            zz[0] |= p1v
                    elif ah == 0:
                        if eobrun > 0:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            rs = rd.sym(act)
                            if rs is None:
                                return None
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                v = rd.take(r)
                                if v is None:
                                    return None
                                eobrun = (1 << r) + v - 1
                                break
                            k += r
                            if k > se:
                                return None
                            v = rd.take(s)
                            if v is None:
                                return None
                            if v < (1 << (s - 1)):
                                v -= (1 << s) - 1
                            zz[k] = v << al
                            k += 1
                    else:
                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                rs = rd.sym(act)
                                if rs is None:
                                    return None
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r < 15:
                                        v = rd.take(r)
                                        if v is None:
                                            return None
                                        eobrun = (1 << r) + v
                                        break
                                    val = 0
                                elif s == 1:
                                    b = rd.take(1)
                                    if b is None:
                                        return None
                                    val = p1v if b else m1v
                                else:
                                    return None
                                while k <= se:
                                    z = int(zz[k])
                                    if z != 0:
                                        b = rd.take(1)
                                        if b is None:
                                            return None
                                        if b and (z & p1v) == 0:
                                            zz[k] = z + (
                                                p1v if z >= 0 else m1v)
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val != 0:
                                    if k > se:
                                        return None
                                    zz[k] = val
                                k += 1
                        if eobrun > 0:
                            while k <= se:
                                z = int(zz[k])
                                if z != 0:
                                    b = rd.take(1)
                                    if b is None:
                                        return None
                                    if b and (z & p1v) == 0:
                                        zz[k] = z + (
                                            p1v if z >= 0 else m1v)
                                k += 1
                            eobrun -= 1
            unit += 1
    return p2 if unit == n_units else None


def _jpeg_blob_stats(data):
    """Module-level per-blob KERNEL (the ``jpeg`` entry of
    operators/multimodal.py:BLOB_STATS, so both decode_jpeg_stats and
    the single-pass dispatch media_dispatch_stats route a blob here
    without paying a per-format Spark branch): full baseline+progressive
    decode of one JPEG byte string. Returns ``(w, h, n_px,
    mean_gray, mean_r, mean_g, mean_b)`` (color means None for
    grayscale) or ``None`` for unreadable/out-of-scope payloads;
    never raises on hostile bytes."""
    import numpy as np

    basis, zz_nat = _jpeg_kernel_consts()
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        return None
    qts, huffs = {}, {}
    sof, dri = None, 0
    prog = False
    coefs = None
    p = 2
    n = len(data)
    while True:
        if p >= n or data[p] != 0xFF:
            return None
        p += 1
        while p < n and data[p] == 0xFF:
            p += 1
        if p >= n:
            return None
        m = data[p]
        p += 1
        if m == 0xD9:
            break              # EOI: frame complete
        if 0xD0 <= m <= 0xD7 or m == 0x01:
            continue
        if p + 2 > n:
            return None
        ln2 = (data[p] << 8) | data[p + 1]
        if ln2 < 2 or p + ln2 > n:
            return None
        seg = data[p + 2:p + ln2]
        p += ln2
        if m == 0xDB:
            q = 0
            while q < len(seg):
                pq, tq = seg[q] >> 4, seg[q] & 15
                q += 1
                step = 64 if pq == 0 else (128 if pq == 1 else 0)
                if not step or q + step > len(seg):
                    return None
                if pq == 0:
                    qts[tq] = np.frombuffer(
                        seg[q:q + 64], np.uint8).astype(np.int64)
                else:
                    qts[tq] = np.frombuffer(
                        seg[q:q + 128], ">u2").astype(np.int64)
                q += step
        elif m == 0xC4:
            q = 0
            while q < len(seg):
                tcth = seg[q]
                q += 1
                if q + 16 > len(seg):
                    return None
                bits = list(seg[q:q + 16])
                q += 16
                nv = sum(bits)
                if q + nv > len(seg):
                    return None
                huffs[(tcth >> 4, tcth & 15)] = _kernel_build_huff(
                    bits, list(seg[q:q + nv]))
                q += nv
        elif m in (0xC0, 0xC2):
            if sof is not None or len(seg) < 6 or seg[0] != 8:
                return None
            prog = (m == 0xC2)
            y = (seg[1] << 8) | seg[2]
            x = (seg[3] << 8) | seg[4]
            nf = seg[5]
            if nf not in (1, 3) or x < 1 or y < 1 \
                    or len(seg) < 6 + 3 * nf:
                return None
            comps = [(seg[6 + 3 * i], seg[7 + 3 * i],
                      seg[8 + 3 * i]) for i in range(nf)]
            if nf == 1:
                # never interleaved: sampling is irrelevant
                comps = [(comps[0][0], 0x11, comps[0][2])]
            hvs = [c[1] for c in comps]
            if nf == 3 and hvs not in ([0x11] * 3,
                                       [0x22, 0x11, 0x11],
                                       [0x21, 0x11, 0x11],
                                       [0x41, 0x11, 0x11]):
                return None    # 4:4:4/4:2:0/4:2:2/4:1:1 only
            if prog and hvs != [0x11] * len(comps):
                return None    # subsampled progressive: NULL
            if len({c[0] for c in comps}) != nf:
                return None
            sof = (x, y, comps)
        elif m in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None
        elif m == 0xDD:
            if len(seg) < 2:
                return None
            dri = (seg[0] << 8) | seg[1]
        elif m == 0xDA:
            if sof is None or len(seg) < 4:
                return None
            x, y, comps = sof
            nf = len(comps)
            ns = seg[0]
            if ns < 1 or len(seg) < 4 + 2 * ns:
                return None
            o = 1 + 2 * ns
            ss, se = seg[o], seg[o + 1]
            ah, al = seg[o + 2] >> 4, seg[o + 2] & 15
            if not prog:
                if ns != nf or ss != 0 or se != 63 or ah or al:
                    return None
            else:
                if ss == 0:
                    if se != 0:
                        return None
                elif ns != 1 or not (1 <= ss <= se <= 63):
                    return None
                if al > 13 or (ah and ah != al + 1):
                    return None
            ids = {c[0]: i for i, c in enumerate(comps)}
            hmax = max(c[1] >> 4 for c in comps)
            vmax = max(c[1] & 15 for c in comps)
            mw = (x + 8 * hmax - 1) // (8 * hmax)
            mh = (y + 8 * vmax - 1) // (8 * vmax)
            scomps = []
            last = -1
            blocks_in_unit = 0
            for i in range(ns):
                cs = seg[1 + 2 * i]
                td = seg[2 + 2 * i] >> 4
                ta = seg[2 + 2 * i] & 15
                if cs not in ids or ids[cs] <= last:
                    return None
                last = ids[cs]
                dct = huffs.get((0, td))
                act = huffs.get((1, ta))
                if ss == 0 and ah == 0 and dct is None:
                    return None
                if se > 0 and act is None:
                    return None
                hi = comps[ids[cs]][1] >> 4
                vi = comps[ids[cs]][1] & 15
                blocks_in_unit += hi * vi
                scomps.append((ids[cs], dct, act,
                               hi, vi, mw * hi))
            n_units = mw * mh
            if coefs is None:
                # first scan must be DC-first; >= 1 bit per
                # block (a 1-bit category-0 DC code is legal
                # — ADVICE r14), so blocks <= 8 * remaining
                # scan bytes bounds the allocation by the
                # data — the ADVICE r13 GIF lesson
                if ss != 0 or ah != 0:
                    return None
                if x * y > _JPEG_MAX_PIXELS:
                    return None
                if n_units * blocks_in_unit \
                        > 8 * max(n - p, 0):
                    return None
                coefs = [np.zeros((mw * (c[1] >> 4)
                                   * mh * (c[1] & 15), 64),
                                  dtype=np.int64)
                         for c in comps]
            p = _kernel_decode_scan(data, p, dri, n_units, mw, scomps,
                            ss, se, ah, al, coefs)
            if p is None:
                return None
            if not prog:
                break          # baseline: one full-band scan
                # IS the image (EOI optional); progressive
                # needs the EOI to know the script ended
    if sof is None or coefs is None:
        return None
    x, y, comps = sof
    nf = len(comps)
    hmax = max(c[1] >> 4 for c in comps)
    vmax = max(c[1] & 15 for c in comps)
    mw = (x + 8 * hmax - 1) // (8 * hmax)
    mh = (y + 8 * vmax - 1) // (8 * vmax)
    qtabs = []
    for _cid, _hv, tq in comps:
        if tq not in qts:
            return None
        qtabs.append(qts[tq])
    # per component: dequant in zigzag, scatter to natural,
    # IDCT all blocks in one exact int64 contraction, then
    # box-replication upsampling (np.repeat) for subsampled
    # components — the pinned convention
    planes = []
    for ci in range(nf):
        hi, vi = comps[ci][1] >> 4, comps[ci][1] & 15
        bw_c, bh_c = mw * hi, mh * vi
        n_blk = bw_c * bh_c
        deq = coefs[ci] * qtabs[ci][None, :]
        nat = np.zeros((n_blk, 8, 8), dtype=np.int64)
        nat.reshape(n_blk, 64)[:, zz_nat] = deq
        out = np.tensordot(nat, basis, axes=([1, 2], [0, 1]))
        pix = np.clip(((out + (1 << 19)) >> 20) + 128, 0, 255)
        img = np.zeros((bh_c * 8, bw_c * 8), dtype=np.int64)
        for bi in range(n_blk):
            by, bx = divmod(bi, bw_c)
            img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix[bi]
        if vi != vmax:
            img = np.repeat(img, vmax // vi, axis=0)
        if hi != hmax:
            img = np.repeat(img, hmax // hi, axis=1)
        planes.append(img[:y, :x])
    n_px = x * y
    mean_y = int(planes[0].sum()) / n_px
    if nf == 1:
        return (x, y, n_px, mean_y, None, None, None)
    lum, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
    r = np.clip(lum + ((_CR_R * cr + 32768) >> 16), 0, 255)
    g = np.clip(lum - ((_CB_G * cb + _CR_G * cr + 32768) >> 16),
                0, 255)
    b = np.clip(lum + ((_CB_B * cb + 32768) >> 16), 0, 255)
    return (x, y, n_px, mean_y, int(r.sum()) / n_px,
            int(g.sum()) / n_px, int(b.sum()) / n_px)


def decode_jpeg_stats(media: DataFrame) -> DataFrame:
    """Per-object baseline-JPEG decode over a (media_id, content)
    frame: the ``_jpeg`` Arrow pass over :func:`_jpeg_blob_stats`
    (operators/multimodal.py:BLOB_STATS), unreadable objects surfaced
    as NULL stats."""
    from .multimodal import decode_blob_stats
    return decode_blob_stats(media, "jpeg")
