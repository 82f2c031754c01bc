"""Deterministic synthetic data (FIXTURES.md) — no external data, no faker.

``make_pages`` synthesizes the BASELINE.json ``input_hint`` table
``pages(url, warc_ts, html, text, lang)`` at any scale, distributed: the
generator is a pure function of the row index ``i``, applied with
``mapInPandas`` over ``spark.range(n)``, so any partitioning yields the
same table and the build parallelizes across executors (the property that
lets the same code synthesize 10^12 rows on a cluster).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "VOCAB",
    "page_row",
    "make_pages",
    "make_pages_local",
    "make_warc_bytes",
    "make_png_bytes",
    "make_jpeg_bytes",
    "make_gif_bytes",
    "make_bmp_bytes",
    "make_wav_bytes",
    "make_mp4_bytes",
    "make_patterned_png_bytes",
    "make_patterned_gif_bytes",
    "make_patterned_jpeg_bytes",
    "make_jpeg_from_quantized",
    "pixel_payload_row",
    "make_pixel_payloads",
    "image_payload_row",
    "make_image_payloads",
    "audio_payload_row",
    "make_audio_payloads",
    "video_payload_row",
    "make_video_payloads",
    "make_mp4_movie_bytes",
    "make_movie_payloads",
]

_ACCENTED = ["müller", "björk", "façade", "jürgen", "zoë", "garçon", "über", "señor"]


def _build_vocab() -> list[str]:
    """Fixed 512-word vocabulary: deterministic ASCII word salad plus a few
    accented words to exercise normalize() (FIXTURES.md F1)."""
    rng = random.Random(512)
    consonants = "bcdfghjklmnpqrstvwz"
    vowels = "aeiou"
    words: list[str] = list(_ACCENTED)
    seen = set(words)
    while len(words) < 512:
        n_syll = rng.randint(1, 4)
        word = "".join(
            rng.choice(consonants) + rng.choice(vowels) for _ in range(n_syll)
        )
        if word not in seen:
            seen.add(word)
            words.append(word)
    return words


VOCAB = _build_vocab()

_LANGS = ["en", "de", "fr", "es", "pt", "it", "nl", "sv"]
_EPOCH = datetime(2024, 1, 1)


def _text_for(i: int) -> str:
    rng = random.Random(727 + i)
    n_words = rng.randint(5, 50)
    return " ".join(rng.choice(VOCAB) for _ in range(n_words))


def page_row(i: int) -> dict:
    """Row ``i`` of the pages table — pure function of ``i`` (seed 727)."""
    if i % 101 == 0 and i > 0:
        # near-duplicate: previous row's text with one word swapped
        words = _text_for(i - 1).split(" ")
        words[len(words) // 2] = VOCAB[i % len(VOCAB)]
        text = " ".join(words)
    else:
        text = _text_for(i)
    lang = "en" if i % 5 < 3 else _LANGS[i % 8]
    # deterministic outlink footer: 3 anchors per page over the same 997
    # sites (a connected, hub-skewed host graph for link-analysis ops).
    # The anchors are EMPTY so both text extractors still reproduce
    # `text` byte-for-byte (tags are soft separators that collapse).
    links = "".join(
        f'<a href="https://site-{(i * 7 + 13 * k + 1) % 997:03d}.example/'
        f'{i:012d}-{k}"></a>'
        for k in range(3)
    )
    return {
        "url": f"https://site-{i % 997:03d}.example/{i:012d}",
        "warc_ts": _EPOCH + timedelta(seconds=37 * i),
        "html": f"<html><body>{text}{links}</body></html>".encode(),
        "text": text,
        "lang": lang,
    }


_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def make_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed synthesis of ``n`` pages."""
    base = spark.range(0, n, numPartitions=partitions)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([page_row(int(i)) for i in pdf["id"]])

    return base.mapInPandas(_gen, schema=_SCHEMA)


def make_pages_local(n: int) -> list[dict]:
    return [page_row(i) for i in range(n)]


# --------------------------------------------------------- image payloads
#
# Structurally valid PNG / JPEG byte streams for exercising the REAL
# multimodal decoder (spark/multimodal.py) without PIL in the container:
# the PNG is a complete, spec-conformant file (signature, IHDR, zlib IDAT,
# CRCs, IEND); the JPEG carries SOI → APP0/JFIF → SOF0 → EOI, which is the
# full header stream the dimension parser consumes (no entropy-coded scan,
# so it is not renderable — documented fixture limitation).

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def make_png_bytes(width: int, height: int, color_type: int = 2) -> bytes:
    """Minimal complete PNG (8-bit, no interlace) filled with zero pixels."""
    import struct
    import zlib

    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    row = b"\x00" + bytes(width * _PNG_CHANNELS[color_type])  # filter 0 + pixels
    idat = zlib.compress(row * height)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def make_jpeg_bytes(
    width: int, height: int, n_components: int = 3, progressive: bool = False
) -> bytes:
    """JPEG header stream: SOI → APP0(JFIF) → SOF0 (or SOF2) → EOI."""
    import struct

    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    )
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    comps = b"".join(
        struct.pack("BBB", c + 1, 0x22 if c == 0 else 0x11, 0)
        for c in range(n_components)
    )
    sof = sof_marker + struct.pack(
        ">HBHHB", 8 + 3 * n_components, 8, height, width, n_components
    ) + comps
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def make_gif_bytes(width: int, height: int) -> bytes:
    """Minimal complete GIF89a: logical screen descriptor + 2-entry global
    palette + a single full-size image block (LZW minimum stub) + trailer."""
    import struct

    screen = struct.pack("<HHBBB", width, height, 0x80, 0, 0)  # 2-color GCT
    palette = b"\x00\x00\x00\xff\xff\xff"
    image = b"," + struct.pack("<HHHHB", 0, 0, width, height, 0)
    # LZW min code size 2, one sub-block holding clear+EOI codes, terminator
    data = b"\x02\x02\x44\x01\x00"
    return b"GIF89a" + screen + palette + image + data + b";"


def make_bmp_bytes(width: int, height: int, bpp: int = 24) -> bytes:
    """Minimal complete BMP (BITMAPINFOHEADER, bottom-up, zero pixels)."""
    import struct

    row_bytes = (width * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
    pixels = b"\x00" * (row_bytes * height)
    palette = b"" if bpp == 24 else b"\x00" * (4 * 256)  # 8-bpp needs a palette
    offset = 14 + 40 + len(palette)
    header = b"BM" + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0,
                      len(pixels), 2835, 2835, 0, 0)
    return header + dib + palette + pixels


def make_wav_bytes(
    sample_rate: int, n_channels: int, bits_per_sample: int, n_frames: int
) -> bytes:
    """Complete PCM WAV (RIFF/fmt /data) with zero samples."""
    import struct

    block_align = n_channels * bits_per_sample // 8
    data = b"\x00" * (block_align * n_frames)
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * block_align, block_align, bits_per_sample,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_patterned_png_bytes(
    width: int, height: int, doc_id: int, interlaced: bool = False
) -> bytes:
    """Complete 8-bit grayscale PNG whose pixel (r, c) equals
    ``(doc_id + 7·r + 3·c) % 251`` — SQL-reproducible raster ground truth.
    Odd scanlines are encoded with the Sub filter (type 1), even ones
    with None (type 0), so decoding must actually undo filters to
    recover the pattern.  ``interlaced=True`` emits the seven Adam7
    sub-images (each filtered independently, per spec) with IHDR
    interlace method 1."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def encode_rows(rows_px: list) -> bytearray:
        buf = bytearray()
        for k, row in enumerate(rows_px):
            if k % 2 == 1:
                buf.append(1)  # Sub
                prev = 0
                for v in row:
                    buf.append((v - prev) & 0xFF)
                    prev = v
            else:
                buf.append(0)  # None
                buf.extend(row)
        return buf

    def px(r, c):
        return (doc_id + 7 * r + 3 * c) % 251

    raw = bytearray()
    if interlaced:
        passes = (
            (0, 8, 0, 8), (0, 8, 4, 8), (4, 8, 0, 4), (0, 4, 2, 4),
            (2, 4, 0, 2), (0, 2, 1, 2), (1, 2, 0, 1),
        )
        for rs, rstep, cs, cstep in passes:
            rows_px = [
                [px(r, c) for c in range(cs, width, cstep)]
                for r in range(rs, height, rstep)
            ]
            rows_px = [row for row in rows_px if row]
            raw += encode_rows(rows_px)
    else:
        raw = encode_rows(
            [[px(r, c) for c in range(width)] for r in range(height)]
        )
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 0, 0, 0, 1 if interlaced else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _gif_lzw_encode(data: bytes, min_code_size: int = 8) -> bytes:
    """REAL GIF LZW compression (giflib width conventions): clear/EOI
    codes, dynamic string table to 12 bits, table-full → clear + reset.
    The fixture uses a genuine encoder so the engine's decoder has to
    implement actual LZW, not a stub-stream special case."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    # root codes 0..255 ARE the byte values; the dict holds only the
    # dynamically-added (prefix_code, byte) → code strings
    tbl: dict = {}
    next_code = eoi + 1
    width = min_code_size + 1
    out_bits.append((clear, width))
    prefix: int | None = None
    for byte in data:
        if prefix is None:
            prefix = byte
            continue
        key = (prefix, byte)
        if key in tbl:
            prefix = tbl[key]
            continue
        out_bits.append((prefix, width))
        if next_code < 4096:
            tbl[key] = next_code
            next_code += 1
            # LATE width change to match real-world GIF encoders (widen
            # only once a code that cannot fit in the current width has
            # been assigned; the decoder's table trails by one entry, so
            # its mirror rule is len(tbl) == 2^width).
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
            prefix = byte
        else:
            out_bits.append((clear, width))
            tbl = {}
            next_code = eoi + 1
            width = min_code_size + 1
            prefix = byte
    if prefix is not None:
        out_bits.append((prefix, width))
    out_bits.append((eoi, width))
    # LSB-first bit packing, then ≤255-byte sub-blocks
    acc = n = 0
    stream = bytearray()
    for code, w in out_bits:
        acc |= code << n
        n += w
        while n >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        stream.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(stream), 255):
        sub = stream[i : i + 255]
        blocks.append(len(sub))
        blocks += sub
    blocks.append(0)
    return bytes(blocks)


def make_patterned_gif_bytes(
    width: int,
    height: int,
    doc_id: int,
    interlaced: bool = False,
    local_palette: bool = False,
) -> bytes:
    """Complete GIF89a whose pixel (r, c) equals
    ``(doc_id + 7·r + 3·c) % 251`` — the SAME raster ground truth as the
    patterned PNG, behind a 256-entry grayscale palette (index i → gray
    i) and a real LZW-compressed image block.  ``interlaced=True`` emits
    the rows in GIF89a appendix-E four-pass order with the descriptor
    flag set, so the decoder's de-interlace path has exact ground
    truth.  ``local_palette=True`` omits the global color table and
    carries the palette as a LOCAL color table on the image descriptor
    (GIF89a §20) — plus a decoy: when both tables would be plausible the
    fixture has NO global table at all, so a decoder that only reads the
    GCT fails loudly rather than silently."""
    import struct

    rows = range(height)
    if interlaced:
        rows = [
            r
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(start, height, step)
        ]
    indices = bytes(
        (doc_id + 7 * r + 3 * c) % 251 for r in rows for c in range(width)
    )
    palette = bytes(v for i in range(256) for v in (i, i, i))
    iflags = (0x40 if interlaced else 0) | (0x87 if local_palette else 0)
    image = b"," + struct.pack("<HHHHB", 0, 0, width, height, iflags)
    if local_palette:
        screen = struct.pack("<HHBBB", width, height, 0x00, 0, 0)  # no GCT
        image += palette
    else:
        screen = (
            struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # 256-color GCT
            + palette
        )
    data = bytes([8]) + _gif_lzw_encode(indices, 8)
    return b"GIF89a" + screen + image + data + b";"


# ---------------------------------------------------------------- JPEG fixture
#
# A REAL baseline-JPEG encoder (grayscale, 8-bit): forward DCT →
# quantize → zigzag → Huffman entropy coding with byte stuffing.  The
# Huffman tables are simple canonical codes (12 DC symbols at 4 bits,
# all 162 AC symbols at 8 bits) declared in the DHT segment — spec-
# conformant, and the decoder must build its tables from DHT exactly as
# for any real-world file.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_JPEG_DC_SYMBOLS = list(range(12))  # categories 0..11, all 4-bit codes
_JPEG_AC_SYMBOLS = (
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [r << 4 for r in range(1, 15)]
)  # EOB0, ZRL, every (run, size), and EOBn run symbols — all 8-bit codes
#   (EOBn r<<4, r=1..14 code EOB runs of 2^r..2^(r+1)-1 across blocks in
#    progressive AC scans — T.81 §G.1.2.2; 176 codes fit 8 bits)


def _jpeg_canonical(symbols: list, length: int) -> dict:
    return {sym: (i, length) for i, sym in enumerate(symbols)}


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.put(1, 1)  # pad with 1-bits
        return bytes(self.out)


def _jpeg_category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _jpeg_encode_blocks(blocks, writer: _JpegBitWriter, counts: tuple = (1,)):
    """Entropy-code a sequence of 64-int quantized-coefficient blocks
    (natural order) with the fixture's canonical tables.  ``counts``
    gives each component's blocks-per-MCU (h_i·v_i); the block stream is
    MCU-interleaved in that layout (e.g. 4:2:0 = (4, 1, 1): Y Y Y Y Cb
    Cr per MCU) and DC prediction runs per component."""
    dc_tbl = _jpeg_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tbl = _jpeg_canonical(_JPEG_AC_SYMBOLS, 8)
    preds = [0] * len(counts)
    cycle = [ci for ci, n in enumerate(counts) for _ in range(n)]
    for bi, blk in enumerate(blocks):
        ci = cycle[bi % len(cycle)]
        diff = blk[0] - preds[ci]
        preds[ci] = blk[0]
        t = _jpeg_category(diff)
        code, ln = dc_tbl[t]
        writer.put(code, ln)
        if t:
            writer.put(diff if diff > 0 else diff + (1 << t) - 1, t)
        zz = [blk[_ZIGZAG[k]] for k in range(64)]
        run = 0
        last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
        for k in range(1, last_nz + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = ac_tbl[0xF0]
                writer.put(code, ln)
                run -= 16
            s = _jpeg_category(zz[k])
            code, ln = ac_tbl[(run << 4) | s]
            writer.put(code, ln)
            writer.put(zz[k] if zz[k] > 0 else zz[k] + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = ac_tbl[0x00]
            writer.put(code, ln)  # EOB


def make_jpeg_from_quantized(
    width: int, height: int, blocks, n_components: int = 1,
    sampling: "tuple | None" = None, scan_order: "tuple | None" = None,
) -> bytes:
    """Assemble a complete baseline JPEG from quantized DCT coefficient
    blocks (MCU-interleaved, 64 ints each, natural order), quant table
    all-ones.  ``sampling`` is a per-component (h_i, v_i) tuple —
    ``((2, 2), (1, 1), (1, 1))`` is 4:2:0 (blocks per MCU: 4 Y, 1 Cb,
    1 Cr); default all-(1, 1) = 4:4:4.  ``scan_order`` permutes the SOS
    component list (frame-component indices, default identity) — the
    entropy stream interleaves in SCAN order, so ``blocks`` must be
    supplied in that order too; spec-legal and used to pin the decoder's
    selector-resolution behavior (ADVICE r4)."""
    import struct

    if sampling is None:
        sampling = tuple((1, 1) for _ in range(n_components))
    n_components = len(sampling)
    if scan_order is None:
        scan_order = tuple(range(n_components))

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0]) + bytes([1] * 64))
    comp_spec = b"".join(
        bytes([c + 1, (hi << 4) | vi, 0])
        for c, (hi, vi) in enumerate(sampling)
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, n_components) + comp_spec,
    )
    dc_counts = [0] * 16
    dc_counts[3] = len(_JPEG_DC_SYMBOLS)  # all 4-bit (index 3 = length 4)
    ac_counts = [0] * 16
    ac_counts[7] = len(_JPEG_AC_SYMBOLS)  # all 8-bit
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(_JPEG_DC_SYMBOLS)
        + bytes([0x10]) + bytes(ac_counts) + bytes(_JPEG_AC_SYMBOLS),
    )
    scan_spec = b"".join(bytes([c + 1, 0x00]) for c in scan_order)
    sos = seg(0xFFDA, bytes([n_components]) + scan_spec + bytes([0, 63, 0]))
    w = _JpegBitWriter()
    _jpeg_encode_blocks(
        blocks, w, tuple(sampling[c][0] * sampling[c][1] for c in scan_order)
    )
    return b"\xff\xd8" + dqt + sof + dht + sos + w.flush() + b"\xff\xd9"


class _JpegEobState:
    """Cross-block EOB-run accumulator for progressive AC scans: the run
    count plus the correction bits buffered with it (refinement scans
    append each finished block's pending bits here — T.81 §G.1.2.3,
    mirrors libjpeg's EOBRUN/BE bookkeeping)."""

    def __init__(self, writer: _JpegBitWriter, ac_tbl: dict):
        self.writer = writer
        self.ac_tbl = ac_tbl
        self.run = 0
        self.bits: list = []

    def flush(self):
        if self.run > 0:
            nb = self.run.bit_length() - 1
            code, ln = self.ac_tbl[nb << 4]
            self.writer.put(code, ln)
            if nb:
                self.writer.put(self.run & ((1 << nb) - 1), nb)
            self.run = 0
        for b in self.bits:
            self.writer.put(b, 1)
        self.bits = []


def _jpeg_encode_ac_first(writer, ac_tbl, eob, band_vals):
    """One block of a progressive AC FIRST scan (T.81 §G.1.2.2):
    ``band_vals`` are the point-transformed (sign-magnitude >> Al) band
    coefficients in scan order.  Zero bands join the cross-block EOB
    run; nonzero coefficients flush it and emit run/size + value."""
    if not any(band_vals):
        eob.run += 1
        if eob.run == 0x7FFF:
            eob.flush()
        return
    r = 0
    for v in band_vals:
        if v == 0:
            r += 1
            continue
        eob.flush()
        while r > 15:
            code, ln = ac_tbl[0xF0]
            writer.put(code, ln)
            r -= 16
        s = _jpeg_category(v)
        code, ln = ac_tbl[(r << 4) | s]
        writer.put(code, ln)
        writer.put(v if v > 0 else v + (1 << s) - 1, s)
        r = 0
    if r > 0:
        eob.run += 1
        if eob.run == 0x7FFF:
            eob.flush()


def _jpeg_encode_ac_refine(writer, ac_tbl, eob, band_vals, al):
    """One block of a progressive AC REFINEMENT scan (T.81 §G.1.2.3):
    already-nonzero coefficients contribute one buffered correction bit;
    newly-nonzero ones (magnitude exactly 1 at this precision) emit
    run/1 + sign, releasing the buffered bits; a block with nothing left
    to emit joins the EOB run carrying its buffered bits along."""
    absv = [abs(v) >> al for v in band_vals]
    last_new = max((k for k, t in enumerate(absv) if t == 1), default=-1)
    r = 0
    br: list = []
    for k, v in enumerate(band_vals):
        temp = absv[k]
        if temp == 0:
            r += 1
            continue
        while r > 15 and k <= last_new:
            eob.flush()
            code, ln = ac_tbl[0xF0]
            writer.put(code, ln)
            r -= 16
            for b in br:
                writer.put(b, 1)
            br = []
        if temp > 1:
            br.append(temp & 1)
            continue
        eob.flush()
        code, ln = ac_tbl[(r << 4) | 1]
        writer.put(code, ln)
        writer.put(1 if v > 0 else 0, 1)
        for b in br:
            writer.put(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        eob.run += 1
        eob.bits.extend(br)
        if eob.run == 0x7FFF:
            eob.flush()


def make_progressive_jpeg_from_quantized(
    width: int, height: int, blocks, sampling: "tuple | None" = None,
    scans: "list | None" = None, restart_interval: int = 0,
) -> bytes:
    """Assemble a complete PROGRESSIVE (SOF2) JPEG from the SAME
    MCU-interleaved quantized-coefficient ``blocks`` that
    :func:`make_jpeg_from_quantized` takes — the two containers carry
    identical coefficients, so a conformant decoder must produce
    bit-identical pixels for both.  The default scan script exercises
    every progressive mechanism: interleaved DC first at Al=1 + DC
    refinement, per-component spectral-selection AC bands (1-5, 6-63)
    first-coded at Al=2 then refined twice (Al 2→1→0) — successive
    approximation, EOB runs, ZRL-in-refinement, correction bits.
    ``scans`` overrides it with (comp_indices, Ss, Se, Ah, Al) tuples.
    DC uses arithmetic >>, AC sign-magnitude >>, matching T.81's point
    transforms."""
    import struct

    if sampling is None:
        sampling = ((1, 1),)
    ncomp = len(sampling)
    h_max = max(s[0] for s in sampling)
    v_max = max(s[1] for s in sampling)
    mcus_x = (width + 8 * h_max - 1) // (8 * h_max)
    mcus_y = (height + 8 * v_max - 1) // (8 * v_max)
    # de-interleave the flat MCU-ordered block list into per-component
    # MCU-aligned grids (same layout the decoder accumulates into)
    grids = [
        [[None] * (mcus_x * hi) for _ in range(mcus_y * vi)]
        for hi, vi in sampling
    ]
    bi = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (hi, vi) in enumerate(sampling):
                for byi in range(vi):
                    for bxi in range(hi):
                        grids[ci][my * vi + byi][mx * hi + bxi] = blocks[bi]
                        bi += 1
    if bi != len(blocks):
        raise ValueError("block count does not match MCU geometry")
    for ci, (hi, vi) in enumerate(sampling):
        for row in grids[ci]:
            for j, blk in enumerate(row):
                if blk is None:
                    row[j] = [0] * 64
    if scans is None:
        allc = tuple(range(ncomp))
        scans = [(allc, 0, 0, 0, 1)]
        for c in range(ncomp):
            scans += [((c,), 1, 5, 0, 2), ((c,), 6, 63, 0, 2)]
        scans.append((allc, 0, 0, 1, 0))
        for ah, al in ((2, 1), (1, 0)):
            for c in range(ncomp):
                scans += [((c,), 1, 5, ah, al), ((c,), 6, 63, ah, al)]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0]) + bytes([1] * 64))
    comp_spec = b"".join(
        bytes([c + 1, (hi << 4) | vi, 0])
        for c, (hi, vi) in enumerate(sampling)
    )
    sof = seg(
        0xFFC2,
        struct.pack(">BHHB", 8, height, width, ncomp) + comp_spec,
    )
    dc_counts = [0] * 16
    dc_counts[3] = len(_JPEG_DC_SYMBOLS)
    ac_counts = [0] * 16
    ac_counts[7] = len(_JPEG_AC_SYMBOLS)
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(_JPEG_DC_SYMBOLS)
        + bytes([0x10]) + bytes(ac_counts) + bytes(_JPEG_AC_SYMBOLS),
    )
    dri = seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    dc_tbl = _jpeg_canonical(_JPEG_DC_SYMBOLS, 4)
    ac_tbl = _jpeg_canonical(_JPEG_AC_SYMBOLS, 8)
    out = bytearray(b"\xff\xd8" + dqt + sof + dht + dri)
    for comp_idx, ss, se, ah, al in scans:
        scan_spec = b"".join(bytes([c + 1, 0x00]) for c in comp_idx)
        out += seg(
            0xFFDA,
            bytes([len(comp_idx)]) + scan_spec + bytes([ss, se, (ah << 4) | al]),
        )
        writer = _JpegBitWriter()
        eob = _JpegEobState(writer, ac_tbl)
        preds = {c: 0 for c in comp_idx}
        rst = 0  # restart marker modulo counter

        def emit_restart():
            nonlocal rst
            eob.flush()
            while writer.n:  # byte-align with 1-bit padding
                writer.put(1, 1)
            writer.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            for c in preds:
                preds[c] = 0

        def emit_block(ci, blk):
            if ss == 0:
                v = blk[0] >> al  # arithmetic shift (two's complement)
                if ah == 0:
                    diff = v - preds[ci]
                    preds[ci] = v
                    t = _jpeg_category(diff)
                    code, ln = dc_tbl[t]
                    writer.put(code, ln)
                    if t:
                        writer.put(diff if diff > 0 else diff + (1 << t) - 1, t)
                else:
                    writer.put(v & 1, 1)
            if se >= 1:
                lo = max(ss, 1)
                zz = [blk[_ZIGZAG[k]] for k in range(lo, se + 1)]
                if ah == 0:
                    t = [
                        (abs(v) >> al) * (1 if v >= 0 else -1) for v in zz
                    ]
                    _jpeg_encode_ac_first(writer, ac_tbl, eob, t)
                else:
                    _jpeg_encode_ac_refine(writer, ac_tbl, eob, zz, al)

        if len(comp_idx) == 1:
            ci = comp_idx[0]
            hi, vi = sampling[ci]
            bx_n = (-(-width * hi // h_max) + 7) // 8
            by_n = (-(-height * vi // v_max) + 7) // 8
            unit = 0
            for by in range(by_n):
                for bx in range(bx_n):
                    if restart_interval and unit and unit % restart_interval == 0:
                        emit_restart()
                    unit += 1
                    emit_block(ci, grids[ci][by][bx])
        else:
            mcu = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and mcu and mcu % restart_interval == 0:
                        emit_restart()
                    mcu += 1
                    for ci in comp_idx:
                        hi, vi = sampling[ci]
                        for byi in range(vi):
                            for bxi in range(hi):
                                emit_block(
                                    ci, grids[ci][my * vi + byi][mx * hi + bxi]
                                )
        eob.flush()
        out += writer.flush()
    return bytes(out) + b"\xff\xd9"


def make_patterned_jpeg_bytes(width: int, height: int, doc_id: int) -> bytes:
    """Complete grayscale baseline JPEG whose pixels are EXACTLY
    ``(doc_id + 7·(r//8) + 3·(c//8)) % 251`` — 8×8-constant blocks carry
    only a DC coefficient (DC = 8·(v−128), AC = 0), which survives
    quantize(1)→IDCT bit-exactly, so a lossy codec still yields SQL-
    reproducible raster ground truth.  ``width``/``height`` must be
    multiples of 8 (no partial-block edge semantics)."""
    if width % 8 or height % 8:
        raise ValueError("patterned JPEG dims must be multiples of 8")
    blocks = []
    for bR in range(height // 8):
        for bC in range(width // 8):
            v = (doc_id + 7 * bR + 3 * bC) % 251
            blk = [0] * 64
            blk[0] = 8 * (v - 128)
            blocks.append(blk)
    return make_jpeg_from_quantized(width, height, blocks)


def make_patterned_progressive_jpeg_bytes(
    width: int, height: int, doc_id: int
) -> bytes:
    """The :func:`make_patterned_jpeg_bytes` raster (8×8-constant blocks,
    DC-only coefficients) in a PROGRESSIVE (SOF2) container — same
    quantized coefficients, multi-scan encoding, so pixel output must be
    bit-identical to the baseline file AND to the arithmetic pattern."""
    if width % 8 or height % 8:
        raise ValueError("patterned JPEG dims must be multiples of 8")
    blocks = []
    for bR in range(height // 8):
        for bC in range(width // 8):
            v = (doc_id + 7 * bR + 3 * bC) % 251
            blk = [0] * 64
            blk[0] = 8 * (v - 128)
            blocks.append(blk)
    return make_progressive_jpeg_from_quantized(width, height, blocks)


def pixel_payload_row(doc_id: int, formats: tuple = ("png",)) -> dict:
    """Patterned raster payload for ``doc_id``; ``formats`` cycles by
    ``doc_id % len(formats)`` so a mixed feed alternates deterministically.
    PNG/GIF share one dims arithmetic; JPEG needs multiple-of-8 dims (its
    pattern is per-8×8-block — lossy-codec-exact, see
    make_patterned_jpeg_bytes), so its dims arithmetic differs and the
    oracle branches on format."""
    fmt = formats[doc_id % len(formats)]
    if fmt == "jpeg":
        w, h = 8 * (2 + doc_id % 5), 8 * (2 + (doc_id * 3) % 4)
        payload = make_patterned_jpeg_bytes(w, h, doc_id)
    else:
        w, h = 16 + doc_id % 17, 16 + (doc_id * 3) % 13
        if fmt == "png":
            payload = make_patterned_png_bytes(w, h, doc_id)
        elif fmt == "gif":
            payload = make_patterned_gif_bytes(w, h, doc_id)
        else:
            raise ValueError(f"unsupported patterned format {fmt!r}")
    return {"doc_id": doc_id, "payload": payload}


def make_pixel_payloads(
    df: DataFrame, id_col: str = "doc_id", formats: tuple = ("png",)
) -> DataFrame:
    """(id) → (doc_id, payload BINARY) patterned-raster feed, distributed.
    ``formats=("png", "gif")`` alternates real PNG and real GIF payloads
    by id parity."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                [pixel_payload_row(int(i), formats) for i in pdf[id_col]]
            )

    return df.select(id_col).mapInPandas(_gen, schema="doc_id long, payload binary")


def make_mp4_bytes(
    width: int, height: int, timescale: int, duration_units: int,
    version: int = 0,
) -> bytes:
    """Minimal complete MP4 header tree: ftyp + moov(mvhd + trak(tkhd)).
    ``version=1`` emits 64-bit mvhd/tkhd time fields (both versions are
    in the wild; the parser must handle the width difference)."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + typ + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    if version == 1:
        mvhd_body = (b"\x01\x00\x00\x00" + b"\x00" * 16
                     + struct.pack(">I", timescale)
                     + struct.pack(">Q", duration_units)
                     + b"\x00" * 80)
        tkhd_fixed = b"\x01\x00\x00\x07" + b"\x00" * 32
    else:
        mvhd_body = (b"\x00\x00\x00\x00" + b"\x00" * 8
                     + struct.pack(">I", timescale)
                     + struct.pack(">I", duration_units)
                     + b"\x00" * 80)
        tkhd_fixed = b"\x00\x00\x00\x07" + b"\x00" * 20
    identity = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    tkhd_body = (tkhd_fixed + b"\x00" * 8  # reserved
                 + b"\x00" * 2 + b"\x00" * 2 + b"\x00" * 2 + b"\x00" * 2
                 + identity
                 + struct.pack(">II", width << 16, height << 16))
    moov = box(b"moov", box(b"mvhd", mvhd_body) + box(b"trak", box(b"tkhd", tkhd_body)))
    return ftyp + moov


def video_payload_row(doc_id: int) -> dict:
    """Deterministic MP4 payload — metadata is id arithmetic, alternating
    mvhd/tkhd version 0 and 1 boxes."""
    return {
        "doc_id": doc_id,
        "payload": make_mp4_bytes(
            width=160 + doc_id % 480,
            height=90 + (doc_id * 3) % 270,
            timescale=600 + (doc_id % 5) * 600,
            duration_units=1200 + doc_id % 9000,
            version=doc_id % 2,
        ),
    }


def make_video_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) → (doc_id, payload BINARY) MP4 fixture feed, distributed."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame([video_payload_row(int(i)) for i in pdf[id_col]])

    return df.select(id_col).mapInPandas(_gen, schema="doc_id long, payload binary")


def make_mp4_movie_bytes(
    doc_id: int,
    n_samples: int,
    sync_every: int,
    uniform_size: int = 0,
    co64: bool = False,
    with_stss: bool = True,
) -> bytes:
    """Complete fragmentless MP4 *movie*: ftyp + moov carrying TWO traks
    — a decoy ``soun`` trak (whose sample tables must be skipped) and the
    ``vide`` trak with real stss/stsz/stsc/stco(co64) tables — plus an
    ``mdat`` whose sample bytes live at the exact offsets the tables
    declare.  Frame ``i``'s content is the ASCII string
    ``frame-{doc_id}-{i}`` (variable length unless ``uniform_size``), so
    a SQL oracle can recompute every keyframe hash from id arithmetic.

    Chunk layout is intentionally non-trivial: samples pack greedily as
    [3, 3, 2, 2, ...] (remainder in the last chunk), compressed into
    multi-run stsc entries, and each chunk is preceded by
    ``(doc_id + chunk_idx) % 3`` junk bytes so offsets are only
    recoverable through stco — never by cumulative sizes alone.
    Sync samples (1-based) are 1, 1+sync_every, 1+2·sync_every, …
    """
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + typ + body

    def frame(i: int) -> bytes:
        raw = f"frame-{doc_id}-{i}".encode()
        if uniform_size:
            raw = (raw + b"." * uniform_size)[:uniform_size]
        return raw

    frames = [frame(i) for i in range(n_samples)]
    sizes = [len(f) for f in frames]

    # greedy chunking: 3, 3, 2, 2, ... with the remainder in the last chunk
    chunk_sizes: list[int] = []
    left = n_samples
    for want in (3, 3):
        if left <= 0:
            break
        take = min(want, left)
        chunk_sizes.append(take)
        left -= take
    while left > 0:
        take = min(2, left)
        chunk_sizes.append(take)
        left -= take
    # compress chunk sizes into stsc runs (first_chunk, samples_per_chunk)
    runs: list[tuple[int, int]] = []
    for ci, cs in enumerate(chunk_sizes, start=1):
        if not runs or runs[-1][1] != cs:
            runs.append((ci, cs))

    def hdlr(handler: bytes) -> bytes:
        return box(b"hdlr", b"\x00" * 4 + b"\x00" * 4 + handler + b"\x00" * 12)

    def stbl(chunk_offsets: list[int], video: bool) -> bytes:
        if not video:
            # decoy soun tables: 1 chunk, 1 sample, bogus offset — a
            # parser that grabs the first stbl it sees returns garbage
            return box(b"stbl",
                       box(b"stsz", b"\x00" * 4 + struct.pack(">II", 99, 1))
                       + box(b"stsc", b"\x00" * 4 + struct.pack(">IIII", 1, 1, 1, 1))
                       + box(b"stco", b"\x00" * 4 + struct.pack(">II", 1, 8)))
        stsz = box(b"stsz", b"\x00" * 4
                   + struct.pack(">II", uniform_size, n_samples)
                   + (b"" if uniform_size else
                      b"".join(struct.pack(">I", s) for s in sizes)))
        stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">I", len(runs))
                   + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in runs))
        if co64:
            stco = box(b"co64", b"\x00" * 4 + struct.pack(">I", len(chunk_offsets))
                       + b"".join(struct.pack(">Q", o) for o in chunk_offsets))
        else:
            stco = box(b"stco", b"\x00" * 4 + struct.pack(">I", len(chunk_offsets))
                       + b"".join(struct.pack(">I", o) for o in chunk_offsets))
        body = stsz + stsc + stco
        if with_stss:
            syncs = list(range(1, n_samples + 1, sync_every))
            body += box(b"stss", b"\x00" * 4 + struct.pack(">I", len(syncs))
                        + b"".join(struct.pack(">I", s) for s in syncs))
        return box(b"stbl", body)

    def moov(chunk_offsets: list[int]) -> bytes:
        mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 600, 1200) + b"\x00" * 80)
        soun_trak = box(b"trak", box(b"mdia", hdlr(b"soun")
                                     + box(b"minf", stbl([], video=False))))
        vide_trak = box(b"trak", box(b"mdia", hdlr(b"vide")
                                     + box(b"minf", stbl(chunk_offsets, video=True))))
        return box(b"moov", mvhd + soun_trak + vide_trak)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    # two-pass layout: moov size is offset-independent (fixed 4/8-byte
    # fields), so measure with zeros, then fill the real offsets
    placeholder = moov([0] * len(chunk_sizes))
    mdat_body_start = len(ftyp) + len(placeholder) + 8

    def layout() -> tuple[list[int], bytes]:
        offsets, body, si = [], bytearray(), 0
        for ci, cs in enumerate(chunk_sizes):
            body += b"\xee" * ((doc_id + ci) % 3)  # junk between chunks
            offsets.append(mdat_body_start + len(body))
            for _ in range(cs):
                body += frames[si]
                si += 1
        return offsets, bytes(body)

    offsets, mdat_body = layout()
    final_moov = moov(offsets)
    assert len(final_moov) == len(placeholder)
    return ftyp + final_moov + box(b"mdat", mdat_body)


def make_movie_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) → (doc_id, payload BINARY) full-movie MP4 feed: per id,
    ``n_samples = 6 + id % 7`` frames, keyframes every ``2 + id % 3``
    samples — all SQL-reproducible id arithmetic."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                [
                    {
                        "doc_id": int(i),
                        "payload": make_mp4_movie_bytes(
                            int(i), 6 + int(i) % 7, 2 + int(i) % 3
                        ),
                    }
                    for i in pdf[id_col]
                ]
            )

    return df.select(id_col).mapInPandas(_gen, schema="doc_id long, payload binary")


def image_payload_row(doc_id: int) -> dict:
    """Deterministic mixed-format image payload for row ``doc_id``:
    id % 4 cycles PNG / JPEG / GIF / BMP; dimensions and channel counts
    are pure arithmetic of the id (SQL-reproducible ground truth for the
    decoder oracle).  Widths/heights reach 255 so both bytes of the
    multi-byte dimension fields are exercised, in both endiannesses."""
    width = 16 + doc_id % 240
    height = 16 + (doc_id * 7) % 240
    kind = doc_id % 4
    if kind == 0:
        color_type = 0 if doc_id % 8 == 0 else 2  # grayscale / truecolor
        payload = make_png_bytes(width, height, color_type=color_type)
    elif kind == 1:
        payload = make_jpeg_bytes(width, height,
                                  n_components=1 if doc_id % 8 == 1 else 3)
    elif kind == 2:
        payload = make_gif_bytes(width, height)
    else:
        payload = make_bmp_bytes(width, height, bpp=8 if doc_id % 8 == 3 else 24)
    return {"doc_id": doc_id, "payload": payload}


def make_image_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) → (doc_id, payload BINARY) via mapInPandas — the distributed
    fixture feed for the real decoder."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame([image_payload_row(int(i)) for i in pdf[id_col]])

    return df.select(id_col).mapInPandas(_gen, schema="doc_id long, payload binary")


def audio_payload_row(doc_id: int) -> dict:
    """Deterministic WAV payload for row ``doc_id`` — all metadata fields
    are pure arithmetic of the id (SQL-reproducible decoder ground truth)."""
    return {
        "doc_id": doc_id,
        "payload": make_wav_bytes(
            sample_rate=8000 + (doc_id % 8) * 4000,
            n_channels=1 + doc_id % 2,
            bits_per_sample=8 if doc_id % 4 < 2 else 16,
            n_frames=100 + doc_id % 900,
        ),
    }


def make_audio_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) → (doc_id, payload BINARY) WAV fixture feed, distributed."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame([audio_payload_row(int(i)) for i in pdf[id_col]])

    return df.select(id_col).mapInPandas(_gen, schema="doc_id long, payload binary")


def make_warc_bytes(rows: "list[dict]", gz: bool = False) -> bytes:
    """A spec-shaped WARC file from ``page_row`` dicts: a ``warcinfo``
    record, then per page a ``request`` record (readers must skip it)
    and a ``response`` record whose payload is a captured HTTP response
    wrapping the page's html.  ``gz=True`` emits one gzip member per
    record (the seekable ``.warc.gz`` layout of ISO 28500 annex D)."""
    import gzip as _gzip

    def record(typ: str, headers: "list[tuple[str, str]]", payload: bytes) -> bytes:
        head = [f"WARC/1.0", f"WARC-Type: {typ}"] + [
            f"{k}: {v}" for k, v in headers
        ] + [f"Content-Length: {len(payload)}"]
        raw = ("\r\n".join(head) + "\r\n\r\n").encode("latin-1")
        raw += payload + b"\r\n\r\n"
        return _gzip.compress(raw) if gz else raw

    out = [record("warcinfo",
                  [("WARC-Date", "2024-01-01T00:00:00Z")],
                  b"software: pprl-spark-fixture\r\n")]
    for r in rows:
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        out.append(record(
            "request",
            [("WARC-Target-URI", r["url"]), ("WARC-Date", ts)],
            f"GET {r['url']} HTTP/1.1\r\nHost: x\r\n\r\n".encode("latin-1"),
        ))
        body = r["html"]
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode("latin-1")
                + body)
        out.append(record(
            "response",
            [("WARC-Target-URI", r["url"]), ("WARC-Date", ts)],
            http,
        ))
    return b"".join(out)
