"""Multimodal column plumbing (north-star extension).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, and implements decode and feature-extract as
Arrow-batched ``mapInPandas`` operators.

The decode step is REAL for the two formats the standard library can
handle without codec packages:

- **PNG** (``decode_png``): chunk walk, IHDR parse, IDAT concat,
  ``zlib`` inflate, and per-scanline unfiltering of all five PNG
  filter types (None/Sub/Up/Average/Paeth) for 8-bit gray / RGB /
  gray+alpha / RGBA / palette-index streams.
- **WAV** (``decode_wav``): RIFF chunk walk (word-aligned), ``fmt ``
  parse, and ``struct`` unpack of 8/16-bit PCM samples from the
  ``data`` chunk.

Unknown formats fall back to a deterministic byte fingerprint
(``_fingerprint_payload`` — the former stub, kept as the honest
"can't decode, still hash-checkable" path); undecodable bytes that
CLAIM a known magic yield ``codec='error'`` rows with null features
instead of failing the job (corrupt media must never kill a 100 TB
scan — route ``codec='error'`` rows to quarantine).

Scale notes:
- payloads stay in executor memory one Arrow batch at a time
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak
  memory — set it low for multi-MB payloads);
- feature extraction is embarrassingly parallel; no shuffle;
- binary columns should be stored in their own parquet column chunk
  (they are, by schema) so metadata-only queries never read bytes
  (column pruning keeps scans cheap — verified in tests via
  ReadSchema).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("source_uri", T.StringType(), True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("codec", T.StringType(), True),  # png|wav|jpeg|raw|error
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("checksum_feature", T.DoubleType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_CHECKSUM_MOD = 9973


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_pixels(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Real PNG decode to raw scanline bytes: (width, height, channels,
    pixels) where ``pixels`` is the unfiltered byte stream (palette
    images stay as 1-byte indices — expansion is the caller's choice).

    Pure stdlib: chunk walk + ``zlib.decompress`` + the five PNG
    scanline filters inverted per row. Supports 8-bit depth,
    non-interlaced, color types 0/2/3/4/6; anything else raises
    ``ValueError`` (Adam7 interlace and 1/2/4/16-bit depths are rare
    in training corpora and routed to ``codec='error'``).
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, width, height = 8, None, None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace})"
        )
    channels = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("inflated size does not match dimensions")
    bpp = channels  # 8-bit: bytes per pixel == channels
    pixels = bytearray(stride * height)
    prior = bytes(stride)
    for r in range(height):
        off = r * (stride + 1)
        ftype = raw[off]
        row = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(left, prior[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad filter type {ftype}")
        pixels[r * stride : (r + 1) * stride] = row
        prior = row
    return width, height, channels, pixels


def decode_png(payload: bytes) -> tuple[int, int, int, float]:
    """(width, height, channels, checksum) from a real PNG decode.
    ``checksum`` is the sum of all unfiltered pixel bytes mod 9973,
    normalized to [0, 1) — a content-dependent feature any independent
    decoder (or an analytic oracle over synthetic images) reproduces
    exactly."""
    width, height, channels, pixels = _png_pixels(payload)
    return width, height, channels, (sum(pixels) % _CHECKSUM_MOD) / _CHECKSUM_MOD


def decode_wav(payload: bytes) -> tuple[int, int, int, float]:
    """(channels, sample_rate, n_frames, checksum) from a real RIFF
    WAV decode: chunk walk (word-aligned), ``fmt `` parse, PCM sample
    unpack (16-bit signed little-endian or 8-bit unsigned).

    ``checksum`` sums the UNSIGNED sample values (16-bit samples
    shifted by +32768) mod 9973, normalized — sign-free so the 8- and
    16-bit paths share one definition.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt_body, data_body = 12, None, None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated RIFF chunk")
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        pos += 8 + length + (length & 1)  # RIFF chunks are word-aligned
    if fmt_body is None or data_body is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, _block, bits = struct.unpack(
        "<HHIIHH", fmt_body[:16]
    )
    if audio_format != 1 or bits not in (8, 16) or channels == 0:
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    if bits == 16:
        count = len(data_body) // 2
        samples = struct.unpack(f"<{count}h", data_body[: 2 * count])
        total = sum(s + 32768 for s in samples)
    else:
        count = len(data_body)
        total = sum(data_body)  # 8-bit PCM is unsigned by spec
    frames = count // channels
    return channels, rate, frames, (total % _CHECKSUM_MOD) / _CHECKSUM_MOD


_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOFn minus DHT/JPG/DAC
_JPEG_COMPONENTS = {1: 1, 3: 3, 4: 4}


def _jpeg_sof(b: bytes) -> tuple[int, int, int, int, int]:
    """Walk JPEG markers from SOI to the first SOFn segment and return
    (sof_marker, precision, height, width, n_components). Pure stdlib
    marker scan — segment lengths are honored, standalone markers
    (TEM, RSTn) are stepped over, EOI or a non-marker byte stops the
    walk with ValueError. Entropy-coded image data is never touched:
    this is metadata-only (decode proper is out of scope for JPEG —
    it needs a DCT codec; declared in SCALE.md)."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    for _ in range(64):
        if pos + 4 > len(b) or b[pos] != 0xFF:
            raise ValueError("marker walk fell off the segment chain")
        marker = b[pos + 1]
        if marker in _JPEG_SOF_MARKERS:
            if pos + 10 > len(b):
                raise ValueError("truncated SOF segment")
            precision = b[pos + 4]
            height = (b[pos + 5] << 8) | b[pos + 6]
            width = (b[pos + 7] << 8) | b[pos + 8]
            ncomp = b[pos + 9]
            return marker, precision, height, width, ncomp
        if marker == 0xD9:  # EOI before any SOF
            raise ValueError("EOI before SOF")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        seg_len = (b[pos + 2] << 8) | b[pos + 3]
        if seg_len < 2:
            raise ValueError("bad segment length")
        pos += 2 + seg_len
    raise ValueError("no SOF within segment budget")


# Raster index of the i-th coefficient in JPEG zigzag scan order
# (ITU-T T.81 figure 5 — public spec constant).
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _huffman_decode_map(bits: list[int], values: bytes) -> dict:
    """Canonical Huffman (code_length, code) → symbol map from a DHT
    segment's BITS/HUFFVAL arrays (T.81 annex C code assignment)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over JPEG entropy-coded data with 0xFF00
    byte-stuffing removal; stops at any real marker (RSTn handled by
    the caller via ``at_marker``)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos, self.bit = buf, pos, 0

    def at_marker(self) -> int | None:
        b = self.buf
        if self.bit == 0 and self.pos + 1 < len(b) and b[self.pos] == 0xFF:
            nxt = b[self.pos + 1]
            if nxt != 0x00:
                return nxt
        return None

    def read_bit(self) -> int:
        b = self.buf
        if self.pos >= len(b):
            raise ValueError("entropy data truncated")
        byte = b[self.pos]
        if byte == 0xFF:
            if self.pos + 1 >= len(b) or b[self.pos + 1] != 0x00:
                raise ValueError("marker inside entropy segment")
        bit = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 2 if byte == 0xFF else 1
        return bit

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_to_marker(self):
        if self.bit:
            self.bit = 0
            self.pos += 2 if self.buf[self.pos] == 0xFF else 1

    def read_huffman(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map a ``size``-bit magnitude to its signed value."""
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def _idct_block(coef):
    """Float64 2-D inverse DCT of one dequantized 8×8 block (separable
    basis-matrix product), level-shifted +128 and clamped to [0, 255].
    numpy-vectorized — this runs per block inside Arrow batches."""
    import numpy as np

    global _IDCT_BASIS
    try:
        basis = _IDCT_BASIS
    except NameError:
        i = np.arange(8).reshape(8, 1)
        j = np.arange(8).reshape(1, 8)
        basis = 0.5 * np.cos((2 * i + 1) * j * np.pi / 16)
        basis[:, 0] *= 1 / np.sqrt(2)
        _IDCT_BASIS = basis
    spatial = basis @ coef @ basis.T
    return np.clip(np.round(spatial + 128), 0, 255).astype(np.int64)


def decode_jpeg(payload: bytes) -> tuple[int, int, int, float]:
    """REAL baseline JPEG pixel decode, stdlib + numpy — no codec
    library: segment walk collects DQT (8-bit) and DHT (canonical
    Huffman) tables, SOF0 dimensions, then the SOS entropy-coded scan
    is Huffman-decoded MCU by MCU (DC predictor + EXTEND, AC
    run/size with EOB/ZRL, 0xFF00 byte-stuffing, DRI/RSTn restart
    handling), dequantized, zigzag-reordered, and inverse-DCT'd
    (float64 separable basis, +128 level shift, clamp).

    Supported subset (declared): baseline sequential SOF0, 8-bit,
    single interleaved scan, 1 or 3 components with NO chroma
    subsampling (all sampling factors 1×1). Progressive (SOF2),
    subsampled, or multi-scan streams raise ``ValueError`` — callers
    route those to the metadata-only path rather than fabricate
    pixels.

    Returns (width, height, channels, checksum) where ``checksum``
    sums every decoded component sample (cropped to the true
    width×height) mod 9973, normalized — the same convention as
    ``decode_png``/``decode_wav``, reproducible by an analytic oracle
    over synthetic DC-only streams (quantizer 8 makes each block's
    IDCT an exact integer)."""
    b = bytes(payload)
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG (no SOI)")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    sof = None
    restart_interval = 0
    pos = 2
    while True:
        if pos + 4 > len(b) or b[pos] != 0xFF:
            raise ValueError("marker walk fell off the segment chain")
        marker = b[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        seg_len = (b[pos + 2] << 8) | b[pos + 3]
        if seg_len < 2 or pos + 2 + seg_len > len(b):
            raise ValueError("bad segment length")
        body = b[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = list(body[o + 1 : o + 65])
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1 : o + 17])
                nvals = sum(bits)
                vals = body[o + 17 : o + 17 + nvals]
                (huff_dc if tc == 0 else huff_ac)[th] = _huffman_decode_map(
                    bits, vals
                )
                o += 17 + nvals
        elif marker in _JPEG_SOF_MARKERS:
            if marker != 0xC0:
                raise ValueError("only baseline SOF0 is pixel-decoded")
            precision, h, w, ncomp = (
                body[0],
                (body[1] << 8) | body[2],
                (body[3] << 8) | body[4],
                body[5],
            )
            if precision != 8 or ncomp not in (1, 3):
                raise ValueError("unsupported precision/component count")
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = body[6 + 3 * c : 9 + 3 * c]
                if sampling != 0x11:
                    raise ValueError("chroma subsampling unsupported")
                comps.append({"id": cid, "tq": tq})
            sof = (w, h, comps)
        elif marker == 0xDD:  # DRI
            restart_interval = (body[0] << 8) | body[1]
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            w, h, comps = sof
            if ns != len(comps):
                raise ValueError("non-interleaved scans unsupported")
            scan_tables = {}
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                scan_tables[cs] = (tables >> 4, tables & 0x0F)
            scan_start = pos + 2 + seg_len
            return _decode_jpeg_scan(
                b, scan_start, w, h, comps, scan_tables, qt,
                huff_dc, huff_ac, restart_interval,
            )
        pos += 2 + seg_len


def _decode_jpeg_scan(
    b, pos, w, h, comps, scan_tables, qt, huff_dc, huff_ac, restart_interval
):
    import numpy as np

    bx, by = (w + 7) // 8, (h + 7) // 8
    n_mcus = bx * by
    planes = [np.zeros((by * 8, bx * 8), dtype=np.int64) for _ in comps]
    reader = _BitReader(b, pos)
    pred = [0] * len(comps)
    mcus_done = 0
    for mcu in range(n_mcus):
        if restart_interval and mcus_done == restart_interval:
            reader.sync_to_marker()
            m = reader.at_marker()
            if m is None or not (0xD0 <= m <= 0xD7):
                raise ValueError("expected restart marker")
            reader.pos += 2
            pred = [0] * len(comps)
            mcus_done = 0
        my, mx = divmod(mcu, bx)
        for ci, comp in enumerate(comps):
            dc_t, ac_t = scan_tables[comp["id"]]
            quant = qt.get(comp["tq"])
            if quant is None:
                raise ValueError("missing quant table")
            coef = np.zeros(64, dtype=np.int64)
            size = reader.read_huffman(huff_dc[dc_t])
            diff = _extend(reader.read_bits(size), size) if size else 0
            pred[ci] += diff
            coef[0] = pred[ci]
            k = 1
            while k < 64:
                rs = reader.read_huffman(huff_ac[ac_t])
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:  # ZRL: 16 zeros
                        k += 16
                        continue
                    break  # EOB
                k += run
                if k > 63:
                    raise ValueError("AC run overflows block")
                coef[k] = _extend(reader.read_bits(size), size)
                k += 1
            deq = coef * np.asarray(quant, dtype=np.int64)
            block = np.zeros((8, 8), dtype=np.float64)
            block.flat[list(_ZIGZAG)] = deq
            planes[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = _idct_block(
                block
            )
        mcus_done += 1
    total = sum(int(p[:h, :w].sum()) for p in planes)
    return w, h, len(comps), (total % _CHECKSUM_MOD) / _CHECKSUM_MOD


def _canonical_huffman_encode_map(symbols: list[int]) -> tuple[list[int], bytes, dict]:
    """(BITS, HUFFVAL, symbol → (length, code)) for a canonical table
    that assigns every symbol one fixed-length code, length chosen so
    the code space is not over-full and the all-ones code stays
    unused (T.81 requires it reserved). Both sides read the table
    from the DHT segment, so any valid canonical table round-trips."""
    n = len(symbols)
    length = 1
    while (1 << length) < n + 1:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    table = {
        sym: (length, code) for code, sym in enumerate(sorted(symbols))
    }
    return bits, bytes(sorted(symbols)), table


class _BitWriter:
    """MSB-first bit writer with 0xFF00 stuffing (encoder twin of
    ``_BitReader``; test fixtures and the synthesizer share it)."""

    def __init__(self):
        self.out = bytearray()
        self.acc, self.nbits = 0, 0

    def write(self, value: int, n: int):
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.nbits = 0, 0

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def _dc_category(v: int) -> int:
    size = 0
    a = abs(v)
    while a:
        size += 1
        a >>= 1
    return size


def encode_jpeg_blocks(
    w: int,
    h: int,
    component_coeffs: list[list[list[int]]],
    quant: list[int],
    restart_interval: int = 0,
) -> bytes:
    """Assemble a REAL baseline JPEG stream from per-component
    per-block ZIGZAG-ORDER quantized coefficients (test fixture and
    synthetic-corpus generator — the decode twin is
    :func:`decode_jpeg`). One shared 8-bit quant table, canonical
    Huffman tables built from the symbols actually emitted, single
    interleaved scan, no subsampling; ``restart_interval`` > 0 emits a
    DRI segment and RSTn markers with DC-predictor resets (so the
    decoder's restart path is testable)."""
    ncomp = len(component_coeffs)
    n_blocks = ((w + 7) // 8) * ((h + 7) // 8)
    # gather symbols per table; DC carries every category 0..11 up
    # front — restart-marker predictor resets change the diffs, so
    # deriving categories from the no-restart walk would under-build
    # the table
    dc_syms, ac_syms = set(range(12)), set()
    for blocks in component_coeffs:
        assert len(blocks) == n_blocks
        pred = 0
        for blk in blocks:
            dc_syms.add(_dc_category(blk[0] - pred))
            pred = blk[0]
            run = 0
            for v in blk[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms.add(0xF0)
                    run -= 16
                ac_syms.add((run << 4) | _dc_category(v))
                run = 0
            ac_syms.add(0x00)  # EOB (emitted whenever trailing zeros exist)
    dc_bits, dc_vals, dc_map = _canonical_huffman_encode_map(sorted(dc_syms))
    ac_bits, ac_vals, ac_map = _canonical_huffman_encode_map(sorted(ac_syms))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(quant)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        body = bytes([tc << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    wtr = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    for blk_i in range(n_blocks):
        if restart_interval and blk_i and blk_i % restart_interval == 0:
            out += wtr.flush()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            wtr = _BitWriter()
            preds = [0] * ncomp
        for ci in range(ncomp):
            blk = component_coeffs[ci][blk_i]
            diff = blk[0] - preds[ci]
            preds[ci] = blk[0]
            cat = _dc_category(diff)
            length, code = dc_map[cat]
            wtr.write(code, length)
            if cat:
                wtr.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
            run = 0
            nz = [k for k in range(1, 64) if blk[k]]
            last_nz = nz[-1] if nz else 0
            for k in range(1, last_nz + 1):
                v = blk[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    length, code = ac_map[0xF0]
                    wtr.write(code, length)
                    run -= 16
                size = _dc_category(v)
                length, code = ac_map[(run << 4) | size]
                wtr.write(code, length)
                wtr.write(v if v > 0 else v + (1 << size) - 1, size)
                run = 0
            if last_nz < 63:
                length, code = ac_map[0x00]
                wtr.write(code, length)
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def synth_jpeg_coded_payload(seed: int) -> bytes:
    """Deterministic REAL baseline JPEG with entropy-coded pixel data:
    grayscale, ``width = 8*(1 + seed % 6)``, ``height =
    8*(1 + (seed // 6) % 4)``, DC-only blocks (block ``b`` carries DC
    delta ``((seed + 3*b) % 9) - 4``) under quantizer 8 — the IDCT of
    a DC-only block with q=8 is the exact integer ``cum_dc + 128``
    everywhere, so the decoded checksum is closed-form in the seed:
    ``sum over blocks of 64 * (cum_dc_b + 128)``. The decoder earns
    it: real Huffman decode, EXTEND, dequant, IDCT — nothing about
    the pipeline knows the blocks are flat."""
    bx = 1 + seed % 6
    by = 1 + (seed // 6) % 4
    n_blocks = bx * by
    quant = [8] + [16] * 63
    blocks, dc = [], 0
    for blk in range(n_blocks):
        dc += ((seed + 3 * blk) % 9) - 4
        blocks.append([dc] + [0] * 63)
    return encode_jpeg_blocks(bx * 8, by * 8, [blocks], quant)


def _fingerprint_payload(payload: bytes) -> tuple[int, int, float]:
    """Unknown-format fallback (the former stub codec, retained as the
    deterministic byte fingerprint for payloads that are neither PNG
    nor WAV): first/last byte → pseudo-dims, sum of the first 256
    bytes → checksum. Content-dependent, oracle-expressible over raw
    blobs."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError(
            "empty payload: no content to decode or fingerprint"
        )
    w = 16 + (payload[0] % 64) * 16
    h = 16 + (payload[-1] % 64) * 16
    checksum = float(sum(payload[:256]) % _CHECKSUM_MOD) / _CHECKSUM_MOD
    return w, h, checksum


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a media table from any table (test harness: documents →
    fake payloads). Real pipelines read payload parquet directly."""
    return df.select(
        F.col(f"`{id_col}`").cast("long").alias("media_id"),
        F.encode(F.col(f"`{text_col}`"), "UTF-8").alias("payload"),
        F.lit("image").alias("media_type"),
        F.concat(F.lit("synthetic://"), F.col(f"`{id_col}`").cast("string")).alias(
            "source_uri"
        ),
    )


def synth_png_payload(seed: int) -> bytes:
    """Deterministic real PNG for id ``seed``: grayscale 8-bit,
    ``width = 1 + seed % 8``, ``height = 1 + (seed // 8) % 8``, pixel
    ``(r, c) = (seed*31 + r*7 + c*3) % 256``, scanline ``r`` written
    with filter type ``r % 5`` so a decode exercises every unfilter
    path. The decoded dims and pixel-sum checksum are closed-form in
    ``seed`` — the analytic oracle for the REAL decoder."""
    w = 1 + seed % 8
    h = 1 + (seed // 8) % 8
    rows = [
        bytes((seed * 31 + r * 7 + c * 3) % 256 for c in range(w)) for r in range(h)
    ]
    stream = bytearray()
    prior = bytes(w)
    for r, row in enumerate(rows):
        ftype = r % 5
        stream.append(ftype)
        if ftype == 0:
            filt = row
        elif ftype == 1:  # Sub (bpp=1)
            filt = bytes(
                (row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(w)
            )
        elif ftype == 2:  # Up
            filt = bytes((row[i] - prior[i]) & 0xFF for i in range(w))
        elif ftype == 3:  # Average
            filt = bytes(
                (row[i] - (((row[i - 1] if i else 0) + prior[i]) >> 1)) & 0xFF
                for i in range(w)
            )
        else:  # Paeth
            filt = bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - 1] if i else 0, prior[i], prior[i - 1] if i else 0
                    )
                )
                & 0xFF
                for i in range(w)
            )
        stream += filt
        prior = row
    ihdr = b"IHDR" + struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    idat = b"IDAT" + zlib.compress(bytes(stream))
    iend = b"IEND"
    out = bytearray(_PNG_SIG)
    for chunk in (ihdr, idat, iend):
        out += struct.pack(">I", len(chunk) - 4)
        out += chunk
        out += struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    return bytes(out)


def synth_wav_payload(seed: int) -> bytes:
    """Deterministic real PCM WAV for id ``seed``: ``channels = 1 +
    seed % 2``, ``rate = 8000 + (seed % 4) * 4000``, 16-bit, ``frames
    = 50 + seed % 50``, interleaved sample ``i = ((seed*7 + i*13) %
    65536) - 32768``. Decoded rate/channels/frames/checksum are
    closed-form in ``seed``."""
    channels = 1 + seed % 2
    rate = 8000 + (seed % 4) * 4000
    frames = 50 + seed % 50
    count = frames * channels
    data = struct.pack(
        f"<{count}h", *(((seed * 7 + i * 13) % 65536) - 32768 for i in range(count))
    )
    block = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def attach_synth_media(
    df: DataFrame, id_col: str, kind: str = "png"
) -> DataFrame:
    """Fixture-payload generator: one real PNG / WAV / entropy-coded
    JPEG / ISO-BMFF MP4 per row, derived deterministically from the id
    (``synth_png_payload`` / ``synth_wav_payload`` /
    ``synth_jpeg_coded_payload`` / ``synth_mp4_payload``).
    Arrow-batched; this is the test harness' stand-in for reading
    payload parquet — production pipelines load real bytes and never
    run this."""
    media_type, synth = {
        "png": ("image", synth_png_payload),
        "wav": ("audio", synth_wav_payload),
        "jpeg": ("image", synth_jpeg_coded_payload),
        "mp4": ("video", synth_mp4_payload),
    }[kind]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [synth(int(i)) for i in ids],
                    "media_type": media_type,
                    "source_uri": [f"synthetic://{int(i)}" for i in ids],
                }
            )

    base = df.select(F.col(f"`{id_col}`").cast("long").alias("media_id"))
    return base.mapInPandas(gen, schema=MEDIA_SCHEMA)


def _decode_one(payload, media_type: str) -> dict:
    b = bytes(payload) if payload is not None else None
    out = {
        "media_type": media_type,
        "codec": None,
        "n_bytes": len(b) if b is not None else 0,
        "width": None,
        "height": None,
        "channels": None,
        "sample_rate": None,
        "n_samples": None,
        "checksum_feature": None,
    }
    if b is None:
        return out
    if b[:8] == _PNG_SIG:
        try:
            w, h, ch, checksum = decode_png(b)
            out.update(codec="png", width=w, height=h, channels=ch,
                       checksum_feature=checksum)
        except (ValueError, zlib.error, struct.error):
            out["codec"] = "error"
        return out
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        try:
            ch, rate, frames, checksum = decode_wav(b)
            out.update(codec="wav", channels=ch, sample_rate=rate,
                       n_samples=frames, checksum_feature=checksum)
        except (ValueError, struct.error):
            out["codec"] = "error"
        return out
    if b[:2] == b"\xff\xd8":
        # JPEG: real baseline pixel decode first (decode_jpeg —
        # Huffman + dequant + IDCT, r5). Streams outside the declared
        # subset (progressive SOF2, chroma subsampling, multi-scan) or
        # with no scan at all keep the r4 metadata-only contract:
        # codec='jpeg', dims from the SOF walk, NULL checksum — never
        # fabricated pixels. Streams whose SOF itself is unreadable
        # are codec='error'.
        try:
            w, h, ch, checksum = decode_jpeg(b)
            out.update(codec="jpeg", width=w, height=h, channels=ch,
                       checksum_feature=checksum)
        except (ValueError, struct.error, IndexError):
            try:
                _, _, h, w, ncomp = _jpeg_sof(b)
                out.update(codec="jpeg", width=w, height=h,
                           channels=_JPEG_COMPONENTS.get(ncomp, ncomp))
            except ValueError:
                out["codec"] = "error"
        return out
    w, h, checksum = _fingerprint_payload(b)
    out.update(codec="raw", width=w, height=h, checksum_feature=checksum)
    return out


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode: mapInPandas over MEDIA_SCHEMA rows →
    DECODED_SCHEMA rows. PNG and WAV payloads get a REAL stdlib decode
    (dimensions / channels / sample counts / pixel- or sample-sum
    checksum); JPEG payloads get a REAL SOF marker-walk metadata
    extraction (``codec='jpeg'``, dims + components, no pixel decode —
    that needs a DCT codec, declared out of scope); unknown formats
    get the deterministic byte fingerprint (``codec='raw'``); corrupt
    known-magic payloads yield ``codec='error'`` with null features.
    Batch-at-a-time keeps peak memory bounded regardless of corpus
    size.

    NARROW-SCAN FUNNEL (the r9 BLB finding): a small media table
    arrives in ONE scan partition, serializing every Arrow decode
    batch onto one core. decode_media itself stays map-only — the
    plan pin forbids ever shuffling the (multi-MB) payload column —
    so the widening belongs UPSTREAM of payload materialization:
    round-robin the id/metadata rows (``_scale.widen_narrow_input``)
    BEFORE attaching or reading payloads — worth it only when the
    per-row decode is expensive: the JPEG spec (Huffman+IDCT)
    measured 1.71 → 0.70 s at sf0.1, while png/wav/raw decodes
    regressed on the exchange overhead and stay unwidened."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                {"media_id": mid, **_decode_one(p, mt)}
                for mid, p, mt in zip(
                    pdf["media_id"], pdf["payload"], pdf["media_type"]
                )
            ]
            yield pd.DataFrame.from_records(
                recs, columns=[f.name for f in DECODED_SCHEMA.fields]
            )

    return df.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def parse_png_header(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """REAL PNG header parsing — no codec library, no stub: validate
    the 8-byte PNG signature and read the IHDR fields (big-endian u32
    width/height at bytes 17-24, bit depth at 25, color type at 26)
    straight out of the binary column with JVM expressions
    (``hex`` + ``substring`` + ``conv``). Non-PNG payloads yield
    ``is_png = false`` and null dimensions instead of erroring.

    This is the metadata-extraction step a multimodal pipeline runs
    BEFORE any expensive decode (route by size/type, drop corrupt
    rows): map-only, codegen'd, zero Python. The pixel decode proper
    lives in ``decode_media`` (real stdlib PNG/WAV decode).
    """
    hx = F.hex(F.col(f"`{payload_col}`"))

    def be_u32(byte_off: int):
        return F.conv(F.substring(hx, (byte_off - 1) * 2 + 1, 8), 16, 10).cast("long")

    def u8(byte_off: int):
        return F.conv(F.substring(hx, (byte_off - 1) * 2 + 1, 2), 16, 10).cast("int")

    is_png = (F.length(F.col(f"`{payload_col}`")) >= 26) & (
        F.substring(hx, 1, 16) == "89504E470D0A1A0A"
    ) & (F.substring(hx, 25, 8) == "49484452")  # "IHDR"
    return df.select(
        F.col(f"`{id_col}`").alias("media_id"),
        is_png.alias("is_png"),
        F.when(is_png, be_u32(17)).alias("width"),
        F.when(is_png, be_u32(21)).alias("height"),
        F.when(is_png, u8(25)).alias("bit_depth"),
        F.when(is_png, u8(26)).alias("color_type"),
    )


def parse_wav_header(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """REAL WAV (RIFF) header parsing, little-endian, no codec lib:
    validate ``RIFF????WAVE`` + a canonical ``fmt `` chunk at byte 13
    and read audio format, channels, sample rate, and bits per sample
    from their fixed offsets. Little-endian u16/u32 are assembled by
    reversing the hex byte pairs before ``conv`` — still pure
    codegen'd JVM expressions, map-only.

    The audio twin of ``parse_png_header``: the route-before-decode
    metadata step (sample-rate buckets, mono/stereo routing, corrupt
    drop). Streams with a non-canonical chunk layout parse as
    ``is_wav = false`` rather than erroring — route those to the full
    decoder.
    """
    hx = F.hex(F.col(f"`{payload_col}`"))

    def le_bytes(byte_off: int, n: int):
        pairs = [
            F.substring(hx, (byte_off - 1 + i) * 2 + 1, 2)
            for i in reversed(range(n))
        ]
        return F.conv(F.concat(*pairs), 16, 10).cast("long")

    is_wav = (
        (F.length(F.col(f"`{payload_col}`")) >= 36)
        & (F.substring(hx, 1, 8) == "52494646")  # "RIFF"
        & (F.substring(hx, 17, 8) == "57415645")  # "WAVE"
        & (F.substring(hx, 25, 8) == "666D7420")  # "fmt "
    )
    return df.select(
        F.col(f"`{id_col}`").alias("media_id"),
        is_wav.alias("is_wav"),
        F.when(is_wav, le_bytes(21, 2).cast("int")).alias("audio_format"),
        F.when(is_wav, le_bytes(23, 2).cast("int")).alias("channels"),
        F.when(is_wav, le_bytes(25, 4)).alias("sample_rate"),
        F.when(is_wav, le_bytes(35, 2).cast("int")).alias("bits_per_sample"),
    )


def synth_jpeg_payload(seed: int) -> bytes:
    """Deterministic JPEG header bytes for tests: SOI + APP0(JFIF) +
    a COM segment whose length varies with the seed (so the marker
    walk is exercised, not a fixed offset) + SOF0/SOF2 with seeded
    dimensions + EOI. Structurally valid down to the SOF — there is
    deliberately no entropy-coded data (metadata-only contract)."""
    w = 16 + seed % 4096
    h = 16 + (seed * 7) % 4096
    sof_marker = 0xC0 if seed % 2 == 0 else 0xC2
    comment = bytes((seed + i) % 256 for i in range(4 + seed % 16))
    out = bytearray(b"\xff\xd8")  # SOI
    jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(jfif) + 2) + jfif
    out += b"\xff\xfe" + struct.pack(">H", len(comment) + 2) + comment
    # SOF: precision 8, height, width, 3 components (each 3 bytes)
    sof = struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    out += bytes([0xFF, sof_marker]) + struct.pack(">H", len(sof) + 2) + sof
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def parse_jpeg_header(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """REAL JPEG SOF header parsing with a JVM-side marker WALK — the
    third member of the route-before-decode family (PNG/WAV parse at
    fixed offsets; JPEG cannot, because APPn/COM/DQT segments of
    arbitrary length precede the frame header).

    The walk is a single codegen-free but JVM-evaluated ``aggregate``
    fold over ``sequence(1, 32)`` (32 segments): the accumulator carries
    (pos, sof) over the hex image of the payload; each step either
    stops (non-marker byte, EOI, truncation), records the first SOFn
    marker position (C0-CF minus C4/C8/CC), hops a standalone marker
    (TEM/RSTn, no length field), or advances by the segment's
    big-endian length. No Python, no UDF — one expression per row,
    map-only, and column pruning still drops the payload when only
    metadata columns are selected downstream.

    Emits (media_id, is_jpeg, sof_marker, precision, width, height,
    num_components); non-JPEG / SOF-less payloads parse as
    ``is_jpeg = false`` with null fields, mirroring the PNG/WAV
    parsers. Pixel decode is declared out of scope (needs a DCT
    codec); ``decode_media`` routes JPEG payloads through the same
    walk Python-side as ``codec='jpeg'`` metadata-only rows.
    """
    payload = F.col(f"`{payload_col}`")
    hx = F.hex(payload)
    plen = F.length(payload).cast("long")

    def u8at(pos):  # 1-indexed byte offset (Column) → unsigned byte
        return F.conv(
            F.substring(hx, ((pos - 1) * 2 + 1).cast("int"), 2), 16, 10
        ).cast("long")

    def be_u16(pos):
        return F.conv(
            F.substring(hx, ((pos - 1) * 2 + 1).cast("int"), 4), 16, 10
        ).cast("long")

    sof_markers = [m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)]

    def step(acc, _):
        pos, sof = acc["pos"], acc["sof"]
        marker = u8at(pos + 1)
        seg_len = be_u16(pos + 2)
        stop = F.struct(pos.alias("pos"), F.lit(-1).cast("long").alias("sof"))
        return (
            F.when(sof != 0, acc)  # already found or stopped
            .when((pos + 4 > plen) | (u8at(pos) != 0xFF), stop)
            .when(
                marker.isin(sof_markers),
                F.struct(pos.alias("pos"), pos.alias("sof")),
            )
            .when(marker == 0xD9, stop)  # EOI before SOF
            .when(
                (marker == 0x01) | ((marker >= 0xD0) & (marker <= 0xD7)),
                F.struct((pos + 2).alias("pos"), F.lit(0).cast("long").alias("sof")),
            )
            .when(seg_len < 2, stop)
            .otherwise(
                F.struct(
                    (pos + 2 + seg_len).alias("pos"),
                    F.lit(0).cast("long").alias("sof"),
                )
            )
        )

    init = F.struct(
        F.lit(3).cast("long").alias("pos"), F.lit(0).cast("long").alias("sof")
    )
    walked = F.aggregate(
        F.sequence(F.lit(1), F.lit(32)), init, step
    )["sof"]
    sof = F.when(walked > 0, walked)
    is_jpeg = (
        (plen >= 4)
        & (F.substring(hx, 1, 4) == "FFD8")
        & sof.isNotNull()
        & (sof + 9 <= plen)
    )
    return df.select(
        F.col(f"`{id_col}`").alias("media_id"),
        is_jpeg.eqNullSafe(F.lit(True)).alias("is_jpeg"),
        F.when(is_jpeg, u8at(sof + 1).cast("int")).alias("sof_marker"),
        F.when(is_jpeg, u8at(sof + 4).cast("int")).alias("precision"),
        F.when(is_jpeg, be_u16(sof + 7)).alias("width"),
        F.when(is_jpeg, be_u16(sof + 5)).alias("height"),
        F.when(is_jpeg, u8at(sof + 9).cast("int")).alias("num_components"),
    )


def synth_mp4_payload(seed: int) -> bytes:
    """Deterministic minimal ISO-BMFF (MP4) byte stream for tests:
    ``ftyp`` (major brand ``isom``) + a ``free`` box whose length
    varies with the seed (so the top-level box walk is exercised, not
    a fixed offset) + ``moov`` containing a version-0 ``mvhd``
    (seeded timescale/duration), another seed-length ``free``, and a
    ``trak``→``mdia``→``minf``→``stbl``→``stts`` chain whose
    sample-count entries are seeded — the frame count is closed-form
    in the seed: ``sum(10 + (seed + i*7) % 90 for i in
    range(1 + seed % 3))``. Structurally valid boxes throughout;
    there is deliberately no ``mdat`` (metadata-only contract)."""

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + typ + body

    timescale = 1000 * (1 + seed % 3)
    duration = (seed * 37) % 100000
    n_entries = 1 + seed % 3
    entries = b"".join(
        struct.pack(">II", 10 + (seed + i * 7) % 90, 100)
        for i in range(n_entries)
    )
    stts = box(
        b"stts", struct.pack(">II", 0, n_entries) + entries
    )
    trak = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stts))))
    mvhd = box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, timescale, duration))
    inner_free = box(b"free", bytes((seed * 3) % 12))
    moov = box(b"moov", mvhd + inner_free + trak)
    return (
        box(b"ftyp", b"isom" + struct.pack(">I", 0))
        + box(b"free", bytes(seed % 16))
        + moov
    )


def _be_u32at(pos):  # 1-indexed byte offset (Column) → big-endian u32
    return F.conv(
        F.substring(F.col("_hx"), ((pos - 1) * 2 + 1).cast("int"), 8), 16, 10
    ).cast("long")


def _u8at(pos):
    return F.conv(
        F.substring(F.col("_hx"), ((pos - 1) * 2 + 1).cast("int"), 2), 16, 10
    ).cast("long")


def _fourcc_hex(pos):  # hex string of the 4 bytes at pos
    return F.substring(F.col("_hx"), ((pos - 1) * 2 + 1).cast("int"), 8)


def _find_box(start, end, target_hex: str, max_boxes: int):
    """Position (1-indexed, at the size field) of the first child box
    of four-char-code ``target_hex`` in the sibling chain [start, end)
    of the ``_hx`` hex column, walked with one ``aggregate`` fold (the
    JPEG marker-walk pattern): each step matches, stops on a malformed
    size (<8, would loop) or truncation, or hops ``size`` bytes. NULL
    when absent — and NULL start/end propagate to NULL."""

    def step(acc, _):
        pos, found = acc["pos"], acc["found"]
        size = _be_u32at(pos)
        stop = F.struct(pos.alias("pos"), F.lit(-1).cast("long").alias("found"))
        return (
            F.when(found != 0, acc)
            .when((pos + 8 > end) | (pos + 8 > F.col("_plen") + 1), stop)
            .when(
                _fourcc_hex(pos + 4) == target_hex,
                F.struct(pos.alias("pos"), pos.alias("found")),
            )
            .when(size < 8, stop)
            .otherwise(
                F.struct(
                    (pos + size).alias("pos"),
                    F.lit(0).cast("long").alias("found"),
                )
            )
        )

    init = F.struct(
        start.cast("long").alias("pos"), F.lit(0).cast("long").alias("found")
    )
    res = F.aggregate(F.sequence(F.lit(1), F.lit(max_boxes)), init, step)[
        "found"
    ]
    return F.when(res > 0, res)


def _with_mp4_meta(
    df: DataFrame, payload_col: str, max_boxes: int, max_stts_entries: int
) -> DataFrame:
    """Stage the ISO-BMFF descent as successive projections — each
    level's box position becomes a COLUMN the next level references as
    an attribute. Nesting the folds as one expression duplicates every
    inner fold subtree at each reference (6 levels deep ≈ exponential
    tree growth: the driver OOMs analyzing the plan before a single
    row moves); staged columns are referenced, not copied, and
    CollapseProject keeps non-cheap multi-referenced projections
    staged. Adds _mp4_is/_mp4_brand/_mp4_timescale/_mp4_duration/
    _mp4_frames; callers select and drop what they need."""
    mb = max_boxes
    d = df.withColumns(
        {
            "_hx": F.hex(F.col(f"`{payload_col}`")),
            "_plen": F.length(F.col(f"`{payload_col}`")).cast("long"),
        }
    )
    top_end = F.col("_plen") + 1
    d = d.withColumns(
        {
            "_ftyp": _find_box(F.lit(1), top_end, "66747970", mb),
            "_moov": _find_box(F.lit(1), top_end, "6D6F6F76", mb),
        }
    )
    moov, moov_end = F.col("_moov"), F.col("_moov") + _be_u32at(F.col("_moov"))
    d = d.withColumns(
        {
            "_mvhd": _find_box(moov + 8, moov_end, "6D766864", mb),
            "_trak": _find_box(moov + 8, moov_end, "7472616B", mb),
        }
    )
    for child, parent, cc in (
        ("_mdia", "_trak", "6D646961"),
        ("_minf", "_mdia", "6D696E66"),
        ("_stbl", "_minf", "7374626C"),
        ("_stts", "_stbl", "73747473"),
    ):
        p = F.col(parent)
        d = d.withColumn(child, _find_box(p + 8, p + _be_u32at(p), cc, mb))

    stts, mvhd, ftyp = F.col("_stts"), F.col("_mvhd"), F.col("_ftyp")
    entry_count = _be_u32at(stts + 12)
    entries_ok = (
        (entry_count >= 1)
        & (entry_count <= max_stts_entries)
        & (stts + 16 + entry_count * 8 <= stts + _be_u32at(stts))
    )
    is_mp4 = (F.col("_plen") >= 16) & ftyp.isNotNull()
    mvhd_v0 = _u8at(mvhd + 8) == 0
    d = d.withColumns(
        {
            "_mp4_is": is_mp4.eqNullSafe(F.lit(True)),
            "_mp4_brand": F.when(
                is_mp4, F.decode(F.unhex(_fourcc_hex(ftyp + 8)), "UTF-8")
            ),
            "_mp4_timescale": F.when(mvhd_v0, _be_u32at(mvhd + 20)),
            "_mp4_duration": F.when(mvhd_v0, _be_u32at(mvhd + 24)),
            "_mp4_frames": F.when(
                entries_ok,
                F.aggregate(
                    F.sequence(F.lit(0), (entry_count - 1).cast("int")),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc
                    + _be_u32at(stts + 16 + i.cast("long") * 8),
                ),
            ),
        }
    )
    return d


def parse_mp4_header(
    df: DataFrame,
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """REAL MP4/ISO-BMFF header parsing with a JVM-side box WALK — the
    video member of the route-before-decode family. Boxes are a
    length-prefixed tree (u32 size + four-char code), so each level is
    one ``aggregate`` fold over the sibling chain (the
    ``parse_jpeg_header`` marker-walk pattern): top level finds
    ``ftyp``/``moov``, then the fixed descent moov → mvhd (version-0
    timescale/duration) and moov → trak → mdia → minf → stbl → stts,
    whose (sample_count, delta) entries are summed — again with an
    ``aggregate`` fold — into the track's real frame count. No
    Python, no UDF; map-only and codegen-pruned like the PNG/WAV/JPEG
    parsers.

    Emits (media_id, is_mp4, major_brand, timescale, duration,
    n_frames). Non-BMFF payloads parse as ``is_mp4 = false``;
    version-1 ``mvhd`` (64-bit times), ``stts`` tables above 64
    entries and box chains above 32 siblings yield NULL fields rather than wrong numbers.
    Codec (``mdat``) decode is out of scope, matching JPEG."""
    staged = _with_mp4_meta(df, payload_col, 32, 64)
    return staged.select(
        F.col(f"`{id_col}`").alias("media_id"),
        F.col("_mp4_is").alias("is_mp4"),
        F.col("_mp4_brand").alias("major_brand"),
        F.col("_mp4_timescale").alias("timescale"),
        F.col("_mp4_duration").alias("duration"),
        F.col("_mp4_frames").alias("n_frames"),
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), True),
    ]
)


def _ahash_png(b: bytes) -> int:
    """64-bit average-hash of a decodable PNG: nearest-neighbor sample
    to an 8×8 grayscale grid (channel mean; palette indices used as
    values), threshold each cell at the grid mean. The standard cheap
    perceptual fingerprint — invariant to uniform rescale, robust to
    small pixel noise."""
    w, h, ch, px = _png_pixels(b)
    stride = w * ch
    grid = []
    for ty in range(8):
        sy = ty * h // 8
        for tx in range(8):
            sx = tx * w // 8
            start = sy * stride + sx * ch
            grid.append(sum(px[start : start + ch]) // ch)
    mean = sum(grid) / 64.0
    bits = 0
    for i, v in enumerate(grid):
        if v >= mean:
            bits |= 1 << i
    # interpret as signed 64-bit (Spark LongType)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def ahash_media(df: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing: MEDIA_SCHEMA rows →
    (media_id, ahash). Undecodable / non-PNG payloads yield a NULL
    hash (the quarantine convention — no fabricated fingerprints);
    map-only, zero shuffle."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p):
            if p is None:
                return None
            b = bytes(p)
            if b[:8] != _PNG_SIG:
                return None
            try:
                return _ahash_png(b)
            except (ValueError, zlib.error, struct.error):
                return None

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": pd.array(
                        [one(p) for p in pdf["payload"]], dtype="Int64"
                    ),
                }
            )

    return df.mapInPandas(hash_batches, schema=AHASH_SCHEMA)


def image_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate image pairs by perceptual aHash: decode →
    8×8 average-hash (``ahash_media``) → the generic pigeonhole
    Hamming block join (``dedup.hamming_near_pairs``) — the image
    twin of SimHash text dedup. Blocked equi-join, never all-pairs;
    undecodable payloads never pair.

    Image corpora are pathologically duplicate-heavy at the aHash
    level (blank thumbnails, template frames: a 50k-doc corpus can
    hold 11k copies of one hash → 86M identical pairs), so
    identical-hash groups above 64 members emit a representative star
    instead of the quadratic clique (see :func:`dedup.hamming_near_pairs`
    for the losslessness argument)."""
    from . import dedup

    return dedup.hamming_near_pairs(
        ahash_media(df),
        "media_id",
        "ahash",
        max_hamming,
        exact_star_limit=64,
    )


DECIMATED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("new_rate", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("checksum_feature", T.DoubleType(), True),
    ]
)


def _decimate_wav(payload: bytes, factor: int) -> tuple[int, int, int, int, float]:
    """Integer-factor decimation of a PCM WAV: keep every ``factor``-th
    FRAME (all channels of it), return (channels, rate, new_rate,
    n_frames_kept, checksum-of-kept-samples). Real sample-level audio
    processing on the stdlib decode path — the simplest resampler
    (no anti-alias filter; a production pipeline swaps in a polyphase
    kernel behind the same seam)."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt_body, data_body = 12, None, None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated RIFF chunk")
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        pos += 8 + length + (length & 1)
    if fmt_body is None or data_body is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, _br, _bl, bits = struct.unpack(
        "<HHIIHH", fmt_body[:16]
    )
    if audio_format != 1 or bits not in (8, 16) or channels == 0:
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    if bits == 16:
        count = len(data_body) // 2
        samples = [
            s + 32768
            for s in struct.unpack(f"<{count}h", data_body[: 2 * count])
        ]
    else:
        samples = list(data_body)
    frames = len(samples) // channels
    total = 0
    kept = 0
    for f in range(0, frames, factor):
        base = f * channels
        total += sum(samples[base : base + channels])
        kept += 1
    return (
        channels,
        rate,
        rate // factor,
        kept,
        (total % _CHECKSUM_MOD) / _CHECKSUM_MOD,
    )


def decimate_media(df: DataFrame, factor: int = 4) -> DataFrame:
    """Arrow-batched audio decimation: MEDIA_SCHEMA rows →
    DECIMATED_SCHEMA rows. Non-WAV / corrupt payloads yield null
    fields (quarantine convention). Map-only, zero shuffle; peak
    memory is one Arrow batch of payloads."""

    def decimate_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p):
            if p is None:
                return (None,) * 5
            b = bytes(p)
            try:
                return _decimate_wav(b, factor)
            except (ValueError, struct.error):
                return (None,) * 5

        for pdf in batches:
            recs = [
                {"media_id": mid, "channels": c, "sample_rate": r,
                 "new_rate": nr, "n_frames": k, "checksum_feature": cs}
                for mid, (c, r, nr, k, cs) in (
                    (m, one(p)) for m, p in zip(pdf["media_id"], pdf["payload"])
                )
            ]
            yield pd.DataFrame.from_records(
                recs, columns=[f.name for f in DECIMATED_SCHEMA.fields]
            )

    return df.mapInPandas(decimate_batches, schema=DECIMATED_SCHEMA)
