"""Multimodal column plumbing (SURVEY.md north star; task brief).

Images/audio/video ride through the engine as opaque `binary` columns with a
typed metadata struct; decode / feature-extraction runs as Arrow-batched
`mapInPandas` so each Python worker sees bounded batches, never a whole
partition.  The codecs are stdlib+numpy and cover what the registered
round-trip queries (l26, l63, l64, l67, l68, l72, l74) produce:

- `decode_real` dispatches on magic bytes to 24/32-bit BI_RGB BMP, 8/16-bit
  PNG (gray, gray+alpha, truecolor, RGBA; Adam7 or not) and baseline
  little-endian RGB TIFF (uncompressed, LZW, PackBits or Deflate strips);
- `decode_jpeg` reads baseline sequential JPEG, grayscale or 4:4:4 YCbCr;
- `decode_gif` reads a single-frame, non-interlaced GIF with a global
  color table;
- `decode_wav` reads 16-bit PCM, IMA and MS ADPCM and G.711 mu-law/A-law;
- `decode_avi` reads uncompressed-DIB and Motion-JPEG AVI.

Every other format or feature raises NotImplementedError (the declared
seam); malformed input raises ValueError.  `fake_decode_features` keeps a
deterministic stand-in for real media.  The Spark-side plumbing — schema,
batch shape, partition flow — is real and oracle-testable either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import fanout

#: Schema of the decoded-feature output (plumbing contract).
FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, first_byte int, checksum bigint"


def to_multimodal(docs: DataFrame) -> DataFrame:
    """Wrap text payloads as the binary-blob + metadata shape a real
    image/audio table has: (id, blob binary, meta struct<n_bytes,mime>)."""
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        blob.alias("blob"),
        F.struct(
            F.octet_length(blob).cast("long").alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def encode_bmp(img) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a 24-bit uncompressed BMP
    (BI_RGB, bottom-up, BGR byte order, rows padded to 4 bytes) — the
    real on-disk format, written with struct+numpy only."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("encode_bmp: expected HxWx3 RGB")
    row_size = (3 * w + 3) // 4 * 4
    data_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + data_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : 3 * w] = img[::-1, :, ::-1].reshape(h, 3 * w)  # bottom-up BGR
    return header + dib + rows.tobytes()


def decode_bmp(blob: bytes):
    """Decode an uncompressed BMP into an HxWx3 uint8 RGB array: 24-bit
    BI_RGB (the :func:`encode_bmp` form) and 32-bit BI_RGB (BGRX — the
    padding byte real writers leave is dropped).  Handles bottom-up and
    top-down rows and 4-byte row padding; palettized, RLE/bitfield and
    other depths raise the honest NotImplementedError."""
    import struct

    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("decode_bmp: not a BMP stream")
    if len(blob) < 54:  # fuzz finding (round 11): file + info header
        raise ValueError("decode_bmp: truncated header")
    magic, _sz, _r1, _r2, off = struct.unpack_from("<2sIHHI", blob, 0)
    hdr_sz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", blob, 14)
    if w <= 0 or h == 0:
        raise ValueError("decode_bmp: bad dimensions")
    if hdr_sz < 40:  # BITMAPCOREHEADER's 16-bit fields don't fit this parse
        raise NotImplementedError(
            f"decode_bmp: only BITMAPINFOHEADER-family headers "
            f"(size {hdr_sz})"
        )
    if bpp not in (24, 32) or comp != 0:
        raise NotImplementedError(
            f"decode_bmp: only 24/32-bit BI_RGB supported (got bpp={bpp}, "
            f"compression={comp})"
        )
    top_down = h < 0
    h = abs(h)
    bypp = bpp // 8
    row_size = (bypp * w + 3) // 4 * 4
    if off + row_size * h > len(blob):
        raise ValueError("decode_bmp: truncated pixel array")
    rows = np.frombuffer(blob, np.uint8, row_size * h, off).reshape(h, row_size)
    px = rows[:, : bypp * w].reshape(h, w, bypp)[:, :, 2::-1]  # BGR(X)->RGB
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


#: channel count -> PNG color type (depth 8 or 16)
_PNG_CTYPE = {1: 0, 2: 4, 3: 2, 4: 6}

#: Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass, spec
#: order.  Each pass is an independently-filtered sub-image; passes that
#: are empty for a given (w, h) contribute no bytes at all (not even
#: filter bytes).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_filter_pass(rows) -> bytearray:
    """Filter one (sub-)image of reconstructed BYTES: ``rows`` is
    (h, w_eff, bpp) int16 where bpp is the byte distance between
    corresponding bytes of adjacent pixels (channels at 8-bit, 2x at
    16-bit).  PNG filters are byte-wise at every depth, so this one helper
    serves 8-bit, 16-bit and every Adam7 pass (each pass filters
    independently — ``prev`` starts at zero here, per spec).  Row y takes
    filter ``y % 5`` (None, Sub, Up, Average, Paeth in rotation) so decode
    round-trips exercise every un-filter path, not just the trivial one."""
    import numpy as np

    h, w, bpp = rows.shape
    scan = bytearray()
    prev = np.zeros((w, bpp), np.int16)
    for y in range(h):
        row = rows[y]
        ft = y % 5
        left = np.zeros((w, bpp), np.int16)
        left[1:] = row[:-1]
        ul = np.zeros((w, bpp), np.int16)
        ul[1:] = prev[:-1]
        if ft == 0:
            pred = np.zeros((w, bpp), np.int16)
        elif ft == 1:
            pred = left
        elif ft == 2:
            pred = prev
        elif ft == 3:
            pred = (left + prev) // 2
        else:  # Paeth, vectorized over the row
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
        scan.append(ft)
        scan += ((row - pred) % 256).astype(np.uint8).tobytes()
        prev = row
    return scan


def _png_byte_rows(img):
    """(h, w, c) uint8/uint16 image -> (h, w, c*sample_bytes) int16 byte
    matrix (16-bit samples serialize big-endian, network order per spec)."""
    import numpy as np

    if img.dtype == np.uint16:
        h, w, c = img.shape
        return (
            img.astype(">u2").view(np.uint8).reshape(h, w, 2 * c).astype(np.int16)
        )
    return img.astype(np.int16)


def encode_png(img, interlace: bool = False) -> bytes:
    """Encode an HxWxC image as a REAL PNG (zlib/DEFLATE IDAT, CRC-checked
    chunks) with stdlib ``zlib`` + numpy only — no codec libs.  C picks
    the color type: 1 grayscale (0), 2 gray+alpha (4), 3 truecolor (2),
    4 RGBA (6).  A uint16 input writes bit depth 16 (big-endian samples,
    round 11); anything else is encoded as 8-bit.  Scanlines take the
    rotating filter schedule of :func:`_png_filter_pass`; filters operate
    on the bytes the decoder will have reconstructed — for the encoder
    that IS the raw image, so predictors read the raw array directly
    (byte distance = channels x sample bytes).

    ``interlace=True`` writes Adam7 (round 11): the IDAT payload is the
    concatenation of the 7 passes, each an independently-filtered
    sub-image on the spec's (x0, y0, xstep, ystep) grid; empty passes
    contribute no bytes."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img)
    depth = 16 if img.dtype == np.uint16 else 8
    img = img.astype(np.uint16 if depth == 16 else np.uint8)
    if img.ndim != 3 or img.shape[2] not in _PNG_CTYPE:
        raise ValueError("encode_png: expected HxWxC with C in 1..4")
    h, w, c = img.shape
    rows = _png_byte_rows(img)
    if interlace:
        scan = bytearray()
        for x0, y0, xs, ys in _ADAM7:
            sub = rows[y0::ys, x0::xs]
            if sub.shape[0] and sub.shape[1]:
                scan += _png_filter_pass(sub)
    else:
        scan = _png_filter_pass(rows)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, _PNG_CTYPE[c], 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan), 6))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, w: int, h: int, ch: int):
    """Reconstruct scanlines from filtered PNG payload: filter byte +
    None/Sub/Up/Average/Paeth per row, pixel byte distance = ``ch``
    (channels x sample bytes; PNG filters are byte-wise at every depth,
    so 16-bit rows are just wider byte rows here).  Returns (h, w, ch) uint8 of reconstructed BYTES —
    the caller reassembles 16-bit samples."""
    import numpy as np

    stride = ch * w
    if len(raw) != h * (stride + 1):
        raise ValueError("decode_png: scanline payload size mismatch")
    out = np.zeros((h, w, ch), np.int16)
    prev = np.zeros((w, ch), np.int16)
    zero_ch = np.zeros(ch, np.int16)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        filt = (
            np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1)
            .reshape(w, ch)
            .astype(np.int16)
        )
        if ft == 0:
            rec = filt
        elif ft == 2:
            rec = (filt + prev) % 256
        elif ft in (1, 3, 4):
            # Sub/Average/Paeth need the just-reconstructed left pixel:
            # sequential across the row (rows are short; cross-row state
            # is only `prev`, so scanlines stream in O(stride) memory)
            rec = np.zeros((w, ch), np.int16)
            for x in range(w):
                left = rec[x - 1] if x else zero_ch
                up = prev[x]
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    ul = prev[x - 1] if x else zero_ch
                    p = left + up - ul
                    pa, pb, pc = (
                        np.abs(p - left),
                        np.abs(p - up),
                        np.abs(p - ul),
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, up, ul),
                    )
                rec[x] = (filt[x] + pred) % 256
        else:
            raise ValueError(f"decode_png: unknown filter type {ft}")
        out[y] = rec
        prev = rec
    return out.astype(np.uint8)


def decode_png(blob: bytes):
    """Decode an 8- or 16-bit non-palette PNG (gray, gray+alpha,
    truecolor, RGBA), interlaced or not, into an HxWxC array (uint16 at
    depth 16, else uint8; C = 1/2/3/4): chunk walk with CRC
    verification, bounded zlib inflate, full scanline un-filtering
    (None/Sub/Up/Average/Paeth, byte distance = bytes per pixel).  Depth
    16 (round 11) reassembles big-endian byte pairs after the byte-wise
    un-filter; Adam7 (round 11) walks the 7 passes as
    independently-filtered sub-images on the spec grid and scatters each
    into place (empty passes contribute no bytes).  Palette images and
    sub-byte depths raise NotImplementedError; spec-invalid headers and
    damaged streams raise ValueError."""
    import struct
    import zlib

    import numpy as np

    if blob[:8] != _PNG_SIG:
        raise ValueError("decode_png: not a PNG stream")
    pos, idat, w, h, ctype = 8, bytearray(), None, None, None
    depth, inter = 8, 0
    while pos + 8 <= len(blob):
        (ln,) = struct.unpack_from(">I", blob, pos)
        # bound the declared length against the remaining stream BEFORE
        # slicing: a truncated/corrupt blob must fail as the documented
        # ValueError, not a struct.error from the CRC unpack below or a
        # silent loop exit when truncation lands inside a chunk (ADVICE r7)
        if pos + 12 + ln > len(blob):
            raise ValueError("decode_png: truncated chunk")
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", blob, pos + 8 + ln)
        if crc != zlib.crc32(typ + data) & 0xFFFFFFFF:
            raise ValueError(f"decode_png: bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            # the spec's depth/color matrix: anything outside it is
            # spec-invalid (ValueError), not unimplemented
            ok_depth = {
                0: (1, 2, 4, 8, 16),
                2: (8, 16),
                3: (1, 2, 4, 8),
                4: (8, 16),
                6: (8, 16),
            }
            if (
                comp != 0
                or filt != 0
                or inter not in (0, 1)
                or ctype not in ok_depth
                or depth not in ok_depth[ctype]
                # spec: width and height are >= 1 (review finding,
                # round 12 — a 0xN file decoded to an empty array where
                # decode_tiff's 'bad dimensions' convention refuses)
                or w == 0
                or h == 0
            ):
                raise ValueError(
                    "decode_png: invalid IHDR parameters "
                    f"(depth={depth}, color={ctype}, interlace={inter}, "
                    f"size={w}x{h})"
                )
            if ctype == 3 or depth < 8:
                raise NotImplementedError(
                    "decode_png: palette images and sub-byte depths "
                    f"unsupported (depth={depth}, color={ctype})"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("decode_png: missing IHDR")
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    bpp = nch * depth // 8  # filter byte distance = bytes per pixel
    # expected inflated payload, exactly per IHDR geometry: each
    # scanline is 1 filter byte + pixel bytes, summed over the 7 Adam7
    # sub-images when interlaced (empty passes contribute nothing)
    if inter == 0:
        expect = h * (1 + w * bpp)
    else:
        expect = sum(
            ph * (1 + pw * bpp)
            for x0, y0, xs, ys in _ADAM7
            for pw in [(w - x0 + xs - 1) // xs if w > x0 else 0]
            for ph in [(h - y0 + ys - 1) // ys if h > y0 else 0]
            if pw and ph
        )
    if expect > 1 << 30:
        # review finding (round 12): header-declared dimensions drive
        # allocations, same ceiling convention as decode_tiff
        raise ValueError(
            f"decode_png: declared image size {w}x{h}@{8 * bpp}bpp exceeds "
            f"the 1 GiB decode ceiling"
        )
    # review finding (round 12): inflate BOUNDED by the IHDR-derived
    # size — unbounded zlib.decompress lets a tiny crafted IDAT allocate
    # hundreds of MB before the scanline size check ever runs (deflate
    # bomb); requesting expect+1 detects overflow without paying for it
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), expect + 1)
    except zlib.error as e:  # fuzz finding (round 11): corrupt IDAT
        raise ValueError(f"decode_png: bad IDAT stream ({e})")
    if len(raw) <= expect and not d.eof:
        # mid-stream truncation: decompressobj returns the partial
        # prefix silently where one-shot zlib.decompress raised
        raise ValueError("decode_png: bad IDAT stream (truncated)")
    if len(raw) != expect or d.unconsumed_tail or d.unused_data:
        raise ValueError("decode_png: scanline payload size mismatch")
    if inter == 0:
        rec = _png_unfilter(raw, w, h, bpp)
    else:
        rec = np.zeros((h, w, bpp), np.uint8)
        off = 0
        for x0, y0, xs, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs if w > x0 else 0
            ph = (h - y0 + ys - 1) // ys if h > y0 else 0
            if pw == 0 or ph == 0:
                continue  # empty pass: zero bytes, not even filter bytes
            n = ph * (1 + pw * bpp)
            rec[y0::ys, x0::xs] = _png_unfilter(raw[off : off + n], pw, ph, bpp)
            off += n
    if depth == 16:
        # reassemble big-endian sample pairs from the un-filtered bytes
        rec = (
            rec.reshape(h, w, nch, 2).astype(np.uint16)[..., 0] << 8
        ) | rec.reshape(h, w, nch, 2)[..., 1]
    return rec


def resize_nearest(img, width: int, height: int):
    """Nearest-neighbor resize of an HxWxC uint8 array — a REAL image
    resize (the same kernel PIL calls NEAREST), pure numpy indexing."""
    import numpy as np

    img = np.asarray(img)
    h, w = img.shape[:2]
    yi = (np.arange(height) * h) // height
    xi = (np.arange(width) * w) // width
    return img[yi][:, xi]


# ------------------------------------------------------------------ JPEG ---
# DCT JPEG (ITU-T T.81) in stdlib struct + numpy only — baseline sequential
# (round 8), grayscale or 4:4:4 YCbCr.  Honest subset, mirroring the PNG
# codec's discipline: 8-bit samples, Huffman entropy coding; progressive
# and arithmetic coding, 12-bit precision, chroma subsampling and restart
# intervals raise NotImplementedError explicitly.  The encoder emits spec-legal canonical Huffman tables (embedded via DHT, as T.81
# allows — tables need not be the Annex K defaults), so streams decode in
# any conforming reader.

#: zigzag scan order: k-th entropy-coded coefficient -> (row, col).  Derived
#: from the spec's rule rather than transcribed: diagonals in order of
#: r + c, traversed up-right on even diagonals and down-left on odd ones.
_JPEG_ZZ = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
)
_JPEG_ZZ_FLAT = [r * 8 + c for r, c in _JPEG_ZZ]

#: DC size-category code lengths (Annex K.3 luminance shape: 1x2, 5x3,
#: then one each of 4..9) and the custom canonical AC table: short codes
#: for EOB and the low-run/low-size symbols every block emits, 10-bit
#: codes for the long tail.  Kraft sum 0.82 < 1, so the all-ones code of
#: the maximum length is never assigned (T.81 reserves it).
_JPEG_DC_LENGTHS = [(s, ln) for s, ln in zip(range(12), (2, 3, 3, 3, 3, 3, 4, 5, 6, 7, 8, 9))]


def _jpeg_ac_lengths() -> list[tuple[int, int]]:
    head = [
        (0x00, 3), (0x01, 3), (0x02, 3),  # EOB and the two commonest sizes
        (0x11, 4), (0x21, 4), (0x03, 4),
        (0x31, 5), (0x12, 5), (0x04, 5),
        (0xF0, 6),  # ZRL
    ]
    seen = {s for s, _ in head}
    tail = [
        ((run << 4) | size, 10)
        for run in range(16)
        for size in range(1, 11)
        if ((run << 4) | size) not in seen
    ]
    return head + tail


_JPEG_AC_LENGTHS = _jpeg_ac_lengths()

#: Default quantization table: DC step 8 (divides the flat-block DC
#: 8*(v-128) exactly — the property l67's bit-exact round trip rests on),
#: AC steps growing with frequency like a real table.
_JPEG_DEFAULT_QT = [[8 if (r, c) == (0, 0) else 8 + 2 * (r + c) for c in range(8)] for r in range(8)]


def _jpeg_canonical(lengths: list[tuple[int, int]]):
    """T.81 Annex C code assignment: symbols sorted by code length get
    consecutive codes, left-shifted at each length increase.  Returns
    (bits16, huffval, enc) where enc maps symbol -> (code, length) and
    bits16/huffval are the DHT wire form."""
    syms = sorted(lengths, key=lambda sl: sl[1])
    bits = [0] * 16
    huffval, enc, code, prev = [], {}, 0, syms[0][1]
    for sym, ln in syms:
        code <<= ln - prev
        prev = ln
        enc[sym] = (code, ln)
        bits[ln - 1] += 1
        huffval.append(sym)
        code += 1
    return bits, huffval, enc


def _jpeg_decode_lut(bits: list[int], huffval: list[int]) -> dict:
    """Inverse of :func:`_jpeg_canonical` for tables read from DHT:
    {(length, code): symbol}."""
    lut, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            lut[(ln, code)] = huffval[i]
            code += 1
            i += 1
        code <<= 1
    return lut


class _JpegBitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF -> 0xFF00)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data; removes 0xFF00
    stuffing and stops at any real marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("decode_jpeg: truncated entropy data")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("decode_jpeg: truncated entropy data")
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:
                raise ValueError(
                    f"decode_jpeg: marker 0xFF{nxt:02X} inside entropy data"
                )
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def read_bits(self, length: int) -> int:
        while self.n < length:
            self._fill()
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def read_symbol(self, lut: dict) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | self.read_bits(1)
            ln += 1
            sym = lut.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("decode_jpeg: invalid Huffman code")


def _jpeg_size(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _jpeg_extend(bits: int, size: int) -> int:
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _jpeg_encode_block(bw, zz, pred: int, dc_enc: dict, ac_enc: dict) -> int:
    """Entropy-encode one zigzag-ordered quantized block; returns the new
    DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    s = _jpeg_size(diff)
    code, ln = dc_enc[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last = k
            break
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL: 16 zeros
            bw.write(code, ln)
            run -= 16
        s = _jpeg_size(v)
        code, ln = ac_enc[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_enc[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _jpeg_decode_block(br, pred: int, dc_lut: dict, ac_lut: dict):
    import numpy as np

    zz = np.zeros(64, np.int32)
    s = br.read_symbol(dc_lut)
    if s > 15:  # corrupt DHT symbol: T.81 DC size categories are <= 15
        raise ValueError(f"decode_jpeg: bad DC size category {s}")
    diff = _jpeg_extend(br.read_bits(s), s) if s else 0
    if abs(pred + diff) > 1 << 30:  # corrupt-stream predictor runaway
        raise ValueError("decode_jpeg: DC predictor out of range")
    zz[0] = pred + diff
    k = 1
    while k < 64:
        sym = br.read_symbol(ac_lut)
        if sym == 0x00:  # EOB
            break
        run, s = sym >> 4, sym & 0x0F
        if s == 0:
            if run != 15:
                raise ValueError(f"decode_jpeg: bad AC symbol {sym:#04x}")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("decode_jpeg: coefficient index overran block")
        zz[k] = _jpeg_extend(br.read_bits(s), s)
        k += 1
    return zz, int(zz[0])


def _jpeg_dct_matrix():
    import numpy as np

    u = np.arange(8.0)
    m = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    m[0] /= np.sqrt(2.0)
    return m  # orthonormal; equals T.81's FDCT scaling exactly


def rgb_to_ycbcr(img):
    """JFIF full-range RGB -> YCbCr, rounded to uint8."""
    import numpy as np

    f = np.asarray(img, np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, 255).astype(
        np.uint8
    )


def ycbcr_to_rgb(arr):
    """JFIF YCbCr -> RGB, rounded and clamped to uint8."""
    import numpy as np

    f = np.asarray(arr, np.float64)
    y, cb, cr = f[..., 0], f[..., 1] - 128.0, f[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


def _jpeg_headers(w: int, h: int, qt_zz: bytes, n_comp: int) -> bytes:
    import struct

    dc_bits, dc_vals, _ = _jpeg_canonical(_JPEG_DC_LENGTHS)
    ac_bits, ac_vals, _ = _jpeg_canonical(_JPEG_AC_LENGTHS)
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qt_zz  # DQT Pq=0 Tq=0
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for cid in range(1, n_comp + 1):
        sof += bytes((cid, 0x11, 0))  # 1x1 sampling, quant table 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, bits, vals in ((0, dc_bits, dc_vals), (1, ac_bits, ac_vals)):
        seg = bytes((tc << 4,)) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    sos = bytes((n_comp,))
    for cid in range(1, n_comp + 1):
        sos += bytes((cid, 0x00))  # DC table 0, AC table 0 for every comp
    sos += bytes((0, 63, 0))  # Ss, Se, AhAl
    return bytes(out) + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos


def _jpeg_component_coeffs(plane, qt):
    """FDCT + quantize one component plane (already edge-padded to
    multiples of 8); returns (hb, wb, 64) zigzag-ordered int32 blocks."""
    import numpy as np

    m = _jpeg_dct_matrix()
    h8, w8 = plane.shape
    blocks = (
        plane.astype(np.float64)
        .reshape(h8 // 8, 8, w8 // 8, 8)
        .transpose(0, 2, 1, 3)
        - 128.0
    )
    coeffs = m @ blocks @ m.T
    q = np.round(coeffs / np.asarray(qt, np.float64)).astype(np.int32)
    return q.reshape(h8 // 8, w8 // 8, 64)[..., _JPEG_ZZ_FLAT]


def encode_jpeg(img, qtable=None) -> bytes:
    """Encode an HxW grayscale or HxWx3 RGB uint8 array as a REAL baseline
    JPEG: level shift, 8x8 FDCT (orthonormal matrix — identical scaling to
    T.81's convention), quantization, zigzag, DC prediction, canonical
    Huffman entropy coding with byte stuffing, and SOI/APP0/DQT/SOF0/DHT/
    SOS/EOI framing.  Color uses the JFIF YCbCr transform at 4:4:4, one
    block per component per MCU.  Dimensions need not be block-aligned —
    edges replicate, as real encoders do."""
    import numpy as np

    img = np.asarray(img, np.uint8)
    h, w = img.shape[:2]
    qt = np.asarray(qtable if qtable is not None else _JPEG_DEFAULT_QT, np.int32)
    planes = [img] if img.ndim == 2 else [rgb_to_ycbcr(img)[..., i] for i in range(3)]
    pad_h, pad_w = (-h) % 8, (-w) % 8
    comp_blocks = [
        _jpeg_component_coeffs(np.pad(p, ((0, pad_h), (0, pad_w)), mode="edge"), qt)
        for p in planes
    ]
    return _jpeg_entropy_assemble(comp_blocks, w, h, qt)


def encode_jpeg_coeffs(blocks, w: int, h: int, qtable=None) -> bytes:
    """Entropy-level encoder entry: take ALREADY-quantized zigzag-ordered
    coefficient blocks — shape (hb, wb, 64), one grayscale component — and
    emit a complete baseline JPEG stream.  This is the coefficient-exact
    half of l67's round trip: Huffman + DC prediction + stuffing +
    framing are bit-exactly invertible even though pixel-domain JPEG is
    lossy, so a decoder regression is caught by integer equality."""
    import numpy as np

    qt = np.asarray(qtable if qtable is not None else _JPEG_DEFAULT_QT, np.int32)
    blocks = np.asarray(blocks, np.int32)
    hb, wb = blocks.shape[:2]
    if (hb * 8 < h) or (wb * 8 < w) or h <= (hb - 1) * 8 or w <= (wb - 1) * 8:
        raise ValueError("encode_jpeg_coeffs: block grid does not match w/h")
    return _jpeg_entropy_assemble([blocks], w, h, qt)


def _jpeg_entropy_assemble(comp_blocks, w, h, qt) -> bytes:
    """Entropy-code per-component (hb, wb, 64) zigzag blocks — one grid
    of ceil(h/8) x ceil(w/8) for every component — in T.81 interleaved
    order (per block position, one block of each component: 4:4:4's MCU)
    behind the baseline headers."""
    import numpy as np

    qt_zz = bytes(
        int(np.asarray(qt, np.int32).reshape(64)[i]) for i in _JPEG_ZZ_FLAT
    )
    _, _, dc_enc = _jpeg_canonical(_JPEG_DC_LENGTHS)
    _, _, ac_enc = _jpeg_canonical(_JPEG_AC_LENGTHS)
    hb, wb = comp_blocks[0].shape[:2]
    bw = _JpegBitWriter()
    preds = [0] * len(comp_blocks)
    for by in range(hb):
        for bx in range(wb):
            for ci, cb in enumerate(comp_blocks):
                preds[ci] = _jpeg_encode_block(
                    bw, cb[by, bx], preds[ci], dc_enc, ac_enc
                )
    return (
        _jpeg_headers(w, h, qt_zz, len(comp_blocks))
        + bw.flush()
        + b"\xff\xd9"
    )


def decode_jpeg(blob: bytes, return_coeffs: bool = False):
    """Decode a baseline sequential JPEG (grayscale or 4:4:4 YCbCr) with
    stdlib struct + numpy: marker parse (DQT/DHT/SOF0/SOS; APPn/COM
    skipped), canonical Huffman decode with byte unstuffing, DC
    prediction, dequantization, inverse zigzag, 8x8 IDCT, level shift +
    clamp, and YCbCr->RGB for color.  Progressive (SOF2) and arithmetic
    (SOF9+) coding, 12-bit precision, chroma subsampling (any sampling
    factor other than 1x1) and restart intervals raise
    NotImplementedError — the honest subset boundary; damaged streams
    raise ValueError.

    Returns HxW (grayscale) or HxWx3 (RGB) uint8 pixels; with
    ``return_coeffs=True`` returns (pixels, coeffs) where coeffs is a
    per-component list of (hb, wb, 64) zigzag-ordered quantized
    coefficient arrays, before dequantization — the entropy-exact view."""
    import struct

    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise ValueError("decode_jpeg: not a JPEG stream")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_luts: dict[int, dict] = {}
    ac_luts: dict[int, dict] = {}
    comps = None
    w = h = None
    scan_comps = None
    while True:
        if pos + 2 > len(blob):
            raise ValueError("decode_jpeg: truncated before SOS")
        if blob[pos] != 0xFF:
            raise ValueError(f"decode_jpeg: expected marker at {pos}")
        marker = blob[pos + 1]
        if marker == 0xD9:  # EOI carries no length segment
            raise ValueError("decode_jpeg: no scan data")
        if 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise NotImplementedError(
                f"decode_jpeg: only baseline (SOF0) supported, got SOF "
                f"marker 0xFF{marker:02X}"
            )
        if pos + 4 > len(blob):
            raise ValueError("decode_jpeg: truncated before SOS")
        (seglen,) = struct.unpack_from(">H", blob, pos + 2)
        seg = blob[pos + 4 : pos + 2 + seglen]
        if pos + 2 + seglen > len(blob):
            raise ValueError("decode_jpeg: truncated segment")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError(
                        "decode_jpeg: 16-bit quant tables unsupported"
                    )
                zz = np.frombuffer(seg, np.uint8, 64, i + 1).astype(np.int32)
                qt = np.zeros(64, np.int32)
                qt[_JPEG_ZZ_FLAT] = zz
                qtables[tq] = qt.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                # bound the declared symbol count against the segment —
                # a corrupt bits[] count would otherwise slice short and
                # index past huffval (fuzz finding, round 10)
                if len(bits) < 16 or i + 17 + n > len(seg):
                    raise ValueError(
                        "decode_jpeg: truncated DHT segment"
                    )
                vals = list(seg[i + 17 : i + 17 + n])
                (dc_luts if tc == 0 else ac_luts)[th] = _jpeg_decode_lut(
                    bits, vals
                )
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(seg) < 6:
                raise ValueError("decode_jpeg: truncated SOF segment")
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if len(seg) < 6 + 3 * nc:
                raise ValueError("decode_jpeg: truncated SOF segment")
            if prec != 8:
                raise NotImplementedError("decode_jpeg: only 8-bit precision")
            comps = []
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise NotImplementedError(
                        "decode_jpeg: only 1x1 sampling factors (4:4:4) "
                        f"supported (sampling {samp:#04x})"
                    )
                comps.append({"id": cid, "tq": tq})
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("decode_jpeg: truncated DRI segment")
            if struct.unpack_from(">H", seg, 0)[0]:
                raise NotImplementedError(
                    "decode_jpeg: restart intervals unsupported"
                )
        elif marker == 0xDA:  # SOS
            # malformed-stream contract: every structural defect raises
            # the documented ValueError, not TypeError/StopIteration/
            # KeyError (code-review finding, round 8)
            if comps is None:
                raise ValueError("decode_jpeg: SOS before SOF0")
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("decode_jpeg: truncated SOS segment")
            nc = seg[0]
            scan_comps = []
            for ci in range(nc):
                cid, tables = seg[1 + 2 * ci], seg[2 + 2 * ci]
                comp = next((c for c in comps if c["id"] == cid), None)
                if comp is None:
                    raise ValueError(
                        f"decode_jpeg: scan references undefined "
                        f"component id {cid}"
                    )
                td, ta = tables >> 4, tables & 0x0F
                if td not in dc_luts or ta not in ac_luts:
                    raise ValueError(
                        f"decode_jpeg: scan references undefined Huffman "
                        f"table (dc={td}, ac={ta})"
                    )
                if comp["tq"] not in qtables:
                    raise ValueError(
                        f"decode_jpeg: component references undefined "
                        f"quant table {comp['tq']}"
                    )
                scan_comps.append((comp, td, ta))
            pos += 2 + seglen
            break
        pos += 2 + seglen
    if len(scan_comps) not in (1, 3):
        raise NotImplementedError(
            "decode_jpeg: only 1-component (grayscale) or 3-component "
            "(4:4:4 YCbCr) scans supported"
        )
    # every component samples 1x1, so an MCU is one block of each
    # component and a single-component scan walks the same block raster
    br = _JpegBitReader(blob, pos)
    hb, wb = -(-h // 8), -(-w // 8)
    coeffs = [np.zeros((hb, wb, 64), np.int32) for _ in scan_comps]
    preds = [0] * len(scan_comps)
    for by in range(hb):
        for bx in range(wb):
            for ci, (_comp, td, ta) in enumerate(scan_comps):
                coeffs[ci][by, bx], preds[ci] = _jpeg_decode_block(
                    br, preds[ci], dc_luts[td], ac_luts[ta]
                )
    m = _jpeg_dct_matrix()
    planes = []
    for ci, (comp, _td, _ta) in enumerate(scan_comps):
        qt = qtables[comp["tq"]].reshape(64).astype(np.float64)
        deq = coeffs[ci].astype(np.float64) * qt[None, None, _JPEG_ZZ_FLAT]
        blocks = np.zeros((hb, wb, 64), np.float64)
        blocks[..., _JPEG_ZZ_FLAT] = deq
        px = m.T @ blocks.reshape(hb, wb, 8, 8) @ m + 128.0
        plane = (
            np.clip(np.round(px), 0, 255)
            .astype(np.uint8)
            .transpose(0, 2, 1, 3)
            .reshape(hb * 8, wb * 8)
        )
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        pixels = planes[0]
    else:
        pixels = ycbcr_to_rgb(np.stack(planes, axis=-1))
    return (pixels, coeffs) if return_coeffs else pixels


# ------------------------------------------------------------------- GIF ---
# GIF87a with REAL variable-width LZW, implemented from scratch (unlike the
# PNG codec, which leans on stdlib zlib for DEFLATE, the LZW entropy stage
# here is hand-rolled: dictionary growth 9->12 bits, clear/EOI codes,
# LSB-first bit packing, 255-byte sub-block framing).  Honest subset:
# single-frame, non-interlaced, 8-bit global color table; extension
# blocks, interlace, local color tables and animation raise
# NotImplementedError.


def encode_gif(indexed, palette) -> bytes:
    """Encode an HxW uint8 INDEX array + a 256x3 palette as a GIF87a byte
    stream: logical screen descriptor, global color table, image
    descriptor, and a real variable-width LZW-compressed index stream
    (min code size 8, dictionary 9->12 bits with clear-code resets,
    LSB-first bits, sub-block framing).  GIF is lossless for indexed
    content, so decode(encode(img)) round-trips bitwise."""
    import struct

    import numpy as np

    idx = np.asarray(indexed, np.uint8)
    pal = np.asarray(palette, np.uint8)
    if pal.shape != (256, 3):
        raise ValueError("encode_gif: palette must be 256x3")
    h, w = idx.shape
    out = bytearray(b"GIF87a")
    # logical screen: global color table, 8 bits/pixel, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    out.append(8)  # LZW minimum code size

    # --- LZW compress (variable width, MSB of stream = LSB-first bits) ---
    CLEAR, EOI = 256, 257
    acc = 0
    nbits = 0
    data = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # LSB-first: new bits above existing ones
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    seq = b""
    for b in idx.tobytes():
        cand = seq + bytes((b,))
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        # width grows when the NEXT code to be assigned no longer fits
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code - 1 == (1 << 12):
            emit(CLEAR, width)
            table = {bytes((i,)): i for i in range(256)}
            next_code, width = 258, 9
        seq = bytes((b,))
    if seq:
        emit(table[seq], width)
        # mirror the decoder's bookkeeping for the TAIL code too: the
        # decoder appends one dictionary entry for it and, if that append
        # fills the current width (table size reaches 2^width), bumps the
        # width BEFORE reading the next code — which is our EOI.  Without
        # this the EOI is written one bit short at exactly those
        # boundaries; LSB-first zero padding usually masks the misread,
        # but a byte-aligned stream end turns it into a truncation error
        # (code-review finding, round 8).
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
    emit(EOI, width)
    if nbits:
        data.append(acc & 0xFF)

    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code: int) -> bytes:
    """Variable-width LZW decompression: clear-code resets, deferred width
    growth 9->12 bits, KwKwK corner, LSB-first bit order."""
    CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
    acc = 0
    nbits = 0
    di = 0
    width = min_code + 1
    table: list[bytes] = [bytes((i,)) for i in range(1 << min_code)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal acc, nbits, di
        while nbits < width:
            if di >= len(data):
                raise ValueError("decode_gif: truncated LZW stream")
            acc |= data[di] << nbits
            di += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while True:
        code = read_code()
        if code == CLEAR:
            table = table[: (1 << min_code) + 2]
            width = min_code + 1
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= len(table):  # fuzz finding: first code after a
                raise ValueError("decode_gif: corrupt LZW code")  # clear
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("decode_gif: corrupt LZW code")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out)


def decode_gif(blob: bytes):
    """Decode a single-frame, non-interlaced GIF87a/89a stream with a
    global color table: screen/image descriptors and full variable-width
    LZW decompression (clear-code resets, deferred width growth,
    LSB-first bit order).  Returns {width, height, indexed, palette,
    pixels} with pixels the palette-mapped HxWx3 uint8 RGB array.
    Extension blocks, interlaced images, local color tables and a second
    image block (animation) raise NotImplementedError; damaged streams
    raise ValueError."""
    import struct

    import numpy as np

    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("decode_gif: not a GIF stream")
    if len(blob) < 13:  # fuzz finding (round 11): truncated LSD
        raise ValueError("decode_gif: truncated logical screen descriptor")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", blob, 6)
    pos = 13
    pal = None
    if flags & 0x80:
        gct_size = 2 << (flags & 0x07)
        pal = np.frombuffer(blob, np.uint8, gct_size * 3, pos).reshape(-1, 3)
        pos += gct_size * 3

    def next_block(what: str) -> int:
        if pos >= len(blob):
            raise ValueError(f"decode_gif: truncated {what}")
        if blob[pos] == 0x21:
            raise NotImplementedError("decode_gif: extension blocks unsupported")
        return blob[pos]

    b0 = next_block("before image data")
    if b0 == 0x3B:
        raise ValueError("decode_gif: no image block")
    if b0 != 0x2C:
        raise ValueError(f"decode_gif: unknown block 0x{b0:02X}")
    if pos + 10 > len(blob):  # fuzz finding (round 11)
        raise ValueError("decode_gif: truncated image descriptor")
    _left, _top, iw, ih, iflags = struct.unpack_from("<HHHHB", blob, pos + 1)
    pos += 10
    if iflags & 0xC0:
        raise NotImplementedError(
            "decode_gif: local color tables and interlaced images unsupported"
        )
    if pal is None:
        raise ValueError("decode_gif: no global color table")
    if pos >= len(blob):
        raise ValueError("decode_gif: truncated before LZW code size")
    min_code = blob[pos]
    if not 1 <= min_code <= 8:  # fuzz finding: 1<<min_code drives the
        # table allocation, so a wild byte here is a memory DoS
        raise ValueError(f"decode_gif: bad LZW minimum code size {min_code}")
    pos += 1
    data = bytearray()
    while True:
        if pos >= len(blob):
            raise ValueError("decode_gif: truncated image data")
        ln = blob[pos]
        if ln == 0:
            pos += 1
            break
        if pos + 1 + ln > len(blob):
            raise ValueError("decode_gif: truncated image data")
        data += blob[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    out = _gif_lzw_decode(bytes(data), min_code)
    if len(out) != iw * ih:
        raise ValueError("decode_gif: pixel count mismatch")
    idx = np.frombuffer(out, np.uint8).reshape(ih, iw)
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("decode_gif: palette index out of range")
    # honest-subset guard: a SECOND image block (or the graphics-control
    # extension real animations put between frames) must raise, not
    # silently return frame 1
    b0 = next_block("before trailer")
    if b0 == 0x2C:
        raise NotImplementedError("decode_gif: multi-frame GIFs unsupported")
    if b0 != 0x3B:
        raise ValueError(f"decode_gif: unknown block 0x{b0:02X}")
    return {
        "width": iw,
        "height": ih,
        "indexed": idx,
        "palette": pal,
        "pixels": pal[idx],
    }


# ------------------------------------------------------------- WAV/PCM ---


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """Encode PCM samples — shape (n,) mono or (n, ch) interleaved — as a
    canonical RIFF/WAVE byte stream (44-byte header + little-endian
    16-bit integer PCM, format 1); samples are cast to int16.  WAV is
    lossless, so unlike JPEG the round trip is bitwise for arbitrary
    int16 content."""
    import struct

    import numpy as np

    s = np.asarray(samples).astype(np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.reshape(-1).astype("<i2").tobytes()
    block_align = 2 * ch
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


#: IMA/DVI ADPCM tables (public spec: IMA Digital Audio Pack, also the
#: values in Microsoft's WAVE format 0x0011 documentation)
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_step(predictor: int, index: int, nibble: int):
    """One IMA ADPCM state transition (shared by encoder and decoder so
    both sides run the IDENTICAL integer arithmetic): reconstruct the
    difference from the 4-bit code at the current step size, update and
    clamp the predictor, then adapt the step index."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    predictor = predictor - diff if nibble & 8 else predictor + diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble]))
    return predictor, index


def encode_wav_adpcm(samples, sample_rate: int = 16000) -> bytes:
    """Encode int16 PCM — (n,) mono or (n, ch) — as a RIFF/WAVE IMA ADPCM
    stream (wFormatTag 0x0011, round 11; was the declared audio seam):
    4-bit codes at ~4:1 compression, block_align = 256*ch so every block
    carries 505 samples per channel (4-byte per-channel block header =
    predictor int16 + step index + reserved, then channel-interleaved
    4-byte nibble words, LOW nibble first).  A `fact` chunk records the
    true sample count so the decoder trims final-block padding exactly.
    ADPCM is lossy by design — the companion test asserts tracking error
    bounds, not identity."""
    import struct

    import numpy as np

    s = np.asarray(samples).astype(np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if n == 0:
        raise ValueError("encode_wav_adpcm: empty input")
    block_align = 256 * ch
    spb = (block_align - 4 * ch) * 2 // ch + 1  # samples per block: 505
    data = bytearray()
    for b0 in range(0, n, spb):
        blk = s[b0 : b0 + spb]
        if blk.shape[0] < spb:  # pad the final block with its last frame
            blk = np.vstack([blk, np.repeat(blk[-1:], spb - blk.shape[0], 0)])
        preds = [int(blk[0, c]) for c in range(ch)]
        # the header re-seeds predictor+index per block, so any index
        # choice is spec-valid; 0 keeps the stream deterministic and
        # self-contained (no cross-block encoder state)
        idxs = [0] * ch
        for c in range(ch):
            data += struct.pack("<hBB", preds[c], idxs[c], 0)
        nibbles = [[] for _ in range(ch)]
        for i in range(1, spb):
            for c in range(ch):
                sample = int(blk[i, c])
                step = _IMA_STEP_TABLE[idxs[c]]
                diff = sample - preds[c]
                code = 0
                if diff < 0:
                    code = 8
                    diff = -diff
                if diff >= step:
                    code |= 4
                    diff -= step
                if diff >= step >> 1:
                    code |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    code |= 1
                preds[c], idxs[c] = _ima_step(preds[c], idxs[c], code)
                nibbles[c].append(code)
        # (spb - 1) = 504 nibbles per channel = 63 4-byte words; channel
        # words interleave per spec: ch0 word, ch1 word, ...
        words = [
            [
                bytes(
                    (nibs[w * 8 + 2 * j] | (nibs[w * 8 + 2 * j + 1] << 4))
                    for j in range(4)
                )
                for w in range(len(nibs) // 8)
            ]
            for nibs in nibbles
        ]
        for w in range(len(words[0])):
            for c in range(ch):
                data += words[c][w]
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        ch,
        sample_rate,
        sample_rate * block_align // spb,  # avg bytes/sec (approximate)
        block_align,
        4,  # bits per (coded) sample
        2,  # cbSize
        spb,  # wSamplesPerBlock
    )
    fact = struct.pack("<I", n)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<I", len(fact))
        + fact
        + b"data"
        + struct.pack("<I", len(data))
        + bytes(data)
    )


def decode_wav(blob: bytes) -> dict:
    """Decode a RIFF/WAVE stream: chunk walk (unknown chunks like LIST are
    skipped per the RIFF spec, including odd-length padding); 16-bit
    integer PCM, IMA/DVI ADPCM (0x11), MS ADPCM (2) and G.711
    mu-law/A-law (7/6) decode for real (round 11).  Other PCM widths,
    IEEE-float PCM and formats beyond those (MP3-in-WAV, extensible
    sub-formats, ...) raise the honest NotImplementedError seam.  Returns
    {sample_rate, n_channels, n_samples, samples} with samples an (n, ch)
    int16 array."""
    import struct

    import numpy as np

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE stream")
    pos, fmt, data, fmt_raw, fact_n = 12, None, None, b"", None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", blob, pos + 4)
        if pos + 8 + ln > len(blob):
            raise ValueError("decode_wav: truncated chunk")
        if cid == b"fmt ":
            if ln < 16:  # review finding (round 11): a short fmt chunk
                # would read the NEXT chunk's bytes as format fields
                raise ValueError("decode_wav: short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", blob, pos + 8)
            fmt_raw = blob[pos + 8 : pos + 8 + ln]
        elif cid == b"fact" and ln >= 4:
            (fact_n,) = struct.unpack_from("<I", blob, pos + 8)
        elif cid == b"data":
            data = blob[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # RIFF pads odd chunks to even offsets
    if fmt is None or data is None:
        raise ValueError("decode_wav: missing fmt or data chunk")
    audio_fmt, ch, rate, _brate, _balign, bits = fmt
    if ch == 0:  # fuzz finding (round 11): 0 channels would divide by
        raise ValueError("decode_wav: zero channels")  # zero downstream
    if audio_fmt == 1:  # integer PCM
        if bits != 16:
            raise NotImplementedError(
                f"decode_wav: unsupported integer PCM width ({bits}-bit)"
            )
        s = np.frombuffer(data, "<i2")
    elif audio_fmt == 0x11:  # IMA/DVI ADPCM (round 11; was the seam)
        if bits != 4:
            raise ValueError(f"decode_wav: IMA ADPCM must be 4-bit, got {bits}")
        if len(fmt_raw) < 20:
            raise ValueError("decode_wav: IMA ADPCM fmt missing wSamplesPerBlock")
        (spb,) = struct.unpack_from("<H", fmt_raw, 18)
        block_align = _balign
        if block_align < 4 * ch or (block_align - 4 * ch) % (4 * ch):
            raise ValueError("decode_wav: bad IMA ADPCM block align")
        if spb != (block_align - 4 * ch) * 2 // ch + 1:
            raise ValueError("decode_wav: IMA ADPCM samples/block mismatch")
        if len(data) % block_align:
            raise ValueError("decode_wav: IMA ADPCM data not block-aligned")
        out_rows = []
        for boff in range(0, len(data), block_align):
            preds, idxs = [], []
            for c in range(ch):
                p, ix, _r = struct.unpack_from("<hBB", data, boff + 4 * c)
                if ix > 88:
                    raise ValueError("decode_wav: IMA ADPCM step index > 88")
                preds.append(p)
                idxs.append(ix)
            # header predictor IS sample 0 of the block
            block = [[preds[c]] for c in range(ch)]
            body = data[boff + 4 * ch : boff + block_align]
            # channel-interleaved 4-byte words, LOW nibble first
            n_words = len(body) // (4 * ch)
            for w in range(n_words):
                for c in range(ch):
                    word = body[(w * ch + c) * 4 : (w * ch + c) * 4 + 4]
                    for byte in word:
                        for nib in (byte & 0x0F, byte >> 4):
                            preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                            block[c].append(preds[c])
            for i in range(spb):
                out_rows.append([block[c][i] for c in range(ch)])
        s = np.asarray(out_rows, np.int16).reshape(-1)
        if fact_n is not None:
            s = s.reshape(-1, ch)[:fact_n].reshape(-1)
    elif audio_fmt == 0x02:  # MS ADPCM (round 11; the last audio seam)
        if bits != 4:
            raise ValueError(f"decode_wav: MS ADPCM must be 4-bit, got {bits}")
        if len(fmt_raw) < 22:
            raise ValueError("decode_wav: MS ADPCM fmt missing extension")
        (spb, ncoef) = struct.unpack_from("<HH", fmt_raw, 18)
        if len(fmt_raw) < 22 + 4 * ncoef or ncoef < 1:
            raise ValueError("decode_wav: MS ADPCM fmt missing coefficients")
        coefs = [
            struct.unpack_from("<hh", fmt_raw, 22 + 4 * i) for i in range(ncoef)
        ]
        block_align = _balign
        if block_align < 7 * ch or spb != (block_align - 7 * ch) * 2 // ch + 2:
            raise ValueError("decode_wav: MS ADPCM samples/block mismatch")
        if len(data) % block_align:
            raise ValueError("decode_wav: MS ADPCM data not block-aligned")
        out_rows = []
        for boff in range(0, len(data), block_align):
            preds = [data[boff + c] for c in range(ch)]
            if any(p >= ncoef for p in preds):
                raise ValueError("decode_wav: MS ADPCM predictor out of range")
            base = boff + ch
            deltas = [
                struct.unpack_from("<h", data, base + 2 * c)[0] for c in range(ch)
            ]
            s1 = [
                struct.unpack_from("<h", data, base + 2 * ch + 2 * c)[0]
                for c in range(ch)
            ]
            s2 = [
                struct.unpack_from("<h", data, base + 4 * ch + 2 * c)[0]
                for c in range(ch)
            ]
            block = [[s2[c], s1[c]] for c in range(ch)]
            nib_bytes = data[boff + 7 * ch : boff + block_align]
            cidx = 0
            for byte in nib_bytes:
                for nib in (byte >> 4, byte & 0x0F):  # HIGH nibble first
                    c = cidx % ch
                    c1, c2 = coefs[preds[c]]
                    new_s1, deltas[c] = _ms_step(
                        s1[c], s2[c], c1, c2, deltas[c], nib
                    )
                    s2[c], s1[c] = s1[c], new_s1
                    block[c].append(new_s1)
                    cidx += 1
            for i in range(spb):
                out_rows.append([block[c][i] for c in range(ch)])
        s = np.asarray(out_rows, np.int16).reshape(-1)
        if fact_n is not None:
            s = s.reshape(-1, ch)[:fact_n].reshape(-1)
    elif audio_fmt in (6, 7):  # G.711 A-law / mu-law (round 11)
        if bits != 8:
            raise ValueError(
                f"decode_wav: G.711 must be 8-bit, got {bits}"
            )
        codes = np.frombuffer(data, np.uint8)
        s = _alaw_expand(codes) if audio_fmt == 6 else _ulaw_expand(codes)
        if fact_n is not None:
            s = s.reshape(-1, ch)[:fact_n].reshape(-1)
    else:
        raise NotImplementedError(
            f"decode_wav: only 16-bit PCM (1), MS ADPCM (2), IMA ADPCM "
            f"(0x11), A-law (6) and mu-law (7) supported "
            f"(format {audio_fmt}, {bits}-bit)"
        )
    s = s.reshape(-1, ch)
    return {
        "sample_rate": rate,
        "n_channels": ch,
        "n_samples": s.shape[0],
        "samples": s,
    }


#: MS ADPCM (WAVE format 2) tables — public WAVE format documentation
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)
_MS_COEF1 = (256, 512, 0, 192, 240, 460, 392)
_MS_COEF2 = (0, -256, 0, 64, 0, -208, -232)


def _ms_step(s1: int, s2: int, c1: int, c2: int, delta: int, nibble: int):
    """One MS ADPCM state transition (shared by encoder and decoder):
    linear prediction from the two prior samples, signed-nibble error
    term scaled by the adaptive delta, then delta adaptation (floored at
    16 per spec)."""
    signed = nibble - 16 if nibble >= 8 else nibble
    pred = ((s1 * c1 + s2 * c2) >> 8) + signed * delta
    pred = max(-32768, min(32767, pred))
    delta = max(16, (_MS_ADAPT[nibble] * delta) >> 8)
    return pred, delta


def encode_wav_ms_adpcm(samples, sample_rate: int = 16000) -> bytes:
    """Encode int16 PCM — (n,) mono or (n, ch) — as a RIFF/WAVE MS ADPCM
    stream (wFormatTag 0x0002, round 11; the last declared audio seam):
    per block and channel a 7-byte header (coefficient-pair index,
    initial delta, the two seed samples) then 4-bit codes, HIGH nibble
    first, channels interleaved per nibble pair in stereo.  Coefficient
    pair 0 (256, 0) — plain previous-sample prediction — keeps the
    encoder deterministic; the fmt chunk carries the full spec extension
    (wSamplesPerBlock + wNumCoef + the 7 canonical coefficient pairs)
    and a `fact` chunk records the true sample count for final-block
    trimming.  Lossy by design; tests assert tracking bounds."""
    import struct

    import numpy as np

    s = np.asarray(samples).astype(np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if n == 0:
        raise ValueError("encode_wav_ms_adpcm: empty input")
    block_align = 256 * ch
    spb = (block_align - 7 * ch) * 2 // ch + 2
    data = bytearray()
    for b0 in range(0, n, spb):
        blk = s[b0 : b0 + spb]
        if blk.shape[0] < spb:
            blk = np.vstack([blk, np.repeat(blk[-1:], spb - blk.shape[0], 0)])
        c1, c2 = _MS_COEF1[0], _MS_COEF2[0]
        s2 = [int(blk[0, c]) for c in range(ch)]
        s1 = [int(blk[1, c]) for c in range(ch)]
        deltas = []
        for c in range(ch):
            # seed delta from the early-block error scale, floored at 16
            diffs = np.abs(np.diff(blk[: min(len(blk), 16), c].astype(np.int32)))
            deltas.append(max(16, int(diffs.mean() // 4) if len(diffs) else 16))
        for c in range(ch):
            data += struct.pack("<B", 0)  # bPredictor: pair 0
        for c in range(ch):
            data += struct.pack("<h", deltas[c])
        for c in range(ch):
            data += struct.pack("<h", s1[c])
        for c in range(ch):
            data += struct.pack("<h", s2[c])
        nibs = []
        for i in range(2, spb):
            for c in range(ch):
                sample = int(blk[i, c])
                pred_base = (s1[c] * c1 + s2[c] * c2) >> 8
                err = sample - pred_base
                code = int(round(err / deltas[c]))
                code = max(-8, min(7, code))
                nib = code + 16 if code < 0 else code
                new_s1, new_delta = _ms_step(s1[c], s2[c], c1, c2, deltas[c], nib)
                s2[c], s1[c], deltas[c] = s1[c], new_s1, new_delta
                nibs.append(nib)
        # (spb - 2) * ch = 498 * ch nibbles: always whole bytes
        for j in range(0, len(nibs), 2):
            data.append((nibs[j] << 4) | nibs[j + 1])  # HIGH nibble first
    coefs = b"".join(
        struct.pack("<hh", a, b) for a, b in zip(_MS_COEF1, _MS_COEF2)
    )
    fmt = (
        struct.pack(
            "<HHIIHHHHH",
            0x02,
            ch,
            sample_rate,
            sample_rate * block_align // spb,
            block_align,
            4,
            4 + len(coefs),  # cbSize
            spb,
            7,  # wNumCoef
        )
        + coefs
    )
    fact = struct.pack("<I", n)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<I", len(fact))
        + fact
        + b"data"
        + struct.pack("<I", len(data))
        + bytes(data)
    )


#: G.711 (round 11): 8-bit logarithmic companding, the telephony codec
#: WAVE carries as format tags 6 (A-law) and 7 (mu-law).  Both kernels
#: are the classic public-domain CCITT reference recurrences (Sun
#: g711.c lineage), vectorized: mu-law biases by 0x84 and encodes
#: sign/3-bit exponent/4-bit mantissa ones-complemented; A-law works in
#: the 13-bit domain with the 0x55 toggle.  Each decoded value is its
#: quantization cell's reconstruction point, so compress(expand(code))
#: == code for every code except mu-law 0x7F (negative zero: 0x7F and
#: 0xFF both decode to 0, which re-encodes to +0 = 0xFF — inherent to
#: the format, same in the CCITT reference) — the exhaustive test pins
#: that plus the full-int16-domain error ceilings (mu 644 at the clip,
#: A 512).

_G711_BIAS = 0x84


def _ulaw_compress(x) -> "np.ndarray":
    """int16 linear -> mu-law codes (uint8), vectorized."""
    import numpy as np

    x = np.asarray(x, np.int32)
    sign = (x < 0).astype(np.int32)
    mag = np.minimum(np.abs(x), 32635) + _G711_BIAS
    # mag in [132, 32767]: frexp exponent is exact for ints in float64
    exp = np.frexp(mag.astype(np.float64))[1].astype(np.int32) - 8
    mant = (mag >> (exp + 3)) & 0x0F
    return (~((sign << 7) | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def _ulaw_expand(codes) -> "np.ndarray":
    """mu-law codes (uint8) -> int16 linear, vectorized."""
    import numpy as np

    u = ~np.asarray(codes, np.uint8).astype(np.int32) & 0xFF
    mag = ((((u & 0x0F) << 3) + _G711_BIAS) << ((u >> 4) & 7)) - _G711_BIAS
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def _alaw_compress(x) -> "np.ndarray":
    """int16 linear -> A-law codes (uint8), vectorized."""
    import numpy as np

    x = np.asarray(x, np.int32)
    pcm = x >> 3  # 13-bit domain (arithmetic shift keeps the sign)
    mask = np.where(pcm >= 0, 0xD5, 0x55)
    pcm = np.where(pcm >= 0, pcm, -pcm - 1)
    pcm = np.minimum(pcm, 0x0FFF)
    # segment = how many of [0x1F,0x3F,...,0x7FF] the value exceeds
    exp = np.frexp(np.maximum(pcm, 0x1F).astype(np.float64))[1].astype(
        np.int32
    ) - 5  # 0 for <=0x1F .. 7 for <=0xFFF
    mant = np.where(exp < 2, (pcm >> 1) & 0x0F, (pcm >> exp) & 0x0F)
    return (((exp << 4) | mant) ^ mask).astype(np.uint8)


def _alaw_expand(codes) -> "np.ndarray":
    """A-law codes (uint8) -> int16 linear, vectorized."""
    import numpy as np

    a = np.asarray(codes, np.uint8).astype(np.int32) ^ 0x55
    mant = (a & 0x0F) << 4
    exp = (a >> 4) & 7
    t = np.where(
        exp == 0,
        mant + 8,
        (mant + 0x108) << np.maximum(exp - 1, 0),
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


def _encode_wav_g711(samples, sample_rate: int, law: str) -> bytes:
    """Shared G.711 WAV writer: compand int16 frames (mono (n,) or
    (n, ch)) to 8-bit codes and frame them as RIFF/WAVE with the spec's
    non-PCM fact chunk (wFormatTag 6 = A-law, 7 = mu-law, 8 bits,
    block align = n_channels, cbSize = 0 extension present as real
    telephony writers emit)."""
    import struct

    import numpy as np

    s = np.asarray(samples, np.int16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2 or s.shape[0] == 0:
        raise ValueError("encode_wav_g711: expected (n,) or (n, ch) int16")
    n, ch = s.shape
    tag, kern = (6, _alaw_compress) if law == "alaw" else (7, _ulaw_compress)
    codes = kern(s.reshape(-1)).tobytes()
    # RIFF word alignment (review finding, round 11): an odd data chunk
    # takes a pad byte NOT counted in its size field but counted in the
    # RIFF size — 8-bit G.711 is the one WAV form here that can be odd
    pad = b"\x00" if len(codes) & 1 else b""
    fmt = struct.pack(
        "<HHIIHHH", tag, ch, sample_rate, sample_rate * ch, ch, 8, 0
    )
    fact = struct.pack("<I", n)
    return (
        b"RIFF"
        + struct.pack(
            "<I",
            4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(codes) + len(pad),
        )
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<I", len(fact))
        + fact
        + b"data"
        + struct.pack("<I", len(codes))
        + codes
        + pad
    )


def encode_wav_ulaw(samples, sample_rate: int = 8000) -> bytes:
    """Encode int16 PCM as a G.711 mu-law RIFF/WAVE stream (format 7)."""
    return _encode_wav_g711(samples, sample_rate, "ulaw")


def encode_wav_alaw(samples, sample_rate: int = 8000) -> bytes:
    """Encode int16 PCM as a G.711 A-law RIFF/WAVE stream (format 6)."""
    return _encode_wav_g711(samples, sample_rate, "alaw")


#: 'MJPG' as the little-endian fourcc biCompression carries.
_MJPG_FOURCC = 0x47504A4D


def encode_avi(frames, fps: int = 10, codec: str = "DIB") -> bytes:
    """Encode (n, h, w, 3) uint8 RGB frames as a REAL AVI container
    (round 11; video was the one fully-stubbed modality): RIFF 'AVI '
    with the canonical hdrl (avih + one 'vids' strl), a movi LIST of
    frame chunks, and the idx1 index.  Two codecs:

    - ``codec="DIB"`` (default): handler 'DIB ' = uncompressed
      device-independent bitmaps — each '00db' chunk a bottom-up BGR
      DIB with 4-byte-padded rows, exactly BMP's pixel array.
    - ``codec="MJPG"`` (round 11): Motion-JPEG — each '00dc' chunk is
      a COMPLETE baseline JPEG from this container's own encoder
      (:func:`encode_jpeg`, 4:4:4 with tables in-stream, so any spec
      player decodes it), biCompression = 'MJPG'.  This closes the
      codec'd-video seam for the one codec whose per-frame entropy
      layer the container genuinely owns; inter-frame codecs
      (H.264/VP9/...) remain the declared seam in :func:`decode_avi`.

    Real players open both layouts."""
    import struct

    import numpy as np

    fr = np.asarray(frames, dtype=np.uint8)
    if fr.ndim != 4 or fr.shape[3] != 3 or fr.shape[0] == 0:
        raise ValueError("encode_avi: expected (n, h, w, 3) uint8 frames")
    if codec not in ("DIB", "MJPG"):
        raise ValueError(f"encode_avi: unsupported codec {codec!r}")
    if fps <= 0:
        raise ValueError("encode_avi: fps must be positive")
    n, h, w, _ = fr.shape
    stride = ((3 * w + 3) // 4) * 4
    pad = stride - 3 * w

    def dib(img):
        bgr = img[::-1, :, ::-1]  # bottom-up, BGR
        rows = bgr.reshape(h, 3 * w)
        if pad:
            rows = np.concatenate(
                [rows, np.zeros((h, pad), np.uint8)], axis=1
            )
        return rows.tobytes()

    if codec == "DIB":
        cid_frame, handler, compression = b"00db", b"DIB ", 0
        payloads = [dib(fr[i]) for i in range(n)]
    else:
        cid_frame, handler, compression = b"00dc", b"MJPG", _MJPG_FOURCC
        payloads = [encode_jpeg(fr[i]) for i in range(n)]
    frame_bytes = max(len(p) for p in payloads)

    def chunk(cid, data):
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) & 1))

    def lst(kind, payload):
        return b"LIST" + struct.pack("<I", 4 + len(payload)) + kind + payload

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # microseconds per frame
        frame_bytes * fps,  # max bytes/sec
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, frame_bytes,  # total frames, initial, streams, buf size
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids"
        + handler
        + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0, 0xFFFFFFFF, 0)
        + struct.pack("<hhhh", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, frame_bytes, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_payload = b""
    idx = b""
    for p in payloads:
        # idx1 offsets are relative to the 'movi' fourcc position
        idx += cid_frame + struct.pack("<III", 0x10, 4 + len(movi_payload), len(p))
        movi_payload += chunk(cid_frame, p)
    movi = lst(b"movi", movi_payload)
    body = hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def decode_avi(blob: bytes) -> dict:
    """Decode an uncompressed-DIB or Motion-JPEG AVI (the
    :func:`encode_avi` subsets, and any player-produced BI_RGB 24-bit
    or MJPG file whose frames carry their own tables): RIFF walk into
    hdrl (avih + first 'vids' stream's strh/strf) and movi
    ('00db'/'00dc' chunks, nested 'rec ' LISTs included).  DIB frames
    un-pack from the bottom-up padded BGR rows; MJPG frames (round 11)
    route through this container's own :func:`decode_jpeg` (every frame
    must be a color frame matching the avih geometry).  Grayscale MJPG
    frames and other compressed streams — an unknown handler or
    biCompression — raise the honest NotImplementedError (inter-frame
    codecs need libs this container does not ship); structural damage
    raises ValueError.  Returns {width, height, n_frames, fps, frames}
    with frames (n, h, w, 3) uint8."""
    import struct

    import numpy as np

    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("decode_avi: not a RIFF/AVI stream")
    w = h = None
    fps = None
    compression = handler = None
    frames_raw: list[bytes] = []

    # fccType of the most recent strh seen — a strl's strf belongs to
    # THAT stream, so an 'auds' strl listed before the video one must
    # not have its WAVEFORMAT blob parsed as a BITMAPINFOHEADER
    # (review finding, round 11)
    last_strh_type = None

    def walk(lo: int, hi: int, ctx: bytes) -> None:
        nonlocal w, h, fps, compression, handler, last_strh_type
        pos = lo
        while pos + 8 <= hi:
            cid = blob[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", blob, pos + 4)
            if pos + 8 + ln > hi:
                raise ValueError("decode_avi: truncated chunk")
            if cid == b"LIST":
                kind = blob[pos + 8 : pos + 12]
                walk(pos + 12, pos + 8 + ln, kind)
            elif cid == b"avih" and ln >= 40:
                usec, _mb, _pg, _fl, _tf, _if, _ns, _bs, aw, ah = (
                    struct.unpack_from("<IIIIIIIIII", blob, pos + 8)
                )
                w, h = aw, ah
                if usec:
                    fps = round(1_000_000 / usec)
            elif cid == b"strh":
                # fccType needs only 4 bytes — track it for ANY strh so
                # a short non-video strh can't leave a stale 'vids'
                # classification on its strl's strf (review finding);
                # a degenerate <4-byte strh CLEARS it for the same
                # reason (review finding, round 12)
                last_strh_type = blob[pos + 8 : pos + 12] if ln >= 4 else None
                if last_strh_type == b"vids" and ln >= 48 and handler is None:
                    handler = blob[pos + 12 : pos + 16]
            elif (
                cid == b"strf"
                and ctx == b"strl"
                and last_strh_type == b"vids"
                and ln >= 40
                and compression is None
            ):
                _sz, bw, bh, _pl, bits, comp = struct.unpack_from(
                    "<IiiHHI", blob, pos + 8
                )
                compression = comp
                if comp == 0 and bits != 24:
                    raise NotImplementedError(
                        f"decode_avi: only 24-bit DIB frames ({bits}-bit)"
                    )
            elif cid in (b"00db", b"00dc") and ctx in (b"movi", b"rec "):
                frames_raw.append(blob[pos + 8 : pos + 8 + ln])
            pos += 8 + ln + (ln & 1)

    walk(12, len(blob), b"AVI ")
    if w is None or h is None:
        raise ValueError("decode_avi: missing avih header")
    if handler == b"MJPG" or compression == _MJPG_FOURCC:
        out = []
        for raw in frames_raw:
            px = decode_jpeg(bytes(raw))
            if px.ndim == 2:
                raise NotImplementedError("decode_avi: grayscale MJPG frames")
            if px.shape[:2] != (h, w):
                raise ValueError(
                    f"decode_avi: MJPG frame geometry {px.shape[:2]} != "
                    f"avih ({h}, {w})"
                )
            out.append(px)
        return {
            "width": w,
            "height": h,
            "n_frames": len(out),
            "fps": fps,
            "frames": np.stack(out) if out else np.zeros((0, h, w, 3), np.uint8),
        }
    if handler not in (None, b"DIB ", b"\x00\x00\x00\x00") or (
        compression not in (None, 0)
    ):
        raise NotImplementedError(
            f"decode_avi: compressed video stream (handler={handler!r}, "
            f"biCompression={compression}) — inter-frame codec'd video "
            "needs libs this container does not ship"
        )
    stride = ((3 * w + 3) // 4) * 4
    out = []
    for raw in frames_raw:
        if len(raw) != stride * h:
            raise ValueError("decode_avi: frame size mismatch")
        rows = np.frombuffer(raw, np.uint8).reshape(h, stride)[:, : 3 * w]
        out.append(rows.reshape(h, w, 3)[::-1, :, ::-1])  # top-down, RGB
    return {
        "width": w,
        "height": h,
        "n_frames": len(out),
        "fps": fps,
        "frames": np.stack(out) if out else np.zeros((0, h, w, 3), np.uint8),
    }


def encode_tiff(img, compression: str = "none") -> bytes:
    """Encode an HxWx3 uint8 RGB array as a REAL baseline TIFF 6.0
    (round 11): little-endian header, one IFD with the 10 baseline tags
    a reader needs (ImageWidth/Length, BitsPerSample, Compression,
    Photometric, StripOffsets, SamplesPerPixel, RowsPerStrip,
    StripByteCounts, PlanarConfig=1 chunky), pixel data in a single
    strip.  ``compression``: "none" (1), "packbits" (32773, Apple RLE),
    "lzw" (5, the spec's MSB-first 9->12-bit variable width codes) or
    "deflate" (8, zlib).  Real viewers open these files."""
    import struct

    import numpy as np

    img = np.asarray(img, np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_tiff: expected HxWx3 RGB")
    h, w = img.shape[:2]
    if h == 0 or w == 0:  # decode_tiff rejects zero-area images too
        raise ValueError("encode_tiff: zero-area image")
    raw = img.tobytes()
    if compression == "none":
        comp_tag, data = 1, raw
    elif compression == "packbits":
        comp_tag, data = 32773, _packbits_encode(raw)
    elif compression == "lzw":
        comp_tag, data = 5, _tiff_lzw_encode(raw)
    elif compression == "deflate":
        import zlib

        comp_tag, data = 8, zlib.compress(raw, 6)
    else:
        raise ValueError(f"encode_tiff: unknown compression {compression!r}")
    n_tags = 10
    ifd_off = 8
    # BitsPerSample for RGB needs 3 SHORTs = 6 bytes -> stored off-IFD
    bps_off = ifd_off + 2 + 12 * n_tags + 4
    strip_off = bps_off + 6

    def tag(t, typ, cnt, val):
        return struct.pack("<HHI4s", t, typ, cnt, val)

    def short_v(v):
        return struct.pack("<HH", v, 0)

    def long_v(v):
        return struct.pack("<I", v)

    tags = b"".join(
        [
            tag(256, 4, 1, long_v(w)),
            tag(257, 4, 1, long_v(h)),
            tag(258, 3, 3, long_v(bps_off)),
            tag(259, 3, 1, short_v(comp_tag)),
            tag(262, 3, 1, short_v(2)),  # RGB
            tag(273, 4, 1, long_v(strip_off)),
            tag(277, 3, 1, short_v(3)),
            tag(278, 4, 1, long_v(h)),  # one strip holds every row
            tag(279, 4, 1, long_v(len(data))),
            tag(284, 3, 1, short_v(1)),  # chunky
        ]
    )
    out = (
        b"II*\x00" + struct.pack("<I", ifd_off)
        + struct.pack("<H", n_tags) + tags + struct.pack("<I", 0)
    )
    return out + struct.pack("<HHH", 8, 8, 8) + data


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """Apple PackBits (TIFF compression 32773, round 11): n in 0..127
    copies n+1 literal bytes, n in -127..-1 repeats the next byte 1-n
    times, -128 is a no-op.  Decodes exactly ``expect`` bytes or raises
    ValueError."""
    out = bytearray()
    i, n_data = 0, len(data)
    while i < n_data and len(out) < expect:
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n == -128:
            continue
        if n >= 0:
            if i + n + 1 > n_data:
                raise ValueError("packbits: truncated literal run")
            out += data[i : i + n + 1]
            i += n + 1
        else:
            if i >= n_data:
                raise ValueError("packbits: truncated repeat run")
            out += bytes([data[i]]) * (1 - n)
            i += 1
    if len(out) != expect:
        raise ValueError(
            f"packbits: decoded {len(out)} bytes, expected {expect}"
        )
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits encoder (for round-trip testing and strip writing):
    greedy — runs of >= 2 identical bytes become repeat packets (max
    128), everything else literal packets (max 128)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([(1 - run) & 0xFF, data[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 1 < n and data[i + 1] == data[i])
        ):
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expect: int) -> bytes:
    """TIFF LZW (compression 5, round 11): MSB-first variable-width
    codes 9->12 bits with ClearCode 256 / EOI 257; the code width
    bumps when the decoder's table reaches 511/1023/2047 entries (the
    libtiff decoder's `free_entp > maxcodep` rule).  The second
    hand-rolled LZW in this container; GIF's is LSB-first with a
    different change rule, so the two share nothing but the idea."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = nbits = 0
    prev = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # ClearCode
                reset()
                prev = None
                continue
            if code == 257:  # EndOfInformation
                if len(out) != expect:
                    raise ValueError(
                        f"tiff-lzw: decoded {len(out)} bytes, "
                        f"expected {expect}"
                    )
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("tiff-lzw: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("tiff-lzw: code out of range")
            if len(table) > 4095:  # writers must clear before this
                raise ValueError("tiff-lzw: table overflow without clear")
            out += entry
            prev = entry
            # early change: width grows when the NEXT code could
            # overflow, one entry before the table actually fills
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
            if len(out) > expect:
                raise ValueError("tiff-lzw: output exceeds strip size")
    raise ValueError("tiff-lzw: missing EndOfInformation")


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF LZW encoder — the exact inverse of :func:`_tiff_lzw_decode`.
    Code widths are driven by SIMULATING the decoder's table growth
    (its add for each emitted data code after a clear's first happens
    one code later than the encoder's own dictionary insert), so the
    two state machines can never disagree at a width boundary."""
    out = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def emit_data(code):
        # emit at the decoder's CURRENT width, then advance the
        # simulated decoder: every data code after the first since a
        # clear triggers one table add, and the decoder bumps its read
        # width when that table reaches 2^width - 1 entries
        nonlocal sim_size, width, first_since_clear
        emit(code)
        if first_since_clear:
            first_since_clear = False
        else:
            sim_size += 1
            if sim_size + 1 >= (1 << width) and width < 12:
                width += 1

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    sim_size = 258
    first_since_clear = True
    emit(256)  # spec: streams begin with a ClearCode
    cur = b""
    for b in data:
        cand = cur + bytes([b])
        if cand in table:
            cur = cand
            continue
        emit_data(table[cur])
        table[cand] = next_code
        next_code += 1
        if next_code >= 4094:  # table nearly full: reset per spec
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
            sim_size = 258
            first_since_clear = True
        cur = bytes([b])
    if cur:
        emit_data(table[cur])
    emit(257)  # EndOfInformation
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def decode_tiff(blob: bytes):
    """Decode a baseline little-endian TIFF 6.0 into an HxWx3 uint8 RGB
    array (round 11): 8-bit chunky RGB in any strip layout (RowsPerStrip
    + StripOffsets/ByteCounts), uncompressed or per-strip LZW (5) /
    PackBits (32773) / Deflate (8, legacy 32946) decompressed.
    Big-endian files, grayscale and other photometrics, planar
    configuration 2, tiled layouts, predictors, JPEG/CCITT compression
    and non-8-bit depths raise the honest NotImplementedError; structural
    damage raises ValueError."""
    import struct

    import numpy as np

    if blob[:4] == b"MM\x00*":
        raise NotImplementedError("decode_tiff: big-endian (MM) files")
    if blob[:4] != b"II*\x00":
        raise ValueError("decode_tiff: not a TIFF stream")
    if len(blob) < 8:
        raise ValueError("decode_tiff: truncated header")
    (ifd,) = struct.unpack_from("<I", blob, 4)
    if ifd + 2 > len(blob):
        raise ValueError("decode_tiff: truncated IFD")
    (n_tags,) = struct.unpack_from("<H", blob, ifd)
    if ifd + 2 + 12 * n_tags + 4 > len(blob):
        raise ValueError("decode_tiff: truncated IFD entries")

    type_size = {1: 1, 3: 2, 4: 4}

    def read_values(typ, cnt, raw_off):
        if typ not in type_size:
            raise NotImplementedError(f"decode_tiff: field type {typ}")
        if cnt == 0:  # fuzz finding: a zero-count field has no values
            raise ValueError("decode_tiff: empty field")
        total = type_size[typ] * cnt
        off = raw_off if total <= 4 else struct.unpack_from(
            "<I", blob, raw_off
        )[0]
        if off + total > len(blob):
            raise ValueError("decode_tiff: field data out of bounds")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        return list(struct.unpack_from("<" + str(cnt) + fmt, blob, off))

    fields = {}
    for i in range(n_tags):
        eoff = ifd + 2 + 12 * i
        t, typ, cnt = struct.unpack_from("<HHI", blob, eoff)
        fields[t] = (typ, cnt, eoff + 8)

    def get(t, default=None):
        if t not in fields:
            if default is not None:
                return default
            raise ValueError(f"decode_tiff: missing required tag {t}")
        typ, cnt, raw = fields[t]
        return read_values(typ, cnt, raw)

    w = get(256)[0]
    h = get(257)[0]
    comp = get(259, [1])[0]
    if comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"decode_tiff: only uncompressed (1), LZW (5), Deflate "
            f"(8/32946) and PackBits (32773) supported, got {comp}"
        )
    photo = get(262)[0]
    spp = get(277, [1])[0]
    planar = get(284, [1])[0]
    if planar == 2:
        raise NotImplementedError("decode_tiff: planar configuration 2")
    if planar != 1:
        raise ValueError(f"decode_tiff: bad planar configuration {planar}")
    bps = get(258, [8])
    if len(bps) not in (1, spp):  # structural damage, not a seam
        raise ValueError(
            f"decode_tiff: BitsPerSample count {len(bps)} != "
            f"SamplesPerPixel {spp}"
        )
    if any(b != 8 for b in bps):
        raise NotImplementedError(
            f"decode_tiff: only 8-bit samples supported ({bps})"
        )
    if photo != 2:
        raise NotImplementedError(f"decode_tiff: photometric {photo}")
    if spp != 3:
        raise ValueError(f"decode_tiff: photometric RGB with {spp} samples")
    if w <= 0 or h <= 0:
        raise ValueError("decode_tiff: bad dimensions")
    if w * h * spp > 1 << 30:
        # review finding: header-declared dimensions drive allocations,
        # so absurd headers must fail loudly, not as a multi-GiB
        # MemoryError
        raise ValueError(
            f"decode_tiff: declared image size {w}x{h}x{spp} exceeds "
            f"the 1 GiB decode ceiling"
        )
    pred = get(317, [1])[0]
    if pred != 1:
        raise NotImplementedError(f"decode_tiff: predictor {pred}")
    if 322 in fields or 324 in fields:
        raise NotImplementedError("decode_tiff: tiled layouts")

    def read_strip(o, c, expect):
        if o + c > len(blob):
            raise ValueError("decode_tiff: strip out of bounds")
        raw = blob[o : o + c]
        if comp == 1:  # review finding: short/oversized uncompressed
            # strips must fail structurally, not as a numpy reshape
            if len(raw) != expect:
                raise ValueError(
                    f"decode_tiff: strip {len(raw)} bytes, "
                    f"expected {expect}"
                )
        elif comp == 32773:
            raw = _packbits_decode(raw, expect)
        elif comp == 5:
            raw = _tiff_lzw_decode(raw, expect)
        else:  # Adobe/legacy Deflate (8/32946): zlib streams
            import zlib

            # review finding (round 12): decompress BOUNDED by the
            # strip's declared size — an unbounded zlib.decompress lets
            # a tiny crafted strip allocate far past the 1 GiB header
            # ceiling (a classic deflate bomb).  Asking for expect+1
            # bytes detects overflow without materializing it, and a
            # non-empty unconsumed tail is the same structural lie.
            d = zlib.decompressobj()
            try:
                raw = d.decompress(raw, expect + 1)
            except zlib.error as e:
                raise ValueError(f"decode_tiff: bad deflate strip ({e})")
            # interop concession (review finding, round 12): some writers
            # pad an odd-length strip to an even StripByteCount and count
            # the pad — libtiff inflates `expect` bytes and ignores the
            # tail, so a single zero byte after the stream is tolerated;
            # anything else after the stream is a structural lie
            pad_ok = d.unused_data in (b"", b"\x00")
            if len(raw) != expect or d.unconsumed_tail or not pad_ok:
                raise ValueError(
                    f"decode_tiff: deflate strip {len(raw)} bytes "
                    f"(tail={len(d.unconsumed_tail) + len(d.unused_data)}),"
                    f" expected {expect}"
                )
        return raw

    offs = get(273)
    counts = get(279)
    if len(offs) != len(counts):
        raise ValueError("decode_tiff: strip offset/count mismatch")
    rps = get(278, [h])[0]
    if rps <= 0:
        raise ValueError("decode_tiff: bad RowsPerStrip")
    chunks = []
    rows_left = h
    for o, c in zip(offs, counts):
        strip_rows = min(rps, rows_left)
        rows_left -= strip_rows
        chunks.append(read_strip(o, c, strip_rows * w * spp))
    data = b"".join(chunks)
    if len(data) != w * h * spp:
        raise ValueError("decode_tiff: pixel data size mismatch")
    # .copy(): frombuffer over bytes is read-only, and siblings
    # (decode_bmp/png) all return writable pixels
    return np.frombuffer(data, np.uint8).reshape(h, w, spp).copy()


def decode_real(blob: bytes) -> dict:
    """Real decode for the still-image formats the registered queries
    route through it — 24/32-bit BMP, 8/16-bit non-palette PNG and
    baseline RGB TIFF (uncompressed/LZW/PackBits/Deflate strips) —
    dispatched on magic bytes.  Every other stream raises the declared
    NotImplementedError seam; JPEG, GIF, WAV and AVI have their own
    decoders (:func:`decode_jpeg`, :func:`decode_gif`,
    :func:`decode_wav`, :func:`decode_avi`).  Returns {width, height,
    channels, pixels}; pixels is an HxWxC array (HxWx3 uint8 RGB for BMP
    and TIFF)."""
    if blob[:2] == b"BM":
        px = decode_bmp(blob)
    elif blob[:8] == _PNG_SIG:
        px = decode_png(blob)
    elif blob[:4] in (b"II*\x00", b"MM\x00*"):
        px = decode_tiff(blob)
    else:
        raise NotImplementedError(
            "decode_real: implemented for BMP (24/32-bit BI_RGB), PNG "
            "(8/16-bit, non-palette) and baseline RGB TIFF (uncompressed, "
            "LZW, PackBits, Deflate); JPEG, GIF, WAV and AVI decode via "
            "decode_jpeg, decode_gif, decode_wav and decode_avi"
        )
    return {
        "width": px.shape[1],
        "height": px.shape[0],
        "channels": px.shape[2],
        "pixels": px,
    }


def fake_decode_features(blobs: DataFrame) -> DataFrame:
    """Deterministic stand-in 'decode': per blob, emit byte length, first
    byte, and a mod-997 byte checksum.  Arrow batches in and out — the
    exact batch shape a real decoder UDF uses."""
    import numpy as np

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                arr = np.frombuffer(blob, dtype=np.uint8)
                feats.append(
                    (
                        int(doc_id),
                        int(arr.size),
                        int(arr[0]) if arr.size else -1,
                        int(arr.sum() % 997),
                    )
                )
            yield pd.DataFrame(
                feats, columns=["doc_id", "n_bytes", "first_byte", "checksum"]
            )

    return fanout(blobs.select("doc_id", "blob")).mapInPandas(per_batch, FEATURE_SCHEMA)


#: Plumbing contract of the resize stage: fixed-size feature payload + the
#: dimensions a real image resize would target; px_checksum (mod-997 byte
#: sum of the payload) makes the sampled bytes themselves oracle-checkable
#: without hashing raw binary across engines.
RESIZE_SCHEMA = "doc_id bigint, width int, height int, pixels binary, px_checksum bigint"

#: Plumbing contract of frame sampling: one row per sampled frame.
FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame binary"


def fake_resize(blobs: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Deterministic stand-in 'resize': map each blob to a fixed
    width*height byte payload by strided byte sampling (where PIL's
    `Image.resize` would run).  Exercises the real contract — fixed-shape
    binary out, Arrow batches, per-row independence."""
    import numpy as np

    n_out = width * height

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                arr = np.frombuffer(blob, dtype=np.uint8)
                if arr.size == 0:
                    out = np.zeros(n_out, dtype=np.uint8)
                else:
                    idx = (np.arange(n_out) * arr.size) // n_out
                    out = arr[idx]
                rows.append(
                    (int(doc_id), width, height, out.tobytes(), int(out.sum() % 997))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "pixels", "px_checksum"]
            )

    return fanout(blobs.select("doc_id", "blob")).mapInPandas(per_batch, RESIZE_SCHEMA)


def fake_frame_sample(
    blobs: DataFrame, frame_bytes: int = 16, every_nth: int = 4
) -> DataFrame:
    """Deterministic stand-in video 'frame sampler': treat the blob as
    consecutive `frame_bytes` frames, emit every `every_nth` one (1 row per
    sampled frame — the fan-OUT shape a real ffmpeg sampler has, so
    downstream per-frame operators see the true cardinality)."""

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = len(blob) // frame_bytes
                for i in range(0, n_frames, every_nth):
                    rows.append(
                        (int(doc_id), i, blob[i * frame_bytes : (i + 1) * frame_bytes])
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return fanout(blobs.select("doc_id", "blob")).mapInPandas(per_batch, FRAME_SCHEMA)
