"""Pure-numpy media codecs — REAL decoders for the formats that need none
of the absent libraries (PIL/ffmpeg/soundfile).

Upgrades the multimodal pipeline's ``codec="real"`` path from a stub to a
working decode for three genuine production formats whose specs are plain
struct layouts:

- **PPM** (P6 binary, P3 ASCII — Netpbm): header ``P6 <w> <h> <maxval>``
  then raw RGB bytes; the interchange format imaging tools emit.
- **BMP** (Windows bitmap, uncompressed 24-bit BI_RGB): 14-byte file
  header + BITMAPINFOHEADER; bottom-up rows padded to 4 bytes.
- **WAV** (RIFF PCM 16-bit): chunked RIFF layout; ``fmt `` + ``data``.
- **PNG** (non-interlaced, 8-bit depth; gray / RGB / palette / gray+alpha
  / RGBA): stdlib ``zlib`` inflate + the five scanline unfilters (None /
  Sub / Up / Average / Paeth, RFC 2083 §6) — Up/None vectorized, the
  byte-recurrent filters decoded per-row.
- **GIF** (87a/89a, first frame, global or local palette, interlaced or
  not): pure-Python LZW with variable code width and clear/EOI handling.

Matching minimal ENCODERS (``encode_png`` cycling all five filter types,
``encode_gif`` using the spec's clear-code-reset uncompressed LZW idiom)
exist so round-trip gates prove the decoders against spec-conformant
byte streams built from deterministic pixel arithmetic that a DuckDB
oracle reproduces without any codec.

**JPEG** (baseline sequential SOF0, 8-bit, grayscale or 4:4:4 YCbCr) is
now a real pure-numpy codec too — generic canonical-Huffman DHT handling,
zigzag/dequant/IDCT, deterministic rounding; progressive (SOF2), chroma
subsampling, and arithmetic coding still raise, as do MP3/MP4 (the
remaining genuinely library-bound boundaries).

Everything is deterministic byte→array arithmetic (no dithering, no color
management), so tests pin exact pixel/sample values, and the Arrow-batched
``mapInPandas`` wrappers in functions/multimodal.py inherit exactness.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

#: Decode-side pixel budget (≈8192×8192).  Crawled bytes are untrusted: a
#: header that CLAIMS huge dimensions (crafted or bit-flipped) must fail
#: fast with ValueError, not allocate tens of GB inside an executor — at
#: pipeline scale one decompression/allocation bomb per million documents
#: is a certainty, and the Arrow batch wrappers rely on decoders failing
#: per-document, not per-executor.
MAX_DECODE_PIXELS = 1 << 26


def _check_dims(h: int, w: int, fmt: str) -> None:
    if h < 0 or w < 0:
        raise ValueError(f"{fmt}: negative dimensions {h}x{w}")
    if h * w > MAX_DECODE_PIXELS:
        raise ValueError(
            f"{fmt}: {h}x{w} exceeds MAX_DECODE_PIXELS ({MAX_DECODE_PIXELS})"
        )


def _corrupt_guard(fn):
    """Decoder boundary contract: malformed/truncated input surfaces as the
    documented ValueError (or NotImplementedError for honest feature
    boundaries) — never as a raw IndexError / KeyError / struct.error /
    zlib.error from whatever slice or table lookup happened to fail first.
    Callers (the Arrow batch wrappers, the curation filters) branch on
    exactly these two types to drop a bad document and keep the batch."""

    @functools.wraps(fn)
    def wrapper(blob, *args, **kwargs):
        try:
            return fn(blob, *args, **kwargs)
        except (IndexError, KeyError, struct.error, zlib.error,
                OverflowError) as e:
            raise ValueError(
                f"corrupt stream for {fn.__name__}: {type(e).__name__}: {e}"
            ) from e

    return wrapper


def sniff_format(blob: bytes) -> str:
    """'ppm' | 'bmp' | 'wav' | 'jpeg' | 'png' | 'unknown'."""
    if blob is None or len(blob) < 4:
        return "unknown"
    if blob[:2] in (b"P6", b"P3"):
        return "ppm"
    if blob[:2] == b"BM":
        return "bmp"
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        return "wav"
    if blob[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return "unknown"


@_corrupt_guard
def decode_ppm(blob: bytes) -> np.ndarray:
    """(h, w, 3) uint8 array from a P6 (binary) or P3 (ASCII) PPM."""
    magic = blob[:2]
    if magic not in (b"P6", b"P3"):
        raise ValueError("not a PPM")
    # header tokens: magic, width, height, maxval — whitespace/comments
    tokens, i, n = [], 2, len(blob)
    while len(tokens) < 3 and i < n:
        c = blob[i:i + 1]
        if c == b"#":
            while i < n and blob[i:i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not blob[j:j + 1].isspace():
                j += 1
            tokens.append(int(blob[i:j]))
            i = j
    w, h, maxval = tokens
    _check_dims(h, w, "PPM")
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    if magic == b"P6":
        i += 1  # single whitespace after maxval
        px = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=i)
    else:
        px = np.array(blob[i:].split()[: w * h * 3], dtype=np.uint8)
    return px.reshape(h, w, 3)


@_corrupt_guard
def decode_bmp(blob: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB from an uncompressed 24-bit BI_RGB BMP
    (bottom-up or top-down; row stride padded to 4 bytes; BGR on disk)."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack("<I", blob[10:14])[0]
    w, h = struct.unpack("<ii", blob[18:26])
    bpp = struct.unpack("<H", blob[28:30])[0]
    compression = struct.unpack("<I", blob[30:34])[0]
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BI_RGB supported")
    bottom_up = h > 0
    h = abs(h)
    _check_dims(h, w, "BMP")
    stride = (w * 3 + 3) & ~3
    rows = []
    for r in range(h):
        off = data_off + r * stride
        row = np.frombuffer(blob, dtype=np.uint8, count=w * 3, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR -> RGB
    img = np.stack(rows)
    return img[::-1] if bottom_up else img


@_corrupt_guard
def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """(samples[int16, shape (n, channels)], sample_rate) from RIFF PCM16."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    i, n = 12, len(blob)
    fmt = None
    while i + 8 <= n:
        cid, size = blob[i:i + 4], struct.unpack("<I", blob[i + 4:i + 8])[0]
        body = blob[i + 8:i + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only PCM 16-bit supported")
            fmt = (channels, rate)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt")
            channels, rate = fmt
            samples = np.frombuffer(body, dtype="<i2")
            return samples.reshape(-1, channels), rate
        i += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("no data chunk")


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@_corrupt_guard
def decode_png(blob: bytes) -> np.ndarray:
    """(h, w, channels) uint8 from a non-interlaced 8-bit-depth PNG
    (color types 0/2/3/4/6; palette expanded to RGB).  Raises ValueError
    on interlaced or 16-bit images (out of contract)."""
    if blob[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, n = 8, len(blob)
    w = h = depth = color = interlace = None
    idat, plte = [], None
    while i + 8 <= n:
        size = struct.unpack(">I", blob[i:i + 4])[0]
        ctype = blob[i + 4:i + 8]
        body = blob[i + 8:i + 8 + size]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        i += 12 + size  # size + type + crc
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8:
        raise ValueError("only 8-bit-depth PNG supported")
    if interlace:
        raise ValueError("interlaced (Adam7) PNG not supported")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    ch = _PNG_CHANNELS[color]
    _check_dims(h, w, "PNG")
    stride = w * ch
    expected = h * (stride + 1)
    # bounded inflate: cap the decompressor at the geometry-implied raw
    # size so a crafted high-ratio IDAT (decompression bomb) fails at
    # expected+1 bytes instead of expanding to whatever it claims
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), expected + 1)
    # not d.eof: the stream stops before its Adler-32 trailer (truncated
    # IDAT), so the scanlines were never checksummed
    if len(raw) != expected or not d.eof or d.unconsumed_tail:
        raise ValueError("PNG scanline data size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = ch  # bytes per pixel at depth 8
    for r in range(h):
        ft = raw[r * (stride + 1)]
        row = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        prev = out[r - 1] if r else np.zeros(stride, dtype=np.uint8)
        if ft == 0:
            out[r] = np.frombuffer(bytes(row), dtype=np.uint8)
        elif ft == 2:  # Up — vectorized
            out[r] = (
                np.frombuffer(bytes(row), dtype=np.uint8).astype(np.int32)
                + prev
            ) % 256
        else:  # Sub / Average / Paeth — byte-recurrent
            cur = bytearray(stride)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                c = int(out[r - 1][x - bpp]) if (r and x >= bpp) else 0
                if ft == 1:
                    rec = a
                elif ft == 3:
                    rec = (a + b) // 2
                elif ft == 4:
                    rec = _paeth(a, b, c)
                else:
                    raise ValueError(f"unknown PNG filter {ft}")
                cur[x] = (row[x] + rec) & 0xFF
            out[r] = np.frombuffer(bytes(cur), dtype=np.uint8)
    img = out.reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        img = plte[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray, filter_cycle: bool = True) -> bytes:
    """Minimal spec-conformant PNG writer (8-bit gray/RGB/RGBA by channel
    count).  ``filter_cycle=True`` rotates scanline filters 0→4 per row so
    a round-trip exercises every unfilter path."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch
    lines = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        row = img[r].reshape(-1).astype(np.int32)
        ft = (r % 5) if filter_cycle else 0
        if ft == 0:
            enc = row
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = (row - left) % 256
        elif ft == 2:  # Up
            enc = (row - prev) % 256
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = (row - (left + prev) // 2) % 256
        else:  # Paeth
            enc = np.empty_like(row)
            for x in range(len(row)):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                enc[x] = (row[x] - _paeth(a, b, c)) % 256
        lines.append(bytes([ft]) + enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-flavor LZW (variable width, clear/EOI codes, LSB-first bits)."""
    if min_code_size > 8:
        # palette indices have at most 8 bits; a larger size would build a
        # 2**size-entry code table before reading a single code
        raise ValueError(f"GIF LZW minimum code size {min_code_size} exceeds 8")
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out: list[int] = []
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    code_size = min_code_size + 1
    prev: list[int] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = [[i] for i in range(clear)] + [[], []]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + [entry[0]])
            else:  # the KwKwK case
                entry = prev + [prev[0]]
                table.append(entry)
            out.extend(entry)
            if len(out) >= max_pixels:
                return out
            prev = list(entry)
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@_corrupt_guard
def decode_gif(blob: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB — the FIRST frame of a GIF87a/89a stream
    (global or local palette, interlaced or sequential rows)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, _bg, _aspect = struct.unpack("<HHBBB", blob[6:13])
    i = 13
    gpal = None
    if flags & 0x80:
        gsize = 2 << (flags & 0x07)
        gpal = np.frombuffer(
            blob, dtype=np.uint8, count=gsize * 3, offset=i
        ).reshape(-1, 3)
        i += gsize * 3
    while i < len(blob):
        b0 = blob[i]
        if b0 == 0x21:  # extension: label + sub-blocks
            i += 2
            while blob[i] != 0:
                i += 1 + blob[i]
            i += 1
        elif b0 == 0x2C:  # image descriptor
            _lx, _ty, iw, ih, iflags = struct.unpack("<HHHHB", blob[i + 1:i + 10])
            _check_dims(ih, iw, "GIF")
            i += 10
            pal = gpal
            if iflags & 0x80:
                lsize = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    blob, dtype=np.uint8, count=lsize * 3, offset=i
                ).reshape(-1, 3)
                i += lsize * 3
            if pal is None:
                raise ValueError("GIF image without a palette")
            min_code = blob[i]
            i += 1
            data = bytearray()
            while blob[i] != 0:
                size = blob[i]
                data += blob[i + 1:i + 1 + size]
                i += 1 + size
            i += 1
            idx = _lzw_decode(bytes(data), min_code, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("GIF pixel data truncated")
            arr = np.array(idx[: iw * ih], dtype=np.uint8).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: rows written in 4 passes
                ordered = np.empty_like(arr)
                src = 0
                for start, step in _GIF_INTERLACE_PASSES:
                    for r in range(start, ih, step):
                        ordered[r] = arr[src]
                        src += 1
                arr = ordered
            return pal[arr]
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    raise ValueError("GIF contains no image")


def encode_gif(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Minimal GIF89a writer: one frame of palette ``indices`` (h, w) over
    ``palette`` (p, 3).  Uses the spec's uncompressed-LZW idiom — a CLEAR
    code before every pixel code keeps the code width fixed at
    min_code_size+1 while remaining a fully conformant stream."""
    indices = np.ascontiguousarray(indices, dtype=np.uint8)
    h, w = indices.shape
    p = len(palette)
    bits = max(2, int(np.ceil(np.log2(max(p, 2)))))
    psize = 1 << bits
    pal = np.zeros((psize, 3), dtype=np.uint8)
    pal[:p] = palette
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    head += pal.tobytes()
    head += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = bits
    clear, eoi = 1 << bits, (1 << bits) + 1
    code_size = bits + 1
    acc = nbits = 0
    stream = bytearray()

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for v in indices.reshape(-1):
        emit(clear)
        emit(int(v))
    emit(eoi)
    if nbits:
        stream.append(acc & 0xFF)
    body = bytes([min_code])
    for off in range(0, len(stream), 255):
        blockb = bytes(stream[off:off + 255])
        body += bytes([len(blockb)]) + blockb
    return head + body + b"\x00\x3b"


# --------------------------------------------------------------------- JPEG
# Baseline sequential DCT (SOF0, ITU-T T.81) — the last library-bound
# boundary, now a real pure-numpy codec.  Scope (honest contract, like the
# PNG/GIF lanes): 8-bit baseline, grayscale or 3-component 4:4:4 YCbCr;
# progressive / subsampled / arithmetic-coded streams still raise.
#
# The encoder emits OUR OWN spec-legal canonical Huffman tables (all DC
# sizes at 4 bits, all 162 run/size AC symbols at 8 bits — counts fit the
# one-byte BITS fields and the all-ones code stays unused as T.81 requires)
# instead of transcribing the Annex K defaults; the decoder builds its
# tables generically from whatever DHT declares, so it reads Annex-K
# streams just the same.  Everything is float64 DCT arithmetic with a
# single deterministic np.round per stage, so tests pin decode(encode(x))
# BIT-EXACTLY against the codec-free pixel pipeline
# (level-shift -> DCT -> quant -> dequant -> IDCT -> clip).

def _zigzag() -> list[tuple[int, int]]:
    """The T.81 zigzag scan order, generated (not transcribed): diagonal
    s = row+col; odd diagonals walk row-increasing from (0,s), even ones
    row-decreasing from (s,0)."""
    out = []
    for s in range(15):
        idx = range(max(0, s - 7), min(s, 7) + 1)
        rows = idx if s % 2 == 1 else reversed(idx)
        out.extend((r, s - r) for r in rows)
    return out


_ZIGZAG = _zigzag()

_DCT_C = None


def _dct_mat() -> "np.ndarray":
    global _DCT_C
    if _DCT_C is None:
        x = np.arange(8)
        c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
        c[0, :] /= np.sqrt(2.0)
        _DCT_C = c
    return _DCT_C


def _fdct(block: "np.ndarray") -> "np.ndarray":
    c = _dct_mat()
    return c @ block @ c.T


def _idct(coef: "np.ndarray") -> "np.ndarray":
    c = _dct_mat()
    return c.T @ coef @ c


#: flat quality-1 table: with block-constant pixels the DC coefficient is
#: an exact integer and reconstruction is bit-exact — the gate fixture.
JPEG_QUANT_FLAT = [1] * 64

#: Annex-K-shaped (but much milder) test table exercising real rounding.
JPEG_QUANT_MILD = [1 + ((r + c) // 2) for r, c in
                   [(i // 8, i % 8) for i in range(64)]]


def _huff_spec_dc():
    # 12 size symbols, all 4-bit canonical codes (12 < 16: all-ones free)
    return [0, 0, 0, 12] + [0] * 12, list(range(12))


def _huff_spec_ac():
    # the 162 baseline run/size symbols, all 8-bit codes (162 < 256)
    vals = [0x00, 0xF0]
    vals += [(r << 4) | s for r in range(16) for s in range(1, 11)]
    vals.sort()
    return [0] * 7 + [162] + [0] * 8, vals


def _canonical_codes(bits, vals):
    """BITS/HUFFVAL -> {symbol: (code, length)} per T.81 C.2."""
    if len(vals) < sum(bits):
        raise ValueError("truncated DHT: fewer HUFFVAL symbols than BITS")
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        if code > (1 << ln):
            # canonical code space at length ln is [0, 2^ln); a BITS table
            # that exhausts it would assign overlapping codes downstream
            raise ValueError("over-subscribed Huffman BITS table")
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)
        return bytes(self.buf)


def _mag_bits(v: int) -> tuple[int, int]:
    """T.81 magnitude category: (size, amplitude bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    amp = v if v > 0 else v + (1 << size) - 1
    return size, amp


def encode_jpeg(img: "np.ndarray", quant=None) -> bytes:
    """Minimal baseline JPEG encoder: 8-bit grayscale (h, w) or RGB
    (h, w, 3) encoded 4:4:4 (no subsampling); dimensions NEED NOT be
    multiples of 8 (edge blocks replicate the last row/column, the
    standard practice).  ``quant`` is a 64-entry natural-order table
    (default JPEG_QUANT_FLAT: with block-constant inputs the round trip
    is bit-exact — the oracle fixture)."""
    q = np.array(quant if quant is not None else JPEG_QUANT_FLAT,
                 dtype=np.float64).reshape(8, 8)
    if not ((q >= 1) & (q <= 255)).all():
        # 0 divides by zero; >255 overflows the one-byte DQT field
        raise ValueError("quant table entries must be in [1, 255]")
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        comps = [img.astype(np.float64)]
    else:
        r = img[..., 0].astype(np.float64)
        g = img[..., 1].astype(np.float64)
        b = img[..., 2].astype(np.float64)
        y = np.round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)
        cr = np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
        comps = [np.clip(c, 0, 255) for c in (y, cb, cr)]

    dc_bits, dc_vals = _huff_spec_dc()
    ac_bits, ac_vals = _huff_spec_ac()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    preds = [0] * len(comps)
    bh, bwd = (h + 7) // 8, (w + 7) // 8
    for by in range(bh):
        for bx in range(bwd):
            for ci, plane in enumerate(comps):
                blk = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                if blk.shape != (8, 8):  # edge replicate
                    blk = np.pad(blk, ((0, 8 - blk.shape[0]),
                                       (0, 8 - blk.shape[1])), mode="edge")
                coef = np.round(_fdct(blk - 128.0) / q).astype(np.int64)
                dc = int(coef[0, 0])
                size, amp = _mag_bits(dc - preds[ci])
                preds[ci] = dc
                code, ln = dc_codes[size]
                bw.write(code, ln)
                if size:
                    bw.write(amp, size)
                zz = [int(coef[r, c]) for r, c in _ZIGZAG[1:]]
                run = 0
                last = max((i for i, v in enumerate(zz) if v), default=-1)
                for i, v in enumerate(zz):
                    if i > last:
                        break
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    size, amp = _mag_bits(v)
                    code, ln = ac_codes[(run << 4) | size]
                    bw.write(code, ln)
                    bw.write(amp, size)
                    run = 0
                if last < 62:
                    code, ln = ac_codes[0x00]
                    bw.write(code, ln)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qz = bytes([0]) + bytes(
        int(q[r, c]) for r, c in _ZIGZAG
    )
    out = b"\xff\xd8" + seg(0xDB, qz)
    nf = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, nf)
    for ci in range(nf):
        sof += bytes([ci + 1, 0x11, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    sos = bytes([nf])
    for ci in range(nf):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    return out + bw.flush() + b"\xff\xd9"


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG scan: bit reader ran past end")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG scan: dangling 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02x} in scan")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(br: "_BitReader", table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.bit()
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


@_corrupt_guard
def decode_jpeg(blob: bytes) -> "np.ndarray":
    """Baseline JPEG decoder (SOF0, 8-bit, Huffman): grayscale -> (h, w, 1)
    uint8 (the decode_png single-channel carrier convention),
    3-component 4:4:4 -> (h, w, 3) RGB uint8 (JFIF YCbCr inverse
    with deterministic rounding).  Progressive (SOF2), subsampled, or
    arithmetic-coded streams raise NotImplementedError — the same honest
    boundary convention as the other codecs."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    pos = 2
    quant: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    while pos < len(blob):
        if blob[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        ln = struct.unpack(">H", blob[pos:pos + 2])[0]
        body = blob[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                raw = body[i:i + n]
                i += n
                vals = (struct.unpack(f">{64}H", raw) if pq
                        else list(raw))
                t = np.zeros((8, 8))
                for v, (r, c) in zip(vals, _ZIGZAG):
                    t[r, c] = v
                quant[tq] = t
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = list(body[i + 17:i + 17 + nv])
                i += 17 + nv
                codes = _canonical_codes(bits, vals)
                huff[(tc, th)] = {(c, l): sym for sym, (c, l) in codes.items()}
        elif marker == 0xC0:
            prec, h, w, nf = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            _check_dims(h, w, "JPEG")
            comps = []
            for ci in range(nf):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                if samp != 0x11:
                    raise NotImplementedError(
                        "chroma subsampling needs PIL — only 4:4:4 here"
                    )
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline sequential (SOF0) is supported"
            )
        elif marker == 0xDD:
            # DRI: the scan reader has no restart-marker resync, so a
            # nonzero interval is an honest NotImplementedError boundary
            # (silently skipping it used to surface as a confusing
            # "unexpected marker 0xFFDx in scan" mid-decode)
            if struct.unpack(">H", body[:2])[0] != 0:
                raise NotImplementedError(
                    "restart intervals (DRI) are not supported"
                )
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = body[0]
            stabs = {}
            for si in range(ns):
                cid, tt = body[1 + 2 * si], body[2 + 2 * si]
                stabs[cid] = (tt >> 4, tt & 0x0F)
            h, w, comps = frame
            data = blob[pos:]
            bh, bwd = (h + 7) // 8, (w + 7) // 8
            # every 8x8 block of every component codes at least a DC size
            # and an EOB, one bit each: reject a short scan before the
            # planes (8 bytes per pixel and component) are allocated
            if 8 * len(data) < 2 * bh * bwd * len(comps):
                raise ValueError(
                    f"truncated JPEG scan: {len(data)} bytes for "
                    f"{bh * bwd * len(comps)} blocks"
                )
            br = _BitReader(data)
            planes = [np.zeros((bh * 8, bwd * 8)) for _ in comps]
            preds = [0] * len(comps)
            for by in range(bh):
                for bx in range(bwd):
                    for ci, (cid, tq) in enumerate(comps):
                        dct, act = stabs[cid]
                        size = _huff_decode(br, huff[(0, dct)])
                        diff = _extend(br.bits(size), size) if size else 0
                        preds[ci] += diff
                        coef = np.zeros((8, 8))
                        coef[0, 0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = _huff_decode(br, huff[(1, act)])
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            k += sym >> 4
                            if k > 63:
                                raise ValueError("AC run overflows block")
                            size = sym & 0x0F
                            r, c = _ZIGZAG[k]
                            coef[r, c] = _extend(br.bits(size), size)
                            k += 1
                        blk = np.round(
                            _idct(coef * quant[tq]) + 128.0
                        )
                        planes[ci][by * 8:by * 8 + 8,
                                   bx * 8:bx * 8 + 8] = blk
            planes = [np.clip(p[:h, :w], 0, 255) for p in planes]
            if len(planes) == 1:
                # (h, w, 1) — same single-channel carrier as decode_png
                return planes[0][..., None].astype(np.uint8)
            y, cb, cr = planes
            r = np.round(y + 1.402 * (cr - 128.0))
            g = np.round(y - 0.344136 * (cb - 128.0)
                         - 0.714136 * (cr - 128.0))
            b = np.round(y + 1.772 * (cb - 128.0))
            return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(
                np.uint8
            )
    raise ValueError("no SOS segment found")


def decode_image(blob: bytes) -> np.ndarray:
    """Dispatch: real decode for PPM/BMP/PNG/GIF/JPEG(baseline);
    actionable error for anything else."""
    kind = sniff_format(blob)
    if kind == "ppm":
        return decode_ppm(blob)
    if kind == "bmp":
        return decode_bmp(blob)
    if kind == "png":
        return decode_png(blob)
    if kind == "gif":
        return decode_gif(blob)
    if kind == "jpeg":
        return decode_jpeg(blob)
    raise NotImplementedError(
        f"decoding {kind!r} needs PIL.Image.open(io.BytesIO(blob)) — "
        "library not available in this container"
    )


def resize_nearest(img: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (floor index mapping — the
    cv2.INTER_NEAREST convention)."""
    h, w = img.shape[:2]
    ri = (np.arange(th) * h) // th
    ci = (np.arange(tw) * w) // tw
    return img[ri][:, ci]


def image_stats(img: np.ndarray) -> tuple:
    """(height, width, channels, per-channel means, per-channel stds)."""
    h, w, c = img.shape
    flat = img.reshape(-1, c).astype(np.float64)
    return (h, w, c, flat.mean(axis=0).tolist(), flat.std(axis=0).tolist())


def audio_stats(samples: np.ndarray, rate: int) -> tuple:
    """(n_samples, channels, sample_rate, duration_s, rms, peak)."""
    n, ch = samples.shape
    x = samples.astype(np.float64) / 32768.0
    rms = float(np.sqrt((x * x).mean())) if n else 0.0
    peak = float(np.abs(x).max()) if n else 0.0
    return (n, ch, rate, n / rate if rate else 0.0, rms, peak)
