"""Adversarial fuzz + property pass over the pure-numpy codecs.

Two contracts, both scale-motivated (crawled bytes are untrusted and the
Arrow batch wrappers drop bad documents by catching exactly these types):

1. **Error-type contract** — for ANY malformed input (truncation, byte
   flip, random garbage) a decoder either returns an array or raises
   ValueError / NotImplementedError.  Never a raw IndexError / KeyError /
   struct.error / zlib.error from whatever slice failed first
   (``codecs._corrupt_guard``).
2. **Bomb resistance** — headers that CLAIM huge output (dimension bombs,
   PNG zlib decompression bombs) fail fast with ValueError instead of
   allocating gigabytes inside an executor (``MAX_DECODE_PIXELS``,
   bounded IDAT inflate).

Plus hypothesis round-trip properties generalizing the fixed-fixture
round-trip tests to arbitrary shapes/values.
"""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from graphina_spark.functions.codecs import (
    MAX_DECODE_PIXELS,
    decode_gif,
    decode_image,
    decode_jpeg,
    decode_png,
    decode_wav,
    encode_gif,
    encode_jpeg,
    encode_png,
)

OK_ERRORS = (ValueError, NotImplementedError)


# --- self-contained valid-stream builders (mirror tests/test_codecs.py) ---

def _ppm(img):
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def _bmp(img):
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    data = bytearray()
    for r in range(h - 1, -1, -1):
        row = img[r][:, ::-1].tobytes()
        data += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + bytes(data)


def _wav(samples, rate=8000):
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _rng_img(seed, h, w, c):
    return np.random.RandomState(seed).randint(
        0, 256, size=(h, w, c)
    ).astype(np.uint8)


def _valid_streams():
    """One representative valid byte stream per image format + WAV."""
    img = _rng_img(7, 6, 5, 3)
    idx = np.random.RandomState(8).randint(0, 4, size=(5, 7)).astype(np.uint8)
    pal = _rng_img(9, 1, 4, 3).reshape(4, 3)
    return {
        "ppm": _ppm(img),
        "bmp": _bmp(img),
        "png": encode_png(img),
        "gif": encode_gif(idx, pal),
        "jpeg": encode_jpeg(_rng_img(10, 9, 11, 1).reshape(9, 11)),
    }


STREAMS = _valid_streams()
WAV_STREAM = _wav(
    np.random.RandomState(11).randint(-500, 500, size=(40, 2)).astype(np.int16)
)


# ------------------------- error-type contract -------------------------

@settings(max_examples=200, deadline=None)
@given(
    fmt=st.sampled_from(sorted(STREAMS)),
    cut=st.integers(0, 400),
)
def test_truncation_never_leaks_raw_errors(fmt, cut):
    blob = STREAMS[fmt]
    prefix = blob[: min(cut, len(blob) - 1)]
    try:
        out = decode_image(prefix)
        assert isinstance(out, np.ndarray)
    except OK_ERRORS:
        pass


@settings(max_examples=300, deadline=None)
@given(
    fmt=st.sampled_from(sorted(STREAMS)),
    pos=st.integers(0, 4000),
    val=st.integers(0, 255),
)
def test_byteflip_never_leaks_raw_errors(fmt, pos, val):
    blob = bytearray(STREAMS[fmt])
    blob[pos % len(blob)] = val
    try:
        out = decode_image(bytes(blob))
        assert isinstance(out, np.ndarray)
    except OK_ERRORS:
        pass


@settings(max_examples=150, deadline=None)
@given(pos=st.integers(0, 4000), val=st.integers(0, 255))
def test_wav_byteflip_contract(pos, val):
    blob = bytearray(WAV_STREAM)
    blob[pos % len(blob)] = val
    try:
        samples, rate = decode_wav(bytes(blob))
        assert samples.dtype == np.int16
    except OK_ERRORS:
        pass


@settings(max_examples=150, deadline=None)
@given(blob=st.binary(min_size=0, max_size=300))
def test_random_garbage_contract(blob):
    for fn in (decode_image, decode_wav):
        try:
            fn(blob)
        except OK_ERRORS:
            pass


# --------------------------- bomb resistance ---------------------------

def test_png_dimension_bomb_rejected():
    # IHDR claims 60000x60000 RGB (10.8 GB) with no real pixel data
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
        + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
    )
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_png(blob)


def test_png_zlib_bomb_bounded():
    # header claims 2x2 gray, but the IDAT inflates to 32 MB of zeros;
    # the bounded inflate must fail at expected+1 bytes, not expand it
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (32 << 20), 9)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
        + struct.pack(">I", len(bomb)) + b"IDAT" + bomb + b"\x00" * 4
        + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(blob)


def test_png_idat_without_checksum_rejected():
    # the IDAT inflates to exactly the 2x2 gray scanlines, but the zlib
    # stream stops before its Adler-32 trailer: never checksummed
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)

    def png(idat):
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
            + struct.pack(">I", len(idat)) + b"IDAT" + idat + b"\x00" * 4
            + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
        )

    idat = zlib.compress(b"\x00\x01\x02" * 2)
    assert decode_png(png(idat)).tolist() == [[[1], [2]], [[1], [2]]]
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(png(idat[:-4]))


def test_jpeg_dimension_bomb_rejected():
    # take a valid jpeg and rewrite the SOF0 dims to 65535x65535
    blob = bytearray(STREAMS["jpeg"])
    sof = bytes(blob).find(b"\xff\xc0")
    assert sof > 0
    struct.pack_into(">HH", blob, sof + 5, 65535, 65535)
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_jpeg(bytes(blob))


def test_gif_dimension_bomb_rejected():
    blob = bytearray(STREAMS["gif"])
    desc = bytes(blob).find(b"\x2c")
    struct.pack_into("<HH", blob, desc + 5, 60000, 60000)
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_gif(bytes(blob))


def test_gif_lzw_code_size_bomb_rejected():
    # the LZW minimum code size follows the 13-byte header, the 4-colour
    # global palette and the 10-byte image descriptor; a size above 8
    # used to build a 2**size-entry code table first (2**29 ran out of
    # memory), here 2**20 entries at most
    blob = bytearray(STREAMS["gif"])
    pos = 13 + 4 * 3 + 10
    assert blob[pos - 10] == 0x2C and blob[pos] == 2
    blob[pos] = 20
    with pytest.raises(ValueError, match="minimum code size"):
        decode_gif(bytes(blob))


def test_ppm_dimension_bomb_rejected():
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_image(b"P6\n99999 99999\n255\n" + b"\x00" * 16)


def test_bmp_dimension_bomb_rejected():
    blob = bytearray(_bmp(_rng_img(3, 4, 4, 3)))
    struct.pack_into("<ii", blob, 18, 99999, 99999)
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        decode_image(bytes(blob))


# ------------------------- round-trip properties -------------------------

@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    c=st.sampled_from([1, 2, 3, 4]),
)
def test_png_roundtrip_arbitrary(seed, h, w, c):
    img = _rng_img(seed, h, w, c)
    assert (decode_png(encode_png(img)) == img).all()


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    ncol=st.integers(2, 16),
)
def test_gif_roundtrip_arbitrary(seed, h, w, ncol):
    rs = np.random.RandomState(seed)
    idx = rs.randint(0, ncol, size=(h, w)).astype(np.uint8)
    pal = rs.randint(0, 256, size=(ncol, 3)).astype(np.uint8)
    assert (decode_gif(encode_gif(idx, pal)) == pal[idx]).all()


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    bh=st.integers(1, 3),
    bw=st.integers(1, 3),
    trim_h=st.integers(0, 7),
    trim_w=st.integers(0, 7),
)
def test_jpeg_block_constant_exact_arbitrary_dims(seed, bh, bw, trim_h, trim_w):
    """Block-constant inputs with the flat quant table round-trip
    bit-exactly at ANY dimensions (incl. non-multiples of 8, where the
    encoder replicates edge rows/cols — replication keeps edge blocks
    constant, so exactness must survive the trim)."""
    rs = np.random.RandomState(seed)
    blocks = rs.randint(0, 256, size=(bh, bw)).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    h = max(1, img.shape[0] - trim_h)
    w = max(1, img.shape[1] - trim_w)
    img = img[:h, :w]
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == (h, w, 1)
    assert (out[:, :, 0] == img).all()


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 64),
    ch=st.sampled_from([1, 2]),
)
def test_wav_roundtrip_arbitrary(seed, n, ch):
    samples = (
        np.random.RandomState(seed)
        .randint(-32768, 32768, size=(n, ch))
        .astype(np.int16)
    )
    out, rate = decode_wav(_wav(samples))
    assert rate == 8000
    assert (out == samples).all()


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), h=st.integers(1, 20), w=st.integers(1, 20))
def test_ppm_bmp_roundtrip_arbitrary(seed, h, w):
    img = _rng_img(seed, h, w, 3)
    assert (decode_image(_ppm(img)) == img).all()
    assert (decode_image(_bmp(img)) == img).all()


def test_cap_is_sane():
    # 4K video frames and 8K stills decode; beyond that is out of contract
    assert 3840 * 2160 < MAX_DECODE_PIXELS
    assert 8192 * 8192 == MAX_DECODE_PIXELS


# ----------------- end-to-end: bad blobs inside an Arrow batch -----------------

def test_killer_blobs_do_not_kill_the_batch(spark):
    """The exact pre-guard executor-killers, through the real Spark batch
    path: a truncated JPEG ending in a lone 0xFF leaked IndexError past
    the wrapper's (ValueError, NotImplementedError) catch and killed every
    document in the batch; a bit-flipped SOF0 claiming 65535x65535 tried a
    multi-GB allocation.  Both must land as ok=false rows while the valid
    neighbors decode."""
    from graphina_spark.functions.multimodal import real_image_features

    good = _rng_img(21, 4, 5, 3)
    jp = STREAMS["jpeg"]
    # lone trailing 0xFF right where a marker is expected
    truncated = jp[: jp.find(b"\xff\xda")] + b"\xff"
    bomb = bytearray(jp)
    sof = bytes(bomb).find(b"\xff\xc0")
    struct.pack_into(">HH", bomb, sof + 5, 65535, 65535)
    rows = [
        (1, bytearray(encode_png(good))),
        (2, bytearray(truncated)),
        (3, bytearray(bytes(bomb))),
        (4, bytearray(_ppm(good))),
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r["media_id"]: r for r in real_image_features(df).collect()}
    assert got[1]["ok"] and got[4]["ok"]
    assert not got[2]["ok"] and got[2]["err"] != ""
    assert not got[3]["ok"] and "MAX_DECODE_PIXELS" in got[3]["err"]
