"""Pure-numpy media codecs (functions/codecs.py) + the real-decode
mapInPandas wrappers (functions/multimodal.py)."""

import struct
import tracemalloc

import numpy as np
import pytest

from graphina_spark.functions.codecs import (
    audio_stats,
    decode_bmp,
    decode_jpeg,
    decode_ppm,
    decode_wav,
    encode_jpeg,
    image_stats,
    resize_nearest,
    sniff_format,
)


def make_ppm_p6(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + img.tobytes()


def make_ppm_p3(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    body = " ".join(str(int(x)) for x in img.reshape(-1))
    return (f"P3\n{w} {h}\n255\n{body}\n").encode()


def make_bmp(img: np.ndarray) -> bytes:
    """Uncompressed 24-bit bottom-up BI_RGB BMP of an (h, w, 3) RGB array."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    data = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = img[r][:, ::-1].tobytes()  # RGB -> BGR
        data += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + bytes(data)


def make_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


IMG = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)


def test_jpeg_short_scan_rejected_before_allocating():
    """An 8000x8000 three-component frame needs at least 2 bits per 8x8
    block of each component (a DC size code and an EOB), 750 kB of scan:
    a few scan bytes are rejected before ~1.5 GB of float64 planes are
    allocated."""
    blob = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    i = bytes(blob).find(b"\xff\xc0")
    assert i > 0 and blob[i + 9] == 3  # SOF0 with three components
    blob[i + 5:i + 9] = struct.pack(">HH", 8000, 8000)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="truncated JPEG scan"):
            decode_jpeg(bytes(blob))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


def test_ppm_roundtrip_exact():
    assert (decode_ppm(make_ppm_p6(IMG)) == IMG).all()
    assert (decode_ppm(make_ppm_p3(IMG)) == IMG).all()


def test_bmp_roundtrip_exact():
    assert (decode_bmp(make_bmp(IMG)) == IMG).all()
    # odd width exercises the 4-byte row padding
    odd = np.arange(2 * 5 * 3, dtype=np.uint8).reshape(2, 5, 3)
    assert (decode_bmp(make_bmp(odd)) == odd).all()


def test_wav_roundtrip_and_stats():
    s = np.array([[0, 100], [200, -300], [32767, -32768]], dtype=np.int16)
    samples, rate = decode_wav(make_wav(s, rate=16000))
    assert rate == 16000 and (samples == s).all()
    n, ch, r, dur, rms, peak = audio_stats(samples, rate)
    assert (n, ch, r) == (3, 2, 16000)
    assert dur == pytest.approx(3 / 16000)
    assert peak == pytest.approx(1.0)


def test_sniff_and_unsupported():
    assert sniff_format(make_ppm_p6(IMG)) == "ppm"
    assert sniff_format(make_bmp(IMG)) == "bmp"
    assert sniff_format(make_wav(np.zeros((1, 1), np.int16))) == "wav"
    assert sniff_format(b"\xff\xd8\xff\xe0junk") == "jpeg"
    from graphina_spark.functions.codecs import decode_image

    # jpeg now really decodes (tests/test_jpeg.py); a garbage stream with a
    # jpeg magic is a parse error, not a library boundary
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0junk")
    # genuinely unknown formats keep the actionable library-boundary error
    with pytest.raises(NotImplementedError):
        decode_image(b"junkjunkjunk")


def test_resize_nearest_exact():
    img = np.array([[[0] * 3, [10] * 3], [[20] * 3, [30] * 3]], dtype=np.uint8)
    up = resize_nearest(img, 4, 4)
    assert up.shape == (4, 4, 3)
    assert (up[0, 0] == 0).all() and (up[3, 3] == 30).all()
    assert (resize_nearest(up, 2, 2) == img).all()


def test_real_image_features_spark(spark):
    from graphina_spark.functions.multimodal import real_image_features

    blobs = [
        (1, bytearray(make_ppm_p6(IMG))),
        (2, bytearray(make_bmp(IMG))),
        (3, bytearray(b"\xff\xd8\xff\xe0jpegjunk")),
    ]
    df = spark.createDataFrame(blobs, "media_id long, blob binary")
    got = {r["media_id"]: r for r in real_image_features(df).collect()}
    h, w, c, means, stds = image_stats(IMG)
    for mid in (1, 2):
        r = got[mid]
        assert r["ok"] and (r["height"], r["width"], r["channels"]) == (2, 3, 3)
        assert r["mean_r"] == pytest.approx(means[0])
        assert r["std_b"] == pytest.approx(stds[2])
    # malformed jpeg: decoded path now raises a parse error that lands as
    # ok=false with the message (batch survives, as before)
    assert not got[3]["ok"] and got[3]["err"] != ""
    assert got[3]["format"] == "jpeg"


def test_real_audio_features_spark(spark):
    from graphina_spark.functions.multimodal import real_audio_features

    s = np.array([[1000], [-1000], [500], [0]], dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(make_wav(s, 8000))), (2, bytearray(b"nonsense"))],
        "media_id long, blob binary",
    )
    got = {r["media_id"]: r for r in real_audio_features(df).collect()}
    assert got[1]["ok"] and got[1]["n_samples"] == 4
    assert got[1]["duration_s"] == pytest.approx(4 / 8000)
    assert not got[2]["ok"]


def test_png_roundtrip_all_channel_counts():
    from graphina_spark.functions.codecs import decode_png, encode_png

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):  # gray, gray+alpha, RGB, RGBA
        img = rng.randint(0, 256, (11, 7, ch), dtype=np.uint8)
        blob = encode_png(img)  # filter cycle: rows hit filters 0..4
        assert sniff_format(blob) == "png"
        out = decode_png(blob)
        assert out.shape == (11, 7, ch) and (out == img).all()


def test_png_palette_decode():
    from graphina_spark.functions.codecs import decode_png

    # hand-built color-type-3 PNG: 2x2 indices over a 3-entry palette,
    # constructed with raw struct packing (independent of encode_png)
    import zlib

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = b"\x00\x00\x01" + b"\x00\x02\x01"  # filter 0 rows: [0,1], [2,1]
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", plte) + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    out = decode_png(blob)
    assert out.shape == (2, 2, 3)
    assert (out[0, 0] == [255, 0, 0]).all() and (out[0, 1] == [0, 255, 0]).all()
    assert (out[1, 0] == [0, 0, 255]).all() and (out[1, 1] == [0, 255, 0]).all()


def test_png_rejects_out_of_contract():
    from graphina_spark.functions.codecs import decode_png, encode_png

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    blob = bytearray(encode_png(img))
    # flip the IHDR depth byte (offset 8+8+8 = 24) to 16
    blob[24] = 16
    with pytest.raises(ValueError, match="8-bit"):
        decode_png(bytes(blob))
    blob = bytearray(encode_png(img))
    blob[28] = 1  # interlace flag on
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(bytes(blob))


def test_gif_roundtrip_and_interlace():
    from graphina_spark.functions.codecs import decode_gif, encode_gif

    rng = np.random.RandomState(3)
    idx = rng.randint(0, 16, (9, 13), dtype=np.uint8)
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    blob = encode_gif(idx, pal)
    assert sniff_format(blob) == "gif"
    assert (decode_gif(blob) == pal[idx]).all()

    # interlaced variant: store rows in Adam-style GIF pass order and set
    # the descriptor interlace bit; decode must restore sequential order
    passes = [r for s, t in ((0, 8), (4, 8), (2, 4), (1, 2))
              for r in range(s, 9, t)]
    blob2 = bytearray(encode_gif(idx[passes], pal))
    bits = max(2, int(np.ceil(np.log2(16))))
    flag_off = 13 + (1 << bits) * 3 + 9  # header+palette+descriptor flags
    blob2[flag_off] |= 0x40
    assert (decode_gif(bytes(blob2)) == pal[idx]).all()


def test_gif_truncated_raises():
    from graphina_spark.functions.codecs import decode_gif, encode_gif

    idx = np.zeros((4, 4), dtype=np.uint8)
    pal = np.zeros((4, 3), dtype=np.uint8)
    blob = encode_gif(idx, pal)
    with pytest.raises(ValueError):
        decode_gif(blob[:20])


def test_real_image_features_decodes_png_and_gif(spark):
    from graphina_spark.functions.codecs import encode_gif, encode_png
    from graphina_spark.functions.multimodal import real_image_features

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (6, 4, 3), dtype=np.uint8)
    idx = rng.randint(0, 8, (5, 5), dtype=np.uint8)
    pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(img))), (2, bytearray(encode_gif(idx, pal)))],
        "media_id long, blob binary",
    )
    got = {r["media_id"]: r for r in real_image_features(df).collect()}
    assert got[1]["ok"] and got[1]["format"] == "png"
    assert got[1]["mean_r"] == pytest.approx(img[:, :, 0].mean())
    assert got[2]["ok"] and got[2]["format"] == "gif"
    assert got[2]["mean_b"] == pytest.approx(pal[idx][:, :, 2].mean())
