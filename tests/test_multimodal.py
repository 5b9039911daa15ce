"""Multimodal binary-column plumbing: sniffing, pixel/PCM decode, stubs."""

import struct as _S

import pytest
from pyspark.sql import functions as F

from langid_mr_spark import multimodal as MM

PAYLOADS = [
    (0, bytes.fromhex("89504e470d0a1a0a") + b"rest-of-png"),
    (1, bytes.fromhex("ffd8ffe0") + b"jpeg-body"),
    (2, bytes.fromhex("47494638") + b"gif-body"),
    (3, b"<html><body>x</body></html>"),
    (4, b"\x00\x01\x02 arbitrary"),
    (5, None),
]
WANT = {0: "png", 1: "jpeg", 2: "gif", 3: "html", 4: "unknown", 5: None}


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(PAYLOADS, "id long, payload binary")


def test_sniff_format(frame):
    got = {r["id"]: r["kind"] for r in frame.select(
        "id", MM.sniff_format(F.col("payload")).alias("kind")).collect()}
    assert got == WANT


def test_metadata_sizes(frame):
    got = {r["id"]: r["meta"]["size_bytes"]
           for r in MM.with_metadata(frame).collect()}
    for i, payload in PAYLOADS:
        assert got[i] == (len(payload) if payload is not None else None)


# --- real pixel decode (golden bytes) ---------------------------------------

def _encode_png(pixels, w, h, nch, filters):
    """Minimal PNG encoder for golden-byte tests: applies the given filter
    per scanline (forward transform of RFC 2083 §6) so decode exercises
    every unfilter path."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    stride = w * nch
    raw = bytearray()
    prev = bytes(stride)
    for row in range(h):
        cur = pixels[row * stride:(row + 1) * stride]
        f = filters[row % len(filters)]
        raw.append(f)
        for i in range(stride):
            a = cur[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if f == 0:
                v = cur[i]
            elif f == 1:
                v = (cur[i] - a) & 0xFF
            elif f == 2:
                v = (cur[i] - b) & 0xFF
            elif f == 3:
                v = (cur[i] - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (cur[i] - pr) & 0xFF
            raw.append(v)
        prev = cur

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def _encode_bmp(pixels_rgb, w, h):
    """Bottom-up 24-bit BMP with 4-byte row alignment."""
    import struct

    rowsz = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(w):
            rgb = pixels_rgb[(r * w + x) * 3:(r * w + x) * 3 + 3]
            row += bytes((rgb[2], rgb[1], rgb[0]))  # BGR
        row += b"\x00" * (rowsz - len(row))
        body += row
    off = 54
    hdr = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                         2835, 2835, 0, 0))
    return bytes(hdr + body)


def _test_pixels(w, h, nch):
    return bytes(((x * 7 + y * 13 + c * 29) & 0xFF)
                 for y in range(h) for x in range(w) for c in range(nch))


def test_png_decode_all_filters_golden():
    w, h, nch = 5, 10, 3
    px = _test_pixels(w, h, nch)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        gw, gh, gc, got = MM.decode_pixels(
            _encode_png(px, w, h, nch, filters))
        assert (gw, gh, gc) == (w, h, nch)
        assert got == px, f"filters {filters}"
    # grayscale / RGBA channel counts
    for nch2 in (1, 2, 4):
        px2 = _test_pixels(4, 3, nch2)
        assert MM.decode_pixels(
            _encode_png(px2, 4, 3, nch2, [4]))[3] == px2


def test_png_palette_expansion():
    import struct
    import zlib

    # 2×2 paletted image: indices 0..3 → palette entries
    plte = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))
    raw = bytes((0, 0, 1, 0, 2, 3))  # filter0 rows: [0,1], [2,3]

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
               + chunk(b"PLTE", plte)
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    w, h, c, px = MM.decode_pixels(payload)
    assert (w, h, c) == (2, 2, 3)
    assert px == bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))


def test_bmp_and_ppm_decode_golden():
    w, h = 3, 2
    px = _test_pixels(w, h, 3)
    assert MM.decode_pixels(_encode_bmp(px, w, h)) == (w, h, 3, px)
    ppm = b"P6\n" + f"{w} {h}\n255\n".encode() + px
    assert MM.decode_pixels(ppm) == (w, h, 3, px)


def test_decode_image_dataframe_mixed(spark):
    """Real decodes, codec-bound stubs, and poison rows all land as ROWS."""
    px = _test_pixels(4, 4, 3)
    rows = [
        (0, _encode_png(px, 4, 4, 3, [0, 1, 2, 4])),
        (1, _encode_bmp(px, 4, 4)),
        (2, b"P6\n4 4\n255\n" + px),
        (3, bytes.fromhex("ffd8ffe0") + b"jpeg-body"),   # codec-bound
        (4, b"\x89PNG\r\n\x1a\ntruncated"),              # poison
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in MM.decode_image(df).collect()}
    for i in (0, 1, 2):
        assert (got[i]["width"], got[i]["height"], got[i]["channels"]) \
            == (4, 4, 3)
        assert bytes(got[i]["pixels"]) == px
        assert got[i]["decode_error"] is None
    assert "NotImplementedError" in got[3]["decode_error"]
    assert got[4]["pixels"] is None and got[4]["decode_error"]
    assert got[5]["decode_error"] is not None
    assert len(got) == 6  # no dead tasks


# --- GIF pixel decode (real LZW) ---------------------------------------------

def _lzw_encode(indices, min_code):
    """Reference GIF-LZW compressor for golden-byte tests (greedy longest
    match, giflib code-width growth rule)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    size = min_code + 1
    next_code = eoi + 1
    table = {bytes([i]): i for i in range(1 << min_code)}
    codes = [(clear, size)]

    def bump():
        nonlocal size, next_code
        next_code += 1
        if next_code > (1 << size) and size < 12:
            size += 1

    s = b""
    for c in indices:
        sc = s + bytes([c])
        if sc in table:
            s = sc
            continue
        codes.append((table[s], size))
        table[sc] = next_code
        bump()
        s = bytes([c])
    if s:
        codes.append((table[s], size))
        bump()
    codes.append((eoi, size))
    acc = n = 0
    out = bytearray()
    for code, sz in codes:
        acc |= code << n
        n += sz
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _interlace_order(h):
    return ([*range(0, h, 8)] + [*range(4, h, 8)]
            + [*range(2, h, 4)] + [*range(1, h, 2)])


def _encode_gif(indices, w, h, palette, min_code=2, interlace=False,
                with_extension=False):
    out = bytearray(b"GIF89a" if with_extension else b"GIF87a")
    out += _S.pack("<HHBBB", w, h, 0x80 | (min_code - 1), 0, 0)
    out += palette
    if with_extension:  # graphic control ext — must be skipped by decoder
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    if interlace:  # rows stored in 4-pass order
        rows = [indices[r * w:(r + 1) * w] for r in range(h)]
        indices = b"".join(bytes(rows[dst]) for dst in _interlace_order(h))
    out += b"\x2c" + _S.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    out += bytes([min_code])
    data = _lzw_encode(bytes(indices), min_code)
    for i in range(0, len(data), 255):
        blk = data[i:i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


_GIF_PALETTE = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 40, 50, 60))


def _gif_indices(w, h):
    # varied pattern → dictionary growth through several code widths
    return bytes(((x * 3 + y * 5 + (x * y) // 3) % 4)
                 for y in range(h) for x in range(w))


def test_gif_decode_golden():
    w, h = 20, 17
    idx = _gif_indices(w, h)
    want = b"".join(_GIF_PALETTE[3 * i:3 * i + 3] for i in idx)
    gw, gh, gc, got = MM.decode_pixels(_encode_gif(idx, w, h, _GIF_PALETTE))
    assert (gw, gh, gc) == (w, h, 3)
    assert got == want


def test_gif_decode_interlaced_and_extension():
    w, h = 8, 13
    idx = _gif_indices(w, h)
    want = b"".join(_GIF_PALETTE[3 * i:3 * i + 3] for i in idx)
    payload = _encode_gif(idx, w, h, _GIF_PALETTE, interlace=True,
                          with_extension=True)
    assert MM.decode_pixels(payload) == (w, h, 3, want)


def test_gif_decode_in_dataframe(spark):
    w, h = 6, 4
    idx = _gif_indices(w, h)
    want = b"".join(_GIF_PALETTE[3 * i:3 * i + 3] for i in idx)
    df = spark.createDataFrame(
        [(0, _encode_gif(idx, w, h, _GIF_PALETTE))], "id long, payload binary")
    row = MM.decode_image(df).collect()[0]
    assert row["decode_error"] is None
    assert (row["width"], row["height"], row["channels"]) == (w, h, 3)
    assert bytes(row["pixels"]) == want


def test_png_palette_index_out_of_range_is_error_row(spark):
    """r3 advice: an index past PLTE must raise (→ decode_error row), not
    silently append a short slice."""
    import struct
    import zlib

    plte = bytes((255, 0, 0, 0, 255, 0))       # only 2 entries
    raw = bytes((0, 0, 3))                     # row [0, 3]: 3 out of range

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
               + chunk(b"PLTE", plte)
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="palette index out of range"):
        MM.decode_pixels(payload)
    df = spark.createDataFrame([(0, payload)], "id long, payload binary")
    row = MM.decode_image(df).collect()[0]
    assert row["pixels"] is None
    assert "palette index out of range" in row["decode_error"]


# --- audio decode ------------------------------------------------------------

def _wav_full(samples, channels=1, rate=8000, bits=16):
    """Full RIFF/WAVE with real PCM data. ``samples`` is a flat interleaved
    list of int16 values (or 0-255 ints for bits=8)."""
    if bits == 16:
        data = b"".join(_S.pack("<h", s) for s in samples)
    else:
        data = bytes(samples)
    fmt = _S.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
                  channels * bits // 8, bits)
    return (b"RIFF" + _S.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + _S.pack("<I", 16) + fmt
            + b"data" + _S.pack("<I", len(data)) + data)



def test_wav_samples_16_and_8_bit():
    rate, x = MM._wav_samples(_wav_full([0, 16384, -16384, -32768], 1, 8000))
    assert rate == 8000 and x.shape == (4, 1)
    assert x[:, 0].tolist() == [0.0, 0.5, -0.5, -1.0]
    rate, x = MM._wav_samples(
        _wav_full([128, 255, 0, 128], channels=2, rate=4000, bits=8))
    assert rate == 4000 and x.shape == (2, 2)
    assert x[0].tolist() == [0.0, (255 - 128) / 128.0]
    with pytest.raises(NotImplementedError, match="format tag"):
        bad = _wav_full([0], 1, 8000).replace(
            _S.pack("<HH", 1, 1), _S.pack("<HH", 3, 1), 1)
        MM._wav_samples(bad)


def test_resample_linear_halves_and_doubles():
    import numpy as np

    x = np.arange(8, dtype=np.float64).reshape(-1, 1)
    down = MM.resample_linear(x, 8000, 4000)
    assert down[:, 0].tolist() == [0.0, 2.0, 4.0, 6.0]
    up = MM.resample_linear(x, 8000, 16000)
    assert up.shape == (16, 1)
    assert up[:4, 0].tolist() == [0.0, 0.5, 1.0, 1.5]
    same = MM.resample_linear(x, 8000, 8000)
    assert same is x


def test_decode_audio_dataframe(spark):
    # 100 frames of silence then 100 of half-scale square wave @ 8 kHz
    loud = [0x4000 if i % 2 else -0x4000 for i in range(100)]
    wav = _wav_full([0] * 100 + loud, 1, 8000)
    rows = [(0, wav), (1, b"RIFF????WAVEjunk"), (2, None)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in
           MM.decode_audio(df).orderBy("id").collect()}
    ok = got[0]
    assert (ok["sample_rate"], ok["channels"], ok["n_frames"]) == (8000, 1, 200)
    assert bytes(ok["pcm"]) == wav[-400:]  # int16 out == the data chunk
    assert got[1]["decode_error"] is not None
    assert got[2]["decode_error"] is not None


# --- property tests (pure Python, no Spark) ----------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@given(samples=st.lists(st.integers(-32768, 32767), min_size=2, max_size=64),
       channels=st.sampled_from([1, 2]),
       rate=st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=50, deadline=None)
def test_wav_roundtrip_property(samples, channels, rate):
    """encode → _wav_samples recovers every int16 sample exactly (/32768)."""
    samples = samples[:len(samples) - len(samples) % channels]
    if not samples:
        samples = [0] * channels
    rate_out, x = MM._wav_samples(_wav_full(samples, channels, rate))
    assert rate_out == rate
    flat = [int(round(v * 32768.0)) for v in x.reshape(-1)]
    assert flat == samples


# --- WAV truncation ----------------------------------------------------------

def test_wav_truncated_data_chunk_is_poison():
    """A declared data-chunk length running past the payload must raise
    (round-4 advice): the old short-slice decode yielded plausible but
    WRONG sample counts for a cut-off WAV."""
    wav = _wav_full(list(range(100)), 1, 8000)
    with pytest.raises(ValueError, match="truncated WAV data chunk"):
        MM._wav_samples(wav[:-10])
    # truncated fmt chunk raises too (not an IndexError deep in unpack)
    head_only = wav[:20]  # RIFF + WAVE + "fmt " + len, body cut short
    with pytest.raises(ValueError, match="truncated WAV fmt chunk"):
        MM._wav_samples(head_only)


def test_wav_truncation_lands_in_decode_error(spark):
    wav = _wav_full(list(range(100)), 1, 8000)
    df = spark.createDataFrame(
        [(0, wav), (1, wav[:-10])], "id long, payload binary")
    got = {r["id"]: r for r in
           MM.decode_audio(df).orderBy("id").collect()}
    assert got[0]["decode_error"] is None and got[0]["n_frames"] == 100
    assert got[1]["n_frames"] is None
    assert "truncated WAV data chunk" in got[1]["decode_error"]
