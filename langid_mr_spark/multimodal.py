"""Multimodal column plumbing: image/audio payloads as opaque ``binary``
columns, decoded by pure Python/numpy (no imaging or audio library).

The reference's payload IS multimodal (audio blobs decoded by audio_io.py:
53-195 with codec sniffing). This module keeps exactly the surface the
``binary_metadata`` contract query hash-checks against the
``fixtures_mm`` payload table; JPEG pixels stay stubbed as poison-safe
error rows (entropy decode needs a codec library).

Surface:
- ``sniff_format``  — native magic-byte dispatch → format label, no UDF
  (audio_io's probe-order fallback analog, audio_io.py:66-101);
  ``with_metadata`` adds it with the payload size as struct<format,size>
- ``decode_image``  — mapInPandas over ``decode_pixels``: REAL pixel decode
  for PNG (stdlib zlib: 8-bit non-interlaced, all five filters, palette
  expansion), BMP (uncompressed 24/32-bit, bottom-up/top-down), PPM P6
  and GIF (pure-Python LZW, interlace de-weaving, local/global color
  tables). JPEG rows carry the NotImplementedError message in
  ``decode_error`` (poison-safe rows, never dead tasks).
- ``decode_audio``  — REAL RIFF/WAVE PCM decode (16-bit signed / 8-bit
  unsigned, chunk walk, interleaved channels) → rate, channels, frames
  and int16 PCM bytes (the audio_io.py:103-148 load step);
  ``resample_linear`` is the resample-to-16k step as a numpy interp.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# magic-byte prefixes → format label (checked in order, like the
# reference's decoder fallback chain audio_io.py:66-101)
MAGIC = (
    ("89504e47", "png"),
    ("ffd8ff", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),   # wav/avi container
    ("494433", "mp3"),
    ("3c68746d6c", "html"),
    ("3c21646f63", "html"),
)


def sniff_format(col: Column) -> Column:
    """Native magic-byte dispatch over hex(prefix) — no UDF."""
    prefix = F.lower(F.hex(F.substring(col, 1, 8)))
    out = F.lit("unknown")
    for magic, label in reversed(MAGIC):
        out = F.when(prefix.startswith(magic), F.lit(label)).otherwise(out)
    return F.when(col.isNull(), F.lit(None)).otherwise(out)


def sniff_metadata_col(col: Column) -> Column:
    """struct<format string, size_bytes long> typed metadata."""
    return F.struct(
        sniff_format(col).alias("format"),
        F.length(col).cast("long").alias("size_bytes"),
    )


def with_metadata(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    return df.withColumn("meta", sniff_metadata_col(F.col(binary_col)))


# --- real pixel decode (pure Python: PNG via stdlib zlib, BMP, PPM) ----------

def _png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """PNG → (width, height, channels, raw pixel bytes). Real decode via
    stdlib zlib: 8-bit depth, non-interlaced, all five scanline filters
    (None/Sub/Up/Average/Paeth, RFC 2083 §6), palette expansion for color
    type 3. Pure-Python unfiltering — correct and test-sized; a production
    deployment swaps a vectorized codec behind the same signature."""
    import struct as S
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, plte = 8, b"", None
    w = h = depth = color = interlace = None
    while pos + 8 <= len(payload):
        ln = S.unpack(">I", payload[pos:pos + 4])[0]
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = S.unpack(
                ">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG without IHDR")
    if depth != 8:
        raise NotImplementedError(f"PNG bit depth {depth} (only 8)")
    if interlace:
        raise NotImplementedError("interlaced PNG")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    raw = zlib.decompress(idat)
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _row in range(h):
        f = raw[pos]
        cur = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if f == 1:    # Sub
            for i in range(nch, stride):
                cur[i] = (cur[i] + cur[i - nch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                cur[i] = (cur[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out += cur
        prev = cur
    if color == 3:
        if plte is None:
            raise ValueError("paletted PNG without PLTE")
        px = bytearray()
        for b in out:
            if 3 * b + 3 > len(plte):
                # a silent short slice would yield a wrong-length pixel
                # buffer with decode_error NULL — fail the row instead
                raise ValueError("palette index out of range")
            px += plte[3 * b:3 * b + 3]
        out, nch = px, 3
    return w, h, nch, bytes(out)


def _bmp_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """BMP → (width, height, channels, RGB(A) bytes). Uncompressed
    24/32-bit BITMAPINFOHEADER, bottom-up (positive height) or top-down;
    rows are 4-byte aligned; BGR(A) storage converted to RGB(A)."""
    import struct as S

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = S.unpack("<I", payload[10:14])[0]
    w, h = S.unpack("<ii", payload[18:26])
    bpp = S.unpack("<H", payload[28:30])[0]
    comp = S.unpack("<I", payload[30:34])[0]
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP bpp={bpp} comp={comp} "
                                  "(only uncompressed 24/32-bit)")
    nch = bpp // 8
    bottom_up, h = h > 0, abs(h)
    rowsz = ((w * nch + 3) // 4) * 4
    out = bytearray()
    rows = range(h - 1, -1, -1) if bottom_up else range(h)
    for r in rows:
        row = payload[off + r * rowsz: off + r * rowsz + w * nch]
        if len(row) < w * nch:
            raise ValueError("truncated BMP")
        for x in range(w):
            px = row[x * nch:(x + 1) * nch]
            out += bytes((px[2], px[1], px[0]))
            if nch == 4:
                out.append(px[3])
    return w, h, nch, bytes(out)


def _ppm_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """PPM (P6, maxval 255) → (width, height, 3, RGB bytes)."""
    import re

    m = re.match(
        rb"P6[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)?(\d+)[ \t\r\n]+(\d+)"
        rb"[ \t\r\n]+(\d+)[ \t\r\n]", payload)
    if not m:
        raise ValueError("bad PPM header")
    w, h, maxval = int(m[1]), int(m[2]), int(m[3])
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255")
    data = payload[m.end():m.end() + w * h * 3]
    if len(data) < w * h * 3:
        raise ValueError("truncated PPM")
    return w, h, 3, bytes(data)


def _gif_lzw(data: bytes, min_code: int, want: int) -> bytearray:
    """GIF LZW decompression core → index stream (``want`` pixels) — real
    pure-Python: variable code width with the giflib growth rule (width
    bumps when the per-code counter exceeds 2^width, counted per code
    read since the last CLEAR — NOT per table append, which lags one
    behind), CLEAR/EOI handling, KwKwK case, 12-bit cap."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    base = [bytes((i,)) for i in range(1 << min_code)] + [b"", b""]
    table = list(base)
    size, next_code = min_code + 1, eoi + 1
    acc = nbits = 0
    prev: bytes | None = None
    out = bytearray()
    done = False
    for byte in data:
        if done:
            break
        acc |= byte << nbits
        nbits += 8
        while nbits >= size:
            code = acc & ((1 << size) - 1)
            acc >>= size
            nbits -= size
            if code == clear:
                table = list(base)
                size, next_code = min_code + 1, eoi + 1
                prev = None
                continue
            if code == eoi:
                done = True
                break
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                if len(table) < 4096:
                    table.append(entry)
            else:
                raise ValueError("bad LZW code")
            out += entry
            prev = entry
            next_code += 1
            if next_code > (1 << size) and size < 12:
                size += 1
    if len(out) < want:
        raise ValueError("truncated GIF image data")
    return out


def _gif_deinterlace(idx: bytes | bytearray, w: int, h: int) -> bytearray:
    """De-weave the 8/8/4/2 four-pass interlaced row order."""
    rows = [idx[r * w:(r + 1) * w] for r in range(h)]
    order = ([*range(0, h, 8)] + [*range(4, h, 8)]
             + [*range(2, h, 4)] + [*range(1, h, 2)])
    de: list[bytes | bytearray | None] = [None] * h
    for src, dst in enumerate(order):
        de[dst] = rows[src]
    return bytearray(b"".join(bytes(r) for r in de if r is not None))


def _gif_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """GIF → (width, height, 3, RGB bytes) of the FIRST image frame — LZW
    core in ``_gif_lzw``, then interlace de-weaving and local-over-global
    color table mapping. GIF89a extensions (graphic control, comments)
    are skipped; transparency is ignored (opaque RGB)."""
    import struct as S

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    _sw, _sh, packed = S.unpack("<HHB", payload[6:11])
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: introducer + label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:
            break
        elif b == 0x3B:
            raise ValueError("GIF without image data")
        else:
            raise ValueError(f"bad GIF block 0x{b:02x}")
    else:
        raise ValueError("truncated GIF")
    _l, _t, w, h, ipacked = S.unpack("<HHHHB", payload[pos + 1:pos + 10])
    pos += 10
    ct = gct
    if ipacked & 0x80:  # local color table overrides global
        n = 2 << (ipacked & 0x07)
        ct = payload[pos:pos + 3 * n]
        pos += 3 * n
    if ct is None:
        raise ValueError("GIF without color table")
    min_code = payload[pos]
    pos += 1
    data = bytearray()
    while pos < len(payload) and payload[pos]:
        ln = payload[pos]
        data += payload[pos + 1:pos + 1 + ln]
        pos += 1 + ln

    idx = _gif_lzw(bytes(data), min_code, w * h)[:w * h]
    if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
        idx = _gif_deinterlace(idx, w, h)
    px = bytearray()
    for i in idx:
        if 3 * i + 3 > len(ct):
            raise ValueError("color index out of range")
        px += ct[3 * i:3 * i + 3]
    return w, h, 3, bytes(px)


def decode_pixels(payload: bytes | None) -> tuple[int, int, int, bytes]:
    """Dispatch → (width, height, channels, raw pixel bytes). Raises
    NotImplementedError only for JPEG — the one genuinely codec-bound
    format left (entropy decode); PNG/BMP/PPM/GIF decode for real."""
    if not payload:
        raise ValueError("empty payload")
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_pixels(payload)
    if payload[:2] == b"BM":
        return _bmp_pixels(payload)
    if payload[:2] == b"P6":
        return _ppm_pixels(payload)
    if payload[:3] == b"\xff\xd8\xff":
        raise NotImplementedError(
            "JPEG pixel decode requires an entropy codec library")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_pixels(payload)
    raise ValueError("unknown image container")


def decode_image(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """mapInPandas: binary → decoded pixels (raw bytes) + dimensions.
    PNG/BMP/PPM/GIF decode for REAL (pure Python, golden-byte-tested);
    JPEG rows carry the NotImplementedError message in ``decode_error`` —
    poison-safe rows, never dead tasks (D5)."""
    from pyspark.sql import types as T

    schema_out = T.StructType(
        list(df.schema.fields)
        + [T.StructField("width", T.IntegerType()),
           T.StructField("height", T.IntegerType()),
           T.StructField("channels", T.IntegerType()),
           T.StructField("pixels", T.BinaryType()),
           T.StructField("decode_error", T.StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            ws, hs, cs, ps, es = [], [], [], [], []
            for b in pdf[binary_col]:
                try:
                    w, h, c, px = decode_pixels(b)
                    ws.append(w); hs.append(h); cs.append(c)
                    ps.append(px); es.append(None)
                except Exception as e:
                    ws.append(None); hs.append(None); cs.append(None)
                    ps.append(None)
                    es.append(f"{type(e).__name__}: {e}"[:200])
            pdf["width"] = pd.array(ws, dtype="Int32")
            pdf["height"] = pd.array(hs, dtype="Int32")
            pdf["channels"] = pd.array(cs, dtype="Int32")
            pdf["pixels"] = pd.Series(ps, dtype=object, index=pdf.index)
            pdf["decode_error"] = pd.Series(es, dtype=object, index=pdf.index)
            yield pdf

    return df.mapInPandas(run, schema=schema_out)


# --- real audio decode (RIFF/WAVE PCM, pure numpy) ----------------------------

def _wav_samples(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE → (sample_rate, float64 samples of shape (n_frames,
    channels) in [-1, 1)). REAL PCM decode: walks the word-aligned chunk
    list to ``fmt `` + ``data``, accepts PCM (format tag 1) at 16-bit
    signed or 8-bit unsigned, de-interleaves channels — the audio_io.py:
    103-148 load step without any codec library. Compressed/float WAV
    raises NotImplementedError (poison row, same contract as JPEG)."""
    import struct as S

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    fmt = data = None
    while i + 8 <= n:
        cid = payload[i:i + 4]
        clen = S.unpack("<I", payload[i + 4:i + 8])[0]
        body = payload[i + 8:i + 8 + clen]
        if cid in (b"fmt ", b"data") and len(body) < clen:
            # round-4 advice: a declared chunk length running past the
            # payload used to decode the short slice as-is — a cut-off
            # WAV yielded plausible but WRONG sample counts. Truncation
            # is a poison row here, exactly like PNG/GIF truncation.
            raise ValueError(
                f"truncated WAV {cid.decode().strip()} chunk: "
                f"declared {clen} bytes, payload has {len(body)}")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV without fmt/data chunks")
    tag, ch, rate = S.unpack("<HHI", fmt[0:8])
    bits = S.unpack("<H", fmt[14:16])[0]
    if tag != 1:
        raise NotImplementedError(f"WAV format tag {tag} (only PCM)")
    if bits == 16:
        x = np.frombuffer(data[:len(data) - len(data) % (2 * ch)],
                          dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data[:len(data) - len(data) % ch],
                           dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"WAV bit depth {bits} (only 8/16)")
    return rate, x.reshape(-1, ch)


def resample_linear(x: np.ndarray, src_rate: int, dst_rate: int) -> np.ndarray:
    """Linear-interpolation resample of (n_frames, channels) samples —
    the reference's resample-to-16k step (audio_io.py:103-148) as a
    deterministic numpy interp: output grid t_out = arange(ceil(n *
    dst/src)) * src/dst sampled against t_in = arange(n)."""
    if src_rate == dst_rate or x.shape[0] == 0:
        return x
    n = x.shape[0]
    n_out = int(np.ceil(n * dst_rate / src_rate))
    t_out = np.arange(n_out) * (src_rate / dst_rate)
    t_in = np.arange(n, dtype=np.float64)
    return np.stack(
        [np.interp(t_out, t_in, x[:, c]) for c in range(x.shape[1])], axis=1)


def _audio_row(b: bytes | None) -> tuple:
    """One payload → (rate, channels, n_frames, int16 PCM bytes)."""
    rate, x = _wav_samples(b if b else b"")
    pcm = (np.clip(x, -1.0, 1.0 - 1.0 / 32768) * 32768.0) \
        .astype("<i2").tobytes()
    return rate, x.shape[1], x.shape[0], pcm


def decode_audio(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """mapInPandas: binary → real decoded PCM. Appends ``sample_rate``,
    ``channels``, ``n_frames``, ``pcm`` (int16 little-endian interleaved)
    and ``decode_error``. Non-PCM / non-WAV payloads are poison rows (D5)."""
    from pyspark.sql import types as T

    schema_out = T.StructType(
        list(df.schema.fields)
        + [T.StructField("sample_rate", T.IntegerType()),
           T.StructField("channels", T.IntegerType()),
           T.StructField("n_frames", T.IntegerType()),
           T.StructField("pcm", T.BinaryType()),
           T.StructField("decode_error", T.StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            cols: list[list] = [[] for _ in range(5)]
            for b in pdf[binary_col]:
                try:
                    vals = (*_audio_row(b), None)
                except Exception as e:
                    vals = (None,) * 4 + (f"{type(e).__name__}: {e}"[:200],)
                for lst, v in zip(cols, vals):
                    lst.append(v)
            pdf["sample_rate"] = pd.array(cols[0], dtype="Int32")
            pdf["channels"] = pd.array(cols[1], dtype="Int32")
            pdf["n_frames"] = pd.array(cols[2], dtype="Int32")
            pdf["pcm"] = pd.Series(cols[3], dtype=object, index=pdf.index)
            pdf["decode_error"] = pd.Series(cols[4], dtype=object,
                                            index=pdf.index)
            yield pdf

    return df.mapInPandas(run, schema=schema_out)
