"""Pure numpy + stdlib media codecs: PNG (RFC 2083) and PCM WAV (RIFF).

The container has no PIL/ffmpeg, but a real decoder for the two most common
uncompressed-ish formats needs neither: PNG is zlib (stdlib) + per-scanline
unfiltering (numpy), WAV is a RIFF header walk + a dtype view. These make
the multimodal pipeline's decode step REAL for ``image/png`` and
``audio/wav`` payloads. JPEG and video are out of scope (SURVEY §2.6):
their DCT/ffmpeg codecs are not available and not built from scratch.

Both decoders are deterministic pure functions of the payload bytes, so
executors, the driver, and tests agree byte-for-byte. Encoders exist to
synthesize deterministic fixtures (and prove round-trip exactness); they
are not a serving path.

Scope (documented, asserted, never silently wrong):
- PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
  6 (RGBA); non-interlaced; all five scanline filters (None/Sub/Up/
  Average/Paeth, RFC 2083 §6). Anything else raises ``ValueError``.
- WAV: PCM (format tag 1), 8/16/32-bit integer samples, any channel
  count/rate. Anything else raises ``ValueError``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------
def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(img: np.ndarray) -> bytes:
    """Encode an (H, W) or (H, W, C) uint8 array as a valid PNG
    (filter 0 on every scanline — simplest legal stream)."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"unsupported channel count {c}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (RFC 2083 §6.6), vectorized over a scanline."""
    a16 = a.astype(np.int16)
    b16 = b.astype(np.int16)
    c16 = c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG payload to an (H, W, C) uint8 array.

    Chunk walk → IHDR validation → zlib-inflate the concatenated IDATs →
    per-scanline unfilter. Up is fully vectorized across the row; Sub/
    Average/Paeth are sequential in the pixel dimension by definition, so
    those rows run a per-pixel-group loop (bounded by width; at pipeline
    scale the parallelism axis is rows-per-executor via mapInPandas, not
    pixels)."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG shape: depth={depth} comp={comp} "
            f"filter_method={filt} interlace={interlace}"
        )
    c = _CHANNELS.get(ctype)
    if c is None:
        raise ValueError(f"unsupported color type {ctype}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (1 + stride):
        raise ValueError("IDAT length does not match dimensions")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1
        ).copy()
        ft = raw[y * (1 + stride)]
        if ft == 0:  # None
            cur = row
        elif ft == 2:  # Up
            cur = row + prev  # uint8 wraps mod 256, as the spec requires
        elif ft in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = row
            left = np.zeros(c, dtype=np.uint8)
            upleft = np.zeros(c, dtype=np.uint8)
            for x in range(0, stride, c):
                up = prev[x : x + c]
                if ft == 1:
                    cur[x : x + c] += left
                elif ft == 3:
                    cur[x : x + c] += (
                        (left.astype(np.uint16) + up.astype(np.uint16)) // 2
                    ).astype(np.uint8)
                else:
                    cur[x : x + c] += _paeth(left, up, upleft)
                left = cur[x : x + c]
                upleft = up
        else:
            raise ValueError(f"unknown filter type {ft}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, c)


def box_downsample(img: np.ndarray, factor: int) -> np.ndarray:
    """Integer-factor box-mean resize (the deterministic resize op a
    training pipeline runs post-decode). Truncates edges that don't fill a
    full box, floor-divides the mean (exact integer arithmetic — no float
    rounding ambiguity across platforms)."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    h, w, c = img.shape
    hh, ww = h // factor, w // factor
    if hh == 0 or ww == 0:
        raise ValueError("image smaller than one box")
    trimmed = img[: hh * factor, : ww * factor].astype(np.uint32)
    boxes = trimmed.reshape(hh, factor, ww, factor, c)
    return (boxes.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)


# ---------------------------------------------------------------------------
# WAV (RIFF / PCM)
# ---------------------------------------------------------------------------
_WAV_DTYPES = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode an (n,) or (n, channels) int16 array as a PCM WAV file."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    data = arr.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV payload → ((n_samples, channels) array, rate).
    8-bit → uint8, 16/32-bit → little-endian signed ints."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            pcm = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt /data chunk")
    tag, ch, rate, _byte_rate, _block, bits = fmt
    if tag != 1:
        raise ValueError(f"unsupported WAV format tag {tag} (PCM only)")
    dt = _WAV_DTYPES.get(bits)
    if dt is None:
        raise ValueError(f"unsupported bit depth {bits}")
    arr = np.frombuffer(pcm, dtype=dt)
    n = len(arr) // ch
    return arr[: n * ch].reshape(n, ch), rate
