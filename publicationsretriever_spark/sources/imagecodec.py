"""Deterministic image payload generation + decode (pure Python/numpy).

The graft payload is image+caption (BASELINE.json input_hint):
``documents(image_id, bytes, w, h, fmt, caption, phash)``. The sandbox
has no image libraries, so we implement a minimal PNG encoder/decoder
(RGB8, filter 0) with zlib — enough to make the per-row invariant REAL:
decoded-pixel allclose (PSNR is infinite for lossless PNG; the >=40dB
lossy threshold applies to the stubbed JPEG path) and caption equality.

JPEG encode/decode is STUBBED (no codec in this container): rows with
fmt='jpeg' carry PNG bytes tagged as such, and ``decode_image`` raises
NotImplementedError for real JPEG magic — the Spark-side plumbing
(schema, binary columns, Arrow batches) is identical either way.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """RGB8 (h, w, 3) -> PNG bytes (filter type 0 per scanline)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> RGB8 (h, w, 3). Supports our encoder's subset plus
    filter types 0-4 (full unfiltering, spec §9)."""
    assert data[:8] == _PNG_MAGIC, "not a PNG"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack(">IIBB", payload[:10])
            assert bit_depth == 8 and color_type == 2, "only RGB8 supported"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3
    out = np.zeros((h, w, 3), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        ).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need serial scan
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - 3] if x >= 3 else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                else:
                    c0 = prev[x - 3] if x >= 3 else 0
                    p = a + b - c0
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c0)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c0)
                    cur[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[y] = cur.astype(np.uint8).reshape(w, 3)
        prev = cur
    return out


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Decode payload bytes. JPEG is stubbed: no codec in this sandbox —
    synthetic 'jpeg' rows actually carry PNG bytes (see module doc)."""
    if data[:8] == _PNG_MAGIC:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        raise NotImplementedError("JPEG decode not available in this sandbox")
    raise ValueError(f"unknown image magic for fmt={fmt!r}")


def synth_pixels(image_id: str, w: int = 8, h: int = 8) -> np.ndarray:
    """Deterministic RGB8 pixels derived from the image_id digest."""
    seed = int.from_bytes(hashlib.sha256(image_id.encode()).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _block_means(pixels: np.ndarray, n: int) -> np.ndarray:
    """Luminance downsampled to n x n by block mean. An image narrower
    or shorter than n would leave blocks empty (a NaN mean); each
    empty block takes the edge pixel row/column instead, so every
    size gets a defined grid. At n or more pixels per side no block
    is empty and the guard changes nothing."""
    lum = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = lum.shape
    ys = np.linspace(0, h, n + 1, dtype=int)
    xs = np.linspace(0, w, n + 1, dtype=int)
    grid = np.empty((n, n))
    for i in range(n):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(n):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            grid[i, j] = lum[min(y0, h - 1):min(y1, h), min(x0, w - 1):min(x1, w)].mean()
    return grid


def _signed64(bits: np.ndarray) -> int:
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val  # signed int64


def phash64(pixels: np.ndarray) -> int:
    """Tiny perceptual hash: 8x8 luminance mean-threshold bits (aHash).
    Plays the role of the reference's md5-of-bytes payload key
    (FileUtils.downloadFile, util/file/FileUtils.java:422-473) at the
    pixel level."""
    blocks = _block_means(pixels, 8)
    return _signed64((blocks > blocks.mean()).ravel())


#: 32x32 orthonormal DCT-II basis, precomputed once per process (the
#: Python workers are long-lived; a 32x32 matmul per image is the
#: whole transform cost).
_DCT32 = None


def _dct32_basis() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(32)
        basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / 64)
        basis *= np.sqrt(2.0 / 32)
        basis[0] /= np.sqrt(2.0)
        _DCT32 = basis
    return _DCT32


def dct_phash64(pixels: np.ndarray) -> int:
    """Standard DCT perceptual hash (the pHash algorithm proper, vs
    phash64's block-mean aHash): luminance -> 32x32 block-mean
    downsample -> 2-D DCT-II -> top-left 8x8 low-frequency
    coefficients EXCLUDING the DC term -> median threshold -> 64 bits
    (bit 63 = the DC slot, always 0). Dropping DC and thresholding at
    the median makes the hash invariant to global brightness shifts
    and linear contrast scaling — the failure modes of aHash on
    re-encoded crawl payloads. Pure numpy (no PIL/scipy): the DCT is
    one precomputed 32x32 basis matmul per side."""
    grid = _block_means(pixels, 32)
    d = _dct32_basis()
    coef = d @ grid @ d.T
    low = coef[:8, :8].ravel()
    med = np.median(low[1:])  # exclude DC from the threshold too
    bits = low > med
    bits[0] = False  # DC slot pinned: brightness carries no bits
    return _signed64(bits)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10 * np.log10(255.0**2 / mse)


def make_payload_row(image_id: str, fmt: str = "png", w: int = 8, h: int = 8) -> dict:
    """One documents-table row per input_hint schema."""
    px = synth_pixels(image_id, w, h)
    data = encode_png(px)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"caption of {image_id}",
        "phash": phash64(px),
    }
