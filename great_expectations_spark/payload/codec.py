"""Deterministic fake image codec.

Real decoders (Pillow/libjpeg) are not installed in this container, so
this module provides a self-describing byte format that lets every
payload check run end-to-end with REAL Spark plumbing and deterministic
results:

    header:  b"FIMG" | fmt(4s, padded) | w(uint16 BE) | h(uint16 BE)
    body:    w*h seeded pseudo-random grayscale pixel bytes
             (xorshift64* stream keyed by the image seed)

The engine decodes through ``decode_batch``: one Arrow batch in, one
feature struct (ok, w, h, fmt, phash) out, parsed straight from the
``BinaryArray`` offsets and data buffers with no per-row Python, and
``phash_batch`` pools a whole same-shape group at once. ``psnr_batch``
is the batch form of ``psnr`` for the reference-pixels check.
``decode_image`` / ``phash_from_pixels`` / ``psnr`` are the per-image
reference the batch kernels must match bit for bit (an undecodable
payload is a ``ValueError`` there and ``ok=False`` in the batch).

To swap in a real codec, replace ``decode_batch``: it is the decoder
the engine runs (``psnr_batch`` reads pixels through the same header
parse). Replace ``encode_image`` / ``decode_image`` with it, as the
writer and the per-image reference. All Spark-side code (schemas,
Arrow UDF signatures, batch shapes) is codec-agnostic.
"""

from __future__ import annotations

import functools
import struct
from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa

MAGIC = b"FIMG"
HEADER = struct.Struct(">4s4sHH")


def _pixel_stream(seed: int, n: int) -> np.ndarray:
    """Deterministic pixel bytes via a vectorized counter-based PRF
    (splitmix64 finalizer over seed+index) — no sequential recurrence,
    so generating a 10^6-image table is numpy-bound, not Python-bound."""
    with np.errstate(over="ignore"):
        x = (
            np.uint64(seed * 2654435761 % (2**63) + 1)
            + np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(56)).astype(np.uint8)


def encode_image(seed: int, w: int, h: int, fmt: str) -> bytes:
    header = HEADER.pack(MAGIC, fmt.encode()[:4].ljust(4, b"\0"), w, h)
    return header + _pixel_stream(seed, w * h).tobytes()


def decode_image(payload: bytes) -> Tuple[str, int, int, np.ndarray]:
    """Return (fmt, w, h, pixels[h,w]); raises ValueError when corrupt."""
    if payload is None or len(payload) < HEADER.size:
        raise ValueError("truncated header")
    magic, fmt_b, w, h = HEADER.unpack(payload[: HEADER.size])
    if magic != MAGIC:
        raise ValueError("bad magic")
    body = payload[HEADER.size :]
    if len(body) != w * h:
        raise ValueError("truncated body")
    pixels = np.frombuffer(body, dtype=np.uint8).reshape(h, w)
    return fmt_b.rstrip(b"\0").decode(), w, h, pixels


def phash64(payload: bytes) -> int:
    """Perceptual-hash stand-in: 64-bit signature of the 8x8
    mean-pooled pixel grid thresholded at the median — the same
    structure as a real pHash (DCT swapped for mean-pooling, which is
    deterministic and codec-independent here). Signed int64 for
    LongType columns."""
    fmt, w, h, px = decode_image(payload)
    return phash_from_pixels(px)


def phash_from_pixels(px: np.ndarray) -> int:
    """phash64 on already-decoded pixels (lets callers that hold the
    decoded array skip a second decode)."""
    h, w = px.shape
    # pool to 8x8
    if h % 8 == 0 and w % 8 == 0:
        # vectorized path: one reshape-mean instead of 64 slice-means
        # (identical arithmetic to the general path below — equal-size
        # blocks — but ~40x less Python/numpy dispatch overhead)
        grid = px.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    else:
        ys = np.array_split(np.arange(h), 8)
        xs = np.array_split(np.arange(w), 8)
        grid = np.array(
            [[px[np.ix_(y, x)].mean() for x in xs] for y in ys]
        )
    med = np.median(grid)
    bits = (grid > med).ravel()
    # pack 64 bits in one numpy pass (MSB-first, matching the previous
    # shift loop), then wrap to signed 64-bit
    val = int.from_bytes(
        np.packbits(bits.astype(np.uint8)).tobytes(), "big"
    )
    if val >= 2**63:
        val -= 2**64
    return int(val)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (identical arrays → inf)."""
    if a.shape != b.shape:
        return 0.0
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# ---- batch kernels over Arrow buffers ------------------------------

# Pixels per step of the batch kernels: bounds every gathered chunk and
# the float64 pooling working set (8 bytes a pixel), however large one
# image or one shape group is.
_STEP_PIXELS = 1 << 16

FEATURES_T = pa.struct(
    [
        ("ok", pa.bool_()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("phash", pa.int64()),
    ]
)


def _per_step(h: int, w: int) -> int:
    """Images of shape (h, w) per step; a pooled row costs max(w, 8)."""
    return max(1, _STEP_PIXELS // max(h * max(w, 8), 1))


def _block_matrix(n: int) -> Tuple[np.ndarray, np.ndarray]:
    """(8, n) 0/1 matrix of the 8 np.array_split blocks of range(n),
    and the block sizes (0 for the empty blocks of n < 8)."""
    r = np.zeros((8, n))
    for k, seg in enumerate(np.array_split(np.arange(n), 8)):
        r[k, seg] = 1.0
    counts = r.sum(axis=1)
    r.setflags(write=False)
    counts.setflags(write=False)
    return r, counts


_cached_blocks = functools.lru_cache(maxsize=256)(_block_matrix)


def _blocks(n: int) -> Tuple[np.ndarray, np.ndarray]:
    """_block_matrix(n), cached for sides up to 256 (16 KB each): a
    larger side is rare and its pooling dwarfs building the matrix."""
    return _cached_blocks(n) if n <= 256 else _block_matrix(n)


def phash_batch(px: np.ndarray) -> np.ndarray:
    """phash_from_pixels of every image of px (g, h, w) uint8, as
    int64[g]. Block sums come from 0/1 block matrices: integer sums,
    exact in float64, divided by the block sizes, so the 8x8 means are
    the reference's bit for bit (an empty block gives NaN and hash 0,
    as there). Pools at most _STEP_PIXELS pixels per step: several
    images of a small shape, or a band of rows of a large one."""
    g, h, w = px.shape
    ry, cy = _blocks(h)
    rx, cx = _blocks(w)
    per = _per_step(h, w)
    band = max(1, _STEP_PIXELS // max(w, 8))
    sums = np.empty((g, 8, 8))
    for a in range(0, g, per):
        blk = px[a : a + per]
        k = len(blk)
        acc = np.zeros((8, k * w))  # [y block, image * w + column]
        for r in range(0, h, band):
            rows = np.asarray(
                blk[:, r : r + band].transpose(1, 0, 2), np.float64, order="C"
            )
            b = len(rows)
            acc += ry[:, r : r + b] @ rows.reshape(b, k * w)
        xs = acc.reshape(8 * k, w) @ rx.T  # [y block * k + image, x block]
        sums[a : a + k] = xs.reshape(8, k, 8).transpose(1, 0, 2)
    with np.errstate(invalid="ignore"):
        grid = (sums / (cy[:, None] * cx[None, :])).reshape(g, 64)
    med = np.median(grid, axis=1, keepdims=True)
    packed = np.packbits(grid > med, axis=1)  # (g, 8) MSB-first
    return packed.view(">u8").ravel().astype(np.uint64).view(np.int64)


class _Headers:
    """The fixed header of every row of one BinaryArray, as numpy
    arrays read from its offsets and data buffers (honouring a slice's
    offset and validity bitmap): ``valid`` (not null), ``ok``
    (decode_image would succeed), ``w``, ``h``, ``fmt`` (an index into
    ``fmts``) and ``body`` (where the pixels start in ``data``)."""

    def __init__(self, arr: pa.Array):
        n = self.n = len(arr)
        self.valid = (
            np.ones(n, bool)
            if arr.null_count == 0
            else arr.is_valid().to_numpy(zero_copy_only=False)
        )
        self.ok = np.zeros(n, bool)
        self.w = np.zeros(n, np.int64)
        self.h = np.zeros(n, np.int64)
        self.fmt = np.zeros(n, np.int64)
        self.fmts: list = []
        self.data = np.empty(0, np.uint8)
        self.body = np.zeros(n, np.int64)
        if n == 0:
            return
        _, offs_buf, data_buf = arr.buffers()
        off_t = np.dtype(
            np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        )
        offs = np.frombuffer(
            offs_buf, off_t, n + 1, arr.offset * off_t.itemsize
        ).astype(np.int64)
        if data_buf is not None and data_buf.size:
            self.data = np.frombuffer(data_buf, np.uint8)
        size = np.diff(offs)
        self.body = offs[:-1] + HEADER.size
        rows = np.flatnonzero(self.valid & (size >= HEADER.size))
        if not len(rows):
            return
        hdr = self.data[offs[rows, None] + np.arange(HEADER.size)]
        w = hdr[:, 8].astype(np.int64) << 8 | hdr[:, 9]
        h = hdr[:, 10].astype(np.int64) << 8 | hdr[:, 11]
        codes, fmt = np.unique(
            np.ascontiguousarray(hdr[:, 4:8]).view(">u4")[:, 0],
            return_inverse=True,
        )
        # one UTF-8 decode per distinct fmt, not per row
        for c in codes.tolist():
            try:
                self.fmts.append(c.to_bytes(4, "big").rstrip(b"\0").decode())
            except UnicodeDecodeError:
                self.fmts.append(None)
        utf8 = np.array([f is not None for f in self.fmts])
        self.ok[rows] = (
            (hdr[:, :4] == np.frombuffer(MAGIC, np.uint8)).all(axis=1)
            & (size[rows] - HEADER.size == w * h)
            & utf8[fmt]
        )
        self.w[rows], self.h[rows], self.fmt[rows] = w, h, fmt

    def groups(self, rows: np.ndarray) -> Iterator[Tuple[int, int, np.ndarray]]:
        """(h, w, chunk) for each decoded shape among ``rows``, in
        chunks of _per_step images."""
        key = self.h[rows] << 16 | self.w[rows]
        order = np.argsort(key, kind="stable")
        rows = rows[order]
        for grp in np.split(rows, np.flatnonzero(np.diff(key[order])) + 1):
            if not len(grp):
                continue
            h, w = int(self.h[grp[0]]), int(self.w[grp[0]])
            per = _per_step(h, w)
            for a in range(0, len(grp), per):
                yield h, w, grp[a : a + per]

    def pixels(self, h: int, w: int, rows: np.ndarray) -> np.ndarray:
        """(len(rows), h, w) uint8 pixels of ``rows``: a view of the
        data buffer for one image, else one gather of whole bodies."""
        p = h * w
        if p == 0:
            return np.zeros((len(rows), h, w), np.uint8)
        if len(rows) == 1:
            s = self.body[rows[0]]
            return self.data[s : s + p].reshape(1, h, w)
        bodies = np.lib.stride_tricks.sliding_window_view(self.data, p)
        return bodies[self.body[rows]].reshape(len(rows), h, w)


def decode_batch(payloads) -> pa.StructArray:
    """decode_image + phash_from_pixels over a binary Arrow array (or
    ChunkedArray), as one FEATURES_T struct per row: a null payload
    gives all-null fields, an undecodable one ok=False and null w, h,
    fmt and phash."""
    if isinstance(payloads, pa.ChunkedArray):
        parts = [decode_batch(c) for c in payloads.chunks]
        return pa.concat_arrays(parts) if parts else decode_batch(
            pa.array([], pa.binary())
        )
    hd = _Headers(payloads)
    phash = np.zeros(hd.n, np.int64)
    for h, w, rows in hd.groups(np.flatnonzero(hd.ok)):
        phash[rows] = phash_batch(hd.pixels(h, w, rows))
    bad = ~hd.ok
    fmt = pa.array(hd.fmts, pa.string()).take(pa.array(hd.fmt, mask=bad))
    return pa.StructArray.from_arrays(
        [
            pa.array(hd.ok, mask=~hd.valid),
            pa.array(hd.w.astype(np.int32), mask=bad),
            pa.array(hd.h.astype(np.int32), mask=bad),
            fmt,
            pa.array(phash, mask=bad),
        ],
        fields=list(FEATURES_T),
    )


def psnr_batch(a, b) -> pa.DoubleArray:
    """psnr of the decoded pixels of a[i] and b[i] for every row: null
    where either payload is null, 0.0 where either is undecodable or
    their shapes differ."""
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if isinstance(b, pa.ChunkedArray):
        b = b.combine_chunks()
    ha, hb = _Headers(a), _Headers(b)
    mse = np.zeros(ha.n)
    same = np.flatnonzero(ha.ok & hb.ok & (ha.w == hb.w) & (ha.h == hb.h))
    for h, w, rows in ha.groups(same):
        d = ha.pixels(h, w, rows).astype(np.int32) - hb.pixels(h, w, rows)
        sq = (d * d).reshape(len(rows), -1).sum(axis=1, dtype=np.int64)
        with np.errstate(invalid="ignore"):
            mse[rows] = sq / np.float64(h * w)
    out = np.zeros(ha.n)
    with np.errstate(divide="ignore", invalid="ignore"):
        m = mse[same]
        out[same] = np.where(m == 0, np.inf, 10.0 * np.log10(255.0**2 / m))
    return pa.array(out, mask=~(ha.valid & hb.valid))
