"""Vectorized reimplementation of rensa's FxHasher-compatible byte hash.

Reference: /root/reference/src/utils.rs
- ``hash_bytes``     (utils.rs:129-165): seeds SEED1/SEED2, <=16-byte dual-word
  fast path, 16-byte-stride ``multiply_mix`` folding loop for longer inputs.
- ``calculate_hash_fast`` (utils.rs:168-185): 64-bit finalizer
  ``rotl(compressed * K, 26)``.
- ``calculate_band_hash`` (utils.rs:194-223): FxHash-style polynomial over a
  band of u32 MinHash slots, packed two-at-a-time into u64s, finished with
  ``rotl(state, 26)``.

Vectorization strategy (no per-token Python in the hot path): every token is
a (start, length) range of one uint8 buffer (``fxhash64`` joins byte tokens
into one). Tokens are grouped by length class, since ``hash_bytes`` reads
fixed word positions per class (0-3, 4-7, 8-16, then 16-byte folding steps),
and each class is hashed at once with numpy uint64 arithmetic. A word read is
one fancy index into an unaligned little-endian u64 view of the zero-padded
buffer (``_u64_view``: byte stride 1, so ``view[p]`` is bytes ``[p, p+8)``);
a u32 read is the same load masked to its low 4 bytes. The 128-bit product
inside ``multiply_mix`` is decomposed into 32-bit limbs. The numpy call count
is O(max_token_len / 16), not O(n_tokens).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np

U64 = np.uint64
U8 = np.uint8

K = 0xF1357AEA2E62A9C5  # utils.rs:4 (64-bit K)
ROTATE = 26  # utils.rs:11
SEED1 = 0x243F6A8885A308D3  # utils.rs:15
SEED2 = 0x13198A2E03707344  # utils.rs:16
PREVENT_TRIVIAL_ZERO_COLLAPSE = 0xA4093822299F31D0  # utils.rs:17


def _mul_hi_lo(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """128-bit product of two uint64 arrays as (hi, lo) uint64 limbs."""
    m32 = U64(0xFFFFFFFF)
    xl, xh = x & m32, x >> U64(32)
    yl, yh = y & m32, y >> U64(32)
    with np.errstate(over="ignore"):
        lo_lo = xl * yl
        u = xh * yl + (lo_lo >> U64(32))
        v = xl * yh + (u & m32)
        hi = xh * yh + (u >> U64(32)) + (v >> U64(32))
        lo = x * y  # wrapping low 64 bits
    return hi, lo


def _multiply_mix(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """multiply_mix: lo ^ hi of the 128-bit product (utils.rs:55-66)."""
    hi, lo = _mul_hi_lo(x, y)
    return hi ^ lo


def _finalize(compressed: np.ndarray) -> np.ndarray:
    """calculate_hash_fast finalizer: rotl(compressed * K, 26) (utils.rs:168-178)."""
    with np.errstate(over="ignore"):
        h = compressed * U64(K)
    return (h << U64(ROTATE)) | (h >> U64(64 - ROTATE))


# hash of the empty byte string: hash_bytes(b"") = multiply_mix(SEED1, SEED2)
_EMPTY_HASH = _finalize(
    _multiply_mix(np.array([SEED1], dtype=U64), np.array([SEED2], dtype=U64))
)[0]


def _u64_view(buf: np.ndarray) -> np.ndarray:
    """Unaligned little-endian u64 at every byte offset: ``view[p]`` is the
    u64 in bytes ``[p, p+8)``. Eight zero bytes are appended first, so a
    4-byte read through the view (``& 0xFFFFFFFF``) at the last 4 bytes of
    the buffer still has 8 readable bytes; the pad never reaches a result
    bit because only the low 4 bytes of such a read are kept."""
    padded = np.zeros(len(buf) + 8, dtype=U8)
    padded[: len(buf)] = buf
    return np.ndarray((len(buf) + 1,), dtype="<u8", buffer=padded, strides=(1,))


def fxhash64_ranges(buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """calculate_hash_fast over (start, length) slices of one uint8 buffer.

    Shingle bytes are never materialized as Python objects; the buffer is
    copied once, into the padded u64 view (``_u64_view``). Vectorized by LENGTH CLASS, not exact length — hash_bytes only
    reads fixed word positions per class (utils.rs:134-147), so e.g. every
    8..16-byte token needs exactly the u64s at offsets 0 and len-8; one
    gather handles the whole class regardless of exact lengths. Long tokens
    group by 16-byte chunk count (one folding step per chunk, vectorized
    across all tokens of that chunk count)."""
    n = len(starts)
    out = np.empty(n, dtype=U64)
    if n == 0:
        return out
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    len64 = lengths.astype(U64)
    view = _u64_view(buf)
    m32 = U64(0xFFFFFFFF)

    out[lengths == 0] = _EMPTY_HASH

    sel = (lengths >= 1) & (lengths <= 3)
    if sel.any():
        s, l = starts[sel], lengths[sel]
        s0 = U64(SEED1) ^ buf[s].astype(U64)
        s1 = U64(SEED2) ^ (
            (buf[s + l - 1].astype(U64) << U64(8)) | buf[s + l // 2].astype(U64)
        )
        out[sel] = _finalize(_multiply_mix(s0, s1) ^ len64[sel])

    sel = (lengths >= 4) & (lengths <= 7)
    if sel.any():
        s, l = starts[sel], lengths[sel]
        s0 = U64(SEED1) ^ (view[s] & m32)
        s1 = U64(SEED2) ^ (view[s + l - 4] & m32)
        out[sel] = _finalize(_multiply_mix(s0, s1) ^ len64[sel])

    sel = (lengths >= 8) & (lengths <= 16)
    if sel.any():
        s, l = starts[sel], lengths[sel]
        s0 = U64(SEED1) ^ view[s]
        s1 = U64(SEED2) ^ view[s + l - 8]
        out[sel] = _finalize(_multiply_mix(s0, s1) ^ len64[sel])

    long_sel = lengths > 16
    if long_sel.any():
        l_long = lengths[long_sel]
        # folding iterations: off = 0,16,... while off < len-16
        iters = (l_long - 17) // 16 + 1
        ptzc = U64(PREVENT_TRIVIAL_ZERO_COLLAPSE)
        for it in np.unique(iters):
            sub = np.nonzero(long_sel)[0][iters == it]
            s, l = starts[sub], lengths[sub]
            s0 = np.full(len(sub), SEED1, dtype=U64)
            s1 = np.full(len(sub), SEED2, dtype=U64)
            for k in range(int(it)):
                off = 16 * k
                t = _multiply_mix(s0 ^ view[s + off], ptzc ^ view[s + off + 8])
                s0 = s1
                s1 = t
            s0 = s0 ^ view[s + l - 16]
            s1 = s1 ^ view[s + l - 8]
            out[sub] = _finalize(_multiply_mix(s0, s1) ^ len64[sub])
    return out


def fxhash64(tokens: Sequence[bytes]) -> np.ndarray:
    """calculate_hash_fast over a batch of byte strings -> uint64[n].

    The tokens are joined into one buffer and hashed as ranges of it."""
    lengths = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    buf = np.frombuffer(b"".join(tokens), dtype=U8)
    return fxhash64_ranges(buf, np.cumsum(lengths) - lengths, lengths)


def fxhash64_strs(tokens: Iterable[str]) -> np.ndarray:
    """Hash str tokens as their UTF-8 bytes (src/py_input/ptr_hash.rs:11-28)."""
    return fxhash64([t.encode("utf-8") for t in tokens])


def band_hash_u64(bands: np.ndarray) -> np.ndarray:
    """calculate_band_hash (utils.rs:194-223) vectorized over rows.

    ``bands``: (k, band_size) uint32 matrix -> uint64[k]. Mirrors FxHasher's
    specialized integer hashing: pairs of u32 packed into u64,
    state = (state + value) * K per write, finish rotl(state, 26).

    Band folding note: rensa's folded band hash
    (src/lsh/one_shot.rs:453-490, src/lsh.rs:107-123) is algebraically equal
    to ``calculate_band_hash`` over the concatenated wider band whenever
    band_size % 4 == 0, because each write step is affine in the running
    state (state' = (state + v) * K). We therefore always hash the effective
    (possibly folded) band slice directly.
    """
    k_rows, band_size = bands.shape
    state = np.zeros(k_rows, dtype=U64)
    kmul = U64(K)
    b64 = bands.astype(U64)
    i = 0
    with np.errstate(over="ignore"):
        while i + 4 <= band_size:
            val1 = b64[:, i] | (b64[:, i + 1] << U64(32))
            val2 = b64[:, i + 2] | (b64[:, i + 3] << U64(32))
            state = (state + val1) * kmul
            state = (state + val2) * kmul
            i += 4
        while i < band_size:
            state = (state + b64[:, i]) * kmul
            i += 1
    return (state << U64(ROTATE)) | (state >> U64(64 - ROTATE))
