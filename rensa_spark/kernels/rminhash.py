"""R-MinHash digest-matrix kernel, vectorized over Arrow-batch layouts.

Reference semantics: sig[i] = min over token hashes h of
((a[i] * h + b[i]) mod 2^64) >> 32, as u32; empty rows stay u32::MAX
(/root/reference/src/utils.rs:188-191, src/rminhash.rs:296-371,
src/rminhash/pipeline.rs:370-623). The reference's chunking / worker-thread /
SIMD machinery is replaced by numpy broadcasting over the flat
(values, offsets) layout that pyarrow ListArrays already provide —
the exact layout its flat path validates at src/rminhash/pipeline.rs:273-292.
"""

from __future__ import annotations

import numpy as np

U32 = np.uint32
U64 = np.uint64
U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)

# (num_perm x tokens) elements per slab block: 2^16 = 512 tokens at
# num_perm=128, i.e. three 512 KiB u64 blocks (values, tiled mul, tiled add).
# Swept 2^14-2^18 on a 4-core Xeon (8 MiB L2/core), min of 11 interleaved
# rounds, R-/C-MinHash ms: 20k dedupbench captions (1.19M tokens)
# 325/312, 351/245, 278/198, 320/188, 334/257; 500 long docs of 500-5000
# tokens (1.36M) 379/266, 316/223, 277/161, 295/181, 389/245. 2^16 is fastest
# or tied on both. Output is slab-size-invariant (tests/test_kernels
# chunking invariance).
_SLAB_ELEMS = 1 << 16


def segmented_min(
    tokens: np.ndarray, offsets: np.ndarray, add: np.ndarray, mul: np.ndarray | None = None
) -> np.ndarray:
    """(rows, num_perm) uint64: per row and permutation p, the minimum over
    the row's tokens t of ``mul[p] * t + add[p]`` (wrapping u64; no ``mul``
    means 1). Rows without tokens stay u64::MAX.

    offsets has rows+1 entries, starts at 0, non-decreasing, ends at
    len(tokens) — same contract as the reference flat path
    (src/rminhash/py.rs:291-316).

    The token stream is cut into fixed-width slabs laid out perm-major: a
    slab is a contiguous (num_perm, width) block, the multiply and add run
    same-shape against ``mul``/``add`` tiled once per call (a broadcast u64
    multiply or add runs ~1.5-2x slower, and one on a strided sub-view of a
    wider block ~2.5x), and the per-row min is a reduceat along the
    contiguous last axis (~1.5-2.7x faster than along axis 0). A row cut by
    a slab edge is min-merged with what the earlier slabs left for it."""
    offsets = np.asarray(offsets, dtype=np.int64)
    tokens = np.ascontiguousarray(tokens, dtype=U64)
    rows, num_perm = len(offsets) - 1, len(add)
    out = np.full((rows, num_perm), U64_MAX, dtype=U64)
    n = len(tokens)
    if rows == 0 or n == 0:
        return out
    if offsets[0] != 0 or offsets[-1] != n or np.any(np.diff(offsets) < 0):
        raise ValueError(
            "row_offsets must start at 0, be non-decreasing, and end at token_hashes length"
        )

    width = min(max(_SLAB_ELEMS // max(num_perm, 1), 1), n)
    block = np.empty(num_perm * width, dtype=U64)
    add_t = np.repeat(np.asarray(add, dtype=U64)[:, None], width, axis=1)
    if mul is not None:
        mul_t = np.repeat(np.asarray(mul, dtype=U64)[:, None], width, axis=1)
    # non-empty rows tile [0, n) in order; slab [c0, c1) covers the rows
    # nonempty[first[i]:last[i]], the first of which may start before c0
    nonempty = np.flatnonzero(offsets[1:] > offsets[:-1])
    row_starts = offsets[nonempty]
    c0s = np.arange(0, n, width)
    first = np.searchsorted(row_starts, c0s, side="right") - 1
    last = np.searchsorted(row_starts, c0s + width, side="left")
    for c0, i0, i1 in zip(c0s.tolist(), first.tolist(), last.tolist()):
        w = min(width, n - c0)
        blk = block[: num_perm * w].reshape(num_perm, w)
        blk[...] = tokens[None, c0 : c0 + w]
        if mul is not None:
            np.multiply(blk, mul_t[:, :w], out=blk)
        np.add(blk, add_t[:, :w], out=blk)
        seg = row_starts[i0:i1] - c0
        seg[0] = 0
        mins = np.minimum.reduceat(blk, seg, axis=1).T
        if row_starts[i0] < c0:
            np.minimum(mins[0], out[nonempty[i0]], out=mins[0])
        out[nonempty[i0:i1]] = mins
    return out


def rminhash_matrix(
    flat_hashes: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(rows, num_perm) uint32 digest matrix from flat token hashes + offsets
    (contract as in segmented_min).

    The >>32 happens AFTER the segmented min: x >> 32 is monotonic
    non-decreasing, so min(x) >> 32 == min(x >> 32); u64::MAX >> 32 is the
    empty-row u32::MAX."""
    return (segmented_min(flat_hashes, offsets, b, mul=a) >> U64(32)).astype(U32)


def jaccard_matrix(sig_a: np.ndarray, sig_b: np.ndarray) -> np.ndarray:
    """Pairwise (row-aligned) equal-slot fraction (src/rminhash.rs:266-294)."""
    return (sig_a == sig_b).mean(axis=1)
