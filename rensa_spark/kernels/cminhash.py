"""C-MinHash kernel (two-permutation scheme, arXiv:2109.03337).

Reference semantics (/root/reference/src/cminhash/core.rs:38-46, 103-106,
143-182): sigma(h) = sigma_a*h + sigma_b; slot k value =
pi_c*sigma(h) + pi_precomputed[k] with pi_precomputed[k] = pi_c*k + pi_d,
all wrapping u64; signature = per-slot min over tokens, initialized to
u64::MAX; 32-bit digest = value >> 32 (src/cminhash/py.rs:156-160).

The reference batch builders are sequential per document
(src/cminhash/batch.rs:9-191) — here one numpy broadcast covers a whole
Arrow batch and Spark supplies cross-partition parallelism.
"""

from __future__ import annotations

import numpy as np

from rensa_spark.kernels.prng import cminhash_params, cminhash_pi_precomputed
from rensa_spark.kernels.rminhash import segmented_min

U32 = np.uint32
U64 = np.uint64


def cminhash_matrix64(
    flat_hashes: np.ndarray, offsets: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(rows, num_perm) uint64 C-MinHash signature matrix.

    Slot k of token h is pi_c*sigma(h) + pi_precomputed[k]: the per-token
    part is computed once over the flat hashes, the per-slot part is the
    ``add`` of segmented_min."""
    sigma_a, sigma_b, pi_c, pi_d = cminhash_params(seed)
    flat = np.asarray(flat_hashes, dtype=U64)
    with np.errstate(over="ignore"):
        base = U64(pi_c) * (U64(sigma_a) * flat + U64(sigma_b))
    return segmented_min(base, offsets, cminhash_pi_precomputed(num_perm, pi_c, pi_d))


def cminhash_digest32(sig64: np.ndarray) -> np.ndarray:
    """Top 32 bits of each slot (src/cminhash/py.rs:156-160)."""
    return (sig64 >> U64(32)).astype(U32)
