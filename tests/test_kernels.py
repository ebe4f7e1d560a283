"""Kernel-parity tests: vectorized numpy kernels == pure-Python scalar oracle.

Mirrors the reference's dominant test pattern — every batch/SIMD path must
equal the scalar path bit-for-bit (/root/reference/tests/test_rensa.py:178-298,
555-637; Rust oracle tests at src/utils.rs:226-299)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.kernels import cminhash as kc
from rensa_spark.kernels import fxhash as kf
from rensa_spark.kernels import rho as kr
from rensa_spark.kernels import rminhash as km
from rensa_spark.kernels.prng import (
    Xoshiro256PlusPlus,
    cminhash_params,
    rminhash_permutations,
    splitmix64_np,
)
from rensa_spark.oracle import pyrensa as oracle

# boundary byte lengths from the reference hash oracle test (utils.rs:257-272)
BOUNDARY_LENGTHS = [0, 1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 36, 63, 64, 100]


def _rand_bytes(rng: random.Random, n: int) -> bytes:
    return bytes(rng.getrandbits(8) for _ in range(n))


def test_fxhash_boundary_lengths_match_oracle():
    rng = random.Random(42)
    tokens = [_rand_bytes(rng, n) for n in BOUNDARY_LENGTHS for _ in range(5)]
    got = kf.fxhash64(tokens)
    want = [oracle.fxhash64_py(t) for t in tokens]
    assert got.tolist() == want


def test_fxhash_utf8_strings():
    toks = ["", "a", "hello world", "naïve café ☃", "x" * 100, "the quick brown fox"]
    got = kf.fxhash64_strs(toks)
    want = [oracle.fxhash64_py(t) for t in toks]
    assert got.tolist() == want


def test_splitmix64_np_matches_scalar():
    rng = random.Random(7)
    vals = np.array([rng.getrandbits(64) for _ in range(1000)], dtype=np.uint64)
    got = splitmix64_np(vals)
    want = [oracle.splitmix64_py(int(v)) for v in vals]
    assert got.tolist() == want


def test_xoshiro_stream_is_deterministic_and_seed_sensitive():
    a = Xoshiro256PlusPlus(42)
    b = Xoshiro256PlusPlus(42)
    c = Xoshiro256PlusPlus(12345)
    s_a = [a.next_u64() for _ in range(16)]
    s_b = [b.next_u64() for _ in range(16)]
    s_c = [c.next_u64() for _ in range(16)]
    assert s_a == s_b
    assert s_a != s_c
    assert all(0 <= v < (1 << 64) for v in s_a)


def test_band_hash_matches_oracle():
    rng = random.Random(3)
    for width in [1, 2, 3, 4, 5, 7, 8, 15, 16, 32]:
        bands = np.array(
            [[rng.getrandbits(32) for _ in range(width)] for _ in range(20)],
            dtype=np.uint32,
        )
        got = kf.band_hash_u64(bands)
        want = [oracle.band_hash_py(list(map(int, row))) for row in bands]
        assert got.tolist() == want, f"width={width}"


def _random_docs(rng: random.Random, n_docs: int) -> list[list[int]]:
    docs = []
    for _ in range(n_docs):
        cnt = rng.choice([0, 1, 2, 5, 31, 32, 33, 50, 97, 150])
        docs.append([rng.getrandbits(64) for _ in range(cnt)])
    return docs


def _flat(docs: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
    flat = np.array([h for d in docs for h in d], dtype=np.uint64)
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offsets[1:])
    return flat, offsets


def test_rminhash_matrix_matches_oracle():
    rng = random.Random(11)
    docs = _random_docs(rng, 40)
    a, b = rminhash_permutations(16, 42)
    flat, offsets = _flat(docs)
    got = km.rminhash_matrix(flat, offsets, a, b)
    for i, d in enumerate(docs):
        want = oracle.rminhash_sig_py(d, [int(x) for x in a], [int(x) for x in b])
        assert got[i].tolist() == want, f"row {i}"


def test_fxhash_ranges_ending_at_buffer_end_match_oracle():
    """The u64 view reads 8 bytes at every gather; a token of 4-7 bytes
    that ends on the buffer's last byte reads its second u32 partly from
    the zero pad. Every length class is pinned with the token at the end."""
    rng = random.Random(43)
    for length in [4, 5, 6, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 48]:
        for prefix in [0, 1, 7]:
            blob = _rand_bytes(rng, prefix + length)
            buf = np.frombuffer(blob, dtype=np.uint8)
            got = kf.fxhash64_ranges(buf, np.array([prefix]), np.array([length]))
            assert got.tolist() == [oracle.fxhash64_py(blob[prefix:])], (length, prefix)


def _repeated_docs(rng: random.Random, n_docs: int) -> list[list[int]]:
    """Rows drawing with repetition from a 5-hash pool (shared across rows)."""
    pool = [rng.getrandbits(64) for _ in range(5)]
    lengths = [rng.choice([0, 1, 3, 40, 150]) for _ in range(n_docs)]
    return [[rng.choice(pool) for _ in range(n)] for n in lengths]


def test_rminhash_matrix_chunking_invariance():
    """Slab boundaries must not change results (reference analogue:
    chunked pipeline == scalar, pipeline.rs:370-623), for R-MinHash and
    C-MinHash, which share the slab loop, on random and repeated tokens.
    Interleaves empty rows everywhere so that slabs start and end next to
    empty rows for some slab size, and rows longer than a slab are cut by
    slab edges."""
    rng = random.Random(13)
    a, b = rminhash_permutations(128, 42)
    sa, sb, pc, pd = cminhash_params(42)
    for docs_of in (_random_docs, _repeated_docs):
        docs = []
        for d in docs_of(rng, 30):
            docs.append(d)
            docs.append([])  # empty after every doc
        docs.append([])
        flat, offsets = _flat(docs)
        want = [
            oracle.rminhash_sig_py(d, [int(x) for x in a], [int(x) for x in b])
            for d in docs
        ]
        want64 = [oracle.cminhash_sig64_py(d, sa, sb, pc, pd, 128) for d in docs]
        old = km._SLAB_ELEMS
        try:
            for slab in [256, 1024, 4096, 1 << 20]:
                km._SLAB_ELEMS = slab
                got = km.rminhash_matrix(flat, offsets, a, b)
                got64 = kc.cminhash_matrix64(flat, offsets, 128, 42)
                for i in range(len(docs)):
                    assert got[i].tolist() == want[i], f"slab={slab} row={i}"
                    assert got64[i].tolist() == want64[i], f"cminhash slab={slab} row={i}"
        finally:
            km._SLAB_ELEMS = old


def test_rminhash_empty_doc_is_all_max():
    a, b = rminhash_permutations(8, 42)
    got = km.rminhash_matrix(
        np.array([], dtype=np.uint64), np.array([0, 0, 0], dtype=np.int64), a, b
    )
    assert (got == 0xFFFFFFFF).all()


def test_rminhash_offsets_validation():
    a, b = rminhash_permutations(4, 42)
    with pytest.raises(ValueError):
        km.rminhash_matrix(
            np.array([1, 2], dtype=np.uint64), np.array([0, 1], dtype=np.int64), a, b
        )


def test_cminhash_matrix_matches_oracle():
    rng = random.Random(17)
    docs = _random_docs(rng, 25)
    flat, offsets = _flat(docs)
    sig64 = kc.cminhash_matrix64(flat, offsets, 16, 42)
    d32 = kc.cminhash_digest32(sig64)
    sa, sb, pc, pd = cminhash_params(42)
    for i, d in enumerate(docs):
        want64 = oracle.cminhash_sig64_py(d, sa, sb, pc, pd, 16)
        assert sig64[i].tolist() == want64, f"row {i}"
        assert d32[i].tolist() == oracle.cminhash_digest32_py(want64)


def test_midpoint_sampler_closed_form_matches_iterative():
    for total, limit in [(16, 15), (33, 15), (100, 15), (97, 64), (65, 64), (1000, 15), (4096, 64)]:
        want = oracle.midpoint_sample_indices_py(total, limit)
        row_rep, idx = kr._midpoint_indices(np.array([total]), limit)
        assert idx.tolist() == want, (total, limit)
        assert all(0 <= i < total for i in want)


def test_rho_matrix_matches_oracle():
    cfg = RensaConfig(num_perm=128, seed=42)
    rng = random.Random(23)
    docs = _random_docs(rng, 40)
    flat, offsets = _flat(docs)
    got = kr.rho_matrix(flat, offsets, cfg)
    for i, d in enumerate(docs):
        want = oracle.rho_row_py(d, cfg)
        assert got.digest[i].tolist() == want.digest, f"row {i} digest"
        assert int(got.non_empty[i]) == want.non_empty, f"row {i} non_empty"
        assert int(got.source_token_counts[i]) == want.source_token_count
        assert bool(got.sparse[i]) == want.sparse, f"row {i} sparse"
        if want.sparse and want.sparse_sig is not None:
            assert got.sparse_sigs[i].tolist() == want.sparse_sig, f"row {i} sv sig"


def test_rho_matrix_non_power_of_two_num_perm():
    cfg = RensaConfig(num_perm=96, seed=7, num_bands=8)
    rng = random.Random(29)
    docs = _random_docs(rng, 15)
    flat, offsets = _flat(docs)
    got = kr.rho_matrix(flat, offsets, cfg)
    for i, d in enumerate(docs):
        want = oracle.rho_row_py(d, cfg)
        assert got.digest[i].tolist() == want.digest, f"row {i}"


def test_rho_densify_parity():
    cfg = RensaConfig(num_perm=32, seed=5, num_bands=8, rho_densify=True)
    rng = random.Random(31)
    docs = [[rng.getrandbits(64) for _ in range(c)] for c in [0, 1, 2, 3, 10]]
    flat, offsets = _flat(docs)
    got = kr.rho_matrix(flat, offsets, cfg)
    for i, d in enumerate(docs):
        want = oracle.rho_row_py(d, cfg)
        assert got.digest[i].tolist() == want.digest, f"row {i}"


def test_config_validation_matrix():
    """LSH parameter rejection (src/lsh/config.rs:141-175,
    tests/test_rensa.py:655-670)."""
    with pytest.raises(ValueError):
        RensaConfig(num_perm=0)
    with pytest.raises(ValueError):
        RensaConfig(threshold=1.5)
    with pytest.raises(ValueError):
        RensaConfig(num_perm=8, num_bands=16)
    with pytest.raises(ValueError):
        RensaConfig(num_perm=100, num_bands=7)
    RensaConfig(num_perm=128, num_bands=8)  # valid


def test_jaccard_identical_and_disjoint():
    a, b = rminhash_permutations(64, 42)
    d1 = [1, 2, 3, 4, 5]
    d2 = list(range(1000, 1100))
    s1 = oracle.rminhash_sig_py(d1, [int(x) for x in a], [int(x) for x in b])
    s2 = oracle.rminhash_sig_py(d2, [int(x) for x in a], [int(x) for x in b])
    assert oracle.jaccard_py(s1, s1) == 1.0
    assert oracle.jaccard_py(s1, s2) < 0.2


def test_rho_densify_np_fuzz_vs_scalar():
    """Direct fuzz of the vectorized circular densify against the scalar
    oracle over random occupancy masks (incl. all-empty, all-full, single
    non-empty at every position)."""
    import numpy as np

    from rensa_spark.config import EMPTY_BUCKET
    from rensa_spark.kernels.rho import rho_densify_np
    from rensa_spark.oracle.pyrensa import rho_densify_py

    rng = np.random.default_rng(17)
    for n in (1, 2, 7, 32):
        rows = []
        rows.append(np.full(n, EMPTY_BUCKET, dtype=np.uint32))  # all empty
        rows.append(rng.integers(0, EMPTY_BUCKET, n, dtype=np.uint32))  # full
        for p in range(n):  # single survivor at each position
            r = np.full(n, EMPTY_BUCKET, dtype=np.uint32)
            r[p] = rng.integers(0, EMPTY_BUCKET, dtype=np.uint32)
            rows.append(r)
        for _ in range(40):  # random masks
            r = rng.integers(0, EMPTY_BUCKET, n, dtype=np.uint32)
            mask = rng.random(n) < rng.random()
            r[mask] = EMPTY_BUCKET
            rows.append(r)
        mat = np.stack(rows)
        for seed in (0, 5, 0xDEADBEEF):
            got = mat.copy()
            rho_densify_np(got, seed)
            for i in range(len(rows)):
                want = mat[i].tolist()
                rho_densify_py(want, seed)
                assert got[i].tolist() == want, (n, seed, i)
