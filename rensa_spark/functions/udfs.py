"""Arrow-batched pandas UDFs wrapping the numpy kernels.

These are the only Python↔JVM crossings in the engine. Each UDF factory
captures a frozen RensaConfig; permutation tables are derived lazily once per
executor process and memoized (the Spark analogue of the reference's
broadcast-once permutation SoA, src/rminhash.rs:138-150 /
src/simd/dispatch.rs:44-67).

Storage conventions (documented in FIXTURES.md §3):
- u32 signature slots   -> IntegerType, int32 bit-pattern (``.view(np.int32)``)
- u64 hashes/band hashes -> LongType, int64 bit-pattern (``.view(np.int64)``)
Bit-patterns survive the round-trip exactly; comparisons/joins only ever test
equality, which is bit-pattern-safe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from rensa_spark.config import RensaConfig
from rensa_spark.kernels.cminhash import cminhash_digest32, cminhash_matrix64
from rensa_spark.kernels.fxhash import band_hash_u64, fxhash64
from rensa_spark.kernels.rho import rho_matrix
from rensa_spark.kernels.rminhash import rminhash_matrix
from rensa_spark.kernels.shingle import shingle_hashes_batch

_PERM_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _perms(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    key = (num_perm, seed)
    if key not in _PERM_CACHE:
        from rensa_spark.kernels.prng import rminhash_permutations

        _PERM_CACHE[key] = rminhash_permutations(num_perm, seed)
    return _PERM_CACHE[key]


def _flat_from_series(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of int64-lists (token hashes) -> (flat uint64, offsets)."""
    arrays = [np.asarray(v, dtype=np.int64) if v is not None else np.empty(0, np.int64) for v in series]
    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = (
        np.concatenate(arrays).view(np.uint64) if offsets[-1] else np.empty(0, np.uint64)
    )
    return flat, offsets


def _flat_from_byte_series(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of binary-token lists (array<binary> columns) -> (flat uint64
    fxhash64 hashes, offsets). Raw bytes are hashed exactly like the
    reference's bytes-token input path (src/py_input.rs:11-18 — PyBytes
    tokens feed calculate_hash_fast unchanged; kernels/fxhash.py fxhash64)."""
    rows = len(series)
    all_tokens: list[bytes] = []
    lens = np.empty(rows, dtype=np.int64)
    for i, v in enumerate(series):
        toks = [] if v is None else [bytes(t) for t in v]
        lens[i] = len(toks)
        all_tokens.extend(toks)
    offsets = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return fxhash64(all_tokens), offsets


def _flat_for(col: pd.Series, cfg: RensaConfig, input_kind: str):
    """Dispatch the three reference input forms (token strings via shingling,
    pre-hashed u64 tokens, raw byte tokens) to one flat layout."""
    if input_kind == "hashes":
        return _flat_from_series(col)
    if input_kind == "bytes":
        return _flat_from_byte_series(col)
    return shingle_hashes_batch(col, cfg.ngram_size)


def _sig_matrix_from_series(series: pd.Series, num_perm: int) -> np.ndarray:
    """Series of int32-lists (signatures) -> (rows, num_perm) uint32."""
    rows = len(series)
    out = np.empty((rows, num_perm), dtype=np.uint32)
    for i, v in enumerate(series):
        out[i] = np.asarray(v, dtype=np.int32).view(np.uint32)
    return out


def _as_list_series(matrix: np.ndarray, view: type) -> pd.Series:
    return pd.Series(list(matrix.view(view)))


def _band_hash_matrix(sig: np.ndarray, num_bands: int, fold: int) -> np.ndarray:
    """(rows, num_bands//fold) uint64 effective band hashes.

    Fold-by-widening is exact: see band_hash_u64 docstring (the reference's
    folded-hash algebra src/lsh.rs:107-123 equals hashing the wider slice)."""
    num_perm = sig.shape[1]
    eff_bands = num_bands // fold
    eff_size = (num_perm // num_bands) * fold
    out = np.empty((sig.shape[0], eff_bands), dtype=np.uint64)
    for i in range(eff_bands):
        out[:, i] = band_hash_u64(sig[:, i * eff_size : (i + 1) * eff_size])
    return out


# ------------------------------------------------------------------ factories
def shingle_hashes_udf(cfg: RensaConfig):
    """text -> array<bigint> of shingle token hashes (reusable pre-hash stage,
    mirror of RMinHash.hash_token_sets, src/rminhash/py.rs:175-182)."""

    @pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        flat, offsets = shingle_hashes_batch(texts, cfg.ngram_size)
        signed = flat.view(np.int64)
        return pd.Series([signed[offsets[i] : offsets[i + 1]] for i in range(len(texts))])

    return _udf


def rminhash_sig_udf(cfg: RensaConfig, from_hashes: bool = False, from_bytes: bool = False):
    """text (or token-hash array, or binary-token array) -> array<int>
    R-MinHash signature. ``from_bytes`` accepts array<binary> token columns
    (digest_matrix_from_token_byte_sets, src/rminhash/py.rs bytes path)."""
    a, b = None, None
    kind = "hashes" if from_hashes else ("bytes" if from_bytes else "text")

    @pandas_udf(ArrayType(IntegerType()))
    def _udf(col: pd.Series) -> pd.Series:
        nonlocal a, b
        if a is None:
            a, b = _perms(cfg.num_perm, cfg.seed)
        flat, offsets = _flat_for(col, cfg, kind)
        sig = rminhash_matrix(flat, offsets, a, b)
        return _as_list_series(sig, np.int32)

    return _udf


def rminhash_bands_udf(
    cfg: RensaConfig,
    fold: int = 1,
    from_hashes: bool = False,
    from_bytes: bool = False,
):
    """Fused hot path: text -> array<bigint> effective band hashes.

    One Python crossing per batch; the signature matrix never leaves the
    executor. This is the sketch+banding stage of the flagship one-shot
    pipeline (src/lsh/one_shot.rs:294-332 fast path)."""
    a, b = None, None
    kind = "hashes" if from_hashes else ("bytes" if from_bytes else "text")

    @pandas_udf(ArrayType(LongType()))
    def _udf(col: pd.Series) -> pd.Series:
        nonlocal a, b
        if a is None:
            a, b = _perms(cfg.num_perm, cfg.seed)
        flat, offsets = _flat_for(col, cfg, kind)
        sig = rminhash_matrix(flat, offsets, a, b)
        bands = _band_hash_matrix(sig, cfg.num_bands, fold)
        return _as_list_series(bands, np.int64)

    return _udf


SIG_BANDS_SCHEMA = StructType(
    [
        StructField("sig", ArrayType(IntegerType())),
        StructField("bands", ArrayType(LongType())),
    ]
)


def rminhash_sig_bands_udf(
    cfg: RensaConfig,
    fold: int = 1,
    from_hashes: bool = False,
    from_bytes: bool = False,
):
    """Fused text -> struct(sig, bands): ONE shingle+MinHash pass feeding
    both the signature and its band hashes (round 6 — the separate
    rminhash_sig_udf + rminhash_bands_udf pair recomputed the full
    shingle+min-fold twice for every clusters/pairs lane; band hashing is
    a pure function of the signature, so fusing is bit-identical)."""
    a, b = None, None
    kind = "hashes" if from_hashes else ("bytes" if from_bytes else "text")

    @pandas_udf(SIG_BANDS_SCHEMA)
    def _udf(col: pd.Series) -> pd.DataFrame:
        nonlocal a, b
        if a is None:
            a, b = _perms(cfg.num_perm, cfg.seed)
        flat, offsets = _flat_for(col, cfg, kind)
        sig = rminhash_matrix(flat, offsets, a, b)
        bands = _band_hash_matrix(sig, cfg.num_bands, fold)
        return pd.DataFrame(
            {
                "sig": list(sig.view(np.int32)),
                "bands": list(bands.view(np.int64)),
            }
        )

    return _udf


def band_hashes_udf(cfg: RensaConfig, fold: int = 1):
    """array<int> signature -> array<bigint> effective band hashes
    (digest_band_hashes, src/lsh/index.rs:73-81)."""

    @pandas_udf(ArrayType(LongType()))
    def _udf(sigs: pd.Series) -> pd.Series:
        sig = _sig_matrix_from_series(sigs, cfg.num_perm)
        bands = _band_hash_matrix(sig, cfg.num_bands, fold)
        return _as_list_series(bands, np.int64)

    return _udf


def cminhash_sig_udf(
    cfg: RensaConfig,
    bits: int = 32,
    from_hashes: bool = False,
    from_bytes: bool = False,
):
    """text -> C-MinHash signature; bits=32 -> array<int> (digest()),
    bits=64 -> array<bigint> (digest_u64()). ``from_bytes`` accepts
    array<binary> token columns (bytes-token input path)."""
    ret = ArrayType(IntegerType()) if bits == 32 else ArrayType(LongType())
    kind = "hashes" if from_hashes else ("bytes" if from_bytes else "text")

    @pandas_udf(ret)
    def _udf(col: pd.Series) -> pd.Series:
        flat, offsets = _flat_for(col, cfg, kind)
        sig64 = cminhash_matrix64(flat, offsets, cfg.num_perm, cfg.seed)
        if bits == 32:
            return _as_list_series(cminhash_digest32(sig64), np.int32)
        return _as_list_series(sig64, np.int64)

    return _udf


RHO_SKETCH_SCHEMA = StructType(
    [
        StructField("sig", ArrayType(IntegerType())),
        StructField("non_empty", IntegerType()),
        StructField("token_count", IntegerType()),
        StructField("is_sparse", BooleanType()),
        StructField("sparse_sig", ArrayType(IntegerType())),
        StructField("bands", ArrayType(LongType())),  # effective (folded) bands
        StructField("rescue_bands", ArrayType(LongType())),  # unfolded bands
    ]
)


def rho_sketch_udf(cfg: RensaConfig, from_hashes: bool = False):
    """text -> full Rho sketch struct: digest + sidecar columns + both band
    granularities (effective folded bands for the main scan, unfolded bands
    for recall rescue — src/lsh/one_shot.rs:492-577)."""
    fold = cfg.effective_band_fold(rho_sidecar_present=True, has_existing_entries=False)

    @pandas_udf(RHO_SKETCH_SCHEMA)
    def _udf(col: pd.Series) -> pd.DataFrame:
        if from_hashes:
            flat, offsets = _flat_from_series(col)
        else:
            flat, offsets = shingle_hashes_batch(col, cfg.ngram_size)
        m = rho_matrix(flat, offsets, cfg)
        bands = _band_hash_matrix(m.digest, cfg.num_bands, fold)
        rescue = (
            _band_hash_matrix(m.digest, cfg.num_bands, 1) if fold > 1 else bands
        )
        sparse_sig = [
            m.sparse_sigs[i].view(np.int32) if m.sparse[i] else None
            for i in range(len(m.sparse))
        ]
        return pd.DataFrame(
            {
                "sig": list(m.digest.view(np.int32)),
                "non_empty": m.non_empty.astype(np.int32),
                "token_count": m.source_token_counts.astype(np.int32),
                "is_sparse": m.sparse,
                "sparse_sig": sparse_sig,
                "bands": list(bands.view(np.int64)),
                "rescue_bands": list(rescue.view(np.int64)),
            }
        )

    return _udf


def jaccard_udf(cfg: RensaConfig):
    """(sig_a, sig_b) -> equal-slot fraction (src/rminhash.rs:266-294)."""

    @pandas_udf(DoubleType())
    def _udf(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
        a = _sig_matrix_from_series(sig_a, cfg.num_perm)
        b = _sig_matrix_from_series(sig_b, cfg.num_perm)
        return pd.Series((a == b).mean(axis=1))

    return _udf


def sparse_verify_sim_udf():
    """(sparse_sig_a, sparse_sig_b) -> equal-slot fraction over the 8-slot
    verify signatures (src/lsh/config.rs:126-139); null sig -> 1.0 (missing
    signature passes, src/lsh/one_shot.rs:433-451)."""

    @pandas_udf(DoubleType())
    def _udf(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
        out = np.ones(len(sig_a))
        for i, (x, y) in enumerate(zip(sig_a, sig_b)):
            if x is None or y is None:
                continue
            xa = np.asarray(x)
            ya = np.asarray(y)
            out[i] = (xa == ya).mean() if len(xa) == len(ya) and len(xa) else 0.0
        return pd.Series(out)

    return _udf


def raw_fxhash_udf():
    """text -> bigint calculate_hash_fast of the whole UTF-8 string (exact-hash
    keying; also the phash-style single-token path)."""

    @pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        hashes = fxhash64([(t or "").encode("utf-8") for t in texts])
        return pd.Series(hashes.view(np.int64))

    return _udf


def explode_bands(df, key_col: str, bands_col: str = "bands"):
    """(key, bands[...]) -> (key, band_idx, band_hash) rows
    (banding projection, src/lsh/index.rs:73-81 -> posexplode)."""
    return df.select(
        F.col(key_col),
        F.posexplode(bands_col).alias("band_idx", "band_hash"),
    )
