"""Sketch stages that emit band rows directly from Arrow batches.

``mapInPandas`` producing the already-exploded (key, band_idx, band_hash)
layout measured ~10x faster than pandas_udf(array) + posexplode (the
Generate node row-converts each array element); it also keeps the signature
matrix entirely inside the executor worker — the Spark analogue of the
reference's fused one-shot pass (src/lsh/one_shot.rs folds sketch+band+scan
into one matrix traversal).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rensa_spark.config import RensaConfig


def _validate_fold(num_bands: int, fold: int) -> None:
    """Folding merges ``fold`` adjacent bands into one effective band; the
    row count per key (num_bands // fold) feeds one_shot_flags_from_bands'
    keys.n_bands contract, so a non-divisor fold would silently mis-flag."""
    if fold < 1 or num_bands % fold != 0:
        raise ValueError(
            f"band fold {fold} must be a positive divisor of num_bands "
            f"{num_bands}; rows per key = num_bands // fold"
        )


def _band_rows(
    df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str, fold: int, sign
) -> DataFrame:
    """text -> one row per (key, band_idx, band_hash) effective band, where
    ``sign(flat, offsets)`` maps one batch's shingle hashes to its
    (rows, num_perm) u32 signature matrix. Runs on the executor."""
    _validate_fold(cfg.num_bands, fold)
    key_type = df.schema[key_col].dataType.simpleString()
    schema = f"key {key_type}, band_idx int, band_hash long"

    def gen(batches):
        from rensa_spark.functions.udfs import _band_hash_matrix
        from rensa_spark.kernels.shingle import shingle_hashes_batch

        for pdf in batches:
            flat, offs = shingle_hashes_batch(pdf[text_col], cfg.ngram_size)
            bands = _band_hash_matrix(sign(flat, offs), cfg.num_bands, fold)
            n, nb = bands.shape
            yield pd.DataFrame(
                {
                    "key": np.repeat(pdf[key_col].values, nb),
                    "band_idx": np.tile(np.arange(nb, dtype=np.int32), n),
                    "band_hash": bands.view(np.int64).reshape(-1),
                }
            )

    return df.select(key_col, text_col).mapInPandas(gen, schema)


def rminhash_band_rows(
    df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str, fold: int = 1
) -> DataFrame:
    """text -> one row per (key, band_idx, band_hash) effective band.
    Emits exactly ``cfg.num_bands // fold`` rows per key — callers passing a
    ``keys`` side to one_shot_flags_from_bands must use THAT count as
    n_bands (see its contract note). The key column keeps its input type."""

    def sign(flat, offs):
        from rensa_spark.functions.udfs import _perms
        from rensa_spark.kernels.rminhash import rminhash_matrix

        return rminhash_matrix(flat, offs, *_perms(cfg.num_perm, cfg.seed))

    return _band_rows(df, cfg, key_col, text_col, fold, sign)


def cminhash_band_rows(
    df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str, fold: int = 1
) -> DataFrame:
    """text -> (key, band_idx, band_hash) over the C-MinHash 32-bit digest
    (the LSH-over-CMinHash path: insert_matrix accepts any digest matrix,
    src/lsh/py.rs:94-108; digest = sig64 >> 32, src/cminhash/py.rs:156-160).
    Emits exactly ``cfg.num_bands // fold`` rows per key (see
    rminhash_band_rows)."""

    def sign(flat, offs):
        from rensa_spark.kernels.cminhash import cminhash_digest32, cminhash_matrix64

        return cminhash_digest32(cminhash_matrix64(flat, offs, cfg.num_perm, cfg.seed))

    return _band_rows(df, cfg, key_col, text_col, fold, sign)
