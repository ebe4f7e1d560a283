"""Seeded input generators for the dedup benchmark.

The benchmark owns its inputs: nothing here imports ``rensa_spark``, so a
change to the program (``rensa_spark/sources/`` included) cannot change what
a workload feeds it. Every generator is a pure function of ``(n, seed)``.

Caption corpus (70/15/10/5 unique/exact/near/adversarial, 4-120 tokens):

- unique: random tokens from a fixed 1000-word vocabulary;
- exact: a copy of an earlier unique row's text;
- near: an earlier unique row of at least 40 tokens with one word appended
  or prepended. That changes one word 3-gram of at least 38, so the true
  Jaccard similarity is >= 38/39 ~ 0.974 and, at 128 permutations in 8 bands
  of 16, a planted near pair misses every band with probability < 2e-4;
- adversarial: empty captions, 1-4 token captions, and captions that start
  with one shared "hot" trigram (a skewed band bucket).

``gt`` is the planted cluster id: the key of the cluster's unique source row
(its own key for unique and adversarial rows). Keys are int64 in generation
order, so every copy comes after its source.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_CONSONANTS = "bcdfghjklmnpqrstvwz"
_VOWELS = "aeiou"
VOCAB_SIZE = 1000
NEAR_MIN_TOKENS = 40
HOT_TRIGRAM = "qoz vexu rib"

UNIQUE, EXACT, NEAR, ADVERSARIAL = 0, 1, 2, 3
KIND_NAMES = ("unique", "exact", "near", "adversarial")


def vocabulary() -> np.ndarray:
    """A fixed (seed-independent) vocabulary of 2-3 syllable words."""
    sylls = [c + v for c in _CONSONANTS for v in _VOWELS]
    words = [a + b for a in sylls for b in sylls[:9]]
    words += [a + b + c for a in sylls[:12] for b in sylls[:6] for c in sylls[:5]]
    return np.array(sorted(set(words))[:VOCAB_SIZE], dtype=object)


def _join_rows(vocab: np.ndarray, tokens: np.ndarray, lens: np.ndarray) -> list[str]:
    words = vocab[tokens]
    ends = np.cumsum(lens)
    return [" ".join(words[e - n : e]) for e, n in zip(ends.tolist(), lens.tolist())]


def _earlier(rng: np.random.Generator, eligible: np.ndarray) -> np.ndarray:
    """For each row, a uniformly drawn index of an *earlier* eligible row,
    or -1 where none precedes it."""
    idx = np.flatnonzero(eligible)
    before = np.cumsum(eligible) - eligible
    pick = np.floor(rng.random(len(eligible)) * before).astype(np.int64)
    return np.where(before > 0, idx[np.minimum(pick, max(len(idx) - 1, 0))], -1)


def captions(n: int, seed: int) -> pd.DataFrame:
    """-> DataFrame(key int64, text str, gt int64, kind int8)."""
    rng = np.random.default_rng([seed, n])
    vocab = vocabulary()
    kind = np.searchsorted(np.array([0.70, 0.85, 0.95]), rng.random(n), side="right")
    kind[0] = UNIQUE
    lens = rng.integers(4, 121, size=n)
    text = np.array(
        _join_rows(vocab, rng.integers(0, VOCAB_SIZE, size=int(lens.sum())), lens),
        dtype=object,
    )
    gt = np.arange(n, dtype=np.int64)

    # copies point at earlier unique rows; a copy with no eligible earlier
    # source becomes a unique row itself
    src_exact = _earlier(rng, kind == UNIQUE)
    src_near = _earlier(rng, (kind == UNIQUE) & (lens >= NEAR_MIN_TOKENS))
    src = np.where(kind == EXACT, src_exact, np.where(kind == NEAR, src_near, -1))
    kind[((kind == EXACT) | (kind == NEAR)) & (src < 0)] = UNIQUE
    exact = kind == EXACT
    text[exact] = text[src[exact]]
    gt[exact] = src[exact]

    near = np.flatnonzero(kind == NEAR)
    extra = vocab[rng.integers(0, VOCAB_SIZE, size=len(near))]
    prepend = rng.random(len(near)) < 0.5
    text[near] = [
        f"{w} {s}" if p else f"{s} {w}"
        for w, s, p in zip(extra, text[src[near]], prepend)
    ]
    gt[near] = src[near]

    adv = np.flatnonzero(kind == ADVERSARIAL)
    adv_kind = rng.integers(0, 3, size=len(adv))
    short_lens = rng.integers(1, 5, size=len(adv))
    short = _join_rows(
        vocab, rng.integers(0, VOCAB_SIZE, size=int(short_lens.sum())), short_lens
    )
    text[adv] = [
        "" if k == 0 else (s if k == 1 else f"{HOT_TRIGRAM} {s}")
        for k, s in zip(adv_kind.tolist(), short)
    ]
    return pd.DataFrame(
        {
            "key": np.arange(n, dtype=np.int64),
            "text": text.astype(str),
            "gt": gt,
            "kind": kind.astype(np.int8),
        }
    )


def vectors(n: int, block: int, dim: int, seed: int) -> pd.DataFrame:
    """-> DataFrame(vid int64, vec list[float32], in_block bool).

    ``n - block`` gaussian vectors plus ``block`` copies of one vector. The
    block holds the ids ``[n - block, n)`` so a pair's membership is a range
    test; rows are shuffled so the block is spread over every partition."""
    rng = np.random.default_rng([seed, n, block, dim])
    m = rng.standard_normal((n, dim)).astype(np.float32)
    vid = np.arange(n, dtype=np.int64)
    in_block = vid >= n - block
    m[in_block] = m[n - block] if block else m[in_block]
    order = rng.permutation(n)
    return pd.DataFrame({"vid": vid[order], "vec": list(m[order]), "in_block": in_block[order]})


def caption_stats(df: pd.DataFrame) -> dict:
    """Rows, text bytes and planted-duplicate counts of a caption corpus."""
    sizes = df.groupby("gt").size()
    return {
        "rows": int(len(df)),
        "text_bytes": int(df["text"].str.len().sum()),
        **{f"{name}_rows": int((df["kind"] == k).sum()) for k, name in enumerate(KIND_NAMES)},
        "planted_clusters": int((sizes > 1).sum()),
        "planted_pairs": int((sizes * (sizes - 1) // 2).sum()),
    }


def vector_stats(df: pd.DataFrame) -> dict:
    b = int(df["in_block"].sum())
    dim = len(df["vec"].iloc[0])
    return {
        "rows": int(len(df)),
        "vector_bytes": int(len(df) * dim * 4),
        "block_rows": b,
        "planted_pairs": b * (b - 1) // 2,
    }
