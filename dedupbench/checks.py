"""Output checks, one per workload, on pandas/numpy copies of the outputs.

Each check returns ``(ok, recall, detail)``. ``recall`` is the share of
planted duplicates the output found; ``ok`` is False when any invariant the
workload must hold is broken. The checks know only the generator's planted
structure, never the program's code.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RECALL_MIN = 0.99
COSINE_TOL = 1e-5  # float vs the fixed-point (2^-20) cosine the program computes


def _pairs(counts: pd.Series) -> int:
    return int((counts * (counts - 1) // 2).sum())


def check_clusters(inp: pd.DataFrame, out: pd.DataFrame) -> tuple[bool, float, dict]:
    """Pipeline output (key, cluster_id, is_survivor) against planted
    clusters: recall >= 0.99 of planted pairs, one row per input key, and
    survivors = distinct cluster ids."""
    joined = inp[["key", "gt"]].merge(out, on="key", how="left")
    planted = _pairs(joined.groupby("gt").size())
    found = _pairs(joined.groupby(["gt", "cluster_id"]).size())
    recall = found / planted if planted else 1.0
    n_surv = int(out["is_survivor"].sum())
    n_clusters = int(out["cluster_id"].nunique())
    detail = {
        "planted_pairs": planted,
        "found_pairs": found,
        "survivors": n_surv,
        "clusters": n_clusters,
    }
    ok = (
        len(out) == len(inp)
        and out["key"].is_unique
        and joined["cluster_id"].notna().all()
        and n_surv == n_clusters
        and recall >= RECALL_MIN
    )
    return bool(ok), recall, detail


def check_flags(inp: pd.DataFrame, out: pd.DataFrame) -> tuple[bool, float, dict]:
    """dup_flags output (key, is_dup): one row per key, and every planted
    exact-duplicate row (and its source) flagged."""
    from dedupbench.gen import EXACT

    flags = inp[["key", "gt", "kind"]].merge(out, on="key", how="left")
    exact = flags["kind"] == EXACT
    must = exact | flags["key"].isin(flags.loc[exact, "gt"])
    hit = int(flags.loc[must, "is_dup"].eq(True).sum())
    recall = hit / int(must.sum()) if must.any() else 1.0
    ok = len(out) == len(inp) and out["key"].is_unique and recall == 1.0
    return bool(ok), recall, {"exact_rows": int(must.sum()), "flagged": int(out["is_dup"].sum())}


def check_stream(inp: pd.DataFrame, decisions: pd.DataFrame) -> tuple[bool, float, dict]:
    """Streaming decisions (key, kept): exactly one decision per input row,
    no kept text repeats an earlier kept text, and recall = planted copies
    (exact + near, whose source precedes them) decided as duplicates."""
    d = inp[["key", "gt", "kind", "text"]].merge(decisions, on="key", how="left")
    one_each = len(decisions) == len(inp) and decisions["key"].is_unique and d["kept"].notna().all()
    kept = d[d["kept"].eq(True)]
    repeats = int(kept["text"].duplicated().sum())
    copies = d["key"] != d["gt"]
    dropped = int(d.loc[copies, "kept"].eq(False).sum())
    recall = dropped / int(copies.sum()) if copies.any() else 1.0
    ok = one_each and repeats == 0 and recall >= RECALL_MIN
    return bool(ok), recall, {"kept": len(kept), "kept_text_repeats": repeats, "copies": int(copies.sum())}


def check_ann(
    vecs: pd.DataFrame, block_pairs: int, sample: pd.DataFrame, min_cosine: float
) -> tuple[bool, float, dict]:
    """ANN output summary: the identical block's exact pair count, and a
    sample of non-block output pairs (a, b) whose numpy cosine >= min_cosine."""
    b = int(vecs["in_block"].sum())
    want = b * (b - 1) // 2
    m = np.empty((len(vecs), len(vecs["vec"].iloc[0])), dtype=np.float64)
    m[vecs["vid"].to_numpy()] = np.stack(vecs["vec"].to_numpy())
    bad = 0
    if len(sample):
        a = m[sample["a"].to_numpy()]
        c = m[sample["b"].to_numpy()]
        cos = (a * c).sum(axis=1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(c, axis=1))
        bad = int((cos < min_cosine - COSINE_TOL).sum())
    recall = min(block_pairs, want) / want if want else 1.0
    ok = block_pairs == want and bad == 0 and len(sample) > 0
    return bool(ok), recall, {"block_pairs": block_pairs, "want_block_pairs": want, "sampled": len(sample), "bad_sampled": bad}
