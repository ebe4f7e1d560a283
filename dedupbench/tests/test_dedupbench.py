"""Spark-free tests of the benchmark's own parts: generators, output checks
and the trace arithmetic.

    python3 -m pytest dedupbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from dedupbench import checks, gen, trace  # noqa: E402
from dedupbench.sparkstats import parse_metric  # noqa: E402


# ------------------------------------------------------------------ generators
def test_captions_deterministic_per_seed():
    a, b, c = gen.captions(3000, 7), gen.captions(3000, 7), gen.captions(3000, 8)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"])


def test_captions_planted_structure():
    df = gen.captions(20_000, 3)
    shares = df["kind"].value_counts(normalize=True)
    assert abs(shares[gen.UNIQUE] - 0.70) < 0.03
    assert abs(shares[gen.ADVERSARIAL] - 0.05) < 0.01
    copies = df[df["key"] != df["gt"]]
    assert (copies["gt"] < copies["key"]).all(), "a copy must follow its source"
    src = df.set_index("key").loc[copies["gt"]]
    exact = copies["kind"].to_numpy() == gen.EXACT
    assert (copies["text"].to_numpy()[exact] == src["text"].to_numpy()[exact]).all()
    near = ~exact
    src_tokens = src["text"].str.split().str.len().to_numpy()[near]
    near_tokens = copies["text"].str.split().str.len().to_numpy()[near]
    assert (near_tokens == src_tokens + 1).all() and (src_tokens >= gen.NEAR_MIN_TOKENS).all()
    stats = gen.caption_stats(df)
    assert stats["rows"] == 20_000 and stats["planted_pairs"] > 0


def test_vectors_deterministic_and_block():
    a, b = gen.vectors(2000, 400, 8, 5), gen.vectors(2000, 400, 8, 5)
    pd.testing.assert_frame_equal(a.drop(columns="vec"), b.drop(columns="vec"))
    assert all(np.array_equal(x, y) for x, y in zip(a["vec"], b["vec"]))
    block = a[a["in_block"]]
    assert len(block) == 400 and (block["vid"] >= 1600).all()
    assert all(np.array_equal(v, block["vec"].iloc[0]) for v in block["vec"])
    assert gen.vector_stats(a)["planted_pairs"] == 400 * 399 // 2


# ------------------------------------------------------------------ checks
@pytest.fixture(scope="module")
def corpus():
    return gen.captions(4000, 11)


def _perfect_clusters(df):
    return pd.DataFrame({"key": df["key"], "cluster_id": df["gt"], "is_survivor": df["key"] == df["gt"]})


def test_check_clusters_accepts_truth_and_rejects_corruption(corpus):
    good = _perfect_clusters(corpus)
    assert checks.check_clusters(corpus, good)[0]
    split = good.copy()  # break every planted cluster apart
    split["cluster_id"] = split["key"]
    split["is_survivor"] = True
    ok, recall, _ = checks.check_clusters(corpus, split)
    assert not ok and recall == 0.0
    extra = good.copy()  # a survivor that is not its cluster's id
    extra.loc[extra.index[~extra["is_survivor"]][0], "is_survivor"] = True
    assert not checks.check_clusters(corpus, extra)[0]
    assert not checks.check_clusters(corpus, good.iloc[:-1])[0]


def test_check_flags_rejects_unflagged_exact_dup(corpus):
    truth = corpus["key"].isin(corpus.loc[corpus["key"] != corpus["gt"], "gt"]) | (corpus["key"] != corpus["gt"])
    good = pd.DataFrame({"key": corpus["key"], "is_dup": truth})
    assert checks.check_flags(corpus, good)[0]
    bad = good.copy()
    bad.loc[corpus.index[corpus["kind"] == gen.EXACT][0], "is_dup"] = False
    ok, recall, _ = checks.check_flags(corpus, bad)
    assert not ok and recall < 1.0


def test_check_stream_rejects_repeats_and_missing_rows(corpus):
    first_of_text = ~corpus["text"].duplicated()
    good = pd.DataFrame({"key": corpus["key"], "kept": first_of_text & (corpus["key"] == corpus["gt"])})
    assert checks.check_stream(corpus, good)[0]
    repeat = good.copy()  # keep an exact copy of an already kept text
    repeat.loc[corpus.index[corpus["kind"] == gen.EXACT][0], "kept"] = True
    assert not checks.check_stream(corpus, repeat)[0]
    assert not checks.check_stream(corpus, good.iloc[1:])[0]
    assert not checks.check_stream(corpus, pd.concat([good, good.iloc[:1]]))[0]


def test_check_ann_rejects_wrong_count_and_bad_cosine():
    vecs = gen.vectors(300, 60, 8, 2)
    m = np.empty((300, 8))
    m[vecs["vid"].to_numpy()] = np.stack(vecs["vec"].to_numpy())

    def cos(a, b):
        return float(m[a] @ m[b] / (np.linalg.norm(m[a]) * np.linalg.norm(m[b])))

    pairs = [(a, b) for a in range(40) for b in range(a + 1, 40) if cos(a, b) >= 0.3][:5]
    sample = pd.DataFrame({"a": [p[0] for p in pairs], "b": [p[1] for p in pairs],
                           "cosine": [cos(*p) for p in pairs]})
    want = 60 * 59 // 2
    assert checks.check_ann(vecs, want, sample, 0.3)[0]
    assert not checks.check_ann(vecs, want - 1, sample, 0.3)[0]
    low = [(a, b) for a in range(40) for b in range(a + 1, 40) if cos(a, b) < 0.0][:1]
    bad = pd.concat([sample, pd.DataFrame({"a": [low[0][0]], "b": [low[0][1]], "cosine": [0.5]})])
    assert not checks.check_ann(vecs, want, bad, 0.3)[0]


# ------------------------------------------------------------------ trace
class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = trace.Tracer(clock=clock)
    with tr.span("root"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.child"):
                clock.t = 4.5
            clock.t = 5.0
        with tr.span("b"):
            clock.t = 8.0
        clock.t = 10.0
    st = dict(zip([s.name for s in tr.spans], trace.self_times(tr.spans)))
    assert st == {"root": 3.0, "a": 2.5, "a.child": 1.5, "b": 3.0}
    assert trace.unaccounted_share(tr.spans) == pytest.approx(0.3)
    table = trace.layer_table(tr.spans)
    assert table["a"]["total_s"] == 4.0 and table["a"]["self_s"] == 2.5
    sub = trace.layer_table(tr.spans, [2])  # a subset keeps the full tree's self times
    assert sub == {"a.child": {"calls": 1, "total_s": 1.5, "self_s": 1.5, "counts": {}}}


def test_covered_merges_overlaps_and_clips():
    assert trace._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace._covered([(-1, 2), (9, 12)], 0, 10) == 3
    assert trace._covered([], 0, 10) == 0


def test_parse_metric_units():
    assert parse_metric("total (min, med, max (stageId: taskId))\n13.9 s (3.4 s, 3.5 s)") == pytest.approx(13.9)
    assert parse_metric("total (min, med, max)\n137.3 KiB (33.3 KiB)") == pytest.approx(137.3 * 1024)
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("2.0 m") == pytest.approx(120.0)
    assert parse_metric(None) == 0.0
