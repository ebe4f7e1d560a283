"""Interleaved A/B of the sketch kernels of two source trees, without Spark.

Times ``shingle_hashes_batch`` (word 3-grams + fxhash), ``rminhash_matrix``
and ``cminhash_matrix64`` (128 permutations, seed 42) of tree A and tree B
on one seeded 10k- and one 20k-caption batch from ``dedupbench/gen.py``
(20k rows = ``maxRecordsPerBatch``, one sketch task's Arrow batch). Rounds
alternate which tree runs first; each step reports its minimum over the
rounds. Every output of B must equal A's bit for bit, or the tool exits 1.
Run from the root of a checkout:

    python tools/kernel_ab.py A B [--rounds 9] [--seed 1]

A and B are source-tree directories or git revisions of this repository
(``HEAD~1``, a commit hash); a revision is exported with ``git archive``
into a temporary directory. Prints one JSON line: per batch size, each
step's min ms for A and B and the speed-up A/B; ``sketch`` is shingle +
rminhash, the kernel work of one ``rminhash_band_rows`` batch.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dedupbench.gen import captions  # noqa: E402

NUM_PERM, PERM_SEED, NGRAM = 128, 42, 3
BATCH_ROWS = (10_000, 20_000)
STEPS = ("shingle", "rminhash", "cminhash")


def source_tree(spec: str, tmp: str) -> str:
    """A directory holding ``rensa_spark/`` for a tree path or git revision."""
    if os.path.isdir(os.path.join(spec, "rensa_spark")):
        return os.path.abspath(spec)
    dest = tempfile.mkdtemp(dir=tmp)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", spec, "rensa_spark"],
        check=True,
        capture_output=True,
    ).stdout
    subprocess.run(["tar", "x", "-C", dest], input=archive, check=True)
    return dest


def load_kernels(tree: str) -> dict:
    """The three kernels of ``tree``. Each tree gets a fresh import of the
    package; the loaded functions keep their own module globals, so two
    trees' kernels live side by side in one process."""
    for name in [m for m in sys.modules if m.split(".")[0] == "rensa_spark"]:
        del sys.modules[name]
    sys.path.insert(0, tree)
    try:
        prng = importlib.import_module("rensa_spark.kernels.prng")
        shingle = importlib.import_module("rensa_spark.kernels.shingle")
        rmin = importlib.import_module("rensa_spark.kernels.rminhash")
        cmin = importlib.import_module("rensa_spark.kernels.cminhash")
    finally:
        sys.path.remove(tree)
    a, b = prng.rminhash_permutations(NUM_PERM, PERM_SEED)
    return {
        "shingle": lambda texts: shingle.shingle_hashes_batch(texts, NGRAM),
        "rminhash": lambda fo: rmin.rminhash_matrix(fo[0], fo[1], a, b),
        "cminhash": lambda fo: cmin.cminhash_matrix64(fo[0], fo[1], NUM_PERM, PERM_SEED),
    }


def equal(x, y) -> bool:
    if isinstance(x, tuple):
        return all(equal(p, q) for p, q in zip(x, y))
    return x.dtype == y.dtype and np.array_equal(x, y)


def ab(kernels: dict, texts: list[str], rounds: int) -> tuple[dict, bool]:
    best = {side: dict.fromkeys(STEPS, float("inf")) for side in kernels}
    same = True
    for r in range(rounds):
        order = list(kernels) if r % 2 == 0 else list(kernels)[::-1]
        outs = {}
        for side in order:
            k, res = kernels[side], {}
            for step in STEPS:
                arg = texts if step == "shingle" else res["shingle"]
                t0 = time.perf_counter()
                res[step] = k[step](arg)
                best[side][step] = min(best[side][step], time.perf_counter() - t0)
            outs[side] = res
        a, b = outs.values()
        same &= all(equal(a[s], b[s]) for s in STEPS)
    ms = {}
    for s in kernels:  # what one sketch task runs per batch
        best[s]["sketch"] = best[s]["shingle"] + best[s]["rminhash"]
    for step in best["a"]:
        ta, tb = (best[s][step] * 1e3 for s in kernels)
        ms[step] = {"a_ms": round(ta, 1), "b_ms": round(tb, 1), "speedup": round(ta / tb, 3)}
    return ms, same


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="baseline source tree or git revision")
    ap.add_argument("b", help="candidate source tree or git revision")
    ap.add_argument("--rounds", type=int, default=9)
    ap.add_argument("--seed", type=int, default=1, help="dedupbench caption seed")
    args = ap.parse_args(argv)

    with tempfile.TemporaryDirectory() as tmp:
        kernels = {
            "a": load_kernels(source_tree(args.a, tmp)),
            "b": load_kernels(source_tree(args.b, tmp)),
        }
    result = {"a": args.a, "b": args.b, "rounds": args.rounds, "seed": args.seed}
    ok = True
    for rows in BATCH_ROWS:
        texts = captions(rows, args.seed)["text"].tolist()
        result[str(rows)], same = ab(kernels, texts, args.rounds)
        ok &= same
    result["bit_equal"] = ok
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
