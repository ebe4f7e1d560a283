"""The benchmark's workloads: inputs, one timed call into the program, the
output check, and the layer-by-layer decomposition used by the traced run.

Every workload runs the program on ``local[nproc]`` with the engine's
default ``RensaConfig`` (128 permutations, 8 bands, threshold 0.8, word
3-grams). A workload object holds no Spark state; ``Ctx`` carries it.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from dedupbench import checks, gen

ANN_PARAMS = dict(min_cosine=0.3, n_planes=6, hot_bucket_cap=512, extra_planes=6)
ANN_SAMPLES = 256  # seeded hash classes of output pairs; one pair each is re-checked
KERNEL_BATCH = 10_000
STREAM_BATCHES, STREAM_BATCH_ROWS = 3, 5_000


@dataclass
class Ctx:
    spark: object
    cfg: object
    work_dir: str
    seed: int = 0
    tracer: object = None
    notes: dict = field(default_factory=dict)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext(None)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _build(ctx: Ctx, fn, *args, **kwargs):
    """Call an operator that returns a DataFrame: the driver-side part of a
    layer call (plan building plus any jobs the operator starts eagerly)."""
    with ctx.span("driver.build"):
        return fn(*args, **kwargs)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Captions:
    """Shared input handling for the caption workloads."""

    columns = ["key", "text"]

    def make(self, seed: int, rows: int | None = None) -> pd.DataFrame:
        return gen.captions(rows or self.rows, seed)

    def stats(self, pdf: pd.DataFrame) -> dict:
        return gen.caption_stats(pdf)


class Pipeline(Captions):
    """The checkpointed 6-stage ``DedupPipeline.run``, fresh checkpoint dir
    per call: the spark-submit product path."""

    name = "pipeline_20k"
    call_span = "pipeline.run"
    rows, probe_rows = 20_000, 10_000

    def iterate(self, ctx: Ctx, df, pdf: pd.DataFrame):
        from rensa_spark.plans.pipeline import DedupPipeline

        ckpt = ctx.fresh_dir("ckpt")
        t0 = time.perf_counter()
        pipe = DedupPipeline(ctx.spark, ctx.cfg, ckpt)
        out = pipe.run(df, "key", "text")
        wall = time.perf_counter() - t0
        ctx.notes["stage_log"] = pipe.stage_log
        ctx.notes["ckpt_bytes"] = dir_bytes(ckpt)
        result = out.select("key", "cluster_id", "is_survivor").toPandas()
        return wall, checks.check_clusters(pdf, result)

    def traced(self, ctx: Ctx, df, pdf: pd.DataFrame) -> dict:
        """The pipeline's layers one call at a time, each output
        materialized so the next layer starts from a finished input."""
        from pyspark.sql import functions as F

        from rensa_spark.operators.cc import connected_components
        from rensa_spark.operators.dedup import dedup_edges, sketch_rminhash, verified_pairs
        from rensa_spark.operators.lsh import candidate_pairs

        cfg, m = ctx.cfg, {}
        _flags_layers(ctx, df)
        with ctx.span("sketch.sig_bands"):
            sk = _build(ctx, sketch_rminhash, df, cfg, "key", "text")
            sk = sk.select("key", "sig", "bands").localCheckpoint(eager=True)
        sort_keys = sk.select("key", F.col("sig").alias("sort_key"))
        with ctx.span("lsh.candidate_pairs"):
            m["lsh.candidate_pairs"] = _build(
                ctx, candidate_pairs, sk, "key", hot_bucket_cap=cfg.hot_bucket_cap,
                sort_keys=sort_keys, verify_threshold=cfg.threshold,
            ).count()
        with ctx.span("dedup.verified_pairs"):
            m["dedup.verified_pairs"] = _build(ctx, verified_pairs, sk, cfg).count()
        with ctx.span("dedup.edges"):
            edges = _build(ctx, dedup_edges, sk, cfg).localCheckpoint(eager=True)
        with ctx.span("cc"):
            _noop(_build(ctx, connected_components, edges))
        m["cc.edges_in"] = edges.count()
        m["dedup.collapsed_rows"] = len(pdf) - sk.select("sig").distinct().count()
        m["dedup.verify_yield"] = m["dedup.verified_pairs"] / max(m["lsh.candidate_pairs"], 1)
        return m

    def call_metrics(self, ctx: Ctx, pdf: pd.DataFrame) -> dict:
        m = {f"pipeline.{s['stage']}_ms": s.get("wall_ms", 0) for s in ctx.notes["stage_log"]}
        m["pipeline.ckpt_bytes_per_input_byte"] = ctx.notes["ckpt_bytes"] / max(
            int(pdf["text"].str.len().sum()), 1
        )
        return m


def _flags_layers(ctx: Ctx, df) -> None:
    """Sketch to band rows, then the one-shot flags over them."""
    from pyspark.sql import functions as F

    from rensa_spark.operators.lsh import one_shot_flags_from_bands
    from rensa_spark.operators.sketch import rminhash_band_rows

    cfg = ctx.cfg
    with ctx.span("sketch.band_rows"):
        bands = _build(ctx, rminhash_band_rows, df, cfg, "key", "text").localCheckpoint(eager=True)
    keys = df.select("key", F.lit(cfg.num_bands).alias("n_bands"))
    with ctx.span("lsh.flags"):
        _noop(_build(ctx, one_shot_flags_from_bands, bands, keys=keys))


class Flags(Captions):
    """``RMinHashEngine.dup_flags``, the one-shot fast path, collected to
    the driver: rensa's own benchmark metric."""

    name = "flags_200k"
    call_span = "api.dup_flags"
    rows, probe_rows = 200_000, 20_000

    def iterate(self, ctx: Ctx, df, pdf: pd.DataFrame):
        from rensa_spark.api import RMinHashEngine

        t0 = time.perf_counter()
        flags = _build(ctx, RMinHashEngine(ctx.cfg).dup_flags, df, "key", "text")
        result = flags.toPandas()
        wall = time.perf_counter() - t0
        return wall, checks.check_flags(pdf, result)

    def traced(self, ctx: Ctx, df, pdf: pd.DataFrame) -> dict:
        _flags_layers(ctx, df)
        return {}

    def call_metrics(self, ctx: Ctx, pdf: pd.DataFrame) -> dict:
        return {}


class Ann:
    """``ann_near_dup_pairs`` over gaussian vectors plus one identical block
    (a fifth of the rows): the hot-bucket sub-split and salted expansion."""

    name = "ann_hot_50k"
    call_span = "similarity.ann"
    columns = ["vid", "vec"]
    rows, probe_rows = 50_000, 10_000
    dim = 32

    def make(self, seed: int, rows: int | None = None) -> pd.DataFrame:
        n = rows or self.rows
        return gen.vectors(n, n // 5, self.dim, seed)

    def stats(self, pdf: pd.DataFrame) -> dict:
        return gen.vector_stats(pdf)

    def iterate(self, ctx: Ctx, df, pdf: pd.DataFrame):
        """One action summarizes the pairs, grouped by a seeded hash class:
        per class the pair count, the block's pair count and one non-block
        pair for the cosine check (fixed-width aggregates only, so Spark keeps
        them in its code-generated hash aggregate)."""
        from pyspark.sql import functions as F

        from rensa_spark.operators.similarity import ann_near_dup_pairs

        n, lo = len(pdf), len(pdf) - int(pdf["in_block"].sum())
        t0 = time.perf_counter()
        out = _build(ctx, ann_near_dup_pairs, df, "vid", "vec", **ANN_PARAMS)
        in_block = (F.col("a") >= lo) & (F.col("b") >= lo)
        rows = (
            out.groupBy(F.pmod(F.xxhash64("a", "b", F.lit(ctx.seed)), F.lit(ANN_SAMPLES)))
            .agg(
                F.count(F.lit(1)).alias("pairs"),
                F.sum(in_block.cast("long")).alias("block_pairs"),
                F.max(F.when(~in_block, F.col("a") * F.lit(n) + F.col("b"))).alias("code"),
            )
            .collect()
        )
        wall = time.perf_counter() - t0
        codes = np.array([r["code"] for r in rows if r["code"] is not None], dtype=np.int64)
        sample = pd.DataFrame({"a": codes // n, "b": codes % n})
        ctx.notes["pairs_out"] = sum(r["pairs"] for r in rows)
        block_pairs = sum(r["block_pairs"] for r in rows)
        return wall, checks.check_ann(pdf, block_pairs, sample, ANN_PARAMS["min_cosine"])

    def traced(self, ctx: Ctx, df, pdf: pd.DataFrame) -> dict:
        return {}

    def call_metrics(self, ctx: Ctx, pdf: pd.DataFrame) -> dict:
        return {"similarity.pairs_out": ctx.notes["pairs_out"]}


WORKLOADS = {w.name: w for w in (Pipeline(), Flags(), Ann())}


def kernel_layers(texts: list[str], cfg, repeats: int = 3) -> dict:
    """Spark-free kernels and UDF bodies on one batch; medians of
    ``repeats`` passes, in milliseconds."""
    from rensa_spark.functions.udfs import jaccard_udf, rminhash_sig_bands_udf
    from rensa_spark.kernels.fxhash import band_hash_u64
    from rensa_spark.kernels.prng import rminhash_permutations
    from rensa_spark.kernels.rminhash import jaccard_matrix, rminhash_matrix
    from rensa_spark.kernels.shingle import shingle_hashes_batch

    a, b = rminhash_permutations(cfg.num_perm, cfg.seed)
    series = pd.Series(texts)
    bs = cfg.band_size
    times: dict[str, list[float]] = {}

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        times.setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
        return out

    for _ in range(repeats):
        flat, offs = timed("kernels.shingle_ms", shingle_hashes_batch, texts, cfg.ngram_size)
        sig = timed("kernels.minhash_ms", rminhash_matrix, flat, offs, a, b)
        timed(
            "kernels.bands_ms",
            lambda s: [band_hash_u64(s[:, i * bs : (i + 1) * bs]) for i in range(cfg.num_bands)],
            sig,
        )
        timed("kernels.jaccard_ms", jaccard_matrix, sig, np.roll(sig, 1, axis=0))
        sb = timed("udfs.sig_bands_ms", rminhash_sig_bands_udf(cfg).func, series)
        sigs = sb["sig"]
        timed("udfs.jaccard_ms", jaccard_udf(cfg).func, sigs, pd.Series(np.roll(sigs.to_numpy(), 1)))
    m = {k: float(np.median(v)) for k, v in times.items()}
    sketch_ms = m["kernels.shingle_ms"] + m["kernels.minhash_ms"] + m["kernels.bands_ms"]
    m["kernels.docs_per_core_s"] = len(texts) / (sketch_ms / 1e3)
    m["udfs.sig_bands_glue_ms"] = m["udfs.sig_bands_ms"] - sketch_ms
    m["udfs.jaccard_glue_ms"] = m["udfs.jaccard_ms"] - m["kernels.jaccard_ms"]
    return m


def stream_layers(ctx: Ctx, pdf: pd.DataFrame) -> tuple[dict, bool, float]:
    """StreamingDeduplicator.process_batch over consecutive slices of one
    corpus (closed loop, one client), each batch its own span.
    -> (metrics, output check passed, recall)."""
    from pyspark.sql import functions as F

    from rensa_spark.streaming.dedup import StreamingDeduplicator

    n = STREAM_BATCHES * STREAM_BATCH_ROWS
    src = ctx.spark.createDataFrame(pdf[["key", "text"]].iloc[:n]).cache()
    src.count()
    state = ctx.fresh_dir("stream_state")
    dedup = StreamingDeduplicator(ctx.spark, ctx.cfg, state)
    m, state_rows = {}, []
    for i in range(STREAM_BATCHES):
        state_rows.append(dedup.kept().count() if i else 0)
        batch = src.filter((F.col("key") >= i * STREAM_BATCH_ROWS) & (F.col("key") < (i + 1) * STREAM_BATCH_ROWS))
        with ctx.span(f"streaming.batch_{i}") as sp:
            dedup.process_batch(batch, i)
        m[f"streaming.batch_s.{i}"] = sp.duration
    decisions = ctx.spark.read.parquet(os.path.join(state, "decisions")).select("key", "kept").toPandas()
    ok, recall, _ = checks.check_stream(pdf.iloc[:n], decisions)
    src.unpersist()
    m["streaming.state_rows"] = dedup.kept().count()
    m["streaming.state_bytes"] = dir_bytes(os.path.join(state, "kept_sigs")) + dir_bytes(
        os.path.join(state, "kept_bands")
    )
    growth = (state_rows[-1] - state_rows[0]) / 1e5
    first, last = m["streaming.batch_s.0"], m[f"streaming.batch_s.{STREAM_BATCHES - 1}"]
    m["streaming.latency_per_100k_state_s"] = (last - first) / growth if growth else 0.0
    return m, ok, recall
