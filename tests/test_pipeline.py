"""Checkpoint/resume pipeline tests: kill-and-resume equality + lineage
(SURVEY.md §7 step 8; reference analogue: pickle round-trip,
/root/reference/tests/test_rensa.py:66-75, scaled up to durable stage tables)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.sources.synthetic import generate_corpus

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8)


@pytest.fixture()
def corpus_df(spark):
    pdf = generate_corpus(400, seed=42, with_images=False)
    return spark.createDataFrame(pdf[["image_id", "caption"]])


def _run(spark, corpus_df, base_dir, run_id):
    from rensa_spark.plans.pipeline import DedupPipeline

    pipe = DedupPipeline(spark, CFG, base_dir, run_id=run_id)
    out = pipe.run(corpus_df, "image_id", "caption")
    rows = sorted((r["key"], r["cluster_id"], r["is_survivor"]) for r in out.collect())
    return pipe, rows


def test_resume_skips_completed_stages(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    pipe1, rows1 = _run(spark, corpus_df, base, "run-1")
    assert all(not s["skipped"] for s in pipe1.stage_log)

    # simulated restart: fresh pipeline object, same config
    pipe2, rows2 = _run(spark, corpus_df, base, "run-2")
    assert all(s["skipped"] for s in pipe2.stage_log), pipe2.stage_log
    assert rows1 == rows2


def test_resume_mid_pipeline_after_crash(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    pipe1, rows1 = _run(spark, corpus_df, base, "run-1")

    # simulate a crash after 'pairs': later stage outputs lost
    manifest_path = os.path.join(base, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    for stage in ("clusters", "survivors"):
        manifest["stages"].pop(stage)
        shutil.rmtree(os.path.join(base, stage))
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)

    pipe2, rows2 = _run(spark, corpus_df, base, "run-3")
    skipped = {s["stage"] for s in pipe2.stage_log if s["skipped"]}
    recomputed = {s["stage"] for s in pipe2.stage_log if not s["skipped"]}
    assert skipped == {"signatures", "bands", "flags", "pairs"}
    assert recomputed == {"clusters", "survivors"}
    assert rows1 == rows2


def test_config_change_invalidates_checkpoints(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    _run(spark, corpus_df, base, "run-1")
    from rensa_spark.plans.pipeline import DedupPipeline

    other = RensaConfig(num_perm=128, seed=7, threshold=0.8, num_bands=8)
    pipe = DedupPipeline(spark, other, base, run_id="run-4")
    pipe.run(corpus_df, "image_id", "caption")
    assert all(not s["skipped"] for s in pipe.stage_log)


def test_lineage_records_per_partition_metrics(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    pipe, _ = _run(spark, corpus_df, base, "run-1")
    lineage = spark.read.parquet(os.path.join(base, "lineage"))
    cols = set(lineage.columns)
    assert {"stage", "part_id", "rows_out", "wall_ms", "config_hash", "run_id"} <= cols
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == set(pipe.STAGES)
    # row counts in lineage match manifest
    with open(os.path.join(base, "manifest.json")) as f:
        manifest = json.load(f)
    from pyspark.sql import functions as F

    per_stage = {
        r["stage"]: r["rows"]
        for r in lineage.groupBy("stage").agg(F.sum("rows_out").alias("rows")).collect()
    }
    for stage, info in manifest["stages"].items():
        assert per_stage[stage] == info["rows"]


def test_pairs_stage_records_bucket_metrics(spark, corpus_df, tmp_path):
    """North-rule per-stage metrics: the pairs stage's manifest entry
    carries the candidate-bucket CollectMetrics (capped / heuristic bucket
    counts + max bucket size), so a production run can tell FROM THE
    MANIFEST whether results entered the >cap heuristic regime."""
    base = str(tmp_path / "ckpt_m")
    _run(spark, corpus_df, base, "run-m")
    with open(os.path.join(base, "manifest.json")) as f:
        manifest = json.load(f)
    m = manifest["stages"]["pairs"].get("metrics")
    assert m is not None
    assert {"capped_buckets", "heuristic_buckets", "max_bucket_size"} <= set(m)
    assert m["heuristic_buckets"] == 0  # tiny corpus never exceeds the cap
    assert m["max_bucket_size"] >= 1


def test_older_layout_checkpoints_are_recomputed(spark, corpus_df, tmp_path):
    """A checkpoint dir written under the older stage layout (manifest hash =
    the bare config hash, `signatures` without the `bands` column) must not
    be resumed: its tables cannot feed the `bands` and `pairs` stages."""
    base = str(tmp_path / "ckpt_old")
    _, rows1 = _run(spark, corpus_df, base, "run-1")

    sig_path = os.path.join(base, "signatures")
    old_path = str(tmp_path / "signatures_old")
    spark.read.parquet(sig_path).select("key", "sig").write.parquet(old_path)
    shutil.rmtree(sig_path)
    shutil.copytree(old_path, sig_path)
    manifest_path = os.path.join(base, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    for info in manifest["stages"].values():
        info["config_hash"] = CFG.config_hash()
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)

    pipe2, rows2 = _run(spark, corpus_df, base, "run-2")
    assert [s["stage"] for s in pipe2.stage_log] == list(pipe2.STAGES)
    assert all(not s["skipped"] for s in pipe2.stage_log), pipe2.stage_log
    assert rows1 == rows2


def test_stage_tables_equal_direct_operators(spark, tmp_path):
    """The pipeline's bands, flags and pairs tables equal the stand-alone
    operators (band-row generator, dup_flags, dedup_edges over one sketch)
    on a corpus with exact duplicates and empty captions."""
    from rensa_spark.operators.dedup import dedup_edges, dup_flags, sketch_rminhash
    from rensa_spark.operators.sketch import rminhash_band_rows
    from rensa_spark.plans.pipeline import DedupPipeline

    pdf = generate_corpus(300, seed=7, with_images=False)[["image_id", "caption"]]
    pdf.loc[pdf.index[:15], "caption"] = ""
    pdf.loc[pdf.index[20:40], "caption"] = pdf["caption"].iloc[40]
    df = spark.createDataFrame(pdf)
    base = str(tmp_path / "ckpt_eq")
    DedupPipeline(spark, CFG, base).run(df, "image_id", "caption")

    def table(stage, cols):
        return sorted(spark.read.parquet(os.path.join(base, stage)).select(*cols).collect())

    def rows(frame, cols):
        return sorted(frame.select(*cols).collect())

    src = df.selectExpr("image_id AS key", "caption AS text")
    band_cols = ["key", "band_idx", "band_hash"]
    assert table("bands", band_cols) == rows(
        rminhash_band_rows(src, CFG, "key", "text"), band_cols
    )
    flags = table("flags", ["key", "is_dup"])
    assert flags == rows(dup_flags(df, CFG, "image_id", "caption"), ["key", "is_dup"])
    assert sum(r["is_dup"] for r in flags) >= 15 + 21
    pairs = table("pairs", ["a", "b"])
    assert pairs == rows(
        dedup_edges(sketch_rminhash(src, CFG, "key", "text"), CFG), ["a", "b"]
    )
    assert len(pairs) >= 14 + 20  # trivial edges of the two planted groups
