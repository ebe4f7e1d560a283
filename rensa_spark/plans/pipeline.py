"""Checkpointed, resumable dedup pipeline with per-stage lineage metrics.

North-rule requirement: "every stage checkpoints signatures and cluster state
... with per-partition lineage and metrics so runs resume mid-pipeline".

The reference persists engine state via pickle (src/rminhash/py.rs:421-455,
src/lsh/py.rs:342-368); at cluster scale the equivalent durable state is the
stage output *table*. Each stage here writes its output to
``<base>/<stage>/`` plus a row in ``<base>/lineage/`` with per-partition row
counts, and records completion in ``<base>/manifest.json`` keyed by the
config hash (with ``STAGE_LAYOUT`` folded in). A re-run with the same config
and layout skips completed stages by reading
their tables back (kill -9 between stages loses nothing but the in-flight
stage).

Storage format is parquet in this sandbox; the writer/reader indirection in
``CheckpointStore`` is the single place to swap in Iceberg
(``format("iceberg")`` + MERGE for upserts) on a real deployment — no other
code changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rensa_spark.config import RensaConfig

# Names the stage-table schemas and is folded into the recorded stage hash,
# so a checkpoint dir written under another layout is recomputed rather than
# resumed (the layout before this one kept `bands` out of `signatures`).
STAGE_LAYOUT = "signatures(key,sig,bands)"


@dataclass
class CheckpointStore:
    base_dir: str
    fmt: str = "parquet"

    def path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def write(self, df: DataFrame, stage: str) -> None:
        df.write.format(self.fmt).mode("overwrite").save(self.path(stage))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.format(self.fmt).load(self.path(stage))

    def exists(self, stage: str) -> bool:
        # parquet success marker; Iceberg would check snapshot existence
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))


@dataclass
class Manifest:
    path: str
    data: dict = field(default_factory=dict)

    @classmethod
    def load(cls, base_dir: str) -> "Manifest":
        path = os.path.join(base_dir, "manifest.json")
        data = {}
        if os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
        return cls(path=path, data=data)

    def stage_done(self, stage: str, config_hash: str) -> bool:
        info = self.data.get("stages", {}).get(stage)
        return bool(info) and info.get("config_hash") == config_hash

    def mark_done(
        self,
        stage: str,
        config_hash: str,
        rows: int,
        wall_ms: int,
        metrics: dict | None = None,
    ) -> None:
        self.data.setdefault("stages", {})[stage] = {
            "config_hash": config_hash,
            "rows": rows,
            "wall_ms": wall_ms,
            **({"metrics": metrics} if metrics else {}),
        }
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=2)
        os.replace(tmp, self.path)


class DedupPipeline:
    """sketch/bands -> flags -> verified pairs -> clusters -> survivors,
    each stage checkpointed and resumable."""

    STAGES = ("signatures", "bands", "flags", "pairs", "clusters", "survivors")

    def __init__(
        self,
        spark: SparkSession,
        cfg: RensaConfig,
        base_dir: str,
        run_id: str = "run-0",
        fmt: str = "parquet",
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.store = CheckpointStore(base_dir, fmt)
        self.manifest = Manifest.load(base_dir)
        self.run_id = run_id
        self.config_hash = hashlib.sha256(
            f"{cfg.config_hash()}:{STAGE_LAYOUT}".encode()
        ).hexdigest()[:16]
        self.stage_log: list[dict] = []

    # ---- lineage ----
    def _record_lineage(self, df: DataFrame, stage: str, wall_ms: int) -> int:
        """Per-partition row counts for the stage output -> lineage table."""
        per_part = (
            df.groupBy(F.spark_partition_id().alias("part_id"))
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("config_hash", F.lit(self.config_hash))
            .withColumn("run_id", F.lit(self.run_id))
        )
        per_part.write.format(self.store.fmt).mode("append").save(
            os.path.join(self.store.base_dir, "lineage")
        )
        return per_part.agg(F.sum("rows_out")).collect()[0][0] or 0

    def _run_stage(self, stage: str, build, metrics_fn=None) -> DataFrame:
        """``metrics_fn``: called AFTER the stage's write action completes,
        returns a small dict recorded into the manifest alongside the
        lineage row counts (e.g. the candidate-bucket CollectMetrics — the
        north rule's per-stage metrics, so production runs can see from the
        manifest alone whether a run entered the >cap heuristic regime)."""
        if self.manifest.stage_done(stage, self.config_hash) and self.store.exists(stage):
            self.stage_log.append({"stage": stage, "skipped": True})
            return self.store.read(self.spark, stage)
        t0 = time.perf_counter()
        out = build()
        self.store.write(out, stage)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        metrics = metrics_fn() if metrics_fn is not None else None
        persisted = self.store.read(self.spark, stage)
        rows = self._record_lineage(persisted, stage, wall_ms)
        self.manifest.mark_done(
            stage, self.config_hash, int(rows), wall_ms, metrics=metrics
        )
        self.stage_log.append(
            {
                "stage": stage,
                "skipped": False,
                "rows": int(rows),
                "wall_ms": wall_ms,
                **({"metrics": metrics} if metrics else {}),
            }
        )
        return persisted

    # ---- stages ----
    def run(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from pyspark.sql import Observation

        from rensa_spark.operators.cc import connected_components, survivors
        from rensa_spark.operators.dedup import dedup_edges, sketch_rminhash
        from rensa_spark.operators.lsh import explode_bands, one_shot_flags_from_bands

        src = df.select(F.col(key_col).alias("key"), F.col(text_col).alias("text"))

        # the one pass over the text: signature and band hashes together
        sigs = self._run_stage(
            "signatures",
            lambda: sketch_rminhash(src, self.cfg, "key", "text").select(
                "key", "sig", "bands"
            ),
        )
        bands = self._run_stage("bands", lambda: explode_bands(sigs, "key"))
        self._run_stage("flags", lambda: one_shot_flags_from_bands(bands))

        obs = Observation("pipeline_pairs_buckets")

        def _pairs_metrics() -> dict:
            m = dict(obs.get)
            return {k: int(v) if v is not None else 0 for k, v in m.items()}

        pairs = self._run_stage(
            "pairs",
            lambda: dedup_edges(sigs, self.cfg, capped_metrics=obs),
            metrics_fn=_pairs_metrics,
        )
        clusters = self._run_stage("clusters", lambda: connected_components(pairs))
        return self._run_stage(
            "survivors", lambda: survivors(clusters, sigs.select("key"))
        )
