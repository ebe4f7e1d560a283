"""Dedup benchmark entry point.

    python3 dedupbench/run.py --workload pipeline_50k --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` runs the layer-by-layer traced pass and
reports the per-layer metrics. Metric names and units come from
``BENCHMARK.json``. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the run's details (environment, per-iteration samples, layer table), which
are also written to ``.dedupbench/results/``. Exits non-zero when an output
check fails, and without a result when the program's sources are missing or
the run exceeds its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".dedupbench"
DEADLINE_S = 170
SETUPS = 3
DRIVER_MEMORY = "2g"
WARMUP_ROWS = 1_000
RSS_POLL_S = 0.1


class Deadline(Exception):
    pass


# ------------------------------------------------------------------ processes
def _proc_children(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _proc_children(todo.pop())
        out += kids
        todo += kids
    return out


def rss_kib(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def java_processes() -> int:
    n = 0
    for comm in Path("/proc").glob("[0-9]*/comm"):
        try:
            n += comm.read_text().strip() == "java"
        except OSError:
            pass
    return n


class PeakRss:
    """Samples the summed RSS of the JVM and all its descendants (the
    Python workers) on a background thread while active."""

    def __init__(self, pid: int) -> None:
        self.pid, self.peak_kib = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(rss_kib(p) for p in [self.pid, *descendants(self.pid)])
            self.peak_kib = max(self.peak_kib, total)
            self._stop.wait(RSS_POLL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------ Spark
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the program from it."""
    tmp = WORK / "tmp"
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM (the launcher too): temp files in the checkout, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session():
    from rensa_spark.session import get_spark

    cores = nproc()
    spark = get_spark(
        app_name="dedupbench",
        master=f"local[{cores}]",
        shuffle_partitions=3 * cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(WORK / "tmp" / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown_spark() -> None:
    """Stop the session, then the JVM this process started and every
    process under it, and wait until all of them have ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    proc = jvm_process()
    pids = descendants(proc.pid) if proc is not None else []
    active = SparkSession.getActiveSession()
    try:
        if active is not None:
            active.stop()
    except Exception:
        traceback.print_exc()
    if proc is None:
        return
    try:
        SparkContext._gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.terminate()
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 10
    while time.monotonic() < end and any(Path(f"/proc/{p}").exists() for p in pids):
        time.sleep(0.05)


def warm_up(spark, cfg) -> None:
    """Start the Python workers and import the program in them."""
    import pandas as pd

    from rensa_spark.functions.udfs import rminhash_sig_bands_udf

    texts = pd.DataFrame({"text": [f"warm up text number {i} for the workers" for i in range(WARMUP_ROWS)]})
    df = spark.createDataFrame(texts)
    df.select(rminhash_sig_bands_udf(cfg)("text")).write.format("noop").mode("overwrite").save()


def load(spark, workload, pdf):
    """The input as a cached DataFrame (one slice per core)."""
    df = spark.createDataFrame(pdf[workload.columns]).cache()
    df.count()
    return df


def setup(workload, pdf, cfg, restart: bool):
    """Session start, worker warm-up and input load/cache; -> (spark, df, s)."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    if restart:
        SparkSession.getActiveSession().stop()
    spark = start_session()
    warm_up(spark, cfg)
    df = load(spark, workload, pdf)
    return spark, df, time.perf_counter() - t0


# ------------------------------------------------------------------ inputs
def inputs(workload, seed: int, rows: int | None = None):
    """Generated input for (workload, seed, rows), cached in the checkout."""
    import pandas as pd

    rows = rows or workload.rows
    cache = WORK / "cache" / f"{workload.name}-{rows}-{seed}.parquet"
    if cache.exists():
        pdf = pd.read_parquet(cache)
    else:
        pdf = workload.make(seed, rows)
        cache.parent.mkdir(parents=True, exist_ok=True)
        pdf.to_parquet(cache.with_suffix(".tmp"))
        os.replace(cache.with_suffix(".tmp"), cache)
    if "vec" in pdf:
        pdf["vec"] = [v.astype("float32") for v in pdf["vec"]]
    return pdf


# ------------------------------------------------------------------ records
def environment() -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": os.getloadavg(),
        "java_processes_at_start": java_processes(),
        "commit": commit,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def timing(samples: list[float]) -> dict:
    """Median plus the highest percentile the sample count supports (with
    fewer than 11 samples, no percentile has ten beyond it: the max)."""
    return {"median": statistics.median(samples), "max": max(samples), "n": len(samples)}


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def metric_block(names_units: list[dict], values: dict) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names_units}


# ------------------------------------------------------------------ runs
def measure(workload, pdf, seed: int, seconds: float, cfg, details: dict) -> tuple[dict, int, int]:
    from dedupbench.workloads import Ctx

    setups, spark, df = [], None, None
    for i in range(SETUPS):
        spark, df, s = setup(workload, pdf, cfg, restart=i > 0)
        setups.append(s)
    ctx = Ctx(spark, cfg, str(WORK / "run"), seed=seed)
    walls, recalls, checks_detail, failed = [], [], [], 0

    def call() -> float:
        nonlocal failed
        t0 = time.perf_counter()
        try:
            wall, (ok, recall, detail) = workload.iterate(ctx, df, pdf)
        except Deadline:
            raise
        except Exception:
            traceback.print_exc()
            ok, recall, detail = False, 0.0, {"error": True}
            wall = time.perf_counter() - t0
        failed += not ok
        recalls.append(recall)
        checks_detail.append(detail)
        return wall

    warm_up_s = call()  # first call in a fresh JVM: checked, not timed
    with PeakRss(jvm_process().pid) as rss:
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < seconds:
            walls.append(call())
    attempted = len(recalls)
    values = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(walls),
        "rows_per_s": len(pdf) / statistics.median(walls),
        "recall": min(recalls),
        "success_rate": (attempted - failed) / attempted,
    }
    details.update(
        setup_s=setups, warm_up_call_s=warm_up_s, wall_s=timing(walls), wall_samples=walls,
        peak_rss_mb=rss.peak_kib / 1024,
        checks=checks_detail, notes={k: v for k, v in ctx.notes.items() if k != "stage_log"},
        stage_log=ctx.notes.get("stage_log"),
    )
    return values, attempted, failed


def traced(workload, pdf, seed: int, cfg, details: dict) -> tuple[dict, int, int]:
    from dedupbench import gen, trace
    from dedupbench.sparkstats import COUNTS, SparkProbe
    from dedupbench.workloads import KERNEL_BATCH, STREAM_BATCH_ROWS, STREAM_BATCHES, WORKLOADS, Ctx, kernel_layers, stream_layers

    spark, df, _ = setup(workload, pdf, cfg, restart=False)
    probe = SparkProbe(spark)
    tracer = trace.Tracer(probe=probe)
    ctx = Ctx(spark, cfg, str(WORK / "run"), seed=seed, tracer=tracer)
    oks: list[bool] = []  # one output check per call into the program
    m: dict = {}

    # 1. Spark-free kernels and UDF bodies on a batch of this seed's captions
    captions = pdf if "text" in pdf else gen.captions(KERNEL_BATCH, seed)
    m.update(kernel_layers(captions["text"].iloc[:KERNEL_BATCH].tolist(), cfg))

    # 2. one untimed warm-up call, then the workload's own layers and its
    #    product call under one root span, then the same call untraced
    untraced_ctx = Ctx(spark, cfg, str(WORK / "run"), seed=seed)
    oks.append(workload.iterate(untraced_ctx, df, pdf)[1][0])
    with tracer.span("trace") as root:
        m.update(workload.traced(ctx, df, pdf))
        with tracer.span(workload.call_span):
            traced_wall, (ok, _, _) = workload.iterate(ctx, df, pdf)
    root_index = next(i for i, sp in enumerate(tracer.spans) if sp is root)
    oks.append(ok)
    m.update(workload.call_metrics(ctx, pdf))
    untraced, (ok, _, _) = workload.iterate(untraced_ctx, df, pdf)
    oks.append(ok)

    # 3. every other workload's layers at probe scale, so each layer reports
    for other in WORKLOADS.values():
        if other is workload:
            continue
        opdf = inputs(other, seed, other.probe_rows)
        odf = load(spark, other, opdf)
        with tracer.span(f"probe.{other.name}"):
            m.update({k: v for k, v in other.traced(ctx, odf, opdf).items() if k not in m})
            with tracer.span(other.call_span):
                oks.append(other.iterate(ctx, odf, opdf)[1][0])
        m.update({k: v for k, v in other.call_metrics(ctx, opdf).items() if k not in m})
        odf.unpersist()

    # 4. streaming: consecutive batches of one seeded corpus
    s, ok, stream_recall = stream_layers(ctx, gen.captions(STREAM_BATCHES * STREAM_BATCH_ROWS, seed))
    oks.append(ok)
    m.update(s)

    # layer self times: the root's own subtree first, probes fill the rest
    spans, selfs = tracer.spans, trace.self_times(tracer.spans)
    in_root = [i for i in range(len(spans)) if trace.descends(spans, i, root_index)]
    outside = [i for i in range(len(spans)) if i != root_index and i not in in_root]
    layer_metric = {
        "sketch.band_rows": "sketch.band_rows_s", "lsh.flags": "lsh.flags_s",
        "lsh.candidate_pairs": "lsh.candidate_pairs_s", "dedup.edges": "dedup.edges_s",
        "cc": "cc.s", "similarity.ann": "similarity.ann_s",
    }
    for group in (in_root, outside):
        for i in group:
            name = layer_metric.get(spans[i].name)
            if name and name not in m:
                m[name] = sum(selfs[j] for j in group if spans[j].name == spans[i].name)
            if spans[i].name == "cc" and "cc.jobs" not in m:
                m["cc.jobs"] = spans[i].counts.get("jobs", 0)
    top = [i for i in in_root if spans[i].parent == root_index]
    for k in COUNTS:
        m[f"spark.{k}"] = sum(spans[i].counts.get(k, 0) for i in top)
    m["spark.task_skew"] = max((spans[i].counts.get("task_skew", 1.0) for i in top), default=1.0)
    builds = [i for i in in_root if spans[i].name == "driver.build"]
    m["driver.build_s"] = sum(spans[i].duration for i in builds)
    m["driver.build_jobs"] = sum(spans[i].counts.get("jobs", 0) for i in builds)
    m["trace.wall_s"] = root.duration
    m["trace.unaccounted_share"] = trace.unaccounted_share(spans, root_index)
    m["trace.overhead_share"] = traced_wall / untraced - 1.0
    details.update(
        layers=trace.layer_table(spans, in_root),
        other_layers=trace.layer_table(spans, outside),
        probe_s=tracer.probe_s,
        untraced_call_s=untraced,
        traced_call_s=traced_wall,
        streaming_recall=stream_recall,
        checks_ok=oks,
    )
    return m, len(oks), oks.count(False)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "rensa_spark").is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"dedupbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from dedupbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"dedupbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    def on_alarm(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_alarm)
    signal.alarm(DEADLINE_S)
    prepare_env()
    from rensa_spark.config import RensaConfig

    cfg = RensaConfig()
    details = {"workload": workload.name, "seed": args.seed, "trace": args.trace, "env": environment()}
    try:
        pdf = inputs(workload, args.seed)
        details["input"] = workload.stats(pdf)
        if args.trace:
            values, attempted, failed = traced(workload, pdf, args.seed, cfg, details)
            names = spec()["per_layer"]
        else:
            values, attempted, failed = measure(workload, pdf, args.seed, args.seconds, cfg, details)
            names = spec()["end_to_end"]
        metrics = metric_block(names, values)
    except Deadline:
        traceback.print_exc()
        return 3
    finally:
        signal.alarm(0)
        shutdown_spark()
        shutil.rmtree(WORK / "run", ignore_errors=True)
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
    details["env"]["loadavg_after"] = os.getloadavg()
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    out = WORK / "results" / f"{workload.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({**details, "result": result}, indent=1, default=str))
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
