"""Per-layer metrics of the traced run, measured from outside the engine.

The traced run first measures the workload untraced like any run, then
attaches Spark's event-log listener to the live context and repeats one
operation; the difference of the two walls is the tracing overhead. Layers are named after the repository's modules;
each metric comes from calling the layer's public functions or reading
what they already return:

- ``pipeline.*``: ``DedupePipeline.run()``'s stage report and ``pairs``
  phases;
- ``functions.*``: the S1 kernels timed in-process on a fixed doc sample;
- ``lsh.*`` / ``verify.*``: ``build_bucket_table`` + ``candidate_pairs``
  over the committed signatures, and the committed pairs stage;
- ``components.*`` / ``resolve.*`` / ``io.*``: the committed checkpoints
  and the thresholds in ``operators/components.py``;
- ``incremental.*``: ``init_index`` + ``incremental_update`` on the
  traced run's checkpoint with the held-back batch, and its report;
- ``spark.<scope>.*``: the event log, with jobs assigned to a pipeline
  stage, update phase or query pass by the time windows those reports
  give;
- ``query.*``: each query leaf under a noop sink and under ``count()``.

A metric a workload does not exercise is reported as 0 and listed on the
``not measured`` line.
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import checks
from perfbench.workloads import LEAVES, BatchCrawl, Workload

STAGES = ["signatures", "pairs", "components", "canonical"]
INC_PHASES = ["s1", "pairs", "cc", "resolve", "commit"]
SCOPES = STAGES + [f"inc_{p}" for p in INC_PHASES] + ["queries"]
SPARK_FIELDS = [
    ("jobs", "count"),
    ("task_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("core_busy", "ratio"),
]
KERNEL_DOCS = 1_000
KERNEL_REPEATS = 5
CC_PATHS = {"driver": 0, "broadcast": 1, "shuffle": 2}

PER_LAYER: list[tuple[str, str]] = [
    *[(f"pipeline.{s}_s", "s") for s in STAGES],
    ("pipeline.pairs.cands_s", "s"),
    ("pipeline.pairs.sets_s", "s"),
    ("pipeline.pairs.verify_write_s", "s"),
    ("pipeline.record_s", "s"),
    ("pipeline.between_stages_s", "s"),
    ("pipeline.stage_coverage", "ratio"),
    ("functions.gram_mix_us_per_doc", "us"),
    ("functions.minhash_batch_us_per_doc", "us"),
    ("functions.simhash_batch_us_per_doc", "us"),
    ("functions.winnow_us_per_doc", "us"),
    ("lsh.bucket_rows", "count"),
    ("lsh.multi_bucket_rows", "count"),
    ("lsh.hot_buckets", "count"),
    ("lsh.candidate_pairs", "count"),
    ("verify.edges", "count"),
    ("verify.yield", "ratio"),
    ("components.edges", "count"),
    ("components.path", "code"),
    ("components.jobs", "count"),
    ("components.clusters", "count"),
    ("resolve.removed", "count"),
    *[(f"io.ckpt_mb.{s}", "MB") for s in STAGES],
    ("incremental.index_init_s", "s"),
    ("incremental.wall_s", "s"),
    *[(f"incremental.{p}_s", "s") for p in INC_PHASES],
    ("incremental.new_docs", "count"),
    ("incremental.edges", "count"),
    ("incremental.touched_clusters", "count"),
    ("incremental.merged_clusters", "count"),
    ("incremental.index_mb", "MB"),
    ("incremental.parity", "bool"),
    ("incremental.dup_pair_recall", "ratio"),
    *[(f"spark.{s}.{f}", u) for s in SCOPES for f, u in SPARK_FIELDS],
    *[(f"query.{leaf}_s", "s") for leaf in LEAVES],
    *[(f"query.{leaf}.count_s", "s") for leaf in LEAVES],
    ("setup.gen_s", "s"),
    ("setup.session_s", "s"),
    ("setup.warmup_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


# ---------------------------------------------------------------------------
# Spark event log


class EventLog:
    """Spark's own ``EventLoggingListener``, attached to the live context
    for the traced work only, so the timed runs never carry it and the
    traced operation runs as warm as they did."""

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.log_dir = log_dir

    def __enter__(self) -> EventLog:
        os.makedirs(self.log_dir)
        conf = (
            self.sc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.listener = self.jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId(), self.jvm.scala.Option.empty(),
            self.jvm.java.net.URI(pathlib.Path(self.log_dir).as_uri()), conf,
            self.sc.hadoopConfiguration(),
        )
        self.listener.start()
        self.sc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.listenerBus().waitUntilEmpty()
        self.sc.removeSparkListener(self.listener)
        self.listener.stop()


def scope_stats(log_dir: str, windows: list[tuple[str, float, float]], cores: int) -> dict:
    """Fold the event log into per-scope job counts and task totals. A
    job belongs to the window its submission time falls in; a task to
    the first job that lists its stage."""
    job_scope: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, float, int, int]] = []
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    submit = ev["Submission Time"] / 1000
                    for scope, start, end in windows:
                        if start <= submit < end:
                            job_scope[ev["Job ID"]] = scope
                            break
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append((
                        ev["Stage ID"],
                        (info["Finish Time"] - info["Launch Time"]) / 1000,
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                    ))
    out = {s: {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
           for s, _, _ in windows}
    for scope in job_scope.values():
        out[scope]["jobs"] += 1
    for stage, dur, shuffle_b, spill_b in tasks:
        scope = job_scope.get(stage_job.get(stage, -1))
        if scope is not None:
            out[scope]["task_s"] += dur
            out[scope]["shuffle_write_mb"] += shuffle_b / 2**20
            out[scope]["spill_mb"] += spill_b / 2**20
    for scope, start, end in windows:
        out[scope]["core_busy"] = out[scope]["task_s"] / max((end - start) * cores, 1e-9)
    return out


def consecutive(t_start: float, t_end: float, spans: list[tuple[str, float]]):
    """Back-to-back windows from a report's per-phase walls; the last one
    runs to the end of the operation."""
    out, t = [], t_start
    for name, span in spans:
        out.append([name, t, t + span])
        t += span
    out[-1][2] = max(out[-1][2], t_end)
    return [tuple(w) for w in out]


# ---------------------------------------------------------------------------
# layers


def kernel_timings(spark, texts: pd.Series, put) -> None:
    """functions.* — each S1 kernel over a fixed doc sample, on the
    driver, median of KERNEL_REPEATS. Inputs (token hashes, normalized
    text) come from the engine's own JVM-side expressions."""
    from dedupe_trees_spark.config import PipelineConfig
    from dedupe_trees_spark.functions.minhash import _perm_params, gram_mix, minhash_batch
    from dedupe_trees_spark.functions.simhash import simhash_batch
    from dedupe_trees_spark.functions.text import normalize_text, token_hashes
    from dedupe_trees_spark.operators.substring import winnow_text_fps

    cfg = PipelineConfig(input_path="", ckpt_dir="")
    rows = (
        spark.createDataFrame(pd.DataFrame({"text": texts}))
        .select(normalize_text("text").alias("norm"))
        .select(token_hashes("norm").alias("th"), "norm")
        .toPandas()
    )
    th, norm, n = rows["th"], rows["norm"], len(rows)
    a, b = _perm_params(cfg.num_perm, cfg.minhash_seed)
    grams = pd.Series([np.unique(gram_mix(x, cfg.shingle_k)).view(np.int64) for x in th])
    kernels = {
        "gram_mix": lambda: [np.unique(gram_mix(x, cfg.shingle_k)) for x in th],
        "minhash_batch": lambda: minhash_batch(grams, a, b),
        "simhash_batch": lambda: simhash_batch(grams),
        "winnow": lambda: winnow_text_fps(norm, cfg.substring_k, cfg.substring_w),
    }
    for name, fn in kernels.items():
        walls = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        put(f"functions.{name}_us_per_doc", statistics.median(walls) / n * 1e6)


def trace_pipeline(wl: BatchCrawl, put, errors: list[str]) -> tuple[float, list]:
    """One traced pipeline run, its layers, then one incremental update
    on its checkpoint (plus the parity run over the union)."""
    from pyspark.sql import functions as F

    from dedupe_trees_spark.io import read_stage
    from dedupe_trees_spark.operators import components as C
    from dedupe_trees_spark.operators.lsh import candidate_pairs
    from dedupe_trees_spark.plans.incremental import incremental_update, init_index
    from dedupe_trees_spark.plans.pipeline import SRC_EXACT, build_bucket_table, src_from_band_expr

    spark = wl.spark
    ckpt = wl.path("ckpt_traced")
    op = wl.run_pipeline(ckpt)
    if op.failed:
        raise RuntimeError(f"traced run failed: {op.errors[0]}")
    rep = op.report
    walls = {s: rep[s]["wall_ms"] / 1000 for s in STAGES}
    record_s = sum(rep[s]["record_ms"] for s in STAGES) / 1000
    for s in STAGES:
        put(f"pipeline.{s}_s", walls[s])
    phases = rep["pairs"].get("phases", {})
    put("pipeline.pairs.cands_s", phases.get("cands_sec", 0.0))
    put("pipeline.pairs.sets_s", phases.get("sets_sec", 0.0))
    put("pipeline.pairs.verify_write_s", phases.get("verify_write_sec", 0.0))
    put("pipeline.record_s", record_s)
    put("pipeline.between_stages_s", op.wall_s - sum(walls.values()) - record_s)
    put("pipeline.stage_coverage", (sum(walls.values()) + record_s) / op.wall_s)
    windows = consecutive(
        op.t_start, op.t_start + op.wall_s,
        [(s, walls[s] + rep[s]["record_ms"] / 1000) for s in STAGES],
    )

    cfg = wl.config(ckpt)
    fused = build_bucket_table(read_stage(spark, ckpt, "signatures"), cfg)
    sizes = fused.groupBy("band_id", "band_hash").count()
    row = sizes.agg(
        F.sum("count").alias("rows"),
        F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0)).alias("multi"),
        F.sum((F.col("count") > cfg.bucket_cap).cast("long")).alias("hot"),
    ).collect()[0]
    cands = candidate_pairs(
        fused, id_col="nid", cap=cfg.bucket_cap, star_srcs=SRC_EXACT,
        src_from_band=src_from_band_expr(cfg),
    ).count()
    edges = rep["pairs"]["rows_out"]
    put("lsh.bucket_rows", row["rows"])
    put("lsh.multi_bucket_rows", row["multi"])
    put("lsh.hot_buckets", row["hot"])
    put("lsh.candidate_pairs", cands)
    put("verify.edges", edges)
    put("verify.yield", edges / cands if cands else 0.0)
    put("components.edges", edges)
    path = ("driver" if edges <= C._DRIVER_CC_MAX_EDGES else
            "broadcast" if edges <= C._BROADCAST_MAX_EDGES else "shuffle")
    put("components.path", CC_PATHS[path])
    canon = checks.canonical_table(ckpt)
    sizes_pd = canon.groupby("component_id").size()
    put("components.clusters", int((sizes_pd > 1).sum()))
    put("resolve.removed", int((~canon["is_canonical"]).sum()))
    for s in STAGES:
        put(f"io.ckpt_mb.{s}", dir_mb(os.path.join(ckpt, s)))

    # the traced checkpoint becomes the index; the held-back batch updates it
    t0 = time.perf_counter()
    init_index(spark, cfg)
    put("incremental.index_init_s", time.perf_counter() - t0)
    new_pages = spark.read.parquet(wl.batch.path)
    t_start = time.time()
    t0 = time.perf_counter()
    inc = incremental_update(spark, wl.config(ckpt, wl.batch.path), new_pages, "b1")
    inc_wall = time.perf_counter() - t0
    put("incremental.wall_s", inc_wall)
    for p in INC_PHASES:
        put(f"incremental.{p}_s", inc[f"{p}_sec"])
    for k in ("new_docs", "edges", "touched_clusters", "merged_clusters"):
        put(f"incremental.{k}", inc[k])
    put("incremental.index_mb", dir_mb(ckpt))
    windows += consecutive(
        t_start, t_start + inc_wall, [(f"inc_{p}", inc[f"{p}_sec"]) for p in INC_PHASES]
    )
    final = checks.canonical_table(ckpt)
    recall, _ = checks.dup_pair_recall(
        pd.concat([wl.corpus.truth, wl.batch.truth], ignore_index=True), final
    )
    put("incremental.dup_pair_recall", recall)
    if recall < checks.RECALL_FLOOR:
        errors.append(f"incremental dup_pair_recall {recall} < {checks.RECALL_FLOOR}")
    # parity theorem (plans/incremental.py): update == batch over the union
    union = wl.run_pipeline(wl.path("ckpt_union"), wl.union.path)
    parity = union.canonical_hash == checks.canonical_hash(final)
    put("incremental.parity", float(parity))
    if not parity:
        errors.append(f"parity: incremental {checks.canonical_hash(final)} != batch over union {union.canonical_hash}")
    return op.wall_s, windows


def trace_queries(wl, put, errors: list[str]) -> tuple[float, list]:
    t_start = time.time()
    t0 = time.perf_counter()
    for leaf in LEAVES:
        put(f"query.{leaf}_s", wl.run_leaf(leaf, "noop"))
    wall = time.perf_counter() - t0
    for leaf in LEAVES:
        put(f"query.{leaf}.count_s", wl.run_leaf(leaf, "count"))
    return wall, [("queries", t_start, t_start + wall)]


def run(wl: Workload, ops, setup: dict, errors: list[str]) -> dict:
    """Per-layer metrics for ``wl``: {name: (value, unit)}. Trace-only
    check failures are appended to ``errors``."""
    from dedupe_trees_spark.datagen import gen_batch

    untraced = statistics.median(op.wall_s for op in ops)
    values = {name: 0.0 for name, _ in PER_LAYER}
    measured: set[str] = set()

    def put(name: str, value) -> None:
        if name not in values:
            raise KeyError(f"undeclared per-layer metric {name}")
        values[name] = float(value)
        measured.add(name)

    log_dir = wl.path("events")
    tracer = trace_pipeline if isinstance(wl, BatchCrawl) else trace_queries
    with EventLog(wl.spark, log_dir):
        wall, windows = tracer(wl, put, errors)
    put("trace.wall_s", wall)
    put("trace.overhead_s", wall - untraced)
    if isinstance(wl, BatchCrawl):
        # S1 kernels are the pipeline's; the traced query run, the
        # longest run of all, leaves them out to stay far inside the
        # per-run time limit
        kernel_timings(wl.spark, gen_batch(wl.gen, np.arange(KERNEL_DOCS))["text"], put)
    for name in ("gen_s", "session_s", "warmup_s"):
        put(f"setup.{name}", setup[name])
    for scope, stats in scope_stats(log_dir, windows, wl.cores).items():
        for field, value in stats.items():
            put(f"spark.{scope}.{field}", value)
    if "spark.components.jobs" in measured:
        put("components.jobs", values["spark.components.jobs"])
    missing = [name for name, _ in PER_LAYER if name not in measured]
    if missing:
        print(f"not measured on {wl.name} (reported as 0): {' '.join(missing)}")
    return {name: (values[name], unit) for name, unit in PER_LAYER}
