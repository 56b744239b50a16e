"""Pairs-stage profiler (round-4 judge directive #2: decompose the 16M
pairs stage the way K1/K2 were).

The pairs stage is the scaling frontier at 16M docs (676s of 1312s
total this round). This tool isolates where that wall goes, against a
COMMITTED signatures checkpoint so S1 cost never pollutes the numbers:

  gen     — deterministically synthesize the input table
  full    — cold end-to-end run (fresh ckpt) via run_dedupe subprocess;
            per-stage walls now include the pairs phase decomposition
            (cands / sets / verify+write — recorded by the pipeline
            itself since round 4)
  pairs   — drop pairs+downstream checkpoints, keep S1, re-run with
            resume: times S3→S5 alone; combine with --scratch-dir to
            A/B disk vs tmpfs scratch at fixed heap
  kernels — from the committed S1, time the stage's sub-plans with noop
            writes: (a) fused bucket-table build (map-only: band
            explode + simhash block keys + winnow fingerprint explode),
            (b) candidate_pairs over it (adds the ONE window exchange +
            salted groupBy + pair dedup). (b) - (a) ≈ the exchange cost
            alone; run_dedupe's cands_sec - (b) ≈ scratch-write cost.

Usage:
  python tools/pairs_profile.py gen N INPUT_DIR [seed]
  python tools/pairs_profile.py full INPUT CKPT [SCRATCH] [CORES] [HEAP]
  python tools/pairs_profile.py pairs INPUT CKPT [SCRATCH] [CORES] [HEAP]
  python tools/pairs_profile.py kernels CKPT [CORES] [HEAP]

Each prints one JSON line (plus run_dedupe's own summary line).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _env(cores: str, heap: str) -> dict:
    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=cores,
        SPARK_GRAFT_LOCAL_DIR="/dev/shm/spark_local",
        SPARK_GRAFT_DRIVER_MEM=heap,
    )


def _run_dedupe(inp: str, ckpt: str, scratch: str | None, cores: str, heap: str) -> dict:
    cmd = [
        sys.executable, "run_dedupe.py", "--warmup",
        "--master", f"local[{cores}]", "--input", inp, "--ckpt", ckpt,
    ]
    if scratch:
        shutil.rmtree(scratch, ignore_errors=True)
        cmd += ["--scratch-dir", scratch]
    out = subprocess.run(
        cmd, cwd=REPO, env=_env(cores, heap), capture_output=True, text=True,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(out.returncode)
    return json.loads(out.stdout.strip().splitlines()[-1])


def cmd_gen(n: int, inp: str, seed: int = 42) -> dict:
    from dedupe_trees_spark.datagen import GenConfig, generate_pages
    from dedupe_trees_spark.session import get_spark

    spark = get_spark("pairs_profile_gen", master="local[32]")
    t0 = time.time()
    generate_pages(spark, GenConfig(n_docs=n, seed=seed)).write.mode(
        "overwrite"
    ).parquet(inp)
    return {"op": "gen", "n_docs": n, "input": inp, "wall_sec": round(time.time() - t0, 1)}


def cmd_full(inp: str, ckpt: str, scratch: str | None, cores: str, heap: str) -> dict:
    shutil.rmtree(ckpt, ignore_errors=True)
    res = _run_dedupe(inp, ckpt, scratch, cores, heap)
    return {"op": "full", "scratch": scratch or "ckpt-local", "cores": cores,
            "heap": heap, "result": res}


def cmd_pairs(inp: str, ckpt: str, scratch: str | None, cores: str, heap: str) -> dict:
    for stage in ("pairs", "components", "canonical"):
        shutil.rmtree(os.path.join(ckpt, stage), ignore_errors=True)
    res = _run_dedupe(inp, ckpt, scratch, cores, heap)
    assert res["stages"]["signatures"].get("skipped"), "S1 must resume, not re-run"
    return {"op": "pairs", "scratch": scratch or "ckpt-local", "cores": cores,
            "heap": heap, "result": res}


def cmd_kernels(ckpt: str, cores: str, heap: str) -> dict:
    os.environ.update({k: v for k, v in _env(cores, heap).items()
                       if k.startswith("SPARK_GRAFT")})
    from dedupe_trees_spark.config import PipelineConfig
    from dedupe_trees_spark.io import read_stage
    from dedupe_trees_spark.operators.lsh import candidate_pairs
    from dedupe_trees_spark.plans.pipeline import (
        SRC_EXACT,
        DedupePipeline,
        build_bucket_table,
        src_from_band_expr,
    )
    from dedupe_trees_spark.session import get_spark

    spark = get_spark("pairs_kernels", master=f"local[{cores}]")
    cfg = PipelineConfig(input_path="unused", ckpt_dir=ckpt)
    pipe = DedupePipeline(spark, cfg)
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    pipe._tune_shuffle_for_pairs(base_parts)
    tuned_parts = spark.conf.get("spark.sql.shuffle.partitions")
    sigs = read_stage(spark, ckpt, "signatures")

    def noop(df) -> float:
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 1)

    # warmup: spin up the executor pool + codegen on a small slice
    noop(build_bucket_table(sigs.limit(50_000), cfg))

    fused = build_bucket_table(sigs, cfg)
    bucket_build_sec = noop(fused)
    n_bucket_rows = fused.count()
    cands = candidate_pairs(
        fused, id_col="nid", cap=cfg.bucket_cap, star_srcs=SRC_EXACT
    )
    cand_sec = noop(cands)
    # the r06 pipeline shape: src dropped before the exchange and
    # rebuilt from band_id (value-identical pairs, pytest-pinned).
    # Measured separately so the plain number stays comparable with
    # the r4/r5 certification lines.
    cands_slim = candidate_pairs(
        fused, id_col="nid", cap=cfg.bucket_cap, star_srcs=SRC_EXACT,
        src_from_band=src_from_band_expr(cfg),
    )
    cand_slim_sec = noop(cands_slim)
    spark.conf.set("spark.sql.shuffle.partitions", base_parts)
    return {
        "op": "kernels", "cores": cores, "heap": heap,
        "shuffle_partitions": tuned_parts,
        "bucket_rows": n_bucket_rows,
        "bucket_build_noop_sec": bucket_build_sec,
        "candidates_noop_sec": cand_sec,
        "candidates_srcmap_noop_sec": cand_slim_sec,
        "window_groupby_dedup_sec": round(cand_sec - bucket_build_sec, 1),
    }


def main() -> int:
    op = sys.argv[1]
    a = sys.argv[2:]
    if op == "gen":
        out = cmd_gen(int(a[0]), a[1], int(a[2]) if len(a) > 2 else 42)
    elif op in ("full", "pairs"):
        inp, ckpt = a[0], a[1]
        scratch = a[2] if len(a) > 2 and a[2] != "-" else None
        cores = a[3] if len(a) > 3 else "32"
        heap = a[4] if len(a) > 4 else "34g"
        out = (cmd_full if op == "full" else cmd_pairs)(inp, ckpt, scratch, cores, heap)
    elif op == "kernels":
        out = cmd_kernels(
            a[0],
            a[1] if len(a) > 1 else "32",
            a[2] if len(a) > 2 else "34g",
        )
    else:
        raise SystemExit(f"unknown op {op!r}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
