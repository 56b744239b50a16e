#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_crawl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. A run pins its environment, prepares the
seeded inputs, starts Spark, warms up at full size, then runs the
workload's operations back to back for ``--seconds`` (always at least
one). Outputs are checked outside the timed region. Every metric is
printed as ``<name> <value> <unit>``; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exit code 0 when every check passes, 1 when an output
check fails, 2 when the run cannot start. Everything the run writes
lives under ``.perfbench_work/`` in the repository root and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")
NAMES = ["batch_crawl", "query_leaves"]

DRIVER_MEM_MB = 1024     # capped at half of physical memory
SETUP_REPEATS = 3        # input preparation is timed this many times

END_TO_END = [
    ("cpu_s", "s"),
    ("docs_per_cpu_s", "1/s"),
    ("dup_pair_recall", "ratio"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]


# ---------------------------------------------------------------------------
# environment


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _fs_type(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, kind = line.split()[1:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, kind
    return fs


def pin_env(work: str) -> dict:
    """Fix what the engine reads from the environment, identically on
    every run, and return the record printed with every result. The
    shuffle/spill dir stays inside the work dir (the benchmark writes
    nowhere else); its filesystem type is recorded."""
    cores = len(os.sched_getaffinity(0))
    driver_mb = min(DRIVER_MEM_MB, _mem_total_mb() // 2)
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_LOCAL_DIR": local_dir,
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        # Python workers import the package from the repository root
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = None
    import pyspark

    return {
        "cores": cores,
        "driver_mem_mb": driver_mb,
        "mem_total_mb": _mem_total_mb(),
        "local_dir_fs": _fs_type(local_dir),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }


class Spark:
    """The run's SparkSession and the JVM behind it."""

    def __init__(self, work: str):
        self.work = work
        self.session = None

    def start(self):
        from dedupe_trees_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        # the whole heap is committed and touched at start, so the JVM's
        # resident size does not depend on when GC chose to grow it; the
        # quotes keep a checkout path with spaces in one option
        java_opts = f'-Xms{heap} -XX:+AlwaysPreTouch "-Djava.io.tmpdir={tmp}" -XX:-UsePerfData'
        self.session = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        return self.session

    def stop(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _process_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process exited between listing and reading
        out[int(d)] = stat[stat.rindex(")") + 2 :].split()
    return out


def _process_tree(stats: dict[int, list[str]] | None = None) -> list[int]:
    """This process and all its descendants."""
    stats = _process_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM with its JIT and GC threads, the Python workers), including
    exited children they reaped. Unlike wall time, it does not grow while
    the run waits for a CPU the host gave to another tenant."""
    stats = _process_stats()
    ticks = sum(
        sum(int(x) for x in stats[pid][11:15]) for pid in _process_tree(stats) if pid in stats
    )
    return ticks / os.sysconf("SC_CLK_TCK")


class MemSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM and its Python workers), sampled from /proc. Each process counts
    its proportional set size (PSS): pages shared between processes —
    forked Python workers, a JVM mid-spawn — are split among them, so
    the sum is the memory the run really holds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass  # the process exited between listing and reading
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._pss_kb(p) for p in _process_tree()))
            self._stop.wait(self.interval)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _cost(fn) -> tuple[float, float]:
    """(CPU seconds of the process tree, wall seconds) spent in ``fn()``."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    fn()
    return tree_cpu_s() - cpu0, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# one workload


def _load_expected() -> dict:
    try:
        with open(EXPECTED) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def run_workload(args, work: str) -> tuple[dict, int]:
    from perfbench.workloads import WORKLOADS

    env = pin_env(work)
    print("env " + json.dumps(env, sort_keys=True), flush=True)
    spark = Spark(work)
    wl = WORKLOADS[args.workload](lambda: spark.session, work, args.seed, env["cores"], tree_cpu_s)
    try:
        with MemSampler() as mem:
            # set-up is counted in CPU seconds, like the operations: its
            # wall time moved by up to 50% with the host's load
            gen = [_cost(wl.prepare) for _ in range(SETUP_REPEATS)]
            session, warm = _cost(spark.start), _cost(wl.warm_up)
            setup = {
                "gen_s": statistics.median(cpu for cpu, _ in gen),
                "session_s": session[0],
                "warmup_s": warm[0],
            }
            setup_s = sum(setup.values())
            setup_wall_s = statistics.median(wall for _, wall in gen) + session[1] + warm[1]

            ops = []
            t_end = time.perf_counter() + args.seconds
            while True:
                ops.append(wl.op(len(ops)))
                if time.perf_counter() >= t_end:
                    break

            expected = _load_expected().get(wl.name, {}).get(str(args.seed))
            errors = wl.check(ops, expected)
            layers = None
            if args.trace:
                from perfbench import trace

                layers = trace.run(wl, ops, setup, errors)
    finally:
        spark.shutdown()

    attempted = sum(op.attempted for op in ops)
    failed = sum(op.failed for op in ops)
    for op in ops:
        errors.extend(op.errors)
    correct = not errors and failed == 0
    if args.record and correct:
        rec = _load_expected()
        rec.setdefault(wl.name, {})[str(args.seed)] = wl.fingerprint()
        with open(EXPECTED, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")

    # failed operations are timed too, so the metrics stay numbers; any
    # failure already makes the run incorrect
    timed = [op for op in ops if not op.failed] or ops
    wall_s = statistics.median(op.wall_s for op in timed)
    cpu_s = statistics.median(op.cpu_s for op in timed)
    e2e = {
        "cpu_s": cpu_s,
        "docs_per_cpu_s": wl.docs_per_op() / cpu_s,
        "dup_pair_recall": wl.recall,
        "peak_rss_mb": mem.peak_mb,
        "setup_s": setup_s,
    }
    units = dict(END_TO_END)
    print(f"workload {wl.name} seed {args.seed}: {len(ops)} ops, "
          f"{wl.docs_per_op()} docs per op, recall over {wl.truth_pairs} truth pairs")
    print(f"medians over n={len(timed)} (no percentile above the median has 10 samples "
          f"beyond it at this n); max wall {max(op.wall_s for op in timed)} s")
    for i, op in enumerate(ops):
        print(f"op {i}: {op.wall_s:.3f} s wall, {op.cpu_s:.3f} s cpu  {wl.describe(op)}")
    for name, value in e2e.items():
        print(f"{name} {value} {units[name]}")
    print(f"wall_s {wall_s} s")
    print(f"docs_per_s {wl.docs_per_op() / wall_s} 1/s")
    print(f"fail_ratio {failed / attempted} ratio")
    print(f"setup_wall_s {setup_wall_s} s")
    for name, value in setup.items():
        print(f"setup.{name} {value} s")
    for err in errors:
        print(f"CHECK FAILED: {err}")
        print(f"perfbench: CHECK FAILED: {err}", file=sys.stderr)
    if layers is None:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        for name, (value, unit) in layers.items():
            print(f"{name} {value} {unit}")
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; a summary table at the end."""
    rc, rows = 0, []
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        sys.stdout.write(proc.stdout)
        sys.stderr.write(proc.stderr[-4000:])
        rc = rc or proc.returncode
        lines = proc.stdout.strip().splitlines()
        rows.append((name, proc.returncode, json.loads(lines[-1]) if proc.returncode in (0, 1) else None))
    print("\nsummary")
    for name, code, res in rows:
        if res is None:
            print(f"  {name}: exit {code}, no result")
            continue
        vals = "  ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in res["metrics"].items())
        print(f"  {name}: correct={res['correct']} failed={res['failed']}/{res['attempted']}  {vals}")
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's output hashes in perfbench/expected.json")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, "dedupe_trees_spark", "__init__.py")):
        print(f"perfbench: no dedupe_trees_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a fresh name even when a pid repeats and an earlier run left its dir
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK_ROOT)
    try:
        result, rc = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still owns a work dir
    print(json.dumps(result), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
