"""The benchmark workloads.

Each workload is a closed loop: one operation at a time from this single
driver process, on ``local[<cores>]``. A workload has four parts:

- ``prepare``: write the seeded inputs (no Spark; repeatable, so the
  runner can time it several times);
- ``warm_up``: untimed full-size work that fills the JVM's JIT and the
  Python worker pool, and yields the reference output every timed
  operation must reproduce;
- ``op``: one timed operation (restores and hashing around it are not
  timed);
- ``check``: the output checks, run after the timed loop.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from dedupe_trees_spark.config import PipelineConfig
from dedupe_trees_spark.datagen import GenConfig, gen_batch
from perfbench import checks, inputs

# Sizes. A run (JVM start, set-up, warm-up, 10 s of operations, checks)
# must fit the per-run time budget on a 4-core box, so inputs are far
# below the 100k-doc production sizing; the mixes keep their shape.
CRAWL_DOCS = 4_000        # corpus; the pipeline reads all but the held-back share
CRAWL_HOLD_EVERY = 20     # ~1/20 of the corpus is held back for the update batch
CRAWL_FRESH = 200         # fresh ids past the corpus in the update batch
QUERY_DOCS = 800
QUERY_EVENTS = 8_000
QUERY_ORDERS = 4_000

LEAVES = [
    "dedup_canonical_full",
    "minhash_lsh_dup_pairs",
    "simhash_dup_pairs",
    "substring_extent_pairs",
    "containment_dedup",
    "lang_id_classifier",
    "hashed_term_features",
    "tfidf_keywords",
    "bpe_token_counts",
    "sessionize_events",
    "pricing_summary",
    "crawl_snapshot_diff",
    "mod_date_resolution",
]
PAIR_LEAVES = ["minhash_lsh_dup_pairs", "simhash_dup_pairs", "substring_extent_pairs"]


@dataclass
class Op:
    """One timed operation: its wall, how many sub-operations it attempted
    and how many raised, and what it returned."""

    wall_s: float
    attempted: int = 1
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)
    canonical_hash: str | None = None
    t_start: float = 0.0  # epoch seconds, for assigning event-log jobs
    cpu_s: float = 0.0    # CPU seconds of the whole process tree over the same span


def _error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"


class Workload:
    name = ""
    why = ""

    def __init__(self, spark_fn, work: str, seed: int, cores: int, cpu_clock):
        # spark_fn returns the live session, started after prepare();
        # cpu_clock gives the CPU seconds the run has used so far
        self._spark_fn = spark_fn
        self.cpu_clock = cpu_clock
        self.work = work
        self.seed = seed
        self.cores = cores
        self.reference: str | None = None
        self.recall: float | None = None
        self.truth_pairs = 0

    @property
    def spark(self):
        return self._spark_fn()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def docs_per_op(self) -> int:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def check(self, ops: list[Op], expected: dict | None) -> list[str]:
        raise NotImplementedError

    def fingerprint(self) -> dict:
        """What the recorded-values file stores for this workload and seed."""
        return {"canonical": self.reference}

    def describe(self, op: Op) -> str:
        """One line breaking an operation's wall down, for the run log."""
        return " ".join(f"{k}={v:.3f}" for k, v in op.report.items())


# ---------------------------------------------------------------------------
# batch pipeline


class BatchCrawl(Workload):
    name = "batch_crawl"
    why = "production mix: ~92% unique docs, small clusters, one template cluster; one DedupePipeline.run per operation"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.gen = GenConfig(n_docs=CRAWL_DOCS, seed=self.seed)

    def config(self, ckpt: str, input_path: str | None = None) -> PipelineConfig:
        return PipelineConfig(input_path=input_path or self.corpus.path, ckpt_dir=ckpt)

    def docs_per_op(self) -> int:
        return self.corpus.n_docs

    def prepare(self) -> None:
        # the held-back batch and the union feed the traced run's
        # incremental update and its parity check
        self.corpus, self.batch, self.union = inputs.make_split_corpus(
            self.gen, CRAWL_FRESH, CRAWL_HOLD_EVERY, self.work, 2 * self.cores
        )

    def run_pipeline(self, ckpt: str, input_path: str | None = None) -> Op:
        from dedupe_trees_spark.plans.pipeline import DedupePipeline

        shutil.rmtree(ckpt, ignore_errors=True)
        t_start = time.time()
        cpu0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            op = Op(0.0, report=DedupePipeline(self.spark, self.config(ckpt, input_path)).run())
        except Exception as exc:  # counted in fail_ratio; the set goes on
            op = Op(0.0, failed=1, errors=[_error(exc)])
        op.wall_s = time.perf_counter() - t0
        op.cpu_s = self.cpu_clock() - cpu0
        op.t_start = t_start
        if not op.failed:
            op.canonical_hash = checks.canonical_hash(checks.canonical_table(ckpt))
        return op

    def warm_up(self) -> None:
        """Two runs: the first in a fresh JVM is ~3x slower whatever its
        size, so it reads the small held-back batch; the second, at full
        size, gives the reference output. A second full-size run made
        the timed run steadier (its cpu_s varied ~5% between runs instead
        of ~8%) but cost ~7 s per run, which the time budget does not
        leave."""
        ckpt = self.path("ckpt_warm")
        for input_path in (self.batch.path, self.corpus.path):
            op = self.run_pipeline(ckpt, input_path)
            if op.failed:
                raise RuntimeError(f"warm-up run failed: {op.errors[0]}")
        self.reference = op.canonical_hash
        self.recall, self.truth_pairs = checks.dup_pair_recall(
            self.corpus.truth, checks.canonical_table(ckpt)
        )
        shutil.rmtree(ckpt, ignore_errors=True)

    def op(self, i: int) -> Op:
        return self.run_pipeline(self.path("ckpt"))

    def describe(self, op: Op) -> str:
        return " ".join(
            f"{stage}={r['wall_ms'] / 1000:.3f}" for stage, r in op.report.items() if "wall_ms" in r
        )

    def check(self, ops: list[Op], expected: dict | None) -> list[str]:
        errs = []
        for i, op in enumerate(ops):
            if not op.failed and op.canonical_hash != self.reference:
                errs.append(f"op {i}: canonical {op.canonical_hash} != warm-up {self.reference}")
        if expected and expected.get("canonical") != self.reference:
            errs.append(f"canonical {self.reference} != recorded {expected.get('canonical')}")
        if self.recall is None or self.recall < checks.RECALL_FLOOR:
            errs.append(f"dup_pair_recall {self.recall} < {checks.RECALL_FLOOR}")
        return errs


# ---------------------------------------------------------------------------
# query leaves


class QueryLeaves(Workload):
    name = "query_leaves"
    why = "13 contract query leaves under a noop sink: the only workload that runs queries.load fan-out and the featurize operators"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.gen = GenConfig(n_docs=QUERY_DOCS, seed=self.seed)  # the documents table

    def docs_per_op(self) -> int:
        return QUERY_DOCS

    def prepare(self) -> None:
        self.sf_dir = inputs.make_query_tables(
            self.seed, self.path("sf"), QUERY_DOCS, QUERY_EVENTS, QUERY_ORDERS
        )

    def _hash_leaf(self, leaf: str) -> tuple[str, pd.DataFrame | None]:
        from dedupe_trees_spark import queries as Q

        df = Q.QUERIES[leaf](self.spark, self.sf_dir)
        if leaf not in PAIR_LEAVES:
            return checks.frame_hash(df), None
        df = df.cache()  # the hash and the edges read one execution
        try:
            return checks.frame_hash(df), df.select("doc_a", "doc_b").toPandas()
        finally:
            df.unpersist()

    def warm_up(self) -> None:
        """The untimed content-hash pass (the noop sink returns nothing,
        so outputs are checked here) doubles as the full-size warm-up.
        It runs the leaves one at a time, as the timed pass does: a
        concurrent warm-up was measured to leave the next sequential
        pass ~15% slower and more variable."""
        results = {leaf: self._hash_leaf(leaf) for leaf in LEAVES}
        self.leaf_hashes = {leaf: h for leaf, (h, _) in results.items()}
        edges = pd.concat([e for _, e in results.values() if e is not None], ignore_index=True)
        self.recall, self.truth_pairs = self._twin_recall(edges)

    def _twin_recall(self, edges: pd.DataFrame) -> tuple[float, int]:
        """Recall of the planted pairs by the union of the three pair
        leaves' edges (the query twins of the pipeline's generators)."""
        docs = gen_batch(self.gen, np.arange(QUERY_DOCS))
        docs["url"] = docs.index.astype(str)
        truth = docs.loc[docs["truth_kind"] != "unique", inputs.TRUTH_COLS]
        labels = checks.union_find(
            np.arange(QUERY_DOCS), edges["doc_a"].to_numpy(), edges["doc_b"].to_numpy()
        )
        canon = pd.DataFrame({"url": docs["url"], "component_id": labels})
        return checks.dup_pair_recall(truth, canon)

    def run_leaf(self, leaf: str, sink: str) -> float:
        from dedupe_trees_spark import queries as Q

        t0 = time.perf_counter()
        df = Q.QUERIES[leaf](self.spark, self.sf_dir)
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        return time.perf_counter() - t0

    def op(self, i: int) -> Op:
        t_start = time.time()
        cpu0 = self.cpu_clock()
        t0 = time.perf_counter()
        op = Op(0.0, attempted=0, t_start=t_start)
        for leaf in LEAVES:
            op.attempted += 1
            try:
                op.report[leaf] = self.run_leaf(leaf, "noop")
            except Exception as exc:  # counted in fail_ratio; the pass goes on
                op.failed += 1
                op.errors.append(f"{leaf}: {_error(exc)}")
        op.wall_s = time.perf_counter() - t0
        op.cpu_s = self.cpu_clock() - cpu0
        return op

    def check(self, ops: list[Op], expected: dict | None) -> list[str]:
        errs = []
        if expected:
            for leaf, h in self.leaf_hashes.items():
                if expected.get("leaves", {}).get(leaf) != h:
                    errs.append(f"{leaf}: content hash {h} != recorded {expected.get('leaves', {}).get(leaf)}")
        if self.recall is None or self.recall < checks.RECALL_FLOOR:
            errs.append(f"dup_pair_recall {self.recall} < {checks.RECALL_FLOOR}")
        return errs

    def fingerprint(self) -> dict:
        return {"leaves": dict(self.leaf_hashes)}


WORKLOADS = {w.name: w for w in (BatchCrawl, QueryLeaves)}
