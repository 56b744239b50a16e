"""Connected components over the candidate-pair graph.

Replaces the reference's tree-walk duplicate sets (dict digest → members,
SURVEY.md §2.1 R3): here duplicate sets are connected components of the
union of exact-hash, MinHash-LSH, SimHash, and substring edges.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
rounds regardless of graph diameter, each round two shuffles, expressed
entirely as DataFrame self-aggregations (no graphframes jar needed, none
ships in this sandbox). Node ids are whatever ``id_col`` carries — the
algorithm only needs a type with a total order. The pipeline passes
compact ``nid`` values (int64, or a two-long struct at ``nid_bits=128``;
``plans/pipeline.py`` ``node_id_expr``), not url strings; standalone
callers may pass urls. The component id is the minimum id of the
component under that order, which makes output deterministic and
permutation-invariant.

Scale notes (10^12 nodes):
- every iteration's frontier is persisted + localCheckpoint'ed (or parquet
  checkpointed via ``ckpt_dir``) to cut lineage growth — without this the
  plan doubles each round;
- convergence is detected by an order-insensitive signature
  (count + bit_xor of xxhash64(edge)) instead of DataFrame equality joins;
- large-star caps high-degree nodes: a node of degree d emits ≤ d edges,
  all pointing at the partition-local min, so hot template clusters
  (millions of near-identical pages) converge without quadratic blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# stars may broadcast their per-node min relation below this edge count
# (≤ 2 nodes/edge ⇒ ≲ 2M min rows ≈ tens of MB as a hashed relation —
# safely under driver/executor headroom at any deployment size; larger
# graphs keep the shuffle join, so the 10^12-doc path is unchanged)
_BROADCAST_MAX_EDGES = 1_000_000

# below this edge count the whole edge set is a bounded driver relation
# (≤ 4 MB of long pairs — far smaller than a typical broadcast build
# side), and the O(log n) distributed star rounds are pure fixed job
# latency: each round costs 2 Spark jobs (checkpoint + convergence
# signature) to move kilobytes. The fast path collects the canonical
# edges ONCE (Arrow), runs a vectorized NumPy min-label propagation,
# and returns the same (node, min-id-of-component) relation the star
# contraction converges to. Measured crossover (r06): at ~40k edges
# (100k-doc bench) the fast path is 2-3× quicker than the loop's jobs;
# by ~1M edges the collect + rebuild costs more than the broadcast-star
# rounds it replaces — so the bound stays well below that, and larger
# graphs (every 10^6+-doc input) take the distributed loop unchanged
# (value-identity at 1M docs verified: identical canonical signature
# either way).
_DRIVER_CC_MAX_EDGES = 250_000


def _canonical_edges(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge list → canonical (u > v) orientation, no loops."""
    return (
        edges.select(
            F.greatest(F.col(a), F.col(b)).alias("u"),
            F.least(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame, small: bool = False) -> DataFrame:
    """(u,v) canonical → for each node, connect strictly-larger neighbors
    to min(Γ(u) ∪ {u}).

    ``small``: the caller KNOWS the edge count (the convergence
    signature measures it every round) — when the per-node min relation
    provably fits, broadcast it so the symmetric edge table is never
    shuffled for the join (guide §3.1: the estimate-driven planner
    cannot see this because the aggregate's size estimate is unknown).
    Results are identical either way; rounds on small-to-medium graphs
    stop paying two sort-merge exchanges each."""
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    if small:
        mins = F.broadcast(mins)
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _canonical_edges(out, "u", "v")


def _small_star(edges: DataFrame, small: bool = False) -> DataFrame:
    """(u,v) canonical (v < u) → connect all small neighbors (and u) to the
    minimum small neighbor. ``small``: see ``_large_star``."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    if small:
        mins = F.broadcast(mins)
    joined = edges.join(mins, "u")
    e1 = joined.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    e2 = mins.select(F.col("u"), F.col("m").alias("v"))
    return _canonical_edges(e1.unionByName(e2), "u", "v")


def _driver_cc_supported(edges: DataFrame) -> bool:
    """The driver fast path handles atomic id types whose Python/NumPy
    ordering matches Spark's column ordering: integers trivially, and
    strings because Python's code-point comparison equals UTF-8 byte
    comparison (UTF-8 is order-preserving) — but only under the binary
    collation; any other collation (e.g. UTF8_LCASE) orders differently.
    Struct ids (nid_bits=128) keep the distributed loop."""
    from pyspark.sql import types as T

    t = edges.schema["u"].dataType
    if isinstance(t, T.StringType):
        return t.collation == "UTF8_BINARY"
    return isinstance(t, (T.LongType, T.IntegerType, T.ShortType))


def _driver_cc(edges: DataFrame) -> DataFrame:
    """Bounded-size CC on the driver: min-label propagation over NumPy
    index arrays (np.unique returns SORTED uniques, so index order ==
    value order and the converged index label maps back to the exact
    min id the star contraction produces). Each round is O(E + V)
    vectorized; dup-cluster graphs have tiny diameters so rounds ≈ 2-3.
    Value-identical to the distributed loop (pytest-pinned)."""
    import numpy as np

    spark = edges.sparkSession
    pdf = edges.select("u", "v").toPandas()
    utype = edges.schema["u"].dataType
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [T.StructField("url", utype), T.StructField("component_id", utype)]
    )
    if not len(pdf):
        return spark.createDataFrame([], schema=out_schema)
    ua = pdf["u"].to_numpy()
    vb = pdf["v"].to_numpy()
    vals, inv = np.unique(np.concatenate([ua, vb]), return_inverse=True)
    ea, eb = inv[: len(ua)], inv[len(ua) :]
    label = np.arange(len(vals), dtype=np.int64)
    while True:
        before = label
        # hook: every node takes the min label across its edges…
        m = np.minimum(label[ea], label[eb])
        label = label.copy()
        np.minimum.at(label, ea, m)
        np.minimum.at(label, eb, m)
        # …then pointer-jump until labels are root-stable
        while True:
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(before, label):
            break
    import pandas as pd

    out = pd.DataFrame({"url": vals, "component_id": vals[label]})
    return spark.createDataFrame(out, schema=out_schema)


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and can't overflow (edges are distinct,
    # so xor-cancellation of repeated elements can't occur)
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    a: str = "url_a",
    b: str = "url_b",
    max_iter: int = 50,
    ckpt_dir: str | None = None,
    local_ckpt_max_edges: int = 20_000_000,
    pins: list | None = None,
) -> DataFrame:
    """Edge list → (url, component_id) for every node that has an edge.

    Nodes with no edges are absent; callers union them back with
    component_id = their own id (see ``assign_components``).

    ``pins``: when given, the JavaRDD handles backing the final
    converged frame (when it was localCheckpointed) are appended there
    so the caller can release them AFTER materializing the result —
    the returned DataFrame reads those cached blocks, and with lineage
    truncated, blocks dropped earlier are unrecomputable. Without
    ``pins`` the final frame stays persisted (standalone callers that
    consume the result lazily).

    Per-round lineage cuts are SIZE-AWARE: once the edge count is known
    (the convergence signature counts it anyway, so this is free), edge
    sets at or below ``local_ckpt_max_edges`` use ``localCheckpoint``
    (executor memory/disk, ~zero fixed cost) and only larger sets pay
    the parquet write+read round trip. Rationale: the per-round parquet
    commit is pure fixed latency that dominates this stage on small-to-
    medium graphs (it is the measured Amdahl tail of the whole job at
    1M docs — BENCH/BASELINE.md), while at the 10^12-doc design point
    parquet is mandatory because localCheckpoint truncates lineage
    WITHOUT fault tolerance: a lost executor would kill the job rather
    than recompute. 20M edges (~a few hundred MB cached) keeps the
    non-replayable window to runs that finish in seconds anyway.
    ``ckpt_dir=None`` keeps the old always-local behavior.
    """
    from dedupe_trees_spark.io import local_ckpt

    spark = edges.sparkSession
    cur = _canonical_edges(edges, a, b)
    cur_handles: list = []
    if ckpt_dir is not None:
        # first materialization: size unknown until after this commit,
        # so the init round always goes to parquet (cheap: it also
        # absorbs the canonicalization dedup shuffle)
        path = f"{ckpt_dir}/cc_iter_init"
        cur.write.mode("overwrite").parquet(path)
        cur = spark.read.parquet(path)
    else:
        # eager on purpose: a lazy checkpoint defers the lineage
        # truncation, so each round's plan builds on the full history —
        # measured 3-5x SLOWER at sf1.0 despite saving one job per
        # round (r06 A/B: canonical 6.5 s eager vs 24-39 s lazy)
        cur, cur_handles = local_ckpt(cur)
    sig = _signature(cur)
    if sig[0] <= _DRIVER_CC_MAX_EDGES and _driver_cc_supported(cur):
        # the signature just counted the edges for free: at this size
        # the canonical edge set is a bounded driver relation (same
        # order as a broadcast build side) and every distributed star
        # round is 2 jobs of fixed latency moving kilobytes — resolve
        # the labels in one collect + vectorized pass instead. The
        # converged relation is independent of the edge frame, so its
        # checkpoint blocks release immediately.
        out = _driver_cc(cur)
        for h in cur_handles:
            h.unpersist()
        return out
    local_ok = sig[0] <= local_ckpt_max_edges
    for it in range(max_iter):
        # the signature just measured the edge count for free — below
        # _BROADCAST_MAX_EDGES the per-node min relations provably fit
        # as broadcasts, dropping two edge-table shuffles per star
        small = sig[0] <= _BROADCAST_MAX_EDGES
        nxt = _small_star(_large_star(cur, small=small), small=small)
        nxt_handles: list = []
        if ckpt_dir is not None and not local_ok:
            path = f"{ckpt_dir}/cc_iter_{it}"
            nxt.write.mode("overwrite").parquet(path)
            nxt = spark.read.parquet(path)
        else:
            nxt, nxt_handles = local_ckpt(nxt)  # eager — see init note
        nsig = _signature(nxt)
        # release the previous round's blocks (RDD-level handles —
        # DataFrame.unpersist is a no-op for localCheckpoint data);
        # safe mid-loop because nxt is already eagerly materialized
        for h in cur_handles:
            h.unpersist()
        cur, cur_handles = nxt, nxt_handles
        if nsig == sig:
            break
        sig = nsig
        # star-contraction never grows the edge set after round 1, so
        # once small, always small; re-check anyway in case round 1
        # symmetrization briefly peaked above the threshold
        local_ok = local_ok or sig[0] <= local_ckpt_max_edges
    else:
        raise RuntimeError(f"connected_components failed to converge in {max_iter} iterations")

    # At convergence edges form stars (u → component min). Every node that
    # appeared in the input is either a star leaf (u) or a root (v).
    leaves = cur.select(F.col("u").alias("url"), F.col("v").alias("component_id"))
    roots = cur.select(F.col("v").alias("url"), F.col("v").alias("component_id")).dropDuplicates(
        ["url"]
    )
    if pins is not None:
        pins.extend(cur_handles)
    return leaves.unionByName(roots).dropDuplicates(["url"])


def assign_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "url",
    a: str = "url_a",
    b: str = "url_b",
    max_iter: int = 50,
    ckpt_dir: str | None = None,
    pins: list | None = None,
) -> DataFrame:
    """All nodes → (id_col, component_id); isolated nodes are singletons."""
    cc = connected_components(
        edges, a=a, b=b, max_iter=max_iter, ckpt_dir=ckpt_dir, pins=pins
    )
    cc = cc.withColumnRenamed("url", id_col)
    return (
        nodes.select(id_col)
        .dropDuplicates([id_col])
        .join(cc, id_col, "left")
        .select(
            id_col,
            F.coalesce("component_id", F.col(id_col)).alias("component_id"),
        )
    )
