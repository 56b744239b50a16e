"""Incremental (delta-batch) dedup against a persistent index.

The production shape of this engine at 10^12 docs is NOT "re-dedup the
corpus every crawl": a new crawl increment (10^8–10^10 pages) must be
deduplicated against the already-resolved corpus while touching only
batch-proportional data. This module adds that workflow on top of the
batch pipeline, reusing its exact operator semantics (the same
``build_signatures`` / ``collapse_recrawls`` / ``build_bucket_table`` /
``score_candidates`` / ``resolve_canonical`` functions the full pipeline
runs — not a re-implementation).

The index IS a pipeline checkpoint directory plus one extra table:

    signatures/   S1 rows for every indexed doc        (append per batch)
    buckets/      (nid, band_id, band_hash, src) — the persisted LSH /
                  simhash / winnow / exact bucket index (append per batch)
    components/   (nid, component_id) cluster map      (rewrite per batch)
    canonical/    resolution table with rank + is_canonical (rewrite)

``init_index`` = run the batch pipeline once, then persist the bucket
table. ``incremental_update`` then processes each new batch:

    1. S1 over the batch only; in-batch re-crawl rows collapsed by the
       audit's ``collapse_recrawls``; rows whose url is already indexed are skipped
       (idempotent re-ingest); a nid collision against the index aborts
       with the same rerun-at-128-bits advice as the batch audit.
    2. Candidates = new×new (the fused single-exchange candidate pass
       over the batch's buckets) ∪ new×index (bucket-key join of the
       batch's buckets against the PERSISTED index buckets — only index
       rows whose key occurs in the batch are read, semi-filtered, and
       each matched key's index side is capped like a hot bucket).
    3. Verify with ``score_candidates`` over (batch ∪ index) signatures —
       its candidate-nid semi-join keeps the shingle shuffle proportional
       to candidate volume exactly as in the batch pipeline.
    4. Index endpoints collapse to their current cluster roots; connected
       components runs over the SUBGRAPH of new nids + touched roots
       (batch-proportional, never corpus-wide). Clusters whose roots
       land in one component merge.
    5. Resolution re-runs over the full membership of TOUCHED clusters
       only, with the index's resolver chain.

Parity theorem (tested, `tests/test_incremental.py`): for resolver keys
that are pure row functions — every chain in ``resolver_key`` is — the
updated canonical table equals what the batch pipeline produces over the
union of all batches. Components: a cluster's label is its min nid, and
min is associative, so collapsing already-indexed members to their root
and running CC over (roots ∪ new nids) yields the same labels as CC over
all members. Resolution: a touched cluster re-resolves over its full
membership, and untouched clusters kept their exact batch-run resolution,
so ranks and canonicals match row-for-row.

Scale notes (10^12 docs, 10^9-doc increments):
- The index bucket table is ~75 small rows/doc — the same relation the
  batch pipeline shuffles once per run; persisting it is what buys
  increments that never rescan corpus text. Index tables are only ever
  SCANNED during an update — every join against them broadcasts the
  batch-proportional side (hints in the code), so no update shuffles a
  corpus-sized relation. On Iceberg the same property comes from
  storage-partitioned joins against ``bucket(band_hash)`` /
  ``bucket(nid)`` partitioned index tables, which also covers increment
  sizes beyond broadcast range.
- components/canonical rewrites are copy-on-write here; an Iceberg
  deployment expresses them as MERGE INTO (position-delete row updates
  for remapped cluster ids) instead of full rewrites.
- Commit protocol: all outputs are staged under ``_batch_<id>/``, then
  committed clusters → canonical → bucket-append → signature-append →
  batch marker. Every step is idempotent (appends carry per-batch file
  prefixes and are preceded by a prefix delete; rewrites recompute from
  current state and anti-join before unioning), so a crash anywhere
  mid-commit converges by re-running the same batch. The batch marker
  (``_BATCH_<id>`` under signatures/) makes a completed batch a no-op.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedupe_trees_spark.config import PipelineConfig
from dedupe_trees_spark.io import (
    append_stage,
    mark,
    marked,
    read_stage,
    remove_dir,
    replace_dir,
    stage_done,
    stage_path,
    write_stage,
)
from dedupe_trees_spark.operators.components import assign_components
from dedupe_trees_spark.operators.lsh import candidate_pairs
from dedupe_trees_spark.plans.pipeline import (
    SRC_EXACT,
    DedupePipeline,
    build_bucket_table,
    build_signatures,
    collapse_recrawls,
    resolve_canonical,
    score_candidates,
)

BUCKETS = "buckets"


def init_index(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Build a dedup index from scratch: one batch-pipeline run over
    ``cfg.input_path`` plus the persisted bucket table."""
    report = DedupePipeline(spark, cfg).run()
    if not stage_done(cfg.ckpt_dir, BUCKETS):
        sigs = read_stage(spark, cfg.ckpt_dir, "signatures")
        write_stage(build_bucket_table(sigs, cfg), cfg.ckpt_dir, BUCKETS)
    report[BUCKETS] = {"stage": BUCKETS, "built": True}
    return report


def _cross_candidates(
    new_buckets: DataFrame, idx_buckets: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """new×index candidate pairs via the persisted bucket index.

    Only index rows whose (band_id, band_hash) occurs in the batch are
    touched (left-semi against the batch's distinct keys — small, AQE
    broadcasts it). Matched keys cap their index side like a hot bucket:
    ``bucket_cap`` members in deterministic pseudo-random order — except
    exact content-hash buckets, where members are byte-identical and in
    one indexed cluster already, so ONE representative edge suffices.
    The batch side is capped identically; uncapped batch members stay
    connected through the new×new pass's star/salt topology, the same
    recall trade the hot-bucket salting documents."""
    keys = new_buckets.select("band_id", "band_hash").dropDuplicates()
    exact_band = cfg.bands + 11

    def capped(df: DataFrame) -> DataFrame:
        # the cap order is a pure function of nid, NOT of the bucket key:
        # a template cluster's members share most of their ~90 keys, and a
        # per-key-salted order would elect a DIFFERENT cap-sized rep set
        # per key — a hot doc's partner union across keys would approach
        # cap × n_keys pairs instead of ~cap. With one global order every
        # key elects the same reps and the per-doc partner set stays
        # O(cap).
        w = Window.partitionBy("band_id", "band_hash").orderBy(
            F.xxhash64("nid"), F.col("nid")
        )
        limit = F.when(
            F.col("band_id") == F.lit(exact_band), F.lit(1)
        ).otherwise(F.lit(cfg.bucket_cap))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= limit)
            .drop("_rn")
        )

    idx_side = capped(
        idx_buckets.join(F.broadcast(keys), ["band_id", "band_hash"], "left_semi")
    ).select(
        "band_id", "band_hash", F.col("nid").alias("_inid"),
        F.col("src").alias("_isrc"),
    )
    new_side = capped(new_buckets).select(
        "band_id", "band_hash", F.col("nid").alias("_nnid"), "src"
    )
    joined = new_side.join(idx_side, ["band_id", "band_hash"])
    pairs = joined.groupBy("_nnid", "_inid").agg(
        F.bit_or(F.col("src").bitwiseOR(F.col("_isrc"))).alias("srcs")
    )
    # Provable per-batch-doc bound: keep ≤ bucket_cap index partners per
    # new doc (global partner-hash order). Per-key caps alone leave a
    # residual spread on giant template clusters — each key's rep set is
    # the lowest-hash members PRESENT in that key, and presence varies
    # per key, so a hot doc's partner union lands at a few × cap
    # (measured 16M/100k: 852 k edges, ~1.6 k per hot doc). One pair-
    # proportional window makes the cross-edge count ≤ cap × batch docs
    # regardless of index cluster sizes. Connectivity needs one verified
    # true-cluster partner among the kept cap; same recall trade as the
    # salted hot buckets, with cap-sized margin.
    w_doc = Window.partitionBy("_nnid").orderBy(
        F.xxhash64("_inid"), F.col("_inid")
    )
    return (
        pairs.withColumn("_pn", F.row_number().over(w_doc))
        .filter(F.col("_pn") <= cfg.bucket_cap)
        .select(
            F.least("_nnid", "_inid").alias("url_a"),
            F.greatest("_nnid", "_inid").alias("url_b"),
            "srcs",
        )
    )


def incremental_update(
    spark: SparkSession,
    cfg: PipelineConfig,
    new_pages: DataFrame,
    batch_id: str,
) -> dict:
    """Dedup one new batch against the index at ``cfg.ckpt_dir`` and fold
    it in. Returns a report dict of counts and per-phase walls."""
    index_dir = cfg.ckpt_dir
    report: dict = {"batch_id": batch_id}
    if marked(index_dir, "signatures", f"_BATCH_{batch_id}"):
        report["skipped"] = True
        return report
    t_all = time.time()
    staging = f"{index_dir}/_batch_{batch_id}"

    def spill(df: DataFrame, name: str) -> DataFrame:
        df.write.mode("overwrite").parquet(f"{staging}/{name}")
        return spark.read.parquet(f"{staging}/{name}")

    # Join discipline for everything below: the index tables are only
    # ever SCANNED — every join against them broadcasts the batch-
    # proportional side, so no update ever shuffles a corpus-sized
    # relation. (At increment sizes where the batch side outgrows a
    # broadcast, an Iceberg deployment gets the same no-index-shuffle
    # property from storage-partitioned joins against the
    # bucket-partitioned index tables; the hints are the local-mode
    # spelling of that plan.)

    # ---- S1 over the batch, collapse, collision/skip audit ----------------
    t0 = time.time()
    sigs_idx = read_stage(spark, index_dir, "signatures")
    batch_sigs = spill(collapse_recrawls(build_signatures(new_pages, cfg)), "sigs_raw")
    matches = spill(
        sigs_idx.select("nid", F.col("url").alias("_iurl")).join(
            F.broadcast(batch_sigs.select("nid", "url")), "nid"
        ),
        "probe",
    )
    n_collide = matches.filter(F.col("_iurl") != F.col("url")).count()
    if n_collide:
        raise RuntimeError(
            f"{n_collide} nid collision(s) between batch and index (distinct "
            "urls share a node id); rebuild the index and batch at "
            "nid_bits=128"
        )
    report["skipped_existing"] = matches.count()
    new_sigs = spill(
        batch_sigs.join(F.broadcast(matches.select("nid")), "nid", "left_anti"),
        "sigs",
    )
    n_new = report["new_docs"] = new_sigs.count()
    report["s1_sec"] = round(time.time() - t0, 1)
    if n_new == 0:
        mark(index_dir, "signatures", f"_BATCH_{batch_id}")
        remove_dir(spark, staging)
        report["wall_sec"] = round(time.time() - t_all, 1)
        return report

    # ---- candidates: new×new fused pass + new×index bucket join -----------
    t0 = time.time()
    new_buckets = spill(build_bucket_table(new_sigs, cfg), "new_buckets")
    nn = candidate_pairs(
        new_buckets, id_col="nid", cap=cfg.bucket_cap, star_srcs=SRC_EXACT
    )
    ni = _cross_candidates(new_buckets, read_stage(spark, index_dir, BUCKETS), cfg)
    cands = spill(
        nn.unionByName(ni)
        .groupBy("url_a", "url_b")
        .agg(F.bit_or("srcs").alias("srcs")),
        "cands",
    )

    # ---- verify over batch ∪ index signatures (candidate-proportional) ----
    all_sigs = new_sigs.unionByName(sigs_idx)
    edges = spill(score_candidates(cands, all_sigs, cfg, spill=spill), "edges")
    report["edges"] = edges.count()
    report["pairs_sec"] = round(time.time() - t0, 1)

    # ---- subgraph components: new nids + touched index roots --------------
    t0 = time.time()
    clusters = read_stage(spark, index_dir, "components")
    touched_nids = (
        edges.select(F.col("url_a").alias("nid"))
        .unionByName(edges.select(F.col("url_b").alias("nid")))
        .dropDuplicates(["nid"])
    )
    old_map = spill(
        clusters.join(F.broadcast(touched_nids), "nid", "left_semi"), "old_map"
    )
    amap = old_map.select(
        F.col("nid").alias("url_a"), F.col("component_id").alias("_ra")
    )
    bmap = old_map.select(
        F.col("nid").alias("url_b"), F.col("component_id").alias("_rb")
    )
    collapsed = (
        edges.join(amap, "url_a", "left")
        .join(bmap, "url_b", "left")
        .select(
            F.coalesce("_ra", F.col("url_a")).alias("url_a"),
            F.coalesce("_rb", F.col("url_b")).alias("url_b"),
        )
        .filter(F.col("url_a") != F.col("url_b"))
    )
    nodes = new_sigs.select("nid").unionByName(
        old_map.select(F.col("component_id").alias("nid"))
    )
    comp = spill(
        assign_components(
            nodes, collapsed, id_col="nid", ckpt_dir=f"{staging}/_cc"
        ),
        "comp",
    )

    # ---- cluster-map rewrite ----------------------------------------------
    touched_roots = old_map.select("component_id").dropDuplicates()
    root_remap = (
        comp.join(
            touched_roots.withColumnRenamed("component_id", "nid"),
            "nid",
            "left_semi",
        )
        .select(
            F.col("nid").alias("_old_root"),
            F.col("component_id").alias("_new_comp"),
        )
    )
    report["touched_clusters"] = root_remap.count()
    report["merged_clusters"] = (
        root_remap.groupBy("_new_comp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    clusters_new = (
        clusters.join(
            F.broadcast(root_remap),
            clusters["component_id"] == root_remap["_old_root"],
            "left",
        )
        .select(
            "nid",
            F.coalesce("_new_comp", "component_id").alias("component_id"),
        )
    )
    # subgraph nids already present in the map (touched roots always;
    # new nids too when re-running a partially committed batch) must not
    # be appended again — two broadcast-side scans keep this index-
    # shuffle-free
    known = clusters.join(F.broadcast(comp.select("nid")), "nid", "left_semi")
    new_assign = comp.join(F.broadcast(known.select("nid")), "nid", "left_anti")
    clusters_new = clusters_new.unionByName(new_assign)
    spill(clusters_new, "clusters_full")
    report["cc_sec"] = round(time.time() - t0, 1)

    # ---- re-resolve touched clusters --------------------------------------
    t0 = time.time()
    clusters_full = spark.read.parquet(f"{staging}/clusters_full")
    touched_comps = comp.select("component_id").dropDuplicates()
    members_map = spill(
        clusters_full.join(F.broadcast(touched_comps), "component_id", "left_semi"),
        "members_map",
    )
    member_sigs = all_sigs.join(
        F.broadcast(members_map.select("nid")), "nid", "left_semi"
    )
    resolved = spill(resolve_canonical(member_sigs, members_map, cfg), "resolved")
    canonical_old = read_stage(spark, index_dir, "canonical")
    # rows of touched clusters appear under their pre-merge label (a
    # touched root) or — when re-running a partially committed batch —
    # already under the new label; drop both before unioning the fresh
    # resolution (labels of touched and untouched clusters are disjoint:
    # a cluster's label is one of its member nids)
    stale_labels = touched_roots.unionByName(touched_comps).dropDuplicates()
    untouched = canonical_old.join(
        F.broadcast(stale_labels), "component_id", "left_anti"
    )
    # displaced = was canonical in a touched cluster, no longer is
    old_touched_canon = canonical_old.filter(F.col("is_canonical")).join(
        F.broadcast(stale_labels), "component_id", "left_semi"
    )
    report["displaced_old_canonicals"] = (
        old_touched_canon.select("url")
        .join(
            F.broadcast(resolved.filter(F.col("is_canonical")).select("url")),
            "url",
            "left_anti",
        )
        .count()
    )
    spill(untouched.unionByName(resolved), "canonical_full")
    report["resolve_sec"] = round(time.time() - t0, 1)

    # ---- commit (each step idempotent; see module docstring) --------------
    t0 = time.time()
    replace_dir(
        spark, f"{staging}/clusters_full", stage_path(index_dir, "components")
    )
    replace_dir(
        spark, f"{staging}/canonical_full", stage_path(index_dir, "canonical")
    )
    append_stage(
        spark, f"{staging}/new_buckets", stage_path(index_dir, BUCKETS),
        f"b{batch_id}",
    )
    append_stage(
        spark, f"{staging}/sigs", stage_path(index_dir, "signatures"),
        f"b{batch_id}",
    )
    mark(index_dir, "signatures", f"_BATCH_{batch_id}")
    remove_dir(spark, staging)
    report["commit_sec"] = round(time.time() - t0, 1)
    report["wall_sec"] = round(time.time() - t_all, 1)
    return report
