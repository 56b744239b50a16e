"""Plan-shape regression tests: the physical plans the 100-TB story
depends on — predicate pushdown into the parquet scan, column pruning,
broadcast of small sides, map-side partial aggregation, whole-stage
codegen — asserted against .explain() output so a regression (e.g. a
cast that blocks pushdown, a lambda that widens the scan) fails CI
instead of quietly 10×ing a scan at scale."""

from __future__ import annotations

import pytest

import dedupe_trees_spark.queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.collect()  # finalize AQE so the asserted plan is the real one
    return df._jdf.queryExecution().toString()


def _non_fanout_exchange_lines(plan: str) -> list[str]:
    """Exchange lines other than the input fan-out.

    r06: `queries.load()` round-robin-repartitions small single-row-group
    fixture files so map stages parallelize (a row group is the minimum
    scan split — without this every map runs on one core). That input
    repair is the ONLY exchange a pure-map operator may carry; any
    hash/range exchange still fails these tests."""
    return [
        l
        for l in plan.split("\n")
        if "Exchange" in l and "RoundRobinPartitioning" not in l
    ]


def test_pricing_summary_pushdown_partial_agg_codegen(spark):
    plan = _executed_plan(Q.QUERIES["pricing_summary"](spark, SF_DIR))
    assert "LessThanOrEqual(l_shipdate" in plan          # filter reached the scan
    assert "partial_sum" in plan                         # map-side combine
    assert "*(1)" in plan                                # whole-stage codegen spans
    # column pruning: the html-free lineitem scan reads only needed cols
    read_schema = next(l for l in plan.split("\n") if "ReadSchema" in l)
    assert "l_comment" not in read_schema


def test_top_sources_column_pruning(spark):
    plan = _executed_plan(Q.QUERIES["top_sources"](spark, SF_DIR))
    read_schema = next(l for l in plan.split("\n") if "ReadSchema" in l)
    assert "source:string" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema                     # widest column not read


def test_cosine_topk_broadcasts_queries(spark):
    plan = _executed_plan(Q.QUERIES["cosine_topk"](spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_candidate_pass_is_single_bucket_exchange(spark):
    """The pairs-stage scaling story (docs/SCALE.md S3): the fused
    candidate pass makes exactly TWO exchanges — one over the (huge)
    bucket table for the window, one over the (tiny) pair output for
    the cross-generator dedup. The per-bucket aggregation must chain on
    the window's hash partitioning without a third exchange; a
    regression here re-shuffles the job's largest table at 10^12 docs."""
    from pyspark.sql import functions as F

    from dedupe_trees_spark.operators.lsh import candidate_pairs

    bands = spark.range(500).select(
        F.col("id").alias("nid"),
        (F.col("id") % 25).alias("band_id"),
        F.pmod(F.xxhash64("id"), F.lit(60)).alias("band_hash"),
        F.lit(1).alias("src"),
    )
    out = candidate_pairs(bands, id_col="nid", cap=8, star_srcs=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" in plan and "ObjectHashAggregate" in plan


def test_signature_stage_never_scans_html(spark, tmp_path):
    from dedupe_trees_spark.config import PipelineConfig
    from dedupe_trees_spark.datagen import GenConfig, generate_pages
    from dedupe_trees_spark.plans.pipeline import DedupePipeline

    inp = str(tmp_path / "pages")
    generate_pages(spark, GenConfig(n_docs=100, seed=3), partitions=2).write.mode(
        "overwrite"
    ).parquet(inp)
    pipe = DedupePipeline(
        spark, PipelineConfig(input_path=inp, ckpt_dir=str(tmp_path / "ckpt"))
    )
    plan = pipe._build_signatures()._jdf.queryExecution().toString()
    read_schema = next(l for l in plan.split("\n") if "ReadSchema" in l)
    assert "html" not in read_schema                     # binary column pruned at scan


def test_ivf_topk_corpus_never_shuffled(spark):
    """IVF scale shape: the query/probe side is broadcast, so the only
    join is a BroadcastHashJoin on cell id — the corpus is scanned, not
    exchanged. A hash-partition exchange of the corpus here would move
    the full embedding table at 10^12 rows."""
    plan = _executed_plan(Q.QUERIES["embedding_ivf_topk"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    join_half = plan.split("BroadcastHashJoin")[0] if "BroadcastHashJoin" in plan else plan
    # the corpus side below the join must not hash-partition the
    # embedding column; the only hashpartitioning allowed is the
    # dropDuplicates/window AFTER candidates are formed (tiny)
    pre_join = plan.split("BroadcastExchange")[-1]
    assert "embedding" not in "".join(
        l for l in pre_join.split("\n") if "Exchange hashpartitioning" in l
    )


def test_neardup_pairs_single_bucket_join_and_pair_dedup(spark):
    """neardup_pairs plan: the self-join keys on bucket (hash equi-join,
    candidate-proportional), pair dedup happens BEFORE the cosine
    verify, and norms ride the shuffle as plain doubles (no norm
    re-aggregation per pair — the per-pair projection must not contain
    an `aggregate(` over the vector for the norm)."""
    plan = _executed_plan(Q.QUERIES["embedding_neardup_pairs"](spark, SF_DIR))
    assert "HashAggregate" in plan or "SortAggregate" in plan  # dropDuplicates
    # the verify projection computes ONE aggregate (the dot product);
    # a second aggregate over _va/_vb would be a norm recomputation
    verify_lines = [
        l for l in plan.split("\n") if "cos_sim" in l and "aggregate" in l
    ]
    for l in verify_lines:
        assert l.count("aggregate(") <= 2  # dot = zip_with + aggregate, once


def test_repetition_scores_is_pure_map(spark):
    """Quality filters must be shuffle-free maps at 10^12 docs: no
    Exchange anywhere, array work stays in one projection over the scan
    (the materialized-array columns must not reintroduce a shuffle)."""
    plan = _executed_plan(Q.QUERIES["repetition_scores"](spark, SF_DIR))
    assert _non_fanout_exchange_lines(plan) == []
    read_schema = next(l for l in plan.split("\n") if "ReadSchema" in l)
    assert "text" in read_schema and "lang" not in read_schema


def test_url_normalize_is_pure_map(spark):
    plan = _executed_plan(Q.QUERIES["url_normalize"](spark, SF_DIR))
    assert _non_fanout_exchange_lines(plan) == []


def test_paragraph_dup_stats_partial_agg(spark):
    """Boilerplate census: hot paragraphs must collapse map-side before
    the one exchange (partial aggregation), not ride a window."""
    plan = _executed_plan(Q.QUERIES["paragraph_dup_stats"](spark, SF_DIR))
    assert "partial_count" in plan
    assert "Window" not in plan


def test_gopher_quality_flags_is_pure_map(spark):
    """The Gopher rule battery must stay a shuffle-free projection over
    the scan — no Exchange, no UDF marker, text-only ReadSchema."""
    plan = _executed_plan(Q.QUERIES["gopher_quality_flags"](spark, SF_DIR))
    assert _non_fanout_exchange_lines(plan) == []
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = next(l for l in plan.split("\n") if "ReadSchema" in l)
    assert "text" in read_schema and "lang" not in read_schema


def test_top_ngrams_take_ordered_and_partial_agg(spark):
    """Boilerplate mining must never full-sort the gram table: top-k is
    TakeOrderedAndProject and the count has a map-side partial."""
    plan = _executed_plan(Q.QUERIES["top_ngrams"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "Window" not in plan


def test_src_from_band_candidates_value_identical(spark):
    """Dropping src before the pairs exchange and reconstructing it from
    band_id (src_from_band_expr) must emit the exact same (url_a, url_b,
    srcs) set as shuffling the src column. That rests on
    build_bucket_table's band_id namespaces deciding src for every row,
    at any band count: pinned with all four generators on, at the
    default bands=32 and at bands=16."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from dedupe_trees_spark.config import PipelineConfig
    from dedupe_trees_spark.datagen import GenConfig, generate_pages
    from dedupe_trees_spark.operators.lsh import candidate_pairs
    from dedupe_trees_spark.plans.pipeline import (
        SRC_EXACT,
        SRC_MINHASH,
        SRC_SIMHASH,
        SRC_SUBSTR,
        build_bucket_table,
        build_signatures,
        src_from_band_expr,
    )

    pages = generate_pages(spark, GenConfig(n_docs=400, seed=13))
    cfg = PipelineConfig(input_path="x", ckpt_dir="/tmp/unused_srcmap_ck")
    sigs = build_signatures(pages, cfg).cache()
    try:
        # the bucket build explodes substr_fp WITHOUT array_distinct —
        # valid only while the signature UDF emits distinct fps
        # (winnow_text_fps ends in np.unique); pin that invariant here
        for row in sigs.select("substr_fp").limit(200).collect():
            fps = row["substr_fp"]
            assert len(fps) == len(set(fps))
        fused = build_bucket_table(sigs, cfg).cache()
        expr = src_from_band_expr(cfg)
        base = sorted(
            map(tuple, candidate_pairs(fused, id_col="nid", cap=64,
                                       star_srcs=SRC_EXACT).collect())
        )
        assert base  # non-trivial pair set
        got = sorted(
            map(tuple, candidate_pairs(fused, id_col="nid", cap=64,
                                       star_srcs=SRC_EXACT,
                                       src_from_band=expr).collect())
        )
        assert got == base
        for bands in (32, 16):
            bcfg = replace(cfg, bands=bands)
            assert bcfg.enable_minhash and bcfg.enable_simhash and bcfg.enable_substring
            by_src = {
                r.src: r
                for r in build_bucket_table(sigs, bcfg)
                .groupBy("src")
                .agg(
                    F.sum((F.col("src") != src_from_band_expr(bcfg)).cast("long")).alias("bad"),
                    F.countDistinct("band_id").alias("band_ids"),
                )
                .collect()
            }
            assert set(by_src) == {SRC_EXACT, SRC_MINHASH, SRC_SIMHASH, SRC_SUBSTR}
            assert by_src[SRC_MINHASH].band_ids == bands
            assert {s: r.bad for s, r in by_src.items()} == dict.fromkeys(by_src, 0)
    finally:
        fused.unpersist()
        sigs.unpersist()
