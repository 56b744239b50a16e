from __future__ import annotations

import itertools
import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from dedupe_trees_spark.config import PipelineConfig, from_args
from dedupe_trees_spark.datagen import GenConfig, generate_pages
from dedupe_trees_spark.io import stage_done
from dedupe_trees_spark.plans.pipeline import DedupePipeline


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """One full pipeline run on 1200 synthetic pages, shared by tests."""
    root = tmp_path_factory.mktemp("pipe")
    inp = str(root / "pages")
    ckpt = str(root / "ckpt")
    gcfg = GenConfig(n_docs=1200, seed=42)
    generate_pages(spark, gcfg, partitions=8).write.mode("overwrite").parquet(inp)
    cfg = PipelineConfig(input_path=inp, ckpt_dir=ckpt, bucket_cap=64)
    pipe = DedupePipeline(spark, cfg)
    report = pipe.run()
    return spark, gcfg, cfg, pipe, report, inp, ckpt


def test_all_stages_ran_and_checkpointed(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    for stage in ["signatures", "pairs", "components", "canonical"]:
        assert stage_done(ckpt, stage), stage
        assert not report[stage].get("skipped")
        assert report[stage]["rows_out"] > 0
    # bands are derived inline by the pairs stage, never checkpointed
    assert "bands" not in report and not stage_done(ckpt, "bands")


def test_exact_clusters_fully_merged(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    truth = spark.read.parquet(inp).select("url", "truth_cluster", "truth_kind").toPandas()
    got = pipe.canonical().select("url", "component_id").toPandas()
    comp = dict(zip(got.url, got.component_id))
    # every exact cluster must land in one component (xxhash64 grouping)
    for root, grp in truth[truth.truth_kind == "exact"].groupby("truth_cluster"):
        comps = {comp[u] for u in grp.url}
        assert len(comps) == 1, f"exact cluster {root} split into {comps}"


def test_canonical_one_per_component(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    canon = pipe.canonical()
    per_comp = (
        canon.filter("is_canonical").groupBy("component_id").count().filter("count != 1")
    )
    assert per_comp.count() == 0  # arbitrary terminal → exactly one survivor


def test_dup_pair_recall_vs_bruteforce(pipeline_run):
    """north_rule: dup-pair recall ≥ 0.99 at the same shingle config.

    Truth = brute-force pairs with shingle-Jaccard ≥ threshold (near dups)
    ∪ byte-identical pairs (exact). Engine pairs = same-component pairs.
    """
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    pdf = spark.read.parquet(inp).select("url", "text").toPandas()

    def sh(t, k=cfg.shingle_k):
        x = t.split()
        return set(tuple(x[i : i + k]) for i in range(max(len(x) - k + 1, 1)))

    S = {r.url: sh(r.text.lower()) for r in pdf.itertuples()}
    urls = sorted(S)
    truth_pairs = set()
    for a, b in itertools.combinations(urls, 2):
        sa, sb = S[a], S[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= cfg.jaccard_threshold:
            truth_pairs.add((a, b))
    assert truth_pairs

    got = pipe.canonical().select("url", "component_id").toPandas()
    by_comp = {}
    for u, c in zip(got.url, got.component_id):
        by_comp.setdefault(c, []).append(u)
    engine_pairs = set()
    for members in by_comp.values():
        for a, b in itertools.combinations(sorted(members), 2):
            engine_pairs.add((a, b))
    missed = truth_pairs - engine_pairs
    recall = 1 - len(missed) / len(truth_pairs)
    assert recall >= 0.99, f"recall={recall}, missed={list(missed)[:5]}"


def test_substr_clusters_connected(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    truth = spark.read.parquet(inp).select("url", "truth_cluster", "truth_kind").toPandas()
    got = pipe.canonical().select("url", "component_id").toPandas()
    comp = dict(zip(got.url, got.component_id))
    for root, grp in truth[truth.truth_kind == "substr"].groupby("truth_cluster"):
        comps = {comp[u] for u in grp.url}
        assert len(comps) == 1, f"substr cluster {root} split into {comps}"


def test_lineage_and_metrics_written(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    lineage = spark.read.parquet(f"{ckpt}/_lineage")
    metrics = spark.read.parquet(f"{ckpt}/_metrics")
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert {"signatures", "pairs", "components", "canonical"} <= stages
    # lineage: per-file row counts sum to stage totals
    sig_rows = (
        lineage.filter("stage = 'signatures'").agg(F.sum("rows")).collect()[0][0]
    )
    assert sig_rows == 1200


def test_resume_skips_done_stages_and_is_identical(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    before = sorted(
        (r["url"], r["component_id"], r["is_canonical"])
        for r in pipe.canonical().collect()
    )
    # simulate a crash after S2: wipe pairs/components/canonical
    for stage in ["pairs", "components", "canonical"]:
        shutil.rmtree(f"{ckpt}/{stage}")
    pipe2 = DedupePipeline(spark, cfg)
    report2 = pipe2.run()
    assert report2["signatures"].get("skipped")
    assert not report2["pairs"].get("skipped")
    after = sorted(
        (r["url"], r["component_id"], r["is_canonical"])
        for r in pipe2.canonical().collect()
    )
    assert before == after


def test_deduped_pages_sink(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    n_in = spark.read.parquet(inp).count()
    n_removed = pipe.removals().count()
    n_kept = pipe.deduped_pages().count()
    assert n_kept == n_in - n_removed
    assert n_removed > 0


def test_no_cached_rdds_leak_from_pipeline_run(spark, tmp_path):
    """Cache hygiene: a full pipeline run must leave nothing persisted —
    long-lived drivers loop over runs, so every cached band table would
    accumulate executor memory forever."""
    inp = str(tmp_path / "pages")
    generate_pages(spark, GenConfig(n_docs=300, seed=11), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    cfg = PipelineConfig(input_path=inp, ckpt_dir=str(tmp_path / "ckpt"), bucket_cap=64)
    DedupePipeline(spark, cfg).run()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), f"pipeline leaked cached RDDs: {after - before}"


def test_repeat_run_reuses_generated_code(pipeline_run, tmp_path):
    """A second run in the same JVM must hit the whole-stage codegen
    class cache instead of recompiling its plans. With Spark's default
    of 100 entries, below one run's ~130 code bodies, the LRU evicted
    every class before its next use: 124-125 compiles per warm run."""
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    DedupePipeline(spark, replace(cfg, ckpt_dir=str(tmp_path / "first"))).run()
    before = compiles.getCount()
    DedupePipeline(spark, replace(cfg, ckpt_dir=str(tmp_path / "second"))).run()
    n = compiles.getCount() - before
    assert n <= 8, f"second run compiled {n} classes"


def test_scratch_intermediates_cleaned(pipeline_run):
    """Per-run scratch (band tables, CC iterations) must not outlive the
    stage that consumed it — checkpoint dirs otherwise accumulate
    multi-GB intermediates across runs."""
    import os

    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    assert not os.path.exists(f"{ckpt}/_scratch")
    assert not os.path.exists(f"{ckpt}/_cc_work")


def test_fused_pairs_match_per_generator_union(pipeline_run):
    """The fused single-pass candidate generation (one bucket table, src
    bit flags, shared verify join) must emit EXACTLY the edges the three
    standalone generators + exact edges produce when run separately and
    deduped by evidence priority — the round-2 pipeline's shape."""
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    from dedupe_trees_spark.io import read_stage
    from dedupe_trees_spark.operators.exact import exact_edges
    from dedupe_trees_spark.operators.lsh import (
        candidate_pairs,
        explode_bands,
        verify_pairs,
    )
    from dedupe_trees_spark.functions.simhash import MAX_HAMMING
    from dedupe_trees_spark.operators.simhash_join import simhash_pairs
    from dedupe_trees_spark.operators.substring import _pairs_from_gram_sets

    sigs = read_stage(spark, ckpt, "signatures")
    # S1 stores `norm`, not shingle sets: derive the sets the same way
    # the verify path does, so the reference union below verifies
    # against identical shingle sets
    from dedupe_trees_spark.functions.minhash import shingle_set_udf
    from dedupe_trees_spark.functions.text import token_hashes

    sigs = sigs.withColumn(
        "shingles", shingle_set_udf(cfg.shingle_k)(token_hashes("norm"))
    )
    frames = [exact_edges(sigs, id_col="nid", hash_col="content_hash")]
    bands = explode_bands(
        sigs, sig_col="minhash", id_col="nid", bands=cfg.bands, rows=cfg.rows_per_band
    )
    mh = candidate_pairs(bands, id_col="nid", cap=cfg.bucket_cap).withColumn(
        "kind", F.lit("minhash")
    )
    sh = (
        simhash_pairs(
            sigs.select("nid", "simhash"), id_col="nid",
            max_hamming=MAX_HAMMING, cap=cfg.bucket_cap,
        )
        .select("url_a", "url_b")
        .withColumn("kind", F.lit("simhash"))
    )
    cands = mh.unionByName(sh).groupBy("url_a", "url_b").agg(F.min("kind").alias("kind"))
    frames.append(
        verify_pairs(
            cands, sigs, cfg.jaccard_threshold,
            id_col="nid", shingle_col="shingles", kind=None,
        )
    )
    frames.append(
        _pairs_from_gram_sets(
            sigs.select("nid", "substr_fp"), F.col("substr_fp"), "nid", cfg.bucket_cap
        ).select(
            "url_a", "url_b", F.lit("substr").alias("kind"), F.lit(1.0).alias("score")
        )
    )
    expected = frames[0]
    for e in frames[1:]:
        expected = expected.unionByName(e)
    pri = (
        F.when(F.col("kind") == "exact", 0)
        .when(F.col("kind") == "minhash", 1)
        .when(F.col("kind") == "simhash", 2)
        .otherwise(3)
    )
    expected = (
        expected.groupBy("url_a", "url_b")
        .agg(F.min_by(F.struct("kind", "score"), pri).alias("_best"))
        .select("url_a", "url_b", F.col("_best.kind").alias("kind"))
    )
    exp = sorted(map(tuple, expected.collect()))
    got = sorted(
        map(tuple, read_stage(spark, ckpt, "pairs").select("url_a", "url_b", "kind").collect())
    )
    assert got == exp


def test_jsonl_input_end_to_end(spark, tmp_path, capsys):
    """--input x.jsonl reaches the jsonl reader through the CLI."""
    import base64
    import json as _json

    import run_dedupe

    path = tmp_path / "pages.jsonl"
    rows = []
    for i in range(40):
        body = f"doc {i % 10} text " * 12   # 4× exact dups per body
        rows.append(
            {
                "url": f"https://s{i}.example/p{i}.html",
                "warc_ts": "2025-01-01T00:00:00Z",
                "html": base64.b64encode(f"<html>{body}</html>".encode()).decode(),
                "text": body,
                "lang": "en",
                "source": f"src{i % 3}",
                "source_order": i % 3,
            }
        )
    path.write_text("\n".join(_json.dumps(r) for r in rows))
    rc = run_dedupe.main(
        ["--input", str(path), "--ckpt", str(tmp_path / "ckpt"), "--bucket-cap", "64"]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs"] == 40
    assert summary["removed"] >= 30   # 10 distinct bodies → ≥30 removals


def test_nid128_survives_forced_64bit_collisions(spark, tmp_path, monkeypatch):
    """Degrade the 64-bit node hash to 8 buckets (collisions guaranteed
    at 400 docs): the 64-bit path must ABORT at the S1 audit, while
    nid_bits=128 (second independent seed in the struct) must run
    end-to-end and produce the same kept set as an honest 64-bit run."""
    import dedupe_trees_spark.plans.pipeline as P

    inp = str(tmp_path / "pages")
    generate_pages(spark, GenConfig(n_docs=400, seed=21), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)

    # honest baseline (bucket_cap high enough that all buckets stay cold,
    # making the pair set independent of nid ordering)
    cfg = PipelineConfig(input_path=inp, ckpt_dir=str(tmp_path / "c64"))
    DedupePipeline(spark, cfg).run()
    baseline = sorted(
        (r["url"], r["is_canonical"])
        for r in DedupePipeline(spark, cfg).canonical().collect()
    )

    monkeypatch.setattr(P, "_nid64", lambda col: F.pmod(F.xxhash64(col), F.lit(8)))
    cfg64 = PipelineConfig(input_path=inp, ckpt_dir=str(tmp_path / "c64broken"))
    with pytest.raises(RuntimeError, match="nid collision"):
        DedupePipeline(spark, cfg64).run()

    cfg128 = PipelineConfig(
        input_path=inp, ckpt_dir=str(tmp_path / "c128"), nid_bits=128
    )
    DedupePipeline(spark, cfg128).run()
    got = sorted(
        (r["url"], r["is_canonical"])
        for r in DedupePipeline(spark, cfg128).canonical().collect()
    )
    assert got == baseline


def test_config_from_args():
    cfg = from_args(
        [
            "--input", "/x", "--ckpt", "/y", "--threshold", "0.7",
            "--no-simhash", "--resolve", "mod_date,arbitrary", "--bucket-cap", "99",
        ]
    )
    assert cfg.input_path == "/x" and cfg.ckpt_dir == "/y"
    assert cfg.jaccard_threshold == 0.7
    assert not cfg.enable_simhash and cfg.enable_minhash
    assert cfg.resolvers == ("mod_date", "arbitrary")
    assert cfg.bucket_cap == 99


def test_recrawl_duplicates_collapse_to_latest(spark, tmp_path):
    """Document-identity repair (found via a planted duplicate in the 1M
    bench input): the same url ingested (a) twice byte-identically and
    (b) a third time as a LATER re-crawl with different text. The S1
    audit must collapse to ONE signatures row per nid keeping the latest
    (warc_ts, content_hash); downstream there must be no self-pairs and
    no url sitting in both the kept set and the removal manifest (a
    delete sink would anti-join the kept copy away)."""
    import os

    base = generate_pages(spark, GenConfig(n_docs=200, seed=7), partitions=4)
    victim = base.orderBy("url").limit(1)
    recrawl = victim.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
    ).withColumn("text", F.lit("fresh recrawl body " * 40))
    inp = str(tmp_path / "pages")
    base.unionByName(victim).unionByName(recrawl).write.mode("overwrite").parquet(inp)
    victim_url = victim.collect()[0]["url"]

    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(input_path=inp, ckpt_dir=ckpt, bucket_cap=64)
    pipe = DedupePipeline(spark, cfg)
    pipe.run()

    sigs = spark.read.parquet(f"{ckpt}/signatures")
    assert sigs.count() == 200  # one row per document, duplicates collapsed
    assert sigs.groupBy("nid").count().filter("count > 1").count() == 0
    win = sigs.filter(F.col("url") == victim_url).collect()
    assert len(win) == 1 and "fresh recrawl body" in win[0]["norm"]
    assert os.path.exists(f"{ckpt}/signatures/_AUDITED")

    pairs = spark.read.parquet(f"{ckpt}/pairs")
    assert pairs.filter(F.col("url_a") == F.col("url_b")).count() == 0
    assert pairs.groupBy("url_a", "url_b").count().filter("count > 1").count() == 0

    canon = pipe.canonical()
    assert canon.count() == 200
    assert canon.filter(F.col("url") == victim_url).count() == 1
    kept = canon.filter("is_canonical").select("url")
    removed = canon.filter("NOT is_canonical").select("url")
    assert kept.join(removed, "url").count() == 0

    # resume skips the stage but never re-collapses or aborts
    report2 = DedupePipeline(spark, cfg).run()
    assert report2["signatures"].get("skipped")


def test_recrawl_tie_on_ts_and_hash_picks_deterministic_survivor(spark, tmp_path):
    """Round-3 advisory: rows tying on (warc_ts, content_hash) — same
    crawl instant, same bytes — can still differ in ingest lineage
    (source, source_order, lang); the collapse keep-key now totalizes
    over those too, so the survivor is fully determined (max
    source_order here), not whichever row dropDuplicates happened to
    see first. Run the audit twice from scratch and demand the same
    survivor both times."""
    base = generate_pages(spark, GenConfig(n_docs=60, seed=11), partitions=3)
    victim = base.orderBy("url").limit(1)
    victim_url = victim.collect()[0]["url"]
    dup_a = victim.withColumn("source", F.lit("src90")).withColumn(
        "source_order", F.lit(90)
    )
    dup_b = victim.withColumn("source", F.lit("src95")).withColumn(
        "source_order", F.lit(95)
    )
    rest = base.join(victim.select("url"), "url", "left_anti")
    inp = str(tmp_path / "pages")
    rest.unionByName(dup_a).unionByName(dup_b).write.mode("overwrite").parquet(inp)

    for sub in ("ckpt1", "ckpt2"):
        cfg = PipelineConfig(
            input_path=inp, ckpt_dir=str(tmp_path / sub), bucket_cap=64
        )
        DedupePipeline(spark, cfg).run()
        sigs = spark.read.parquet(f"{tmp_path / sub}/signatures")
        assert sigs.count() == 60
        win = sigs.filter(F.col("url") == victim_url).collect()
        assert len(win) == 1
        assert win[0]["source"] == "src95" and win[0]["source_order"] == 95


def test_scratch_dir_override_used_and_cleaned(spark, tmp_path):
    """cfg.scratch_dir points pairs-stage scratch at separate (fast/
    ephemeral) storage; it must actually be used — forced here by
    scratch_local_max_docs=0 (always-parquet) — and removed once the
    pairs stage commits, and the per-phase decomposition must land in
    the run report."""
    import os

    inp = str(tmp_path / "pages")
    generate_pages(spark, GenConfig(n_docs=300, seed=17), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)
    sc_dir = str(tmp_path / "fast_scratch")
    cfg = PipelineConfig(
        input_path=inp, ckpt_dir=str(tmp_path / "ckpt"),
        bucket_cap=64, scratch_dir=sc_dir, scratch_local_max_docs=0,
    )
    seen = {}
    orig = DedupePipeline._spill

    def spy(self, df, path, small):
        seen[path] = small
        return orig(self, df, path, small)

    DedupePipeline._spill = spy
    try:
        report = DedupePipeline(spark, cfg).run()
    finally:
        DedupePipeline._spill = orig
    assert seen and all(p.startswith(sc_dir) for p in seen), seen
    assert all(small is False for small in seen.values())  # parquet path
    assert not os.path.exists(sc_dir)  # cleaned with the stage commit
    phases = report["pairs"]["phases"]
    assert {"cands_sec", "sets_sec", "verify_write_sec"} <= set(phases)


def test_from_args_scratch_dir_roundtrip():
    cfg = from_args(
        ["--input", "/i", "--ckpt", "/c", "--scratch-dir", "/fast/sc"]
    )
    assert cfg.scratch_dir == "/fast/sc"
    assert from_args(["--input", "/i", "--ckpt", "/c"]).scratch_dir is None


def test_training_set_export_end_to_end(spark, tmp_path):
    """S6 shaping: dedupe → decontaminate → domain-cap → sample, each
    visible in the exported stage, with resume a no-op."""
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    evp = str(tmp_path / "eval")
    generate_pages(spark, GenConfig(n_docs=400, seed=7), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)
    # eval set = the text of 5 input pages (verbatim 13-gram overlap)
    pages = spark.read.parquet(inp)
    pages.orderBy("url").limit(5).select("url", "text").write.mode(
        "overwrite"
    ).parquet(evp)
    ev_urls = {r["url"] for r in spark.read.parquet(evp).select("url").collect()}

    cfg = PipelineConfig(
        input_path=inp, ckpt_dir=ckpt, bucket_cap=64,
        decontam_eval_path=evp, decontam_n=13, domain_cap=25,
        sample_frac=0.9,
    )
    pipe = DedupePipeline(spark, cfg)
    report = pipe.run()
    assert stage_done(ckpt, "training_set")
    assert report["training_set"]["rows_out"] > 0

    out = pipe.training_set()
    # decontamination: no exported page may carry an eval page's text
    # (the eval pages themselves — or their dup-cluster survivors —
    # share all their 13-grams with the eval set)
    got_urls = {r["url"] for r in out.select("url").collect()}
    assert not (got_urls & ev_urls)
    # domain cap holds
    from dedupe_trees_spark.operators.domains import extract_domain

    sizes = (
        out.withColumn("d", extract_domain("url")).groupBy("d").count().collect()
    )
    assert all(r["count"] <= 25 for r in sizes)
    # the export is a subset of the deduped kept pages
    kept = pipe.deduped_pages().select("url")
    assert out.select("url").exceptAll(kept).count() == 0
    # sample took a bite but not everything
    assert 0 < out.count() < kept.count()

    # resume: second run skips everything, output identical
    out1 = sorted(r["url"] for r in out.collect())
    report2 = DedupePipeline(spark, cfg).run()
    assert report2["training_set"].get("skipped")
    out2 = sorted(
        r["url"] for r in DedupePipeline(spark, cfg).training_set().collect()
    )
    assert out1 == out2


def test_training_set_absent_without_shaping_flags(pipeline_run):
    spark, gcfg, cfg, pipe, report, inp, ckpt = pipeline_run
    assert "training_set" not in report
    assert not stage_done(ckpt, "training_set")


def test_from_args_shaping_flags():
    cfg = from_args(
        [
            "--input", "i", "--ckpt", "c",
            "--decontam-eval", "/tmp/ev", "--decontam-n", "8",
            "--domain-cap", "100", "--sample-frac", "0.5",
        ]
    )
    assert cfg.decontam_eval_path == "/tmp/ev"
    assert cfg.decontam_n == 8
    assert cfg.domain_cap == 100
    assert cfg.sample_frac == 0.5


def test_training_out_cli_sink(spark, tmp_path, capsys):
    """--training-out publishes the shaped corpus outside the ckpt dir."""
    import json as _json

    import run_dedupe

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "train")
    generate_pages(spark, GenConfig(n_docs=300, seed=11), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)
    rc = run_dedupe.main(
        [
            "--input", inp, "--ckpt", str(tmp_path / "ckpt"),
            "--bucket-cap", "64", "--domain-cap", "30",
            "--training-out", out,
        ]
    )
    assert rc == 0
    capsys.readouterr()
    published = spark.read.parquet(out)
    from dedupe_trees_spark.operators.domains import extract_domain

    assert published.count() > 0
    assert {"url", "text"} <= set(published.columns)
    sizes = published.withColumn("d", extract_domain("url")).groupBy("d").count()
    assert all(r["count"] <= 30 for r in sizes.collect())


def test_training_out_formats(spark, tmp_path, capsys):
    """--out-format jsonl.gz / warc publish the same url set as the
    parquet sink, and --out-shards pins the part-file count. Runs share
    one ckpt dir: the 2nd/3rd invocation resumes every stage and only
    re-exports, so the test times the sinks, not three pipelines."""
    import glob

    import run_dedupe
    from dedupe_trees_spark.sources.warc import read_pages_warc

    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    generate_pages(spark, GenConfig(n_docs=200, seed=13), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)
    outs = {fmt: str(tmp_path / f"train_{fmt.replace('.', '_')}")
            for fmt in ("parquet", "jsonl.gz", "warc")}
    for fmt, out in outs.items():
        rc = run_dedupe.main(
            ["--input", inp, "--ckpt", ckpt, "--bucket-cap", "64",
             "--training-out", out, "--out-format", fmt, "--out-shards", "3"]
        )
        assert rc == 0
    capsys.readouterr()

    pq = spark.read.parquet(outs["parquet"])
    js = spark.read.json(outs["jsonl.gz"])
    wc = read_pages_warc(spark, outs["warc"] + "/*.warc.gz")
    urls_pq = {r["url"] for r in pq.select("url").collect()}
    assert {r["url"] for r in js.select("url").collect()} == urls_pq
    assert {r["url"] for r in wc.select("url").collect()} == urls_pq
    # jsonl rows keep the text verbatim (spot-check via a sorted join)
    a = {r["url"]: r["text"] for r in pq.select("url", "text").collect()}
    b = {r["url"]: r["text"] for r in js.select("url", "text").collect()}
    assert a == b
    assert len(glob.glob(outs["jsonl.gz"] + "/part-*.json.gz")) == 3
    assert len(glob.glob(outs["warc"] + "/part-*.warc.gz")) == 3
    with pytest.raises(ValueError):
        run_dedupe.main(
            ["--input", inp, "--ckpt", ckpt, "--training-out",
             str(tmp_path / "bad"), "--out-format", "orc"]
        )


def test_training_set_hygiene_battery(spark, tmp_path):
    """S6 hygiene flags: --blocklist drops every page of the listed
    domain, --quality-filter keeps exactly the gopher_keep set, and
    --scrub-pii masks injected e-mails in the exported text only."""
    from dedupe_trees_spark.operators.domains import extract_domain
    from dedupe_trees_spark.operators.textstats import gopher_rules

    inp = str(tmp_path / "pages")
    blp = str(tmp_path / "blocklist.txt")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, GenConfig(n_docs=300, seed=11), partitions=4)
    # the synthetic corpus has no Gopher stopwords, so flag_stop would
    # reject every page: give ~2/3 of pages a stopword-rich tail (those
    # can pass) and inject a deterministic e-mail into every 7th page
    pages = pages.withColumn(
        "text",
        F.when(
            F.xxhash64("url") % 3 != 0,
            F.concat(
                F.col("text"),
                F.lit(" for the record that we have to be of use and go with it"),
            ),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            F.xxhash64("url") % 7 == 0,
            F.concat(F.col("text"), F.lit(" reach me at who@example.org ok")),
        ).otherwise(F.col("text")),
    )
    pages.write.mode("overwrite").parquet(inp)
    doms = [
        r["d"]
        for r in spark.read.parquet(inp)
        .select(extract_domain("url").alias("d"))
        .distinct().orderBy("d").collect()
    ]
    blocked = doms[0]
    with open(blp, "w") as f:
        f.write(f"{blocked}\n\n  {blocked}  \n")  # blank + padded lines ok

    cfg = PipelineConfig(
        input_path=inp, ckpt_dir=ckpt, bucket_cap=64,
        blocklist_path=blp, quality_filter=True, quality_min_words=10,
        scrub_pii=True,
    )
    pipe = DedupePipeline(spark, cfg)
    report = pipe.run()
    assert report["training_set"]["rows_out"] > 0
    out = pipe.training_set()

    # blocklist: no exported page from the blocked domain
    assert out.filter(extract_domain("url") == blocked).count() == 0
    # pii: masks present where injected, raw addresses gone everywhere
    assert out.filter(F.col("text").contains("@")).count() == 0
    assert out.filter(F.col("text").contains("<EMAIL>")).count() > 0
    # quality filter: survivors == the gopher_keep subset of the
    # deduped+blocklisted+scrubbed set, computed independently
    expect = pipe.deduped_pages().filter(extract_domain("url") != blocked)
    expect = gopher_rules(expect, min_words=10).filter(F.col("gopher_keep"))
    expect = expect.select("url", scrub_pii_col_for_test("text").alias("text"))
    got = out.select("url", "text")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def scrub_pii_col_for_test(col):
    from dedupe_trees_spark.operators.pii import scrub_pii

    return scrub_pii(col)


def test_from_args_hygiene_flags_roundtrip():
    cfg = from_args(
        [
            "--input", "/i", "--ckpt", "/c", "--blocklist", "/b.txt",
            "--quality-filter", "--quality-min-words", "25", "--scrub-pii",
        ]
    )
    assert cfg.blocklist_path == "/b.txt"
    assert cfg.quality_filter and cfg.quality_min_words == 25
    assert cfg.scrub_pii
    base = from_args(["--input", "/i", "--ckpt", "/c"])
    assert not base.quality_filter and not base.scrub_pii
    assert base.blocklist_path is None


def test_decontam_hash_mode_cli_and_parity(spark, tmp_path):
    """--decontam-hash roundtrips through from_args, and the hash-mode
    export equals the gram-mode export on a real pipeline run (slice
    equality <=> string equality; collisions only ever over-flag)."""
    inp = str(tmp_path / "pages")
    evp = str(tmp_path / "eval")
    generate_pages(spark, GenConfig(n_docs=300, seed=13), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)
    pages = spark.read.parquet(inp)
    pages.orderBy("url").limit(4).select("url", "text").write.mode(
        "overwrite"
    ).parquet(evp)

    cfg = from_args(
        ["--input", inp, "--ckpt", str(tmp_path / "c1"),
         "--decontam-eval", evp, "--decontam-hash"]
    )
    assert cfg.decontam_join_on == "hash"
    assert from_args(["--input", "/i", "--ckpt", "/c"]).decontam_join_on == "gram"

    outs = {}
    for mode, ck in (("gram", "cg"), ("hash", "ch")):
        c = PipelineConfig(
            input_path=inp, ckpt_dir=str(tmp_path / ck), bucket_cap=64,
            decontam_eval_path=evp, decontam_join_on=mode,
        )
        p = DedupePipeline(spark, c)
        p.run()
        outs[mode] = sorted(r["url"] for r in p.training_set().collect())
    assert outs["gram"] == outs["hash"] and outs["gram"]


def test_training_set_temperature_and_shards(spark, tmp_path):
    """S6 export layout: --temperature rebalances languages (smallest
    kept whole), --shard-tokens appends a prefix-sum shard assignment
    that exactly matches the window twin over the same exported rows."""
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    generate_pages(spark, GenConfig(n_docs=400, seed=11), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)

    cfg = PipelineConfig(
        input_path=inp, ckpt_dir=ckpt, bucket_cap=64,
        temperature_alpha=0.5, shard_tokens=3000,
    )
    pipe = DedupePipeline(spark, cfg)
    pipe.run()
    out = pipe.training_set()
    assert {"n_tokens", "cum_before", "shard_id"} <= set(out.columns)

    kept = pipe.deduped_pages()
    base = {r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()}
    got = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    cmin_lang = min(base, key=lambda k: base[k])
    assert got[cmin_lang] == base[cmin_lang]  # smallest language whole
    assert sum(got.values()) < sum(base.values())  # others downsampled

    # shard assignment == the single-partition window twin over the
    # same exported rows (tokens computed on final text, url order)
    from dedupe_trees_spark.operators.shards import pack_shards_window

    twin = pack_shards_window(
        out.select("url", "text"), 3000, id_col="url"
    )
    mine = out.select("url", "n_tokens", "cum_before", "shard_id")
    assert mine.exceptAll(twin).count() == 0
    assert twin.exceptAll(mine).count() == 0

    # CLI parse reaches the same config
    from dedupe_trees_spark.config import from_args

    c2 = from_args(
        ["--input", inp, "--ckpt", ckpt, "--temperature", "0.5",
         "--shard-tokens", "3000"]
    )
    assert c2.temperature_alpha == 0.5 and c2.shard_tokens == 3000


def test_training_set_fuzzy_decontam_cuts_paraphrased_eval(spark, tmp_path):
    """S6 --fuzzy-decontam: eval docs are PARAPHRASES of 5 kept pages
    (every 30th token replaced — shingle-Jaccard ~0.82, every common
    token run < 40 so the exact rule at n=40 cannot fire). A/B on the
    same checkpoints: exact-only export keeps the sources, fuzzy cuts
    exactly them."""
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    evp = str(tmp_path / "eval")
    generate_pages(spark, GenConfig(n_docs=400, seed=7), partitions=4).write.mode(
        "overwrite"
    ).parquet(inp)

    base = DedupePipeline(
        spark, PipelineConfig(input_path=inp, ckpt_dir=ckpt, bucket_cap=64)
    )
    base.run()
    kept = base.deduped_pages().orderBy("url").limit(5).collect()
    para_rows = []
    for r in kept:
        toks = r["text"].split(" ")
        for i in range(15, len(toks), 30):
            toks[i] = f"zzq{i}"
        para_rows.append((r["url"] + "#eval", " ".join(toks)))
    spark.createDataFrame(para_rows, ["url", "text"]).write.mode(
        "overwrite"
    ).parquet(evp)
    src_urls = {r["url"] for r in kept}

    def export(tau):
        cfg = PipelineConfig(
            input_path=inp, ckpt_dir=ckpt, bucket_cap=64,
            decontam_eval_path=evp, decontam_n=40, fuzzy_decontam_tau=tau,
        )
        pipe = DedupePipeline(spark, cfg)
        pipe.run()
        return {r["url"] for r in pipe.training_set().select("url").collect()}

    exact_only = export(0.0)
    assert src_urls <= exact_only  # n=40 exact rule cannot see the paraphrase
    # rebuild S6 with the fuzzy pass on the same committed S1-S5
    import shutil

    shutil.rmtree(f"{ckpt}/training_set", ignore_errors=True)
    with_fuzzy = export(0.7)
    assert with_fuzzy == exact_only - src_urls
