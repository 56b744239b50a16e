from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_trees_spark.config import PipelineConfig
from dedupe_trees_spark.plans.pipeline import build_pairs, build_signatures

SF = "/root/testdata/sf0.001"


def test_permutation_invariance_of_canonical_output(spark):
    """SURVEY §5.6: shuffling/repartitioning input rows must not change
    component membership or canonical choice (engine output is a pure
    function of the input SET)."""
    from dedupe_trees_spark.queries import q_dedup_canonical_full

    base = sorted(
        (r["doc_id"], r["cluster_size"], r["is_canonical"])
        for r in q_dedup_canonical_full(spark, SF).collect()
    )

    # same query with the source table re-partitioned/shuffled underneath
    d = spark.read.parquet(f"{SF}/documents.parquet")
    d.repartition(13).sortWithinPartitions(F.desc("n_chars")).write.mode(
        "overwrite"
    ).parquet("/tmp/permuted_sf/documents.parquet")
    for t in ["lineitem", "orders", "customer", "supplier", "part", "nation",
              "region", "events", "embeddings"]:
        spark.read.parquet(f"{SF}/{t}.parquet").write.mode("overwrite").parquet(
            f"/tmp/permuted_sf/{t}.parquet"
        )
    permuted = sorted(
        (r["doc_id"], r["cluster_size"], r["is_canonical"])
        for r in q_dedup_canonical_full(spark, "/tmp/permuted_sf").collect()
    )
    assert base == permuted


def test_band_count_monotonicity(spark):
    """More bands (same rows-per-band) ⇒ candidate recall non-decreasing:
    the pipeline's verified pair set (build_pairs over one S1 relation)
    must grow monotonically with band count."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    cfgs = {
        bands: PipelineConfig(
            input_path="", ckpt_dir="", bands=bands,
            enable_simhash=False, enable_substring=False,
        )
        for bands in (4, 16, 32)
    }
    # S1 does not depend on the band count
    sigs = build_signatures(d, cfgs[32]).cache()
    found = {
        bands: {(r["url_a"], r["url_b"]) for r in build_pairs(sigs, cfg).collect()}
        for bands, cfg in cfgs.items()
    }
    assert found[4] <= found[16] <= found[32]
    sigs.unpersist()


def test_domain_cap_equals_window_on_random_corpora(spark):
    """Randomized (seeded) adversarial inputs: ragged domain sizes, caps
    around the size boundaries — the salted two-phase cap must equal the
    window formulation exactly, for every salt count."""
    import random

    from dedupe_trees_spark.operators.domains import domain_cap, domain_cap_window

    rng = random.Random(1234)
    for round_i in range(3):
        rows = []
        for d in range(rng.randint(2, 8)):
            size = rng.choice([1, 2, 3, rng.randint(4, 60)])
            for i in range(size):
                rows.append((d * 10_000 + i, f"https://d{d}.com/{rng.random():.10f}", f"d{d}.com"))
        df = spark.createDataFrame(rows, ["doc_id", "url", "domain"]).repartition(5)
        cap = rng.choice([1, 2, 5, 37])
        salts = rng.choice([1, 3, 64])
        a = domain_cap(df, cap, salts=salts).select("doc_id")
        b = domain_cap_window(df, cap).select("doc_id")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (
            round_i, cap, salts,
        )


def test_decontaminate_consistent_with_report(spark):
    """Survivor set == corpus minus report-contaminated ids, for random
    corpora in a tiny token alphabet (maximal accidental overlap)."""
    import random

    from dedupe_trees_spark.operators.decontaminate import (
        contamination_report,
        decontaminate,
    )

    rng = random.Random(99)
    toks = list("abcdefg")
    def doc(k):
        return " ".join(rng.choice(toks) for _ in range(k))

    corpus = spark.createDataFrame(
        [(i, doc(rng.randint(1, 30))) for i in range(120)], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [(1000 + i, doc(rng.randint(1, 15))) for i in range(10)], ["doc_id", "text"]
    )
    rep = contamination_report(corpus, ev, n=4)
    clean_ids = sorted(
        r["doc_id"] for r in rep.filter(~F.col("contaminated")).collect()
    )
    kept_ids = sorted(r["doc_id"] for r in decontaminate(corpus, ev, n=4).collect())
    assert clean_ids == kept_ids
    assert rep.count() == 120  # report covers every corpus row exactly once


def test_scrub_pii_idempotent_and_stable_on_clean_text(spark):
    """scrub(scrub(x)) == scrub(x) (placeholders contain no PII shapes),
    and PII-free text passes through byte-identical."""
    from dedupe_trees_spark.operators.pii import scrub_pii

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit(" mail a.b+c@x9.example.net or 10.0.0.1 or 123-45-6789"),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    out = d.select(
        "doc_id", "t",
        scrub_pii("t").alias("once"),
        scrub_pii(scrub_pii("t")).alias("twice"),
    )
    assert out.filter(F.col("once") != F.col("twice")).count() == 0
    clean = out.filter(F.col("doc_id") % 4 != 0)
    assert clean.filter(F.col("once") != F.col("t")).count() == 0


def test_containment_decisions_invariants(spark):
    """On any corpus: removed doc is never longer than the kept one,
    contain_frac ∈ [threshold, 1], and decision pairs ⊆ extent pairs."""
    from dedupe_trees_spark.operators.substring import (
        containment_decisions,
        substring_extent_pairs,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dec = containment_decisions(
        d, id_col="doc_id", frac=0.8, min_run=64, k=24, cap=4096
    ).collect()
    assert dec  # fixture plants substring dups
    lens = {
        r["doc_id"]: r["n"]
        for r in d.select("doc_id", F.length("text").alias("n")).collect()
    }
    for r in dec:
        assert lens[r["doc_removed"]] <= lens[r["doc_kept"]]
        assert 0.8 <= r["contain_frac"] <= 1.0
    ext = {
        frozenset((r["url_a"], r["url_b"]))
        for r in substring_extent_pairs(
            d, id_col="doc_id", min_run=64, k=24, cap=4096
        ).collect()
    }
    assert all(
        frozenset((r["doc_kept"], r["doc_removed"])) in ext for r in dec
    )


def test_top_ngrams_bounds_and_nesting(spark):
    """|output| ≤ k, doc_freq ≥ min_df and ≤ n_docs, and the top-5 list
    is a prefix of the top-20 list (same deterministic order)."""
    from dedupe_trees_spark.operators.decontaminate import top_ngrams

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    n_docs = d.count()
    t20 = top_ngrams(d, n=3, k=20, min_df=2).collect()
    t5 = top_ngrams(d, n=3, k=5, min_df=2).collect()
    assert len(t20) <= 20 and len(t5) <= 5
    assert all(2 <= r["doc_freq"] <= n_docs for r in t20)
    key = lambda r: (r["gram"], r["doc_freq"])  # noqa: E731
    assert [key(r) for r in t5] == [key(r) for r in t20[: len(t5)]]


def test_unigram_logprob_bounds_and_permutation_invariance(spark):
    """ln p ≤ 0 always (counts ≤ total); identical multiset of texts ⇒
    identical scores regardless of row order/partitioning."""
    from dedupe_trees_spark.operators.textstats import unigram_logprob

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base = {r.doc_id: (r.n_tokens, r.logprob) for r in unigram_logprob(d).collect()}
    assert all(lp <= 0.0 for _, lp in base.values())
    perm = {
        r.doc_id: (r.n_tokens, r.logprob)
        for r in unigram_logprob(
            d.repartition(7).sortWithinPartitions(F.desc("doc_id"))
        ).collect()
    }
    assert base == perm


def test_tfidf_topk_nesting(spark):
    """top-2 must be a prefix of top-5 for every doc (same total order)."""
    from dedupe_trees_spark.operators.textstats import tfidf_keywords

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    k5 = {
        (r.doc_id, r.rank): r.term for r in tfidf_keywords(d, k=5).collect()
    }
    k2 = {
        (r.doc_id, r.rank): r.term for r in tfidf_keywords(d, k=2).collect()
    }
    assert k2 == {key: t for key, t in k5.items() if key[1] <= 2}


def test_snapshot_diff_statuses_partition_key_union(spark):
    """Every key appears exactly once; old-only keys are vanished,
    new-only added — regardless of content."""
    from dedupe_trees_spark.operators.crawl import snapshot_diff

    d = spark.read.parquet(f"{SF}/documents.parquet")
    old = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    out = snapshot_diff(old, new, key_col="doc_id").collect()
    assert len(out) == len({r.doc_id for r in out})  # one row per key
    st = {r.doc_id: r.status for r in out}
    for r in d.select("doc_id").collect():
        i = r.doc_id
        in_old, in_new = i % 3 != 0, i % 4 != 0
        if in_old and in_new:
            assert st[i] == "unchanged"
        elif in_old:
            assert st[i] == "vanished"
        elif in_new:
            assert st[i] == "added"
        else:
            assert i not in st


def test_pack_shards_equals_python_prefix_sum_on_random_corpora(spark):
    """Randomized (seeded) adversarial shapes for the distributed
    prefix sum: ragged token counts including docs BIGGER than the
    shard target (legal shard-id gaps), targets near the doc-size
    boundary, random partition counts — assignment must equal a pure
    driver-side prefix sum exactly."""
    import random

    from dedupe_trees_spark.operators.shards import pack_shards

    rng = random.Random(4242)
    for round_i in range(3):
        n = rng.randint(30, 200)
        target = rng.choice([7, 100, 1000])
        rows = [
            (f"u{i:06d}", rng.choice([1, 2, 50, rng.randint(1, 3 * target)]))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "ntok"]).repartition(7)
        got = {
            r["doc_id"]: (r["cum_before"], r["shard_id"])
            for r in pack_shards(
                df, target, id_col="doc_id", token_col="ntok",
                num_parts=rng.choice([1, 3, 11]),
            ).collect()
        }
        cum, want = 0, {}
        for did, tok in sorted(rows):
            want[did] = (cum, cum // target)
            cum += tok
        assert got == want, (round_i, target)


def test_temperature_resample_equals_python_predicate(spark):
    """Kept set must equal a driver-side replication of the md5
    predicate (counts -> sqrt fractions -> hex thresholds) exactly."""
    import hashlib
    import math
    import random

    from dedupe_trees_spark.operators.domains import temperature_resample

    rng = random.Random(777)
    rows = []
    for s, size in (("a", 137), ("b", 23), ("c", 61)):
        rows += [(rng.randint(0, 10**9) * 10 + i, s) for i in range(size)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = sorted(r["doc_id"] for r in temperature_resample(df, "lang", 0.5).collect())

    counts = {}
    for _, s in rows:
        counts[s] = counts.get(s, 0) + 1
    cmin = min(counts.values())
    want = []
    for did, s in rows:
        f = math.sqrt(cmin / counts[s])
        if f >= 1.0:
            want.append(did)
            continue
        thr = format(int(math.floor(f * 4294967296.0)), "08x")
        if hashlib.md5(str(did).encode()).hexdigest()[:8] < thr:
            want.append(did)
    assert got == sorted(want)
