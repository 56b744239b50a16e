"""The end-to-end dedup pipeline (SURVEY.md §3.2 lifecycle):

    S1 signatures:  pages → (url, nid, meta, content_hash, norm,
                             minhash, simhash, substr_fp)  [checkpoint]
    S2 bands:       signatures → (nid, band_id, band_hash), derived
                    inline by S3 — one narrow map over S1, so it is
                    never checkpointed (a write+read of 32 rows/doc
                    would cost more than re-deriving it on resume)
    S3 pairs:       exact ∪ minhash ∪ simhash ∪ substr edges, verified
                                                           [checkpoint]
    S4 components:  connected components over pairs        [checkpoint]
    S5 canonical:   resolver window → canonical + removals [checkpoint]
    S6 training_set (optional, when any shaping/hygiene flag is set):
                    deduped kept pages → domain blocklist → Gopher
                    quality filter → decontaminate vs an eval parquet
                    → per-domain cap → deterministic sample →
                    temperature resample → PII scrub → shard
                    assignment                             [checkpoint]

Node identity: every stage after S1 keys documents by ``nid`` instead
of the url string (~60–80 bytes for web urls) — bands, candidate pairs,
verification, and every connected-components iteration shuffle compact
ids, cutting shuffle bytes on the id columns by ~4–10×. The width is
configurable (``nid_bits``): 64 = one xxhash64 long, the default up to
~10^9 docs; 128 = struct of two independently seeded xxhash64s for the
10^12-doc design point, where the 64-bit birthday bound makes
collisions near-certain (expected collisions at 10^12 docs: ~27k for 64
bits vs ~3·10^-3 for 128). S1 audits injectivity (url → nid) and aborts
on a collision with advice to rerun at nid_bits=128 — the audit is the
guard rail either way. Urls are joined back only at S5 for resolution
and sinks.

Every stage reads its dependencies from the previous stage's parquet
checkpoint, never from an in-memory plan — that is what makes resume
(``_SUCCESS``-gated) trivially correct, bounds Catalyst lineage, and
gives each stage an independent shuffle budget. The html binary column
is dropped at S1 so every later scan benefits from column pruning.

The stage computations are module-level ``DataFrame → DataFrame``
functions over ``PipelineConfig`` — ``build_signatures`` (S1),
``build_pairs`` (S3), ``resolve_canonical`` (S5) and
``collapse_recrawls`` (the S1 audit's repair). ``plans/incremental.py``
and the dedup contract queries (``queries.q_dedup_canonical_full`` and
the minhash/simhash pair leaves) run the same functions;
``DedupePipeline`` adds checkpoints, scratch spills, the pairs shuffle
tuner and metrics around them.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedupe_trees_spark.config import PipelineConfig
from dedupe_trees_spark.functions.minhash import shingle_set_udf, signature_struct_udf
from dedupe_trees_spark.functions.text import content_hash, normalize_text, token_hashes
from dedupe_trees_spark.io import (
    read_pages,
    read_stage,
    remove_dir,
    stage_done,
    write_stage,
)
from dedupe_trees_spark.operators import resolve as R
from dedupe_trees_spark.operators.components import assign_components
from dedupe_trees_spark.operators.lsh import (
    candidate_pairs,
    explode_bands,
    jaccard_expr,
)
from dedupe_trees_spark.plans.lineage import record_stage

STAGES = ["signatures", "pairs", "components", "canonical"]

# bucket-provenance bit flags (candidate_pairs bit_or's them per pair)
SRC_MINHASH, SRC_SIMHASH, SRC_SUBSTR, SRC_EXACT = 1, 2, 4, 8


def src_from_band_expr(cfg: PipelineConfig):
    """band_id → provenance flag, inverting build_bucket_table's fixed
    namespace layout (minhash [0, bands), simhash [bands, bands+10),
    substr bands+10, exact bands+11). Passing this to candidate_pairs
    lets the bucket table shed its src column before the pairs
    window exchange — the job's largest shuffle — and recompute it from
    the grouping key afterwards (guide §2.3); the emitted pairs are
    value-identical (pytest-pinned)."""
    b = F.col("band_id")
    return (
        F.when(b == cfg.bands + 11, F.lit(SRC_EXACT))
        .when(b == cfg.bands + 10, F.lit(SRC_SUBSTR))
        .when(b >= cfg.bands, F.lit(SRC_SIMHASH))
        .otherwise(F.lit(SRC_MINHASH))
    )


def _nid64(col: str):
    """The 64-bit node-id hash. Module-level so tests can monkeypatch it
    to a deliberately colliding hash (e.g. pmod(xxhash64, 4)) and prove
    the 128-bit path survives 64-bit collisions end-to-end."""
    return F.xxhash64(col)


def node_id_expr(nid_bits: int):
    """url → node id. 64 = one xxhash64 long; 128 = struct of two
    independently seeded xxhash64s (struct ordering is total in Spark, so
    bands/pairs/CC min-label/resolve work on it unchanged)."""
    if nid_bits == 64:
        return _nid64("url")
    if nid_bits != 128:
        raise ValueError(f"nid_bits must be 64 or 128, got {nid_bits}")
    return F.struct(
        _nid64("url").alias("hi"),
        F.xxhash64(F.lit("nid-seed-2"), F.col("url")).alias("lo"),
    )


def build_signatures(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pages → the S1 signature relation (shared by the full pipeline and
    the incremental-index path, which runs it over a delta batch only)."""
    cols = ["url", "warc_ts", "text", "lang", "source", "source_order"]
    have = set(pages.columns)
    sel = [c for c in cols if c in have]
    df = pages.select(*sel)
    if cfg.normalize_urls:
        # canonical url BEFORE node-id derivation: messy crawl variants
        # of one page then share a nid, and the S1 re-crawl audit
        # collapses them (latest crawl wins) — pure map, no extra stage
        from dedupe_trees_spark.functions.text import normalize_url

        df = df.withColumn("url", normalize_url("url"))
    if "source_order" not in have and "source" in have:
        df = df.withColumn(
            "source_order",
            F.regexp_extract("source", r"(\d+)$", 1).cast("int"),
        )
    df = df.withColumn("nid", node_id_expr(cfg.nid_bits))
    # NULL text (PAGES_SCHEMA allows it; real crawls produce it) folds
    # to the empty document here — one JVM-side coalesce — so every
    # downstream signature kernel sees a string. Empty docs get the
    # constant empty-content hash and empty signature arrays: they
    # dedup against each other exactly, generate no near-dup buckets.
    df = df.withColumn(
        "norm", F.coalesce(normalize_text("text"), F.lit(""))
    ).drop("text")
    df = df.withColumn("content_hash", content_hash("norm")).withColumn(
        "n_chars", F.length("norm")
    )
    # ONE Python round trip computes shingle sets + MinHash + SimHash
    # (from the JVM-hashed token array — see token_hashes docstring for
    # why shingles are mixed in NumPy, not built as strings) + winnowed
    # substring fingerprints (from the text bytes)
    sig = signature_struct_udf(
        shingle_k=cfg.shingle_k,
        num_perm=cfg.num_perm,
        seed=cfg.minhash_seed,
        with_simhash=cfg.enable_simhash,
        substr_k=cfg.substring_k if cfg.enable_substring else None,
        substr_w=cfg.substring_w if cfg.enable_substring else None,
    )
    df = df.withColumn("_sig", sig(token_hashes("norm"), F.col("norm")))
    df = df.withColumn("minhash", F.col("_sig.minhash")).withColumn(
        "simhash", F.col("_sig.simhash")
    )
    if cfg.enable_substring:
        df = df.withColumn("substr_fp", F.col("_sig.substr_fp"))
    df = df.drop("_sig")
    if not cfg.enable_simhash:
        df = df.drop("simhash")
    # `norm` stays instead of a shingle-set column (3× smaller) so
    # verify can re-derive sets for candidate docs only
    return df


def build_bucket_table(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """FUSED candidate generation input: ALL FOUR generators' buckets
    go through ONE candidate_pairs pass — one bucket-count window, one
    per-bucket aggregation, one dedup — instead of separate passes
    (round-2 shape: ~3× the full-table exchanges plus a separate
    exact-hash groupBy over the corpus; its kernel decomposition
    blamed exactly that fixed per-exchange latency,
    BENCH/BASELINE.md K2). band_id namespaces keep the generators'
    buckets disjoint: minhash [0, bands), simhash tables
    [bands, bands+10), substr fingerprints at bands+10, exact
    content-hash at bands+11. Per-pair provenance is a bit-OR int
    (SRC_* flags), so the dedup stays a fixed-width partial agg.
    Exact buckets always use star topology (star_srcs): members
    are byte-identical, so no verification prunes their edges and
    m−1 edges carry the component — same shape exact_edges() used
    as a standalone stage.

    Physical shape: a 4-branch union — each generator is its own
    narrow codegen pipeline over the S1 scan into the shared exchange,
    pruned to only the columns it explodes. It beat a single-posexplode
    build 41.4 s to 68.4 s at 4 M docs (BENCH/BASELINE.md, round 5)."""
    bucket_frames = [
        sigs.select(
            "nid",
            F.lit(cfg.bands + 11).alias("band_id"),
            F.col("content_hash").alias("band_hash"),
            F.lit(SRC_EXACT).alias("src"),
        )
    ]
    if cfg.enable_minhash:
        bands = explode_bands(
            sigs, sig_col="minhash", id_col="nid",
            bands=cfg.bands, rows=cfg.rows_per_band,
        )
        bucket_frames.append(
            bands.select(
                "nid", "band_id", "band_hash",
                F.lit(SRC_MINHASH).alias("src"),
            )
        )
    if cfg.enable_simhash:
        from dedupe_trees_spark.functions.simhash import MAX_HAMMING
        from dedupe_trees_spark.operators.simhash_join import explode_block_keys

        keys = explode_block_keys(
            sigs.select("nid", "simhash"),
            sim_col="simhash", id_col="nid",
            max_hamming=MAX_HAMMING,
        )
        bucket_frames.append(
            keys.select(
                "nid",
                (F.col("band_id") + F.lit(cfg.bands)).alias("band_id"),
                "band_hash",
                F.lit(SRC_SIMHASH).alias("src"),
            )
        )
    if cfg.enable_substring:
        bucket_frames.append(
            sigs.select(
                "nid",
                F.lit(cfg.bands + 10).alias("band_id"),
                # substr_fp is distinct by construction (winnow_text_fps
                # ends in np.unique; pytest-pinned) — no array_distinct,
                # which would rebuild a per-row hash set over ~w elems
                F.explode("substr_fp").alias("band_hash"),
                F.lit(SRC_SUBSTR).alias("src"),
            )
        )

    fused = bucket_frames[0]
    for bfr in bucket_frames[1:]:
        fused = fused.unionByName(bfr)
    return fused


def score_candidates(
    cands: DataFrame,
    sigs: DataFrame,
    cfg: PipelineConfig,
    spill=None,
) -> DataFrame:
    """Classify + verify candidate pairs → (url_a, url_b, kind, score).

    Edge assembly is ONE flow: every candidate pair is classified
    by a single CASE over its provenance bits + exact-Jaccard /
    Hamming scores, strongest evidence first (exact > minhash >
    simhash > substr — the same priority the former per-generator
    union resolved with a min_by groupBy; with one row in and at
    most one row out per pair, that final full-pair exchange is
    gone). Approximation can only lose pairs, never admit false
    ones: minhash/simhash-proposed pairs still require exact
    J ≥ threshold (simhash-only additionally Hamming ≤ max).

    ``spill(df, name) -> DataFrame`` materializes the candidate
    shingle-set relation (read by both join sides); None skips the
    materialization (fine for small standalone calls).
    """
    is_ex = F.col("srcs").bitwiseAND(F.lit(SRC_EXACT)) != 0
    is_mh = F.col("srcs").bitwiseAND(F.lit(SRC_MINHASH)) != 0
    is_sh = F.col("srcs").bitwiseAND(F.lit(SRC_SIMHASH)) != 0
    is_ss = F.col("srcs").bitwiseAND(F.lit(SRC_SUBSTR)) != 0

    need_verify = cfg.enable_minhash or cfg.enable_simhash
    if need_verify:
        sim_cols = ["simhash"] if cfg.enable_simhash else []
        # The verify join only needs sets for candidate-INVOLVED
        # docs — a small fraction of the corpus (dup-adjacent docs
        # plus LSH false positives). Semi-joining signatures down
        # to candidate nids first keeps the verify shuffle's fat
        # shingle column proportional to candidate volume, not
        # corpus size: at the 10^12-doc design point a corpus-wide
        # shingle shuffle (~KB/doc) is the stage's largest exchange
        # by an order of magnitude, and the nid list is small
        # enough that AQE broadcasts the semi join (candidate ids
        # are known-size parquet scratch by this point).
        ver = cands.filter(is_mh | is_sh)
        cand_nids = (
            ver.select(F.col("url_a").alias("nid"))
            .unionByName(ver.select(F.col("url_b").alias("nid")))
            .dropDuplicates(["nid"])
        )
        # S1 stores `norm`, not shingle sets: re-derive them for
        # candidate docs only
        sets = sigs.join(cand_nids, "nid", "left_semi").select(
            "nid",
            shingle_set_udf(cfg.shingle_k)(token_hashes("norm")).alias(
                "shingles"
            ),
            *sim_cols,
        )
        # two join consumers (a/b side) — materialize once
        if spill is not None:
            sets = spill(sets, "sets")
        a_side = sets.select(
            F.col("nid").alias("url_a"),
            F.col("shingles").alias("_set_a"),
            *[F.col(c).alias("_sim_a") for c in sim_cols],
        )
        b_side = sets.select(
            F.col("nid").alias("url_b"),
            F.col("shingles").alias("_set_b"),
            *[F.col(c).alias("_sim_b") for c in sim_cols],
        )
        # LEFT joins: exact-/substr-only pairs have no sets row and
        # classify on their provenance bits alone (null J comparisons
        # are false, and the exact arm fires before them anyway)
        scored = cands.join(a_side, "url_a", "left").join(
            b_side, "url_b", "left"
        )
        jac = jaccard_expr(F.col("_set_a"), F.col("_set_b"))
        j_ok = jac >= cfg.jaccard_threshold
        kind = F.when(is_ex, F.lit("exact")).when(
            is_mh & j_ok, F.lit("minhash")
        )
        if cfg.enable_simhash:
            from dedupe_trees_spark.functions.simhash import MAX_HAMMING, hamming_dist

            ham_ok = hamming_dist(F.col("_sim_a"), F.col("_sim_b")) <= MAX_HAMMING
            kind = kind.when(is_sh & j_ok & ham_ok, F.lit("simhash"))
        if cfg.enable_substring:
            kind = kind.when(is_ss, F.lit("substr"))
        scored = scored.withColumn("kind", kind).withColumn(
            "score",
            F.when(F.col("kind").isin("minhash", "simhash"), jac).otherwise(
                F.lit(1.0)
            ),
        )
    else:
        kind = F.when(is_ex, F.lit("exact"))
        if cfg.enable_substring:
            kind = kind.when(is_ss, F.lit("substr"))
        scored = cands.withColumn("kind", kind).withColumn(
            "score", F.lit(1.0)
        )
    return scored.filter(F.col("kind").isNotNull()).select(
        "url_a", "url_b", "kind", "score"
    )


def build_pairs(sigs: DataFrame, cfg: PipelineConfig, spill=None) -> DataFrame:
    """S3: signatures → verified edges (url_a, url_b, kind, score) over
    nids — the fused candidate pass over ``build_bucket_table``, then
    ``score_candidates``.

    ``spill(df, name) -> DataFrame`` materializes the two multiply-read
    intermediates: ``"cands"`` (it feeds the edge assembly AND the
    candidate-nid list for the sets semi-filter, so neither re-runs
    candidate generation) and ``"sets"`` (see ``score_candidates``).
    None skips both."""
    # url_a/url_b column names are the pair-plumbing convention; from
    # here on they carry compact nids, not url strings
    cands = candidate_pairs(
        build_bucket_table(sigs, cfg), id_col="nid", cap=cfg.bucket_cap,
        star_srcs=SRC_EXACT, src_from_band=src_from_band_expr(cfg),
    )
    if spill is not None:
        cands = spill(cands, "cands")
    return score_candidates(cands, sigs, cfg, spill=spill)


def resolve_canonical(
    sigs: DataFrame, comps: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """S5: (nid, component_id) cluster map + S1 metadata → the canonical
    table (component_id, url, metadata, rank, is_canonical) under
    ``cfg.resolvers``."""
    meta_cols = [
        c
        for c in ["url", "warc_ts", "lang", "source", "source_order", "n_chars"]
        if c in sigs.columns
    ]
    resolved = R.resolve(
        sigs.select("nid", *meta_cols).join(comps, "nid"),
        list(cfg.resolvers),
    )
    return resolved.select(
        "component_id", "url", *[c for c in meta_cols if c != "url"],
        "rank", "is_canonical",
    )


def collapse_recrawls(sigs: DataFrame) -> DataFrame:
    """Re-crawl collapse: one row per nid. Latest crawl wins; content
    hash breaks exact-timestamp ties; the remaining scalar metadata
    (source ordering, source, lang) totalizes the order so rows tying on
    (warc_ts, content_hash) — same crawl instant, same bytes, different
    ingest lineage — still pick ONE fully determined survivor (every
    signature column is a pure function of (url, norm), so rows equal on
    this key are equal on all remaining columns and the final
    dropDuplicates collapses true value-duplicates only). Inputs without
    a timestamp column (minimal jsonl/csv) fall back to the later keys
    alone — still deterministic."""
    keep_key = F.struct(
        *[F.col(c) for c in ("warc_ts",) if c in sigs.columns],
        F.col("content_hash"),
        *[
            F.col(c)
            for c in ("source_order", "source", "lang")
            if c in sigs.columns
        ],
    )
    return (
        sigs.withColumn("_k", keep_key)
        .withColumn("_kmax", F.max("_k").over(Window.partitionBy("nid")))
        .filter(F.col("_k") == F.col("_kmax"))
        .drop("_k", "_kmax")
        .dropDuplicates(["nid"])  # byte-identical leftovers
    )


class DedupePipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        # JavaRDD handles of localCheckpointed intra-stage intermediates
        # awaiting release (see _spill / io.local_ckpt); drained by
        # run() after each stage commit
        self._pins: list = []

    # ---------------------------------------------------------------- stages

    def _build_signatures(self) -> DataFrame:
        from dedupe_trees_spark.sources.pages import read_pages_any

        pages = read_pages_any(self.spark, self.cfg.input_path)
        if self.cfg.paragraph_dedup:
            # CCNet composition: strip corpus-wide repeated paragraphs
            # before signatures so near-dup clusters form on prose, not
            # boilerplate. Inline in the S1 job — the signatures
            # checkpoint makes it resumable, same as the band derive.
            from dedupe_trees_spark.operators.paragraphs import preclean_paragraphs

            pages = preclean_paragraphs(pages, sep=self.cfg.paragraph_sep)
        return build_signatures(pages, self.cfg)

    def _sig_doc_count(self) -> int:
        """Doc count from the committed S1 lineage manifests (parquet
        footer metadata — no scan); 0 when unavailable."""
        try:
            from dedupe_trees_spark.plans.lineage import _file_rows

            return sum(
                n for _, n in _file_rows(f"{self.cfg.ckpt_dir}/signatures")
            )
        except Exception:
            return 0

    def _spill(self, df: DataFrame, path: str, small: bool) -> DataFrame:
        """Materialize an intra-stage intermediate consumed by 2+
        downstream operators. Small corpora localCheckpoint (the parquet
        write+read is pure fixed latency there — the pairs stage pays it
        twice); large ones spill to parquet scratch, which survives
        executor loss and keeps nothing pinned in executor memory
        (see ``PipelineConfig.scratch_local_max_docs``). Local frames
        are pinned in ``self._pins`` (as JavaRDD handles — see
        ``io.local_ckpt`` for why DataFrame.unpersist can't do it) and
        released by ``run()`` once the owning stage commits — cache
        hygiene is a tested invariant (no persisted RDDs may outlive
        the pipeline), and the blocks must NOT be dropped earlier: a
        localCheckpoint truncates lineage, so unpersisting before the
        consumer materializes would make the data unrecomputable."""
        if small:
            from dedupe_trees_spark.io import local_ckpt

            df, handles = local_ckpt(df)
            self._pins.extend(handles)
            return df
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _scratch_dir(self) -> str:
        return self.cfg.scratch_dir or f"{self.cfg.ckpt_dir}/_scratch"

    def _build_pairs(self) -> DataFrame:
        cfg = self.cfg
        sigs = read_stage(self.spark, cfg.ckpt_dir, "signatures")
        n_docs = self._sig_doc_count()
        scratch_local = 0 < n_docs <= cfg.scratch_local_max_docs
        scratch = self._scratch_dir()
        self.pairs_phases: dict[str, float] = {}

        def spill_timed(df: DataFrame, name: str) -> DataFrame:
            t = time.time()
            out = self._spill(df, f"{scratch}/{name}", scratch_local)
            self.pairs_phases[f"{name}_sec"] = round(time.time() - t, 1)
            return out

        return build_pairs(sigs, cfg, spill=spill_timed)

    def _build_components(self) -> DataFrame:
        cfg = self.cfg
        sigs = read_stage(self.spark, cfg.ckpt_dir, "signatures")
        pairs = read_stage(self.spark, cfg.ckpt_dir, "pairs")
        return assign_components(
            sigs.select("nid"), pairs, id_col="nid",
            ckpt_dir=f"{cfg.ckpt_dir}/_cc_work",
            pins=self._pins,
        )

    def _build_canonical(self) -> DataFrame:
        cfg = self.cfg
        sigs = read_stage(self.spark, cfg.ckpt_dir, "signatures")
        comps = read_stage(self.spark, cfg.ckpt_dir, "components")
        return resolve_canonical(sigs, comps, cfg)

    def _shaping_enabled(self) -> bool:
        c = self.cfg
        return (
            bool(c.decontam_eval_path)
            or c.domain_cap > 0
            or c.sample_frac < 1.0
            or bool(c.blocklist_path)
            or c.quality_filter
            or c.scrub_pii
            or c.temperature_alpha < 1.0
            or c.shard_tokens > 0
        )

    def _build_training_set(self) -> DataFrame:
        """S6: the exported training corpus — deduped kept pages run
        through the domain blocklist, the Gopher quality filter,
        decontamination, the per-domain cap, the deterministic sample,
        temperature (counts^alpha) language rebalancing, PII scrubbing,
        and training-shard assignment, in that order (each optional).

        Ordering rationale: blocklist first (cheapest cut, broadcast
        anti-join), quality rules next (zero-shuffle map), both BEFORE
        decontamination so the probe join sees fewer rows; fuzzy
        (MinHash-LSH) decontamination right after the exact rule so
        both probes read the same filtered rows; the PII
        rewrite runs LAST so the regex pass touches only surviving rows
        and decontamination n-grams match the original crawl text
        rather than masked text.

        Scale shape: the kept set is scanned, never shuffled — the
        decontaminate probe and join-back are broadcast, domain_cap
        shuffles only S·cap threshold-candidate rows per domain plus
        the broadcast threshold filter, and the sample is a pure
        filter. Urls are unique here (the S1 audit collapsed re-crawl
        duplicates), which is what makes the cap's key exact.
        """
        from dedupe_trees_spark.operators.decontaminate import decontaminate
        from dedupe_trees_spark.operators.domains import (
            deterministic_sample,
            domain_cap,
            extract_domain,
        )

        cfg = self.cfg
        out = self.deduped_pages()
        if cfg.blocklist_path:
            from dedupe_trees_spark.operators.domains import block_urls

            bl = self.spark.read.text(cfg.blocklist_path).select(
                F.trim("value").alias("domain")
            ).filter(F.col("domain") != "")
            out = block_urls(out, blocked_domains=bl, url_col="url")
        if cfg.quality_filter:
            from dedupe_trees_spark.operators.textstats import gopher_rules

            cols = out.columns
            out = gopher_rules(
                out, text_col="text", min_words=cfg.quality_min_words
            ).filter(F.col("gopher_keep")).select(*cols)
        if cfg.decontam_eval_path:
            ev = self.spark.read.parquet(cfg.decontam_eval_path)
            out = decontaminate(
                out, ev, n=cfg.decontam_n, text_col="text", id_col="url",
                join_on=cfg.decontam_join_on,
            )
        if cfg.fuzzy_decontam_tau > 0.0:
            if not cfg.decontam_eval_path:
                raise ValueError("--fuzzy-decontam needs --decontam-eval")
            from dedupe_trees_spark.operators.decontaminate import (
                fuzzy_decontaminate,
            )

            ev = self.spark.read.parquet(cfg.decontam_eval_path)
            out = fuzzy_decontaminate(
                out, ev, tau=cfg.fuzzy_decontam_tau, text_col="text",
                id_col="url",
            )
        if cfg.domain_cap > 0:
            out = (
                domain_cap(
                    out.withColumn("domain", extract_domain("url")),
                    cfg.domain_cap,
                    order_col="url",
                    id_col="url",
                )
                .drop("domain")
            )
        if cfg.sample_frac < 1.0:
            out = deterministic_sample(out, cfg.sample_frac, key_col="url")
        if cfg.temperature_alpha < 1.0:
            from dedupe_trees_spark.operators.domains import temperature_resample

            if "lang" not in out.columns:
                raise ValueError(
                    "--temperature needs a lang column on the input pages"
                )
            out = temperature_resample(
                out, strata_col="lang", alpha=cfg.temperature_alpha,
                key_col="url",
            )
        if cfg.scrub_pii:
            from dedupe_trees_spark.operators.pii import scrub_pii

            out = out.withColumn("text", scrub_pii("text"))
        if cfg.shard_tokens > 0:
            # dead last: shard budgets reflect the final (scrubbed)
            # text. pack_shards works on the slim (url, tokens)
            # projection; the assignment joins back on the unique url
            # key (sort-merge — the one corpus-sized join of S6, paid
            # only when shard layout is requested).
            from dedupe_trees_spark.operators.shards import pack_shards

            assign = pack_shards(out, cfg.shard_tokens, id_col="url")
            out = out.join(assign, "url")
        return out

    def _audit_ids(self) -> None:
        """Enforce the document-identity invariant: ONE signatures row
        per nid.

        Two ways an input breaks it, handled differently:

        1. nid collision — two DIFFERENT urls share a node id (64-bit
           birthday bound at ~10^9+ docs). Not repairable here → abort
           with advice to rerun at nid_bits=128.
        2. re-crawl duplicates — the SAME url ingested more than once
           (Common-Crawl-style tables spanning crawls do this
           routinely; the 1M bench input contains one such row, which
           is how this path got its regression test). Every downstream
           stage assumes nid identifies one document: duplicate rows
           used to surface as self-pairs, join fan-out in the verify
           stage, and — worst — the same url in both the canonical
           set and the removal manifest, which a delete sink would
           then drop entirely. Repair: ``collapse_recrawls`` keeps the
           row with the max (warc_ts, content_hash) per nid (latest crawl wins;
           content-hash breaks exact-timestamp ties deterministically;
           byte-identical leftovers collapse by value) and swap the
           rewritten checkpoint in.

        Cost: the detection aggregation is ONE exchange of
        (nid, url-distinct count) with map-side partial aggregation —
        the same exchange the plain injectivity audit already paid.
        The repair path (join + rewrite of the signatures checkpoint)
        runs only when duplicates actually exist."""
        sigs = read_stage(self.spark, self.cfg.ckpt_dir, "signatures")
        # ">1 distinct urls" ⟺ min(url) != max(url): min/max partial-agg
        # in one exchange, where countDistinct pays an Expand plus a
        # second aggregation pass over the corpus (r06 job profile: the
        # audit was the second-largest S1-stage job)
        agg = sigs.groupBy("nid").agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("url") != F.max("url")).cast("int").alias("multi_url"),
        )
        flags = agg.select(
            F.max("multi_url").alias("collide"),
            F.max((F.col("n") > 1).cast("int")).alias("dup"),
        ).collect()[0]
        if flags["collide"]:
            raise RuntimeError(
                "nid collision detected (two urls share one node id); rerun "
                "with nid_bits=128 (struct of two seeded xxhash64s) for this "
                "corpus size"
            )
        if not flags["dup"]:
            return
        dup_nids = agg.filter(F.col("n") > 1).select("nid")
        winners = collapse_recrawls(sigs.join(dup_nids, "nid", "left_semi"))
        clean = sigs.join(dup_nids, "nid", "left_anti").unionByName(winners)
        tmp = f"{self.cfg.ckpt_dir}/_sig_collapsed"
        write_stage(clean, self.cfg.ckpt_dir, "_sig_collapsed")
        from dedupe_trees_spark.io import replace_dir, stage_path

        replace_dir(
            self.spark, tmp, stage_path(self.cfg.ckpt_dir, "signatures")
        )

    # ------------------------------------------------------------------- run

    def run(self) -> dict:
        """Execute all stages, skipping checkpointed ones when resuming.

        Returns the per-stage metrics dicts (empty for skipped stages).
        """
        builders = {
            "signatures": self._build_signatures,
            "pairs": self._build_pairs,
            "components": self._build_components,
            "canonical": self._build_canonical,
            "training_set": self._build_training_set,
        }
        enabled = list(STAGES)
        if self._shaping_enabled():
            enabled.append("training_set")
        report = {}
        base_parts = self.spark.conf.get("spark.sql.shuffle.partitions")
        from dedupe_trees_spark.io import mark, marked

        for stage in enabled:
            if self.cfg.resume and stage_done(self.cfg.ckpt_dir, stage):
                # the audit (and its re-crawl collapse) commits its own
                # marker: a crash between the signatures write and the
                # audit must not let resume skip the repair
                if (
                    stage == "signatures"
                    and self.cfg.audit_ids
                    and not marked(self.cfg.ckpt_dir, stage, "_AUDITED")
                ):
                    self._audit_ids()
                    mark(self.cfg.ckpt_dir, stage, "_AUDITED")
                report[stage] = {"stage": stage, "skipped": True}
                continue
            if stage == "pairs":
                self._tune_shuffle_for_pairs(base_parts)
            t0 = time.time()
            try:
                df = builders[stage]()
                write_stage(df, self.cfg.ckpt_dir, stage)
            finally:
                # restore even when the pairs builder/write raises, so a
                # tuned (possibly 4096) partition count never leaks into
                # later stages or other jobs on this session
                if stage == "pairs":
                    self.spark.conf.set(
                        "spark.sql.shuffle.partitions", base_parts
                    )
            if stage == "signatures" and self.cfg.audit_ids:
                self._audit_ids()
                mark(self.cfg.ckpt_dir, stage, "_AUDITED")
            # the stage's parquet commit has materialized everything —
            # release any localCheckpoint blocks its builder pinned
            for pinned in self._pins:
                pinned.unpersist()
            self._pins.clear()
            wall_ms = (time.time() - t0) * 1000
            report[stage] = record_stage(self.spark, self.cfg.ckpt_dir, stage, wall_ms)
            report[stage]["record_ms"] = round((time.time() - t0) * 1000 - wall_ms, 1)
            # scratch intermediates are only needed by the stage that
            # just committed — drop them so checkpoint dirs don't
            # accumulate multi-GB band/CC tables
            if stage == "pairs":
                # per-phase walls (cands/sets materialization inside the
                # builder; the remainder is the verify join + final
                # write) — the stage dominates full-job scaling, so
                # every run reports its decomposition
                phases = dict(getattr(self, "pairs_phases", {}))
                if phases:
                    phases["verify_write_sec"] = round(
                        wall_ms / 1000 - sum(phases.values()), 1
                    )
                    report[stage]["phases"] = phases
                remove_dir(self.spark, self._scratch_dir())
            elif stage == "components":
                remove_dir(self.spark, f"{self.cfg.ckpt_dir}/_cc_work")
        return report

    def _tune_shuffle_for_pairs(self, base_parts: str) -> None:
        """Scale shuffle parallelism to the pairs stage's data volume.

        The bucket table is the job's largest shuffled relation (~bands +
        10 simhash tables + ~50–100 winnow fingerprints per doc). A
        global 2×cores partition count leaves multi-GB partitions at
        large corpus sizes; here partitions grow with the estimated
        bucket-row count (~2M rows ≈ 60–100 MB per partition target —
        measured at 4M docs/local[32]: 64 parts 152.9 s, 128 parts
        133.9 s, 512 parts 124.8 s; smaller window sorts and less GC
        beat the extra task overhead), never below the configured base,
        capped at 4096. AQE's coalescePartitions then shrinks small
        exchanges back at runtime, so over-provisioning costs only
        map-side bucket files.
        """
        cfg = self.cfg
        n_docs = self._sig_doc_count()
        if not n_docs:
            return
        rows_per_doc = (
            1  # exact content-hash bucket
            + (cfg.bands if cfg.enable_minhash else 0)
            + (10 if cfg.enable_simhash else 0)
            + (self._measured_substr_density() if cfg.enable_substring else 0)
        )
        est_rows = int(n_docs * max(rows_per_doc, 1))
        try:
            base = int(base_parts)
        except (TypeError, ValueError):
            base = self.spark.sparkContext.defaultParallelism
        parts = min(max(base, est_rows // 2_000_000), 4096)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parts))

    def _measured_substr_density(self) -> float:
        """Winnow fingerprints/doc for the bucket-row estimate, measured
        from the committed S1 output instead of assumed: actual density
        is ~2·len/(w+1) — length-dependent — so a flat constant
        undercounts long-document corpora and under-partitions the
        job's biggest exchange. Read from the parquet footers, with no
        Spark job: the ``substr_fp`` leaf column's value count over the
        row count. A value count has one entry per empty list too, and
        array_distinct at explode time only shrinks it, so the estimate
        errs safely high."""
        import pyarrow.parquet as pq

        from dedupe_trees_spark.plans.lineage import _file_rows

        values = rows = 0
        try:
            for f, n in _file_rows(f"{self.cfg.ckpt_dir}/signatures"):
                meta = pq.read_metadata(f)
                rows += n
                for g in range(meta.num_row_groups):
                    group = meta.row_group(g)
                    values += sum(
                        group.column(c).num_values
                        for c in range(group.num_columns)
                        if group.column(c).path_in_schema.startswith("substr_fp.")
                    )
        except Exception:
            return 80.0  # unreadable — prior round's flat prior
        return values / rows if values else 80.0  # column absent: the same prior

    # ------------------------------------------------------------- accessors

    def canonical(self) -> DataFrame:
        return read_stage(self.spark, self.cfg.ckpt_dir, "canonical")

    def removals(self) -> DataFrame:
        return self.canonical().filter(~F.col("is_canonical"))

    def deduped_pages(self) -> DataFrame:
        """Delete-sink analogue (R11): input pages minus removals."""
        pages = read_pages(self.spark, self.cfg.input_path)
        return R.apply_delete_sink(pages, self.removals())

    def training_set(self) -> DataFrame:
        return read_stage(self.spark, self.cfg.ckpt_dir, "training_set")
