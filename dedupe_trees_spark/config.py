"""Pipeline configuration (the engine's "CLI parse" — reference R14).

One frozen dataclass carries every knob; ``from_args`` maps the
spark-submit argv surface onto it.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field, fields


@dataclass(frozen=True)
class PipelineConfig:
    input_path: str
    ckpt_dir: str
    # signature config (must match the oracle's when measuring recall)
    shingle_k: int = 3
    num_perm: int = 128
    bands: int = 32
    rows_per_band: int = 4
    minhash_seed: int = 42
    jaccard_threshold: float = 0.8
    # candidate stages on/off
    enable_minhash: bool = True
    enable_simhash: bool = True
    enable_substring: bool = True
    # winnowing guarantee = detect shared runs ≥ k+w−1 = 96 chars; fewer
    # fingerprints (~2/(w+1) of grams) is the main pairs-stage cost lever
    substring_k: int = 48
    substring_w: int = 49
    # skew handling
    bucket_cap: int = 256
    # pairs-stage scratch intermediates (candidate pairs, candidate
    # shingle sets — each read by 2+ downstream consumers) spill to
    # parquet above this doc count, localCheckpoint at or below it:
    # the parquet round trips are pure fixed commit latency on small-to-
    # medium corpora, while at the 10^12-doc design point parquet is
    # mandatory (localCheckpoint is not fault-tolerant; a lost executor
    # would fail the stage instead of recomputing). 0 = always parquet.
    scratch_local_max_docs: int = 4_000_000
    # where parquet-backed pairs-stage scratch lives. Default (None) =
    # <ckpt_dir>/_scratch. Scratch is RECOMPUTABLE (candidate pairs +
    # candidate shingle sets re-derive from the committed S1 checkpoint),
    # so unlike stage checkpoints it has no durability requirement — on a
    # real cluster point it at fast ephemeral storage (local SSD / NVMe
    # scratch volumes) while ckpt_dir stays on the reliable store
    # (S3/HDFS); a lost scratch file just re-runs the pairs stage from S1.
    # In this sandbox it lets 16M-doc runs keep durable checkpoints on
    # the (single) disk while scratch round-trips hit tmpfs.
    scratch_dir: str | None = None
    # resolution (reference resolver chain, R4–R8 analogues)
    resolvers: tuple = ("source_order", "path_depth", "copy_pattern", "mod_date", "arbitrary")
    # execution
    resume: bool = True
    # verify the url -> xxhash64 node-id mapping is injective after S1
    # (one countDistinct pass; disable only if the corpus was pre-audited)
    audit_ids: bool = True
    # canonicalize urls at ingest (functions.text.normalize_url): messy
    # crawl variants of one page — scheme/host case, default ports,
    # trailing slashes, tracking params, fragments — then share a node
    # id, and the S1 re-crawl audit collapses them under the existing
    # latest-crawl-wins rule. Off by default: it changes document
    # identity, so it must be a deliberate corpus-level choice.
    normalize_urls: bool = False
    # CCNet-style pre-clean: corpus-wide paragraph-level exact dedup
    # applied to text BEFORE signatures, so the document near-dup pass
    # clusters on prose instead of shared boilerplate. Runs inline in
    # the S1 job (two extra exchanges over paragraph rows; resumable
    # through the signatures checkpoint like the inline band derive).
    # Off by default: it rewrites document text, which breaks the
    # byte-identical-text invariant vs the raw input by design.
    paragraph_dedup: bool = False
    # paragraph separator for the pre-clean split/rebuild
    paragraph_sep: str = "\n\n"
    # node-id width. 64 = nid is xxhash64(url) (8-byte shuffles — right up
    # to ~10^9 docs). 128 = nid is a struct of two independently seeded
    # xxhash64s: at the 10^12-doc design point the 64-bit birthday bound
    # makes collisions near-certain, while 128 bits keeps the expected
    # collision count ~0.003. Structs are totally ordered in Spark, so
    # every downstream min/least/groupBy/join works unchanged; shuffles
    # carry 16 id bytes instead of 8.
    nid_bits: int = 64
    # training-set export (stage "training_set", runs after canonical
    # when any of the three is set): the deduped kept pages are
    # optionally decontaminated against an eval parquet (n-gram
    # overlap, operators/decontaminate.py), capped per domain
    # (operators/domains.py::domain_cap), and down-sampled with the
    # deterministic md5-threshold filter — the dedupe → decontaminate →
    # domain-cap → sample order real training pipelines use.
    decontam_eval_path: str | None = None
    decontam_n: int = 13
    # "gram" joins on the n-gram string (oracle-exact); "hash" joins on
    # xxhash64 of the token-array slice — 1.5x measured at every core
    # count, 8 B/entry broadcast, one-sided over-flag collision risk
    # only (operators/decontaminate.py module notes) — the scale path.
    decontam_join_on: str = "gram"
    # fuzzy (MinHash-LSH) decontamination against the same eval parquet:
    # 0.0 = off; > 0 drops kept pages whose exact shingle-Jaccard vs any
    # eval doc clears the threshold — the near-dup complement of the
    # exact rule (paraphrased eval docs share no 13-gram). Runs right
    # after the exact rule so both probes see the same filtered rows.
    fuzzy_decontam_tau: float = 0.0
    domain_cap: int = 0  # 0 = no per-domain cap
    sample_frac: float = 1.0  # 1.0 = keep everything
    # crawl-hygiene battery, also part of the training-set export:
    # blocklist runs first (cheapest cut: broadcast anti-join on the
    # registered domain), the Gopher rule filter next (zero-shuffle
    # codegen map), PII scrubbing last so the regex rewrite touches
    # only rows that survive every filter (and decontamination n-grams
    # match the original crawl text, not masked text).
    blocklist_path: str | None = None  # text file, one domain per line
    quality_filter: bool = False  # keep only gopher_keep pages
    quality_min_words: int = 50  # gopher word-count lower bound
    scrub_pii: bool = False  # mask emails/IPs/SSNs/phones in text
    # export layout: counts^alpha language rebalancing (1.0 = natural
    # distribution, i.e. off; operators/domains.py::temperature_resample)
    # runs after the plain sample; shard assignment (global prefix-sum
    # over whitespace token counts in url order, operators/shards.py;
    # 0 = off) runs dead last so every shard reflects the final text.
    temperature_alpha: float = 1.0
    shard_tokens: int = 0


def from_args(argv: list[str] | None = None) -> PipelineConfig:
    p = argparse.ArgumentParser(prog="run_dedupe")
    p.add_argument("--input", required=True, dest="input_path")
    p.add_argument("--ckpt", required=True, dest="ckpt_dir")
    p.add_argument("--shingle-k", type=int, default=3)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows-per-band", type=int, default=4)
    p.add_argument("--threshold", type=float, default=0.8, dest="jaccard_threshold")
    p.add_argument("--no-minhash", action="store_false", dest="enable_minhash")
    p.add_argument("--no-simhash", action="store_false", dest="enable_simhash")
    p.add_argument("--no-substring", action="store_false", dest="enable_substring")
    p.add_argument("--bucket-cap", type=int, default=256)
    p.add_argument("--nid-bits", type=int, default=64, choices=[64, 128], dest="nid_bits")
    p.add_argument(
        "--resolve",
        default="source_order,path_depth,copy_pattern,mod_date,arbitrary",
        help="comma-separated resolver chain, applied in order",
    )
    p.add_argument("--no-resume", action="store_false", dest="resume")
    p.add_argument(
        "--paragraph-dedup", action="store_true", dest="paragraph_dedup",
        help="CCNet-style pre-clean: remove corpus-wide repeated "
        "paragraphs from text before the document-level dedup stages",
    )
    p.add_argument("--paragraph-sep", default="\n\n", dest="paragraph_sep")
    p.add_argument(
        "--decontam-eval", default=None, dest="decontam_eval_path",
        help="parquet of benchmark docs (needs a text column); kept "
        "pages sharing any n-gram with it are dropped from the "
        "training-set export",
    )
    p.add_argument("--decontam-n", type=int, default=13, dest="decontam_n")
    p.add_argument(
        "--fuzzy-decontam", type=float, default=0.0, dest="fuzzy_decontam_tau",
        metavar="TAU",
        help="also drop kept pages whose shingle-Jaccard vs any "
        "--decontam-eval doc is >= TAU (MinHash-LSH blocked, exact-"
        "Jaccard verified) — catches paraphrased benchmark leaks the "
        "exact n-gram rule misses (0 = off)",
    )
    p.add_argument(
        "--decontam-hash", action="store_const", const="hash",
        default="gram", dest="decontam_join_on",
        help="join decontamination on xxhash64 of the token-array slice "
        "instead of the gram string (1.5x, 8 B/entry broadcast; "
        "one-sided over-flag collision risk only — the scale path)",
    )
    p.add_argument(
        "--domain-cap", type=int, default=0, dest="domain_cap",
        help="keep at most this many pages per registered domain in the "
        "training-set export (0 = uncapped)",
    )
    p.add_argument(
        "--blocklist", default=None, dest="blocklist_path",
        help="text file of blocked registered domains (one per line); "
        "matching pages are dropped from the training-set export via a "
        "broadcast anti-join",
    )
    p.add_argument(
        "--quality-filter", action="store_true", dest="quality_filter",
        help="apply the Gopher rule battery to the training-set export "
        "and keep only pages passing every rule",
    )
    p.add_argument(
        "--quality-min-words", type=int, default=50,
        dest="quality_min_words",
        help="word-count lower bound for --quality-filter (Gopher: 50)",
    )
    p.add_argument(
        "--scrub-pii", action="store_true", dest="scrub_pii",
        help="mask emails/IPv4s/SSNs/phone numbers in the exported text "
        "(applied last, after all filters)",
    )
    p.add_argument(
        "--sample-frac", type=float, default=1.0, dest="sample_frac",
        help="deterministic md5-threshold sample fraction applied last "
        "in the training-set export",
    )
    p.add_argument(
        "--temperature", type=float, default=1.0, dest="temperature_alpha",
        help="counts^alpha language rebalancing of the training-set "
        "export (1.0 = natural distribution = off; 0.5 = the usual "
        "multilingual compromise; the smallest language is kept whole)",
    )
    p.add_argument(
        "--shard-tokens", type=int, default=0, dest="shard_tokens",
        help="assign exported pages to training shards of ~this many "
        "whitespace tokens (global prefix sum in url order; adds "
        "n_tokens/shard_id columns; 0 = off)",
    )
    p.add_argument(
        "--normalize-urls", action="store_true", dest="normalize_urls",
        help="canonicalize urls at ingest (strip fragments/tracking "
        "params/default ports/www., collapse trailing slashes) so messy "
        "crawl variants of one page dedup as re-crawls of one document",
    )
    p.add_argument(
        "--scratch-dir", default=None, dest="scratch_dir",
        help="directory for recomputable pairs-stage scratch (default "
        "<ckpt>/_scratch); point at fast ephemeral storage on clusters",
    )
    ns = p.parse_args(argv)
    kwargs = {
        f.name: getattr(ns, f.name)
        for f in fields(PipelineConfig)
        if hasattr(ns, f.name)
    }
    kwargs["resolvers"] = tuple(x.strip() for x in ns.resolve.split(",") if x.strip())
    return PipelineConfig(**kwargs)
