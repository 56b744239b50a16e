"""Benchmark n-gram decontamination for training corpora.

Before training on web text, pipelines remove documents that overlap an
evaluation benchmark: a corpus document is *contaminated* if it shares
at least one n-word-gram (n=13 is the common production choice) with
any benchmark document. Reference parity: dedupe_trees has no
cross-corpus operator (SURVEY.md §2.1); this is part of the mandated
training-data superset (north rule: Common-Crawl-style pages feeding
an LLM data pipeline).

Semantics (oracle-exact, see queries.py twins):

* a *gram* is n consecutive whitespace tokens of the raw text joined
  by a single space; documents with fewer than n tokens contribute NO
  grams (they can be neither contaminated nor contaminating) — unlike
  ``word_shingles``'s short-doc fallback, matching the standard
  13-gram decontamination rule;
* ``contamination_report`` returns one row per corpus document with
  the number of distinct overlapping grams, the number of distinct
  benchmark documents hit, and the contaminated flag;
* ``decontaminate`` keeps exactly the corpus rows whose report says
  clean.

Scale notes (100 TB corpus vs a small benchmark side): the benchmark
gram table is broadcast — eval suites are a few 10^6..10^7 grams, and
``join_on="hash"`` shrinks the broadcast to 8 bytes/gram (xxhash64;
a collision can only *over*-flag, never leak a true overlap, and the
expected false-flag count at 10^7 eval grams x 10^11 corpus grams is
~10^18/2^64 ≈ 0.05 docs — acceptable for a removal filter). The
corpus side is a narrow scan: token split + gram build + explode are
all pipeline-local, the probe join is broadcast (no corpus shuffle),
and the only exchange is the groupBy over MATCHED rows — proportional
to contamination volume, not corpus size. The join-back of per-doc hit
counts onto the corpus is likewise broadcast (hit docs are few), so a
full ``decontaminate`` pass never shuffles the corpus at all.

The gram array is built over a *materialized* token-array column —
capturing the ``split()`` expression directly in the transform lambda
re-evaluates it per element after projection collapse (O(n^2), the
measured 34x trap documented on functions/text.py::token_hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ngram_rows(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "gram",
    hashed: bool = False,
) -> DataFrame:
    """Distinct (id, gram) rows: all stride-1 n-word-grams of ``text_col``.

    Documents with fewer than ``n`` whitespace tokens emit no rows.
    Per-document dedup happens via ``array_distinct`` BEFORE the explode
    — a ``dropDuplicates([id, gram])`` after it would shuffle the whole
    corpus gram table (~one row per token), the biggest exchange a
    decontamination pass could possibly have; ``array_distinct`` keeps
    it pipeline-local, so the output is distinct per doc with zero
    exchanges.

    ``hashed=True`` emits ``xxhash64`` of the token-array slice instead
    of the joined gram string — no per-gram string is ever built
    (xxhash64 consumes the array directly), which removes the dominant
    allocation of the whole pass (~n×text bytes of gram strings).
    Identity is preserved: tokens cannot contain the separator, so
    slice equality ⇔ joined-string equality; only hash collisions
    differ, and those can only over-flag (module notes).
    """
    toks = F.split(F.col(text_col), " ")
    df = df.select(id_col, toks.alias("_toks"))  # materialize before lambdas
    tcol = F.col("_toks")
    starts = F.when(
        F.size(tcol) >= n,
        F.sequence(F.lit(1), F.size(tcol) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    if hashed:
        build = lambda i: F.xxhash64(F.slice(tcol, i, n))  # noqa: E731
    else:
        build = lambda i: F.concat_ws(" ", F.slice(tcol, i, n))  # noqa: E731
    grams = F.array_distinct(F.transform(starts, build))
    return df.select(id_col, F.explode(grams).alias(out_col))


def _check_join_on(join_on: str) -> bool:
    if join_on not in ("gram", "hash"):
        raise ValueError(f"join_on must be 'gram' or 'hash', got {join_on!r}")
    return join_on == "hash"


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str | None = None,
    join_on: str = "gram",
) -> DataFrame:
    """Per corpus-document overlap report vs a benchmark table.

    Returns one row per corpus row: (id_col, n_hit_grams, n_eval_docs,
    contaminated). ``join_on="hash"`` probes on xxhash64(gram) instead
    of the gram string (8-byte broadcast entries; see module notes).
    """
    eid = eval_id_col or id_col
    hashed = _check_join_on(join_on)
    ev = ngram_rows(eval_df, n, text_col, eid, hashed=hashed).withColumnRenamed(
        eid, "_ev_id"
    )
    cg = ngram_rows(corpus, n, text_col, id_col, hashed=hashed)
    hits = (
        cg.join(F.broadcast(ev), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            F.countDistinct("_ev_id").alias("n_eval_docs"),
        )
    )
    return (
        corpus.select(id_col)
        .join(F.broadcast(hits), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
            F.coalesce("n_eval_docs", F.lit(0)).alias("n_eval_docs"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str | None = None,
    join_on: str = "gram",
) -> DataFrame:
    """Corpus rows with zero n-gram overlap against ``eval_df``.

    Anti-join on the (small, broadcast) contaminated-id set: the corpus
    is scanned once and never shuffled.
    """
    eid = eval_id_col or id_col
    hashed = _check_join_on(join_on)
    ev = (
        ngram_rows(eval_df, n, text_col, eid, hashed=hashed)
        .select("gram")
        .distinct()
    )
    dirty = (
        ngram_rows(corpus, n, text_col, id_col, hashed=hashed)
        .join(F.broadcast(ev), "gram")
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(dirty), id_col, "left_anti")


def top_ngrams(
    df: DataFrame,
    n: int = 5,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Boilerplate mining: the ``k`` n-word-grams present in the most
    documents, with their document frequencies.

    Rides :func:`ngram_rows` (per-doc-distinct grams, zero exchanges on
    the build), so one partial-aggregated count per gram is the ONLY
    exchange; the top-k itself runs as TakeOrderedAndProject (per-
    partition heaps + a driver merge of k rows, never a full sort).
    Ties order by gram string, so the cut is total and deterministic —
    an engine-portable contract (the DuckDB twin runs the same ORDER
    BY). The mined list feeds a boilerplate strip (e.g. as a
    `paragraphs.py` blocklist) or a crawl-health report; at 10^12 docs
    the gram table is the same volume the decontamination pass already
    handles.
    """
    rows = ngram_rows(df, n, text_col=text_col, id_col=id_col)
    counts = rows.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        counts.filter(F.col("doc_freq") >= min_df)
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(k)
    )

# --------------------------------------------------------------------------
# Fuzzy (MinHash-LSH) decontamination — the near-duplicate complement of
# the exact n-gram rule above. Production pipelines run BOTH: exact
# 13-gram overlap catches verbatim quotes, while a lightly paraphrased /
# truncated / re-templated benchmark document shares no 13-gram yet still
# leaks the answer — that variant is a NEAR-duplicate of an eval doc, the
# same relation the dedup pipeline's MinHash family detects. Semantics:
# a corpus document is fuzzy-contaminated iff its exact shingle-Jaccard
# against ANY eval document is >= tau.
#
# Scale shape (100 TB corpus vs a small benchmark side), mirroring the
# exact rule's zero-corpus-shuffle discipline:
#   * eval side: shingle sets -> minhash -> band hashes, all broadcast
#     (an eval suite is 10^4..10^6 docs; bands table ~= docs x bands
#     rows of 16 bytes);
#   * corpus side: ONE map pass computes signatures; the band probe is
#     a BROADCAST join (corpus never shuffles for candidates);
#   * the only exchanges are candidate-proportional: the (doc, ev_doc)
#     dropDuplicates and the per-doc hits groupBy — both scale with
#     contamination volume, not corpus size;
#   * verification is exact Jaccard over shingle sets: the deduped
#     candidate pairs broadcast onto ONE further corpus scan that
#     computes sets only, so the fat set column is consumed
#     pipeline-locally and never rides an exchange — the same
#     discipline as the pipeline's verify join, which re-derives sets
#     for candidate docs instead of storing them.
# Skew: a band key's fan-out is bounded by (corpus rows in key) x (eval
# rows in key); the eval side is small and pre-distinct per key, so the
# probe join cannot produce a quadratic bucket the way a corpus
# self-join can — no salting needed on this shape.
# --------------------------------------------------------------------------


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_k: int, out_id: str) -> DataFrame:
    from dedupe_trees_spark.functions.minhash import shingle_set_udf
    from dedupe_trees_spark.functions.text import token_hashes

    return df.select(
        F.col(id_col).alias(out_id),
        shingle_set_udf(shingle_k)(token_hashes(text_col)).alias("_set"),
    )


def fuzzy_overlap_pairs(
    corpus: DataFrame,
    eval_df: DataFrame,
    tau: float = 0.8,
    shingle_k: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    bands: int = 32,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Verified cross-corpus near-dup pairs: (id_col, _ev_id, jaccard)
    for every (corpus doc, eval doc) pair with exact shingle-Jaccard
    >= tau, LSH-blocked (recall = band curve at the configured
    bands x rows; precision exact by construction — every emitted pair
    carries its recomputed Jaccard)."""
    from dedupe_trees_spark.functions.minhash import minhash_udf
    from dedupe_trees_spark.operators.lsh import explode_bands, jaccard_expr

    eid = eval_id_col or id_col
    mh = minhash_udf(num_perm, seed)

    ev_sets = _shingle_sets(eval_df, eid, text_col, shingle_k, "_ev_id")
    ev_bands = explode_bands(
        ev_sets.withColumn("_mh", mh(F.col("_set"))),
        sig_col="_mh", id_col="_ev_id", bands=bands, rows=rows,
    )
    corp_sets = _shingle_sets(corpus, id_col, text_col, shingle_k, id_col)
    corp_bands = explode_bands(
        corp_sets.withColumn("_mh", mh(F.col("_set"))),
        sig_col="_mh", id_col=id_col, bands=bands, rows=rows,
    )

    cands = (
        corp_bands.join(F.broadcast(ev_bands), ["band_id", "band_hash"])
        .select(id_col, "_ev_id")
        .dropDuplicates([id_col, "_ev_id"])
    )
    # Verify: ONE more corpus scan with the deduped candidate pairs
    # BROADCAST onto it, so the corpus never shuffles and the candidate
    # branch is computed exactly once (inside the broadcast build). The
    # shingle-set UDF sits ABOVE the join, so it runs only on candidate
    # rows (a join below a Python-UDF projection would compute sets for
    # every corpus doc — Catalyst does not reorder through Python).
    # Candidate volume is contamination-sized by regime — the same
    # bound the exact rule's broadcast join-back accepts.
    from dedupe_trees_spark.functions.minhash import shingle_set_udf
    from dedupe_trees_spark.functions.text import token_hashes

    return (
        corpus.select(id_col, text_col)
        .join(F.broadcast(cands), id_col)
        .withColumn("_set", shingle_set_udf(shingle_k)(token_hashes(text_col)))
        .join(
            F.broadcast(ev_sets.withColumnRenamed("_set", "_ev_set")), "_ev_id"
        )
        .withColumn("jaccard", jaccard_expr(F.col("_set"), F.col("_ev_set")))
        .filter(F.col("jaccard") >= tau)
        .select(id_col, "_ev_id", "jaccard")
    )


def fuzzy_contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    tau: float = 0.8,
    shingle_k: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    bands: int = 32,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str | None = None,
) -> DataFrame:
    """One row per corpus doc: (id_col, n_eval_docs, max_jaccard,
    contaminated) — the near-dup analogue of contamination_report."""
    pairs = fuzzy_overlap_pairs(
        corpus, eval_df, tau, shingle_k, num_perm, seed, bands, rows,
        text_col, id_col, eval_id_col,
    )
    hits = pairs.groupBy(id_col).agg(
        F.countDistinct("_ev_id").alias("n_eval_docs"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        corpus.select(id_col)
        .join(F.broadcast(hits), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_eval_docs", F.lit(0)).alias("n_eval_docs"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_eval_docs", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    tau: float = 0.8,
    shingle_k: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    bands: int = 32,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Corpus rows whose shingle-Jaccard vs EVERY eval doc is < tau —
    broadcast anti-join on the (small) fuzzy-contaminated id set; the
    corpus is scanned, never shuffled."""
    dirty = (
        fuzzy_overlap_pairs(
            corpus, eval_df, tau, shingle_k, num_perm, seed, bands, rows,
            text_col, id_col, eval_id_col,
        )
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(dirty), id_col, "left_anti")
