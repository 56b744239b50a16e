"""MinHash-LSH candidate generation with explicit skew handling.

Pipeline shape (SURVEY.md §2.2 "LSH candidate self-join"):

    signatures ──explode──▶ bands(url, band_id, band_hash)
    bands ──bucket-count──▶ cold buckets (≤ cap)   → all-pairs self-join
                           hot buckets  (> cap)    → salted sub-buckets:
                               all-pairs within a salt group
                               + one verified edge per salt group to the
                                 bucket representative (keeps the bucket
                                 connected without m·(m−1)/2 expansion)
    pairs ──dropDuplicates──▶ verify exact Jaccard on shingle-hash sets

Why this scales: a band bucket with m members yields m(m−1)/2 pairs —
one hot template cluster of 10^6 pages would otherwise emit 5·10^11
pairs from a single bucket. Capping at ``cap`` and salting bounds the
per-bucket pair count to ~m·cap/2 while connected components still sees
the whole bucket as one component (salt groups are chained through the
bucket rep). AQE's skew-join handles residual partition imbalance.

Verification is exact (JVM-side ``array_intersect`` on the distinct
shingle-hash sets), so candidate false positives never reach the
cluster graph — LSH affects recall only, never precision. This is what
makes the DuckDB brute-force-Jaccard oracle an exact twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedupe_trees_spark.functions.minhash import band_hash_array


def explode_bands(
    df: DataFrame,
    sig_col: str = "minhash",
    id_col: str = "url",
    bands: int = 32,
    rows: int = 4,
) -> DataFrame:
    """signatures → (url, band_id, band_hash), one row per band."""
    return df.select(
        id_col,
        F.posexplode(band_hash_array(sig_col, bands, rows)).alias(
            "band_id", "band_hash"
        ),
    )


def _pair_struct(x, y):
    """Undirected pair as an ordered struct (works for long AND 128-bit
    struct node ids — struct ordering is total in Spark)."""
    return F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))


def candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "url",
    cap: int = 256,
    star_srcs: int = 0,
    src_from_band=None,
) -> DataFrame:
    """Bucket-join candidates with hot-bucket salting; distinct (a,b) pairs.

    Returns columns (url_a, url_b) with url_a < url_b. Pairs surviving
    here are *candidates* — callers must verify before trusting them.

    If ``bands_df`` carries an integer ``src`` column (bucket-provenance
    bit flag — the pipeline uses 1=minhash, 2=simhash, 4=substr with
    namespaced ``band_id`` ranges so buckets from different generators
    never merge), buckets from SEVERAL candidate generators share this
    ONE pass and the output gains ``srcs: int`` — the bit-OR of every
    proposing generator's flag. bit_or is a fixed-width, partially
    aggregatable agg; an earlier collect_set(string) variant forced the
    job's largest shuffle to carry array buffers.

    Plan shape — the pairs stage dominates full-job scaling, so the
    whole candidate pass is ONE linear plan with exactly ONE exchange
    over the (huge) bucket table:

    1. ONE window exchange on (band_id, band_hash) computes per-bucket
       size and min-id. Singleton buckets — the vast majority, since
       most band hashes are unique — are dropped immediately after
       (they can emit no pair), so everything downstream sees only
       dup-involved bucket rows.
    2. The per-bucket aggregation groupBy's (band_id, band_hash, salt)
       DIRECTLY on the window output: the group keys are a superset of
       the window's partition keys, so Catalyst inserts NO second
       exchange (hash(band_id, band_hash) already clusters every salt
       group). salt is 0 for cold buckets (≤ cap: the group is the
       whole bucket) and pmod(xxhash64(id), ceil(n/cap)) for hot ones,
       bounding every collect_list buffer at ~cap ids.
    3. Pair emission is a single higher-order expression over each
       group's id list — no filter-branching into separate cold/hot
       consumers (the round-2 shape paid a parquet spill + re-read of
       the full bucket table so three consumers could share the window
       pass; with one consumer the spill and its two extra full-table
       passes disappear):
         cold:  all i<j pairs (ids are distinct within a bucket — each
                doc contributes one row per band key);
         hot:   a salted spanning STAR (member → salt-group min →
                bucket min). A template cluster of m pages would emit
                m(m−1)/2 pairs — 5·10^11 from one 10^6-member bucket;
                the star keeps connected components seeing one
                component at ~m edges. Star edges are still
                exact-verified downstream, so a bucket mixing
                dissimilar docs loses only edges that other, colder
                buckets re-derive.
    4. One final groupBy dedups pairs across all buckets and (when
       fused) all generators — an exchange over candidate pairs only,
       orders of magnitude smaller than the bucket table.

    ``star_srcs``: bitmask of generators whose buckets ALWAYS use the
    star topology, even when cold. Right for generators whose edges are
    never pruned downstream (the pipeline passes its exact
    content-hash buckets: members are byte-identical, so no
    verification ever drops a star edge and m−1 edges carry the same
    component as m(m−1)/2 would). Generators whose candidates face
    verification need cold all-pairs — a star would lose members that
    fail the check against the rep but pass against another member.

    ``src_from_band``: a Column expression over ``band_id`` that
    reconstructs ``src``. When the provenance flag is a pure function
    of the band-id namespace (the pipeline's fused table is built that
    way), passing the mapping here DROPS the src column before the
    window exchange — the job's largest shuffle carries one fewer
    column per bucket row (guide §2.3 "project before the exchange") —
    and recomputes it from the grouping key afterwards.
    Value-identical output (pytest-pinned).
    """
    if src_from_band is not None:
        bands_df = bands_df.drop("src")
    has_src = "src" in bands_df.columns or src_from_band is not None
    src_cols = ["src"] if has_src else []
    w_bucket = Window.partitionBy("band_id", "band_hash")
    tagged = (
        bands_df.withColumn("bucket_n", F.count(F.lit(1)).over(w_bucket))
        .withColumn("bucket_min", F.min(id_col).over(w_bucket))
        .filter(F.col("bucket_n") >= 2)
        .withColumn(
            "salt",
            F.when(
                F.col("bucket_n") > cap,
                F.pmod(
                    F.xxhash64(id_col),
                    F.ceil(F.col("bucket_n") / cap).cast("long"),
                ),
            ).otherwise(F.lit(0)),
        )
    )
    # array_distinct: defense in depth against duplicate ids in a bucket
    # (S1's audit enforces one row per nid, but standalone callers and
    # audit_ids=False runs get the same guarantee here for ~free)
    grouped = tagged.groupBy("band_id", "band_hash", "salt").agg(
        F.array_distinct(F.collect_list(id_col)).alias("_ids"),
        F.first("bucket_n").alias("_n"),
        F.first("bucket_min").alias("_min"),
        *([F.first("src").alias("src")] if has_src and src_from_band is None else []),
    )
    if src_from_band is not None:
        # band_id is a grouping key — the provenance flag reattaches
        # here as a pure projection, never having crossed the exchange
        grouped = grouped.withColumn("src", src_from_band)

    ids = F.col("_ids")
    # cold: all i<j position pairs of the (distinct) ids
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: _pair_struct(x, y),
            ),
        )
    )
    # hot: member → salt-group min, plus salt-group min → bucket min.
    # The chain term self-pairs when the group min IS the bucket min;
    # the explode-side a != b filter drops exactly those rows.
    rep = F.array_min(ids)
    star_pairs = F.concat(
        F.transform(
            F.filter(ids, lambda x: x != rep),
            lambda x: _pair_struct(x, rep),
        ),
        F.array(_pair_struct(rep, F.col("_min"))),
    )
    is_cold = F.col("_n") <= F.lit(cap)
    if has_src and star_srcs:
        is_cold = is_cold & (F.col("src").bitwiseAND(F.lit(star_srcs)) == 0)
    out = (
        grouped.select(
            *src_cols,
            F.explode(F.when(is_cold, all_pairs).otherwise(star_pairs)).alias("_p"),
        )
        .filter(F.col("_p.a") != F.col("_p.b"))
        .select(
            F.col("_p.a").alias("url_a"), F.col("_p.b").alias("url_b"), *src_cols
        )
    )
    if has_src:
        return out.groupBy("url_a", "url_b").agg(F.bit_or("src").alias("srcs"))
    return out.dropDuplicates(["url_a", "url_b"])


def jaccard_expr(a, b):
    """Exact Jaccard of two pre-distinct arrays, JVM-side."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    threshold: float,
    id_col: str = "url",
    shingle_col: str = "shingles",
    kind: str | None = "minhash",
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs → (url_a, url_b,
    kind, score) for pairs with J ≥ threshold.

    ``kind=None`` passes through an existing ``kind`` column so several
    candidate sources can share ONE verification join (the shingle-set
    shuffle is the pairs stage's dominant cost — do it once).
    """
    sets = signatures.select(
        F.col(id_col).alias("_vid"), F.col(shingle_col).alias("_vset")
    )
    kind_col = F.col("kind") if kind is None else F.lit(kind)
    out = (
        pairs.join(sets.withColumnRenamed("_vid", "url_a").withColumnRenamed("_vset", "_set_a"), "url_a")
        .join(sets.withColumnRenamed("_vid", "url_b").withColumnRenamed("_vset", "_set_b"), "url_b")
        .withColumn("score", jaccard_expr(F.col("_set_a"), F.col("_set_b")))
        .filter(F.col("score") >= threshold)
        .select("url_a", "url_b", kind_col.alias("kind"), "score")
    )
    return out

