"""SimHash Hamming-bucket candidate generation (SURVEY.md §2.2 M4).

Equi-joins on block-pair probe tables (Manku et al. WWW'07 — see
functions/simhash.simhash_block_keys) find every pair within Hamming ≤ 3
of the 64-bit fingerprint: 5 blocks, 10 tables keyed on ~26-bit block
pairs, so ≤3 corrupted blocks always leave one table's key intact. The
exact popcount(xor) filter then removes pigeonhole false positives;
pipeline callers additionally verify exact Jaccard so precision is
never LSH-dependent.

Bucket skew is handled exactly like MinHash-LSH: buckets larger than
``cap`` are salted with star chaining (see operators/lsh.py) by reusing
the same candidate_pairs machinery on (table, key) buckets. Unlike the
previous 4×16-bit chunk split — whose buckets average n/65536 members
and therefore ALL saturate the cap at web scale — 26-bit keys keep
buckets cold (O(n/2^26)) so the star fallback stays the exception.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_trees_spark.functions.simhash import MAX_HAMMING, hamming_dist, simhash_block_keys
from dedupe_trees_spark.operators.lsh import candidate_pairs


def explode_block_keys(
    df: DataFrame, sim_col: str = "simhash", id_col: str = "url",
    max_hamming: int = MAX_HAMMING,
) -> DataFrame:
    """simhash → (url, band_id, band_hash) rows — band_id is the probe
    table, band_hash its block-pair key — reusing the LSH bucket schema
    so candidate_pairs (incl. hot-bucket salting) applies as-is."""
    return df.select(
        id_col,
        F.posexplode(simhash_block_keys(sim_col, d=max_hamming)).alias(
            "band_id", "band_hash"
        ),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "url",
    sim_col: str = "simhash",
    max_hamming: int = MAX_HAMMING,
    cap: int = 256,
) -> DataFrame:
    """(url, simhash) → pairs with Hamming(simhash) ≤ max_hamming."""
    keys = explode_block_keys(df, sim_col=sim_col, id_col=id_col, max_hamming=max_hamming)
    cands = candidate_pairs(keys, id_col=id_col, cap=cap)
    sims = df.select(F.col(id_col), F.col(sim_col))
    out = (
        cands.join(
            sims.select(F.col(id_col).alias("url_a"), F.col(sim_col).alias("_sim_a")),
            "url_a",
        )
        .join(
            sims.select(F.col(id_col).alias("url_b"), F.col(sim_col).alias("_sim_b")),
            "url_b",
        )
        .withColumn("hamming", hamming_dist(F.col("_sim_a"), F.col("_sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("url_a", "url_b", "hamming")
    )
    return out
