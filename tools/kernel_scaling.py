"""Controlled kernel-scaling measurement (no disk IO).

The full-job scaling numbers on this sandbox carry ±2× run-to-run noise
(single shared VM disk + page cache + JVM warmup), so this script
measures the engine's two dominant COMPUTE kernels on in-memory data —
the part that a bigger cluster actually multiplies:

  K1: signature kernel — token hashing (JVM) + combined signature UDF
      (shingle mix + 128-perm MinHash + SimHash + winnow in NumPy)
  K2: candidate+verify kernel — band explode, single-exchange salted
      bucket aggregation, exact-Jaccard verification (JVM joins +
      array_intersect); no disk spill anywhere in this kernel

Usage: python tools/kernel_scaling.py [n_docs]  → one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_at(master: str, cores: int, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from dedupe_trees_spark.datagen import GenConfig, generate_pages
    from dedupe_trees_spark.functions.minhash import shingle_set_udf, signature_struct_udf
    from dedupe_trees_spark.functions.text import normalize_text, token_hashes
    from dedupe_trees_spark.operators.lsh import explode_bands, minhash_lsh_pairs
    from dedupe_trees_spark.session import get_spark

    spark = get_spark(f"kernel{cores}", master=master, shuffle_partitions=2 * cores)
    pages = generate_pages(spark, GenConfig(n_docs=n_docs, seed=42), partitions=4 * cores)
    # int64 node ids, matching the shipped pipeline (S1 nid = xxhash64(url))
    pages = pages.select(
        F.xxhash64("url").alias("nid"), normalize_text("text").alias("norm")
    ).persist()
    pages.count()  # materialize input in memory

    sig = signature_struct_udf(3, 128, 42, True, 48, 49)
    sig_df = pages.select(
        "nid", "norm", sig(token_hashes("norm"), F.col("norm")).alias("s")
    ).select("nid", "norm", F.col("s.minhash").alias("minhash"))

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(sig_df)  # warmup: codegen + python workers
    t0 = time.time()
    noop(sig_df)
    k1 = time.time() - t0

    # verify sets, re-derived from the text as the pipeline does
    sigs = sig_df.withColumn(
        "shingles", shingle_set_udf(3)(token_hashes("norm"))
    ).persist()
    sigs.count()
    pairs = minhash_lsh_pairs(sigs, id_col="nid", bands=32, rows=4, cap=256, threshold=0.8)
    noop(pairs)  # warmup
    t0 = time.time()
    noop(pairs)
    k2 = time.time() - t0

    out = {"cores": cores, "k1_sig_sec": round(k1, 2), "k2_pairs_sec": round(k2, 2)}
    spark.stop()
    return out


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    r8 = run_at("local[8]", 8, n_docs)
    r32 = run_at("local[32]", 32, n_docs)
    eff = {
        "k1_eff": round(r8["k1_sig_sec"] / (4 * r32["k1_sig_sec"]), 3),
        "k2_eff": round(r8["k2_pairs_sec"] / (4 * r32["k2_pairs_sec"]), 3),
    }
    print(json.dumps({"n_docs": n_docs, "local8": r8, "local32": r32, **eff}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
