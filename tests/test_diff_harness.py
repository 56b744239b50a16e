"""Engine-vs-oracle frame diffs via exceptAll (SURVEY.md §5.2): unlike
the driver's hash compare, a failing exceptAll diff shows WHICH rows
disagree, so regressions localize instantly. Used on integer/string
queries (float aggregates go through the hash compare's canonicalizer
instead — exceptAll on doubles would be bit-brittle)."""

from __future__ import annotations

import duckdb
import pytest

import dedupe_trees_spark.queries as Q

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# integer/string-valued contract queries: safe for exact frame equality
DIFFABLE = [
    "exact_dup_groups",
    "canonical_pick",
    "rank_ties_survivors",
    "removal_manifest",
    "path_depth_copy_flags",
    "mod_date_resolution",
    "dup_set_histogram",
    "top_sources",
    "token_stats",
    "substring_dup_pairs",
    "substring_extent_pairs",
    "sessionize_events",
    "dedup_canonical_full",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def assert_frames_equal(spark, engine_df, oracle_pdf):
    """Exact multiset equality both ways; prints offending rows on fail."""
    oracle_df = spark.createDataFrame(oracle_pdf, schema=engine_df.schema)
    extra = engine_df.exceptAll(oracle_df)
    missing = oracle_df.exceptAll(engine_df)
    n_extra, n_missing = extra.count(), missing.count()
    assert n_extra == 0 and n_missing == 0, (
        f"engine-only rows ({n_extra}): {extra.limit(5).collect()}\n"
        f"oracle-only rows ({n_missing}): {missing.limit(5).collect()}"
    )


@pytest.mark.parametrize("name", DIFFABLE)
def test_engine_matches_oracle_exceptall(spark, duck, name):
    engine_df = Q.QUERIES[name](spark, SF_DIR)
    oracle_pdf = duck.sql(Q.ORACLES[name]).df()
    assert_frames_equal(spark, engine_df, oracle_pdf)


# ---------------------------------------------------------------------------
# Containment oracles for the rows-only queries: equality oracles don't
# exist (Hamming/SRP/winnowing aren't SQL-expressible), but CONTAINMENT
# is — so drift in these queries localizes here instead of passing as an
# unadjudicated row-count change.


def test_simhash_pairs_contained_in_bruteforce_jaccard(spark, duck):
    """Every simhash_dup_pairs row (Hamming ≤ 3 AND J ≥ 0.8) must be in
    the brute-force J ≥ 0.8 set with the identical Jaccard value."""
    eng = Q.QUERIES["simhash_dup_pairs"](spark, SF_DIR).collect()
    assert eng, "fixture produced no simhash pairs — containment is vacuous"
    oracle = {
        (r[0], r[1]): r[2]
        for r in duck.sql(
            "WITH " + Q._JACCARD_SQL_CTES + " SELECT doc_a, doc_b, jaccard FROM jpairs"
        ).fetchall()
    }
    for r in eng:
        key = (r["doc_a"], r["doc_b"])
        assert key in oracle, f"simhash pair {key} not in brute-force J>=0.8 set"
        assert abs(r["jaccard"] - oracle[key]) < 1e-9, key


def test_winnow_pairs_contained_in_exact_gram_pairs(spark, duck):
    """Every winnowed-fingerprint pair must share an exact 48-char
    substring (the winnow k): containment against a stride-1 48-gram
    DuckDB join. Docs shorter than 48 chars are excluded — the winnow
    path fingerprints them whole (so identical short docs still pair),
    while a 48-gram join can't see them at all."""
    eng = {
        (r["doc_a"], r["doc_b"])
        for r in Q.QUERIES["winnow_substring_pairs"](spark, SF_DIR).collect()
    }
    assert eng, "fixture produced no winnow pairs — containment is vacuous"
    oracle = {
        tuple(r)
        for r in duck.sql(
            """
            WITH grams AS (
              SELECT DISTINCT doc_id, substr(text, i, 48) AS g
              FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 47)) AS i
                    FROM documents WHERE length(text) >= 48)
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            """
        ).fetchall()
    }
    long_ids = {
        r[0] for r in duck.sql(
            "SELECT doc_id FROM documents WHERE length(text) >= 48"
        ).fetchall()
    }
    long_pairs = {p for p in eng if p[0] in long_ids and p[1] in long_ids}
    assert long_pairs <= oracle, f"winnow-only pairs: {sorted(long_pairs - oracle)[:5]}"


def test_lsh_topk_cosines_match_bruteforce(spark, duck):
    """embedding_lsh_topk is approximate in WHICH neighbors it returns,
    but every returned cos_sim must equal the exact cosine for that
    (query_id, vec_id) — the re-rank is exact by construction."""
    eng = Q.QUERIES["embedding_lsh_topk"](spark, SF_DIR).collect()
    assert eng, "fixture produced no lsh_topk rows"
    oracle = {
        (r[0], r[1]): r[2]
        for r in duck.sql(
            """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 8)
            SELECT q.query_id, e.vec_id,
                   round(CASE WHEN list_sum(list_transform(q.qemb, x -> x * x)) > 0
                               AND list_sum(list_transform(e.emb, x -> x * x)) > 0
                              THEN list_dot_product(q.qemb, e.emb)
                                   / (sqrt(list_sum(list_transform(q.qemb, x -> x * x)))
                                      * sqrt(list_sum(list_transform(e.emb, x -> x * x))))
                              ELSE 0.0 END, 6) AS cos_sim
            FROM q, e WHERE e.vec_id != q.query_id
            """
        ).fetchall()
    }
    for r in eng:
        key = (r["query_id"], r["vec_id"])
        assert key in oracle, key
        assert abs(r["cos_sim"] - oracle[key]) <= 2e-6, (key, r["cos_sim"], oracle[key])


def test_degenerate_texts_agree_with_oracle(spark):
    """Empty / whitespace-only docs: engine shingle sets and the DuckDB
    Jaccard CTEs must agree. Both sides give such docs exactly ONE
    degenerate shingle (Spark's split('', ' ') == DuckDB's
    string_split('', ' ') == ['']), so two empty docs are a J=1 pair and
    empty-vs-nonempty never pairs — adjudicates a round-2 advisory that
    suspected a zero-vs-one shingle divergence here."""
    import itertools

    import duckdb

    from dedupe_trees_spark.functions.minhash import shingle_set_udf
    from dedupe_trees_spark.functions.text import token_hashes

    docs = [
        (1, "a b c d e a b c d e"), (2, "a b c d e a b c d e"),
        (3, ""), (4, ""), (5, " "), (6, "  "), (7, "x y"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    rows = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", shingle_set_udf(3)(token_hashes("text")).alias("s")
        ).collect()
    }
    assert all(len(s) >= 1 for s in rows.values())   # one shingle, not zero
    engine_pairs = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(rows), 2)
        if len(rows[a] & rows[b]) / len(rows[a] | rows[b]) >= 0.8
    )
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in docs)
        + ") t(doc_id, text)"
    )
    oracle_pairs = [
        tuple(r)
        for r in con.sql(
            "WITH " + Q._JACCARD_SQL_CTES + " SELECT doc_a, doc_b FROM jpairs ORDER BY 1, 2"
        ).fetchall()
    ]
    assert engine_pairs == oracle_pairs == [(1, 2), (3, 4)]


def test_queries_without_an_oracle_come_last():
    """The contract check compares only the first 50 registry entries
    with their oracles, so every oracle'd query precedes the four that
    have no equality oracle."""
    names = list(Q.QUERIES)
    oracled = [n for n in names if n in Q.ORACLES]
    assert len(oracled) >= 50
    assert names[: len(oracled)] == oracled
    assert names[len(oracled):] == [
        "simhash_dup_pairs",
        "winnow_substring_pairs",
        "embedding_lsh_topk",
        "embedding_ivf_topk",
    ]
