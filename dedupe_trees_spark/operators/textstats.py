"""Text-analysis operators for training-data pipelines.

All JVM-side column expressions (codegen, no UDFs): language-ID by
stopword-marker counting, quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + word-regex), and content
fingerprinting. Each has an exact ANSI-SQL twin in queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# high-frequency marker words per language (space-padded occurrence count)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "fr": ["le", "la", "les", "et"],
    "es": ["el", "los", "que", "y"],
    "de": ["der", "die", "und", "das"],
    "zh": ["de", "shi", "le", "zai"],
}


def occurrence_count(col: Column | str, needle: str) -> Column:
    """Non-overlapping occurrences of ``needle`` in a string (JVM-side).

    (len(s) − len(replace(s, needle, ''))) / len(needle) — the same
    arithmetic runs in DuckDB, so results are oracle-exact.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def marker_score(col: Column | str, lang: str) -> Column:
    """Count of language marker words (as whole tokens) in the text."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    score = F.lit(0)
    for w in LANG_MARKERS[lang]:
        score = score + occurrence_count(padded, f" {w} ")
    return score


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of marker scores, 'und' if all zero.

    Ties break by language code order (deterministic, oracle-matched).
    """
    scores = {lang: marker_score(col, lang) for lang in sorted(LANG_MARKERS)}
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):  # later wins only on strict >
        s = scores[lang]
        is_better = s > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best


def token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, " "))


def word_token_count(col: Column | str) -> Column:
    """BPE-ish tokenization proxy: count of word/number/punct chunks."""
    c = F.col(col) if isinstance(col, str) else col
    # split on word boundaries: count alnum runs + non-space non-alnum chars
    alnum_runs = F.size(F.filter(F.split(c, r"[^0-9A-Za-z]+"), lambda s: s != ""))
    punct = F.length(F.regexp_replace(c, r"[0-9A-Za-z\s]", ""))
    return (alnum_runs + punct).cast("int")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: lengths, ratios, stopword share."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(c, r"[0-9A-Za-z\s]", ""))
    stop = marker_score(c, "en")
    return df.withColumns(
        {
            "n_chars": n_chars,
            "n_tokens": n_tokens,
            "avg_token_len": (n_chars - (n_tokens - 1)) / n_tokens,
            "digit_ratio": digits / F.greatest(n_chars, F.lit(1)),
            "punct_ratio": punct / F.greatest(n_chars, F.lit(1)),
            "stopword_ratio": stop / F.greatest(n_tokens, F.lit(1)),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0..1 quality score (heuristic, deterministic)."""
    feats = quality_features(df, text_col)
    len_ok = F.when(
        (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 10000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    digit_ok = F.lit(1.0) - F.least(F.col("digit_ratio") * 4, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0))
    return feats.withColumn(
        "quality", (len_ok + digit_ok + punct_ok) / F.lit(3.0)
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", chunk: int = 8
) -> DataFrame:
    """Gopher-style intra-document repetition signals (per doc):

    * ``dup_line_frac`` — fraction of lines that are repeats of another
      line in the same document (1 − distinct/total);
    * ``dup_line_char_frac`` — fraction of characters living in lines
      whose text occurs ≥ 2× within the document;
    * ``top_bigram_frac`` — fraction of word-bigram slots taken by the
      single most frequent bigram (0.0 for docs under two tokens).

    A *line* is a run of ``chunk`` whitespace tokens (the fixture
    corpus is single-line; for real web text swap in a split on
    ``\\n``). Everything is per-document array arithmetic inside
    whole-stage codegen — no explode, no shuffle, no UDF: the operator
    is a pure map over the corpus, which is exactly what a quality
    filter must be at 10^12 docs.

    Two performance rules, both measured on realistic ~140-token pages:

    * the duplicate-count signals run over SORTED copies of the
      line/bigram arrays and count equal-adjacent runs with one O(m)
      ``aggregate`` each — the obvious nested
      ``transform(filter(...))`` formulation is O(m²) per doc WITH an
      array allocation per element, and measured 705 docs/s on 8
      cores (a 16M-doc corpus would take hours) vs >20k docs/s for
      the sorted-run version;
    * the token/line/bigram arrays are MATERIALIZED as intermediate
      columns before any lambda captures them — capturing the raw
      array EXPRESSION lets Catalyst inline its construction per
      element (the blowup documented on functions.text.token_hashes;
      measured 34× on the fixture).
    """
    toks_c, n_c, lines_c, bg_c = "_rf_toks", "_rf_n", "_rf_lines", "_rf_bgs"
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_lines_col = F.ceil(n / F.lit(chunk)).cast("int")
    staged = df.withColumns(
        {
            toks_c: toks,
            n_c: n,
            lines_c: F.transform(
                F.sequence(F.lit(0), n_lines_col - 1),
                lambda i: F.array_join(F.slice(toks, i * chunk + 1, chunk), " "),
            ),
        }
    ).withColumn(
        bg_c,
        F.when(
            F.col(n_c) >= 2,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.col(n_c) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col(toks_c), i),
                        F.element_at(F.col(toks_c), i + 1),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    lines, nn = F.col(lines_c), F.col(n_c)
    total_chars = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    # chars living in duplicated lines: scan the sorted copy once; when a
    # run reaches 2 the run's FIRST element is charged retroactively
    # (null-init prev never equals a real line, so the first element
    # starts a fresh run)
    dup_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("chars"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            (
                acc["chars"]
                + F.when(
                    x == acc["prev"],
                    F.when(acc["run"] == 1, F.length(x) * 2).otherwise(F.length(x)),
                ).otherwise(F.lit(0))
            ).alias("chars"),
        ),
        lambda acc: acc["chars"],
    )
    # longest equal-adjacent run in the pre-sorted bigram array
    top_bigram_cnt = F.aggregate(
        F.col(bg_c),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bigram = F.when(nn < 2, F.lit(0.0)).otherwise(
        top_bigram_cnt.cast("double") / (nn - 1)
    )
    return staged.withColumns(
        {
            "n_lines": F.size(lines),
            "dup_line_frac": F.round(
                F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines).cast("double"), 8
            ),
            "dup_line_char_frac": F.round(
                dup_chars / F.greatest(total_chars, F.lit(1)).cast("double"), 8
            ),
            "top_bigram_frac": F.round(top_bigram, 8),
        }
    ).drop(toks_c, n_c, lines_c, bg_c)


# Gopher-rule battery (Rae et al. 2021, "Scaling Language Models:
# Gopher", appendix A1.1) — the standard web-text quality filter set.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style quality rule flags, all inside whole-stage codegen.

    Adds per-document metrics and one boolean flag per rule, plus the
    conjunction ``gopher_keep``:

    * ``flag_word_count`` — whitespace word count within bounds;
    * ``flag_mean_word_len`` — mean non-empty-word length in [3, 10];
    * ``flag_symbol_ratio`` — ('#' + '...') occurrences / words ≤ 0.1;
    * ``flag_alpha`` — fraction of words containing ≥1 ASCII letter;
    * ``flag_stop`` — ≥2 distinct Gopher stopwords present as tokens;
    * ``flag_bullet`` / ``flag_ellipsis`` — fraction of lines starting
      with a bullet ("- " / "* ") resp. ending in "..." within bounds.

    Every signal is exact replace/split arithmetic with a DuckDB twin
    (queries.py::SQL_GOPHER_QUALITY_FLAGS), so the contract check is
    value-hash equality, not approximate. The operator is a pure map —
    zero exchanges, zero UDFs — which is what a quality filter must be
    at 10^12 documents: it composes with the dedup pipeline as a
    pre-clean projection that never touches the shuffle budget.

    The word/line arrays are materialized as real columns BEFORE any
    lambda captures them (the CollapseProject inlining trap measured at
    34x on token_hashes; see repetition_features).
    """
    c = F.col(text_col)
    out = df.withColumn(
        "_words", F.filter(F.split(c, r"\s+"), lambda x: x != "")
    ).withColumn("_lines", F.split(c, "\n"))
    n_words = F.size("_words")
    n_lines = F.size("_lines")
    words_dn = F.greatest(n_words, F.lit(1))
    lines_dn = F.greatest(n_lines, F.lit(1))
    word_chars = F.aggregate(
        "_words", F.lit(0), lambda acc, x: acc + F.length(x)
    )
    alpha_words = F.size(F.filter("_words", lambda x: x.rlike("[A-Za-z]")))
    symbols = occurrence_count(c, "#") + occurrence_count(c, "...")
    padded = F.concat(
        F.lit(" "), F.translate(F.lower(c), "\n", " "), F.lit(" ")
    )
    stop_hits = F.lit(0)
    for w in GOPHER_STOPWORDS:
        stop_hits = stop_hits + F.when(
            padded.contains(f" {w} "), F.lit(1)
        ).otherwise(F.lit(0))
    bullet_lines = F.size(
        F.filter(
            "_lines", lambda x: x.startswith("- ") | x.startswith("* ")
        )
    )
    ellipsis_lines = F.size(F.filter("_lines", lambda x: x.endswith("...")))
    out = out.withColumns(
        {
            "n_words": n_words,
            "n_lines": n_lines,
            "mean_word_len": word_chars / words_dn,
            "symbol_ratio": symbols / words_dn,
            "alpha_frac": alpha_words / words_dn,
            "stop_hits": stop_hits,
            "bullet_frac": bullet_lines / lines_dn,
            "ellipsis_frac": ellipsis_lines / lines_dn,
        }
    )
    flags = {
        "flag_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "flag_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "flag_symbol_ratio": F.col("symbol_ratio") <= max_symbol_ratio,
        "flag_alpha": F.col("alpha_frac") >= min_alpha_frac,
        "flag_stop": F.col("stop_hits") >= min_stop_hits,
        "flag_bullet": F.col("bullet_frac") <= max_bullet_frac,
        "flag_ellipsis": F.col("ellipsis_frac") <= max_ellipsis_frac,
    }
    out = out.withColumns(flags)
    keep = F.lit(True)
    for name in flags:
        keep = keep & F.col(name)
    return out.withColumn("gopher_keep", keep).drop("_words", "_lines")


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Frequency-based quality proxy: mean unigram log-probability per
    document under the corpus's OWN maximum-likelihood unigram LM — the
    cheap stand-in for the KenLM-perplexity filters production web-text
    pipelines run (CCNet-style): gibberish / OCR noise / boilerplate
    keyboard-mash scores far below fluent text because its tokens are
    corpus-rare. Complements the rule-based ``gopher_rules`` battery
    (which a repetitive spam page can pass) with a distributional
    signal.

    Tokens with corpus count < ``min_count`` collapse into one UNK type
    whose probability is the POOLED rare mass (unk_mass/total), so the
    broadcast vocabulary is bounded by Zipf at total_tokens/min_count
    entries regardless of corpus size — at 10^12 documents the count
    floor is what keeps the model broadcastable (~10^7 entries at
    min_count≈10^4), and rare-token docs still score low because the
    pooled mass is small. Plan shape: one partial-agg exchange to count
    tokens (vocab-sized output), a single-row aggregate for
    (total, unk_mass), then the corpus side is a pure scan — the token
    stream left-joins the BROADCAST vocab, so no corpus-sized shuffle
    exists anywhere except the final per-doc groupBy on the uniform
    ``id_col`` key. A shuffle join on the token key would funnel every
    occurrence of "the" into one partition; the broadcast is not an
    optimization here, it is the skew design.

    Returns (id_col, n_tokens, logprob) with logprob = round(mean ln
    p(token), 6) — same arithmetic as the DuckDB oracle twin
    (queries.py::SQL_UNIGRAM_LOGPROB_SCORES), value-hash checked.
    """
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("total"),
        F.sum(
            F.when(F.col("c") < min_count, F.col("c")).otherwise(F.lit(0))
        ).alias("unk_mass"),
    )
    vocab = counts.filter(F.col("c") >= min_count)
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_lp",
            F.log(
                F.coalesce(F.col("c"), F.col("unk_mass")).cast("double")
                / F.col("total")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_lp"), 6).alias("logprob"),
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    hot_df: int = 1000,
    reuse_tf: bool = True,
    topk: str = "agg",
    tf_mode: str = "runs",
) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the feature-extraction op a
    training pipeline runs for topic tagging / mixture balancing.
    score(doc, t) = tf(doc, t) · ln(n_docs / df(t)), top k per doc under
    the total order (score desc, term asc), so output is deterministic.

    Skew-split join (the IDF relation keyed on the token is the classic
    skewed join: "the" has one docfreq row but n_docs tf rows): tokens
    with document frequency ≥ ``hot_df`` are joined via BROADCAST — that
    hot set is Zipf-bounded at total_tf_rows/hot_df entries so it always
    fits — while the cold remainder shuffle-joins safely because a key
    with df < hot_df puts < hot_df rows in any partition. Both legs are
    the same logical join; the union is exact, not approximate. The
    final top-k window partitions on the uniform doc key.

    Oracle twin: queries.py::SQL_TFIDF_KEYWORDS (single logical join —
    the split is physical only), value-hash equality at round(·, 6).

    The tf relation is consumed THREE times (docfreq + both join legs);
    without ``reuse_tf`` Spark recomputes the corpus explode +
    (doc, term) aggregation for each consumer (the fixture-scale
    physical plan shows 8 parquet scans / 6 Generates; measured A/B in
    BENCH/BASELINE.md § Text-feature operators). MEMORY_AND_DISK persist of
    the per-doc term counts (the smallest relation worth keeping)
    spills gracefully; on a cluster with tight executor storage swap it
    for a scratch-table write — the plan shape is otherwise identical.

    ``tf_mode`` picks how that tf relation is built:

    * ``"runs"`` (default) — per-doc sorted-run counting entirely inside
      whole-stage codegen (``array_sort`` the token array, run-start
      indexes, one ``transform``), then a flat ``explode`` — the
      (doc, term, tf) relation is born WITHOUT any exchange, the same
      sorted-run rule ``repetition_features`` ships for the same reason.
      This deletes the full-corpus ``groupBy(id, term)`` shuffle (the
      single biggest exchange in the job: ~80 M rows at 1 M docs) from
      the plan; only the vocab-sized docfreq partial-agg, the cold-leg
      join, and the per-doc top-k exchange remain.
    * ``"group"`` — the classic ``explode → groupBy(id, term).count()``
      formulation (kept as the A/B twin; bit-identical output).
    """
    if tf_mode == "runs":
        ts_c, st_c = "_tk_ts", "_tk_starts"
        ts, st = F.col(ts_c), F.col(st_c)
        staged = df.withColumn(
            ts_c, F.array_sort(F.split(F.col(text_col), " "))
        ).withColumn(
            # 0-based indexes where a new equal-run starts in the sorted
            # token array (i == 0, or toks[i] != toks[i-1]); the arrays
            # are materialized as columns first — capturing the raw
            # expression lets Catalyst inline its construction per
            # element (the 34× blowup documented on repetition_features)
            st_c,
            F.filter(
                F.sequence(F.lit(0), F.size(ts) - 1),
                lambda i: (i == F.lit(0))
                | (F.get(ts, i) != F.get(ts, i - 1)),
            ),
        )
        runs = F.transform(
            st,
            lambda s, j: F.struct(
                F.get(ts, s).alias("term"),
                # run length = next run's start (or array end) - this start;
                # F.get is 0-based and NULL-safe past the end (ANSI mode)
                (F.coalesce(F.get(st, j + 1), F.size(ts)) - s)
                .cast("long")
                .alias("tf"),
            ),
        )
        tf_map = staged.select(id_col, F.explode(runs).alias("_r")).select(
            id_col, F.col("_r.term").alias("term"), F.col("_r.tf").alias("tf")
        )
        # Per-row runs under-merge when the SAME id appears on several
        # input rows (a re-crawl dup): group mode sums the rows' term
        # counts into one document. Repair exactly with the house
        # skew-split pattern — a skinny partial-agg pass finds the dup
        # ids (near-empty after the pipeline's re-crawl collapse;
        # bounded by crawl multiplicity, so broadcastable), the unique
        # ids keep the zero-exchange map path via a broadcast anti-join,
        # and only the dup rows pay the explode → groupBy merge. Union
        # is the same logical relation; the split is physical only.
        dup_ids = (
            df.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_m"))
            .filter(F.col("_m") > 1)
            .select(id_col)
        )
        tf_dup = (
            df.join(F.broadcast(dup_ids), id_col, "left_semi")
            .select(
                id_col,
                F.explode(F.split(F.col(text_col), " ")).alias("term"),
            )
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        tf = tf_map.join(F.broadcast(dup_ids), id_col, "left_anti").unionByName(
            tf_dup
        )
    else:
        toks = df.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("term")
        )
        tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if reuse_tf:
        from pyspark.storagelevel import StorageLevel

        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    hot = docfreq.filter(F.col("df_t") >= hot_df)
    cold = docfreq.filter(F.col("df_t") < hot_df)
    scored = (
        tf.join(F.broadcast(hot), "term").unionByName(tf.join(cold, "term"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6
            ),
        )
    )
    if topk == "window":
        from pyspark.sql.window import Window

        w = Window.partitionBy(id_col).orderBy(
            F.col("score").desc(), F.col("term").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", "term", "score")
        )
    # topk == "agg": per-doc array sort instead of a global window sort —
    # the exchange is the same size, but sorting ~terms-per-doc-sized
    # arrays inside a hash aggregate replaces the partition-wide
    # (doc, score, term) sort. Equality-oracle-identical by construction
    # (same total order; -0.0 guarded so the negated sort key can't
    # split the score-0 ties duckdb sees as equal).
    neg = F.when(F.col("score") == 0.0, F.lit(0.0)).otherwise(-F.col("score"))
    arr = scored.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(neg.alias("ns"), F.col("term").alias("term"), F.col("score").alias("score")))
        ).alias("_arr")
    )
    ex = arr.select(
        id_col, F.posexplode(F.slice("_arr", 1, k)).alias("_pos", "_s")
    )
    return ex.select(
        id_col,
        (F.col("_pos") + 1).alias("rank"),
        F.col("_s.term").alias("term"),
        F.col("_s.score").alias("score"),
    )


def hashing_features(
    df: DataFrame,
    dim: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing vectorizer (hashingTF): per-doc sparse term
    counts bucketed into a fixed ``dim``-dimensional space — the
    standard featurization for fastText-style quality/domain
    classifiers over web text. Output is the exploded sparse form
    (id, bucket, cnt); assemble maps/vectors downstream if a model
    API needs them.

    Bucket = first 8 md5 hex chars of the raw token, mod ``dim`` —
    chosen over xxhash64 for engine portability (DuckDB lacks
    xxhash64; md5 is byte-identical everywhere), so the contract
    oracle asserts exact equality on (id, bucket, cnt).

    Scale: tokenize/hash is pure codegen (zero Python); the ONLY
    exchange is the (id, bucket) groupBy, map-side-combined to at most
    min(tokens_per_doc, dim) rows per doc — the composite key is
    uniform (doc ids unique, buckets hashed) so no skew handling is
    needed, unlike term-keyed aggregations (cf. tfidf_keywords'
    skew-split join).
    """
    tok = F.explode(
        F.filter(F.split(F.col(text_col), " "), lambda s: s != "")
    ).alias("token")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
        % F.lit(dim)
    ).cast("int")
    return (
        df.select(id_col, tok)
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def linear_classifier_score(
    features: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    id_col: str = "doc_id",
    round_to: int | None = None,
) -> DataFrame:
    """Sparse linear-model inference over hashed features — the scoring
    half of the fastText/DCLM-style quality-classifier filter (pair
    with :func:`hashing_features` for the featurize half).

    ``features`` is the exploded sparse form (id, bucket, cnt);
    ``weights`` a (bucket, weight) model table. Returns
    (id, n_terms, score, prob) with

        score = bias + sum(cnt * weight) / sum(cnt)      (tf-normalized)
        prob  = sigmoid(score)

    Scale shape: the model is BROADCAST (a dim=2^18 table is ~3 MB —
    the exact pattern of shipping a fastText model to executors; a
    shuffle join on the bucket key would funnel every stopword bucket
    into one partition), joined LEFT so unmatched buckets score 0 while
    still counting in the tf norm. The ONLY exchange is the per-doc
    groupBy on the uniform id key, map-side combined. Zero Python
    anywhere. ``round_to`` rounds score/prob for cross-engine float-sum
    order tolerance (contract queries use 6, the house convention).
    """
    scored = features.join(F.broadcast(weights), "bucket", "left")
    score = F.lit(bias) + F.sum(
        F.col("cnt") * F.coalesce(F.col("weight"), F.lit(0.0))
    ) / F.sum("cnt")
    out = scored.groupBy(id_col).agg(
        F.sum("cnt").alias("n_terms"), score.alias("score")
    )
    out = out.withColumn("prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))))
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to)).withColumn(
            "prob", F.round("prob", round_to)
        )
    return out


def quality_classifier_filter(
    corpus: DataFrame,
    weights: DataFrame,
    threshold: float = 0.5,
    dim: int = 1 << 18,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_drop: bool = False,
) -> DataFrame:
    """Keep corpus rows whose classifier probability clears
    ``threshold`` — featurize (:func:`hashing_features`) → score
    (:func:`linear_classifier_score`) → doc-keyed join-back.

    The keep decision compares ``round(prob, 6)`` (the house
    float-sum-order tolerance): ``score`` is a float sum whose addend
    order differs across engines/partitionings, and with rational
    weights an exact boundary hit (prob == threshold) is attainable —
    unrounded comparison could flip a boundary doc between runs.

    Join-back shape: with ``broadcast_drop=True`` the DROPPED id set is
    broadcast and removed via ``left_anti`` — the corpus never
    shuffles; use this when the filter is a light trim (drop fraction
    small and bounded, the usual production posture for a quality gate
    stacked after harder filters). The default is a plain uniform-key
    equi-join: at threshold 0.5 on a raw crawl roughly half the corpus
    falls on each side, so neither id set is broadcastable and one
    corpus exchange on the unique doc-id key is the floor — this is
    the one hygiene filter where a corpus shuffle is inherent, unlike
    decontaminate/fuzzy_decontaminate whose dropped sets are
    eval-benchmark-sized. Docs with no tokens have no feature rows and
    are dropped (semi) / kept (anti joins only remove scored drops) —
    ``broadcast_drop`` therefore also KEEPS empty-text docs; callers
    stack an explicit empty-text filter first (as the S-pipeline does).
    """
    feats = hashing_features(corpus, dim=dim, id_col=id_col, text_col=text_col)
    scores = linear_classifier_score(
        feats, weights, bias=bias, id_col=id_col, round_to=6
    )
    if broadcast_drop:
        dropped = scores.filter(F.col("prob") < threshold).select(id_col)
        return corpus.join(F.broadcast(dropped), id_col, "left_anti")
    keep = scores.filter(F.col("prob") >= threshold).select(id_col)
    return corpus.join(keep, id_col)


def nb_lang_classifier(
    corpus: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
) -> DataFrame:
    """Multiclass Naive-Bayes language ID over hashed term features —
    the classifier path (:func:`hashing_features` featurize, broadcast
    model, argmax decode) wired into a REAL model with deterministic
    in-engine training, demonstrating the end-to-end fastText-style
    lang-id loop production pipelines run.

    Training (multinomial NB, add-one smoothing in the hashed space):

        weight(l, b) = ln(c_lb + 1) - ln(T_l + dim)
        prior(l)     = ln(n_docs_l / n_docs)
        score(d, l)  = prior(l) + sum_b cnt_db * weight(l, b)

    decomposed so unseen (l, b) pairs need no materialized zero rows:
    ``score = prior(l) - n_terms_d * ln(T_l + dim) + sum over SEEN
    pairs of cnt * ln(c_lb + 1)`` — the pooled-UNK trick the
    unigram-LM operator uses, applied per class.

    Plan shape at 10^12 docs: the model is two broadcast relations —
    (class summary: |langs| rows) and (seen (lang, bucket) weights:
    ≤ |langs|·dim rows, ~3 MB at 100 langs × 4096 buckets). Featurize
    is the one corpus-derived exchange (uniform (doc, bucket) key);
    the seen-sum join is broadcast-inner (only pairs that exist), the
    base term is a |langs|-way broadcast fan-out of the SLIM
    (doc, n_terms) projection — never the corpus rows — and the argmax
    is a row_number window over ≤ |langs| rows per doc on the uniform
    doc key. At extreme |langs| the fan-out prunes to langs sharing a
    bucket with the doc plus the globally-best base-only lang; at the
    10-100 langs of real crawls the full fan-out is cheaper than the
    prune. Scores round to 6 (house float-sum-order tolerance) BEFORE
    the argmax so the winning class and its tie-break (lexicographic
    smallest lang) are engine-portable.

    Returns (id_col, pred_lang, score). Docs with no tokens have no
    feature rows and are absent, matching the classifier family.
    """
    from pyspark.sql.window import Window

    # feats is consumed three times (training counts, doc_terms,
    # seen_sums) — without materialization each consumer re-runs the
    # corpus explode + md5 + groupBy (the round-5 verdict's "featurizes
    # the corpus twice" capacity note). EAGER localCheckpoint (r06
    # second pass): the model-side consumers are broadcast-exchange
    # builds that Spark launches concurrently, and a LAZY checkpoint
    # lets every racing build recompute the full featurize before any
    # registers the blocks — event-log profiled at 1M docs/local[32]
    # as ~9 duplicate featurize jobs, 256–414 s lazy vs 128 s eager
    # (identical predictions, hash-pinned). Blocks are scoped to this
    # DataFrame; nothing persists across invocations.
    feats = hashing_features(
        corpus.select(id_col, text_col), dim=dim, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=True)
    labels = corpus.select(id_col, F.col(label_col).alias("_lbl"))
    lf = feats.join(labels, id_col)

    bucket_counts = lf.groupBy("_lbl", "bucket").agg(F.sum("cnt").alias("_c"))
    class_mass = bucket_counts.groupBy("_lbl").agg(F.sum("_c").alias("_T"))
    doc_counts = labels.groupBy("_lbl").agg(F.count(F.lit(1)).alias("_nd"))
    total_docs = labels.agg(F.count(F.lit(1)).alias("_N"))
    class_summary = (
        class_mass.join(doc_counts, "_lbl")
        .crossJoin(F.broadcast(total_docs))
        .select(
            "_lbl",
            (F.log(F.col("_nd").cast("double")) - F.log(F.col("_N").cast("double"))).alias("_prior"),
            F.log((F.col("_T") + F.lit(dim)).cast("double")).alias("_logZ"),
        )
    )
    seen = bucket_counts.select(
        "_lbl", "bucket", F.log((F.col("_c") + 1).cast("double")).alias("_lw")
    )

    doc_terms = feats.groupBy(id_col).agg(F.sum("cnt").alias("_n_terms"))
    seen_sums = (
        feats.join(F.broadcast(seen), "bucket")
        .groupBy(id_col, "_lbl")
        .agg(F.sum(F.col("cnt") * F.col("_lw")).alias("_seen"))
    )
    scored = (
        doc_terms.crossJoin(F.broadcast(class_summary))
        .join(seen_sums, [id_col, "_lbl"], "left")
        .select(
            id_col,
            "_lbl",
            F.round(
                F.col("_prior")
                - F.col("_n_terms") * F.col("_logZ")
                + F.coalesce(F.col("_seen"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("_lbl").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("_lbl").alias("pred_lang"), "score")
    )
