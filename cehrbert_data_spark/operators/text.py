"""Text-analysis operators for large-scale training-data pipelines.

All JVM-native column expressions (no Python UDFs): tokenization, shingling,
quality scoring, stopword/language heuristics, deterministic hashing and
document fingerprinting. Hashes derive from ``md5`` so any engine can verify
them (cross-engine oracle-checkable), and are stable across Spark versions —
unlike ``hash``/``xxhash64`` whose seeds are engine-specific.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny English stopword list used by the language/stopword heuristic.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

#: BPE-ish tokenizer: word pieces, digit runs, or single non-space symbols.
TOKEN_REGEX = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL string literal (backslashes and
    quotes escaped) — for building expression strings that must carry regex
    patterns verbatim."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def words_sql(text_expr: str) -> str:
    """SQL-text twin of :func:`words` (same tree, one definition of the
    tokenization contract rendered two ways; analyzed-plan identity is
    pinned by tests/test_text_dedup_sim.py)."""
    return f"split(trim({text_expr}), '\\\\s+')"


def words(text: Column) -> Column:
    """Whitespace tokenization (empty-string safe)."""
    return F.split(F.trim(text), "\\s+")


def regex_tokens(text: Column) -> Column:
    """Regex token stream (word / number / symbol pieces)."""
    return F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)


def shingles(word_arr: Column, k: int = 3) -> Column:
    """k-word shingles: ['a b c', 'b c d', ...] — the unit of MinHash /
    Jaccard dedup. Uses a native transform over an index sequence.

    Documents shorter than ``k`` words yield an EMPTY array. The guard
    matters: ``F.sequence(1, 0)`` infers a NEGATIVE step and returns
    [1, 0] — two bogus indices — so the naive ``greatest(n-k+1, 0)`` upper
    bound silently manufactured shingles for short docs (and diverged from
    SQL engines whose GENERATE_SERIES(1, 0) is empty)."""
    n = F.size(word_arr)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(word_arr, i, k))
    )


#: Cleaning patterns: deliberately restricted to RE2-compatible syntax (no
#: backrefs/lookarounds) so the same patterns run verbatim in Spark (Java
#: regex) and DuckDB (RE2) — required for oracle-exact cleaning.
URL_REGEX = r"https?://[^\s]+"
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
CONTROL_REGEX = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def clean_text(text: Column) -> Column:
    """Scrub pipeline: drop URLs and emails (PII / noise), strip control
    characters, collapse whitespace runs to single spaces, trim. Pure native
    regexp_replace chain — one codegen'd projection, no Python."""
    out = F.regexp_replace(text, URL_REGEX, " ")
    out = F.regexp_replace(out, EMAIL_REGEX, " ")
    out = F.regexp_replace(out, CONTROL_REGEX, " ")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def md5_long(col: Column, bits: int = 60) -> Column:
    """First ``bits`` bits of md5 as a non-negative BIGINT — the portable
    deterministic hash used by minhash/simhash/fingerprints."""
    hex_digits = bits // 4
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


def md5_long_sql(expr: str, bits: int = 60) -> str:
    """Spark-SQL-text twin of :func:`md5_long` (one hash contract, two
    renderings; analyzed-plan identity pinned by
    tests/test_text_dedup_sim.py)."""
    return f"CAST(conv(substring(md5({expr}), 1, {bits // 4}), 16, 10) AS BIGINT)"


def stopword_ratio(word_arr: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    n_stop = F.size(F.filter(word_arr, lambda w: F.array_contains(sw, w)))
    return n_stop.cast("double") / F.greatest(F.size(word_arr), F.lit(1))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char/word/token counts, mean word
    length, distinct-word ratio, stopword ratio. All exact int/ratio math.

    Built as expression STRINGS (r11 RPC pass 4, guide §1.2): the Column
    form cost ~290 Py4J round trips per build; one selectExpr builds the
    same analyzed tree (identity pinned in tests/test_text_dedup_sim.py,
    lambda variable names aside) for a handful.
    """
    t = f"`{text_col}`"
    w = words_sql(t)
    n_words = f"size({w})"
    ge = f"greatest({n_words}, 1)"
    sw = "array(" + ", ".join(sql_str(s) for s in EN_STOPWORDS) + ")"
    return df.selectExpr(
        "*",
        f"length({t}) AS q_n_chars",
        f"{n_words} AS q_n_words",
        f"size(regexp_extract_all({t}, {sql_str(TOKEN_REGEX)}, 0)) AS q_n_tokens",
        f"CAST(aggregate({w}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x)) AS DOUBLE)"
        f" / {ge} AS q_mean_word_len",
        f"CAST(size(array_distinct({w})) AS DOUBLE) / {ge} AS q_distinct_ratio",
        f"CAST(size(filter({w}, x -> array_contains({sw}, x))) AS DOUBLE)"
        f" / {ge} AS q_stopword_ratio",
    )


def quality_funnel(
    df: DataFrame,
    rules: Sequence[tuple[str, Column]],
    out: str = "verdict",
) -> DataFrame:
    """First-failing-rule attribution: label each row with the name of the
    FIRST rule (in order) whose failure predicate is true, else 'pass'
    (beyond-ref; the observability layer of a C4/Gopher-style filter stack —
    a pipeline that only reports "kept 61%" can't tell you WHICH rule ate
    your corpus or needs retuning).

    Compiles to one chained CASE in a codegen'd projection — adding rules
    adds zero jobs/shuffles, and a downstream count-by-verdict is a day-one
    map-side-combined agg at any scale.
    """
    verdict = F.lit("pass")
    for name, pred in reversed(list(rules)):
        verdict = F.when(pred, F.lit(name)).otherwise(verdict)
    return df.withColumn(out, verdict)


def hashed_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int = 1 << 18,
    bucket_col: str = "bucket",
    weight_col: str = "w_milli",
    intercept_milli: int = 0,
) -> DataFrame:
    """Linear text-classifier scoring via the hashing trick (fasttext /
    Vowpal-Wabbit style) — the model-based quality-filter stage of a
    training-data pipeline (CCNet-style LM filtering, LLaMA's quality
    classifier) as ONE explode + broadcast join + map-side-combined sum.

    Tokens hash into ``n_buckets`` with ``md5_long``; ``weights`` is the
    TRAINED weight table (bucket, w_milli) in integer milli-units — a few
    MB even at 2^18 buckets, so it broadcasts and document text never
    shuffles. The logit is the length-normalized mean feature weight
    (standard for linear text classifiers — keeps scores length-invariant):
    ``logit = (intercept_milli + score_milli / n_tokens) / 1000`` computed
    in DOUBLE over exact integer operands (divisions only — IEEE-identical
    in any engine; ``prob = sigmoid(logit)`` is exposed too, but exp() is
    not correctly-rounded across libms, so cross-engine comparisons should
    anchor on ``logit``). Docs with no tokens drop (nothing to score —
    fasttext behavior).

    Returns (id_col, n_tokens, score_milli, logit, prob).

    Scale: cost is one token explode (doc-bounded fan-out), a broadcast
    hash join, and a map-side-combined sum back to doc grain — no
    doc-to-doc shuffle anywhere. score_milli is a per-document sum of
    |w| <= ~10^6 milli-weights over document-bounded token counts: BIGINT
    headroom at any corpus size (the sum never crosses documents).
    """
    toks = words(F.col(text_col))
    bucketed = (
        df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__t"))
        .select("__id", (md5_long(F.col("__t")) % n_buckets).alias(bucket_col))
    )
    joined = bucketed.join(
        F.broadcast(weights.select(bucket_col, weight_col)), bucket_col, "left"
    )
    agg = joined.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col(weight_col).cast("long"), F.lit(0))).alias(
            "score_milli"
        ),
    )
    logit = (
        F.lit(float(intercept_milli))
        + F.col("score_milli").cast("double") / F.col("n_tokens")
    ) / F.lit(1000.0)
    return agg.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "score_milli",
        logit.alias("logit"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("prob"),
    )


def default_funnel_rules(
    n_words: Column, n_distinct: Column, n_stop: Column
) -> list[tuple[str, Column]]:
    """The engine's default C4/Gopher-style quality cuts, as ``quality_funnel``
    rules over word/distinct/stopword counts. Defined ONCE here so the
    curate_corpus app and the t_quality_funnel report query cannot drift
    (they previously carried literal copies). Every ratio threshold is an
    integer cross-multiplication — no float can diverge between engines.
    """
    return [
        ("too_short", n_words < 25),
        ("too_long", n_words > 90),
        ("low_diversity", n_distinct * 100 < n_words * 35),
        ("high_stopword", n_stop * 100 > n_words * 9),
    ]


def fingerprint(text: Column, mod: int = 1_000_000_007) -> Column:
    """Order-sensitive document fingerprint: position-weighted sum of word
    hashes (a distributable analogue of a rolling hash — summable, so it
    aggregates without a sequential scan)."""
    w = words(text)
    idx = F.sequence(F.lit(1), F.size(w))
    weighted = F.zip_with(
        w,
        idx,
        lambda word, i: ((i % 16) + 1) * (md5_long(word, 48) % 1_000_003),
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (total % mod).alias("fingerprint")


#: PII patterns (beyond-ref; the scrub every public-corpus pipeline runs).
#: Restricted to syntax both Java regex (Spark) and RE2 (DuckDB oracles)
#: interpret identically: character classes, bounded repetition, \b — no
#: backreferences or lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

#: match order matters: SSN before phone would also be needed if patterns
#: overlapped; these four are mutually exclusive on any given span except
#: ssn ⊂ phone-with-dashes shapes — scrub applies ssn FIRST so a 3-2-4
#: digit group reads as SSN, not a malformed phone.
_PII_SCRUB_ORDER = ("email", "ssn", "phone", "ipv4")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts (native ``regexp_count`` — codegen, no
    Python)."""
    return {
        name: F.regexp_count(text, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


def scrub_pii(text: Column) -> Column:
    """Replace every PII match with a typed placeholder (``<EMAIL>`` …) —
    chained native ``regexp_replace``, applied in :data:`_PII_SCRUB_ORDER`."""
    out = text
    for name in _PII_SCRUB_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return out


def repetition_features(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 2
) -> DataFrame:
    """Gopher-style repetition signals per document (beyond-ref; the
    quality gate large-scale corpus pipelines apply before training):

    - ``rep_top_ngram_frac``: occurrences of the single most frequent
      word k-gram as a fraction of all k-grams (a high value means one
      phrase dominates the document);
    - ``rep_dup_ngram_frac``: fraction of k-gram occurrences whose k-gram
      appears more than once (bulk repetition, not just one hot phrase);
    - ``rep_n_ngrams``: total k-gram occurrences (the denominator).

    Computed in the shuffle-scalable form — explode k-grams, count per
    (id, gram), re-aggregate per id — rather than per-row O(len²)
    higher-order lambdas: counts stay in whole-stage codegen and the two
    shuffles are both keyed on id/(id, gram), so the plan survives
    arbitrarily long documents and 100 TB corpora. All ratios divide
    exact integer counts (cross-engine IEEE-identical). Documents with
    fewer than k words yield zero n-grams and drop out (same as a
    GROUP BY over an empty set in the oracle).
    """
    from cehrbert_data_spark.operators.dedup import doc_shingles

    grams = doc_shingles(
        df.select(F.col(id_col).alias("id"), text_col), "id", text_col, k,
        distinct=False,
    )
    per_gram = grams.groupBy("id", "shingle").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_gram.groupBy("id")
        .agg(
            F.max("n").alias("max_n"),
            F.sum("n").alias("total_n"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).alias("dup_n"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("max_n").cast("double") / F.col("total_n")).alias("rep_top_ngram_frac"),
            (F.col("dup_n").cast("double") / F.col("total_n")).alias("rep_dup_ngram_frac"),
            F.col("total_n").alias("rep_n_ngrams"),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    idf_scale: int = 1024,
    tf_scale: int = 1024,
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
    corpus_totals: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by exact-integer BM25
    (beyond-ref; the retrieval scorer training-data selection pipelines use
    for quality- or topic-targeted sampling).

    BM25 per term is ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
    with the standard k1=1.2, b=0.75 — float math that no two engines
    round identically. Here every factor is integer: k1 and b are the
    rationals ``k1_num/k1_den`` and ``b_num/b_den``; multiplying the
    numerator and denominator by ``k1_den * b_den * total_len`` (avgdl =
    total_len / n_docs) clears all fractions:

        N = tf * (k1_num + k1_den) * b_den * total_len
        D = k1_den*b_den*total_len*tf + k1_num*(b_den-b_num)*total_len
            + k1_num*b_num*dl*n_docs

    ``term_score = idf_q * ((N * tf_scale) div D)`` with the same
    bit-length ``idf_q = floor(log2(n_docs * idf_scale / df_t))`` as
    :func:`tfidf_topk` — monotone in the real BM25 score, identical in any
    engine. BIGINT bound: ``tf * (k1_num+k1_den) * b_den * total_len *
    tf_scale < 2^63`` — at defaults total corpus length up to ~2e12 tokens
    per scoring shard; beyond that, compute avgdl per shard or widen to
    DECIMAL(38,0).

    Returns the top ``k`` rows (doc_id, score_scaled, n_hit_terms, dl)
    ordered by (score_scaled DESC, doc_id) — a total order, so the global
    top-k is the deterministic ``orderBy().limit()`` (TakeOrdered: per-
    partition heaps + a k-row driver merge, never a full sort).

    Scale: doc length is a per-row projection (no explode — the token
    explode would otherwise feed two consumers and recompute); only tokens
    matching ``query_terms`` survive past the explode filter, so the
    (doc, term) TF agg shuffles |hits| rows, not the corpus. Per-term DF
    is a COUNT(*) window over the TF rows' term shuffle (the
    window-over-same-shuffle shape — nothing recomputed, nothing
    materialized); corpus totals are a 1-row broadcast. The totals
    aggregate is a second column-pruned scan of the corpus (a scan is the
    cheapest possible second pass; a shared-subtree barrier would
    materialize corpus-sized state) — when serving many queries against
    one corpus, precompute (n_docs, total_len) once and pass the 1-row
    table in as ``corpus_totals`` to skip that pass entirely.
    """
    from pyspark.sql import Window

    from cehrbert_data_spark.operators.sketches import ilog2

    qlit = F.array(*[F.lit(t) for t in query_terms])
    toks = words(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
    ).select("doc_id", F.size("toks").cast("long").alias("dl"), "toks")
    totals = (
        corpus_totals
        if corpus_totals is not None
        else base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_len"),
        )
    )
    tf = (
        base.select(
            "doc_id", "dl", F.explode("toks").alias("term")
        )
        .where(F.array_contains(qlit, F.col("term")))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    wt = Window.partitionBy("term")
    scored = (
        tf.withColumn("df_t", F.count(F.lit(1)).over(wt).cast("long"))
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "dl",
            ilog2(F.expr(f"(n_docs * {idf_scale}) div df_t")).alias("idf_q"),
            (
                F.col("tf") * (k1_num + k1_den) * b_den * F.col("total_len")
            ).alias("num"),
            (
                k1_den * b_den * F.col("total_len") * F.col("tf")
                + k1_num * (b_den - b_num) * F.col("total_len")
                + k1_num * b_num * F.col("dl") * F.col("n_docs")
            ).alias("den"),
        )
        .select(
            "doc_id",
            "dl",
            (
                F.col("idf_q") * F.expr(f"(num * {tf_scale}) div den")
            ).cast("long").alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id", "dl")
        .agg(
            F.sum("term_score").cast("long").alias("score_scaled"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        )
        .orderBy(F.desc("score_scaled"), F.asc("doc_id"))
        .limit(k)
    )


def lm_surprisal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    scale: int = 1024,
) -> DataFrame:
    """Per-document bigram language-model surprisal in exact-integer bits
    (beyond-ref; the CCNet-style perplexity signal corpus pipelines use to
    keep fluent text and drop gibberish — here the LM is the corpus's own
    bigram model, so no external model file is needed).

    A document's surprisal under a bigram model is
    ``sum log2(1 / P(w2|w1))`` with ``P(w2|w1) = c(w1 w2) / c(w1 ·)``.
    The per-bigram surprisal here is the fixed-point quantization
    ``ilog2((c_prefix * scale) div c_bigram)`` — exact bit-length
    arithmetic, identical in any engine, ``log2(scale)`` bits above the
    real value. ``bits_per_gram`` (total / count, exact ints divided as
    doubles) is the log2-perplexity proxy: low = fluent/common phrasing,
    high = rare or shuffled text.

    Returns (doc_id, bits_sum, n_bigrams, bits_per_gram); documents with
    fewer than 2 words have no bigrams and drop out (same as the oracle's
    GROUP BY over zero rows).

    Scale: corpus bigram counts are corpus-sized, so they are NOT
    broadcast — both the bigram count and the prefix count are SUM
    windows over the SAME (doc, bigram) aggregate rows (the
    window-over-same-shuffle shape: one explode, one hash-agg, two
    windows, one final per-doc agg; nothing recomputed, nothing
    materialized, no join). The windows partition by bigram / prefix
    word — natural-language frequency keys are Zipf-skewed but bounded
    by vocabulary, never by corpus size.
    """
    from pyspark.sql import Window

    from cehrbert_data_spark.operators.sketches import ilog2

    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(words(F.lower(F.col(text_col))), 2)).alias("bg"),
    )
    db = (
        grams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("w1", F.substring_index("bg", " ", 1))
    )
    wb = Window.partitionBy("bg")
    wp = Window.partitionBy("w1")
    scored = (
        db.withColumn("c_big", F.sum("c").over(wb))
        .withColumn("c_pre", F.sum("c").over(wp))
        .withColumn(
            "bits",
            F.col("c") * ilog2(F.expr(f"(c_pre * {scale}) div c_big")),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("bits").cast("long").alias("bits_sum"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "bits_sum",
            "n_bigrams",
            (F.col("bits_sum").cast("double") / F.col("n_bigrams")).alias(
                "bits_per_gram"
            ),
        )
    )


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword language-ID heuristic: per-language stopword hit rate,
    argmax → predicted label ('unknown' below a confidence floor)."""
    w = words(F.col(text_col))
    en = stopword_ratio(w, EN_STOPWORDS)
    return df.select(
        "*",
        en.alias("lid_en_score"),
        F.when(en >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "lid_predicted"
        ),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    idf_scale: int = 1024,
) -> DataFrame:
    """Top-k characteristic terms per document by exact-integer TF-IDF.

    Standard TF-IDF multiplies term frequency by ``log(N / df)``; the log
    makes scores engine-inexact, so the IDF here is the fixed-point
    quantization ``idf_q = floor(log2(N * idf_scale / df))`` computed with
    exact bit-length arithmetic (``length(bin(x)) - 1``) — monotone in
    ``N/df`` with ~log2(idf_scale) bits of resolution, identical in any
    engine. ``score = tf * idf_q``; top-k per document ordered by
    (score DESC, term ASC), a total order.

    Returns (doc_id, term, tf, df_docs, score, rk).

    Scale: one (doc, term) TF hash-agg (map-side combined); per-term DF is
    a COUNT(*) window over the TF rows partitioned by term — term has
    bounded cardinality per partition key, never a global window — so TF
    has exactly ONE consumer and nothing is recomputed or materialized
    (an earlier version checkpointed TF to feed a separate DF aggregate +
    join; the eager localCheckpoint OOM'd at 100x — windows over the
    same shuffle are the scale-safe shape). N is a 1-row aggregate
    broadcast back (no collect); top-k per doc is a doc-partitioned
    window.
    """
    from pyspark.sql import Window

    from cehrbert_data_spark.operators.sketches import ilog2

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    wt = Window.partitionBy("term")
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df_docs", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df_docs").cast("long").alias("df_docs"),
            (
                F.col("tf") * ilog2(F.expr(f"(n_docs * {idf_scale}) div df_docs"))
            ).cast("long").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )
