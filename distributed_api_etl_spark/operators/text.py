"""Text analysis operators: token stats, language ID, quality scoring,
document fingerprinting. All JVM-side column expressions (codegen-friendly,
no Python) with integer-first arithmetic so scores are bit-identical across
engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_api_etl_spark.functions.textfns import token_shingles, tokens
from distributed_api_etl_spark.session import scoped_persist

# Tiny per-language stopword marker sets (public common function words).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "los", "en"],
    "de": ["der", "und", "das", "die", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
}
#: deterministic priority order for argmax ties
LANG_PRIORITY = ["en", "es", "de", "fr"]

#: BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space marks
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def portable_round6(col: Column) -> Column:
    """Engine-portable 6-decimal rounding: ``floor(x*1e6 + 0.5) / 1e6``.

    SQL ``round()`` implementations disagree at half-boundary doubles
    (Spark goes through BigDecimal HALF_UP on the shortest decimal repr;
    DuckDB uses a float-op algorithm) — observed diverging on 1 of 5000
    docs at sf0.1. This form is three IEEE ops + an exact floor, so any
    two engines that computed bit-identical ``x`` (true for the quality
    formula: fixed-order ops over exact integers) agree bit-for-bit.
    For non-negative x only (floor(+0.5) is round-half-up only there).
    """
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


PORTABLE_ROUND6_SQL = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token counts + BPE-ish regex token count + char stats."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE)).alias("n_bpe_tokens"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str, label_col: str | None = None) -> DataFrame:
    """Stopword-marker language ID with deterministic tie-breaking.

    Predicts the language whose marker set hits the most tokens; ties go to
    LANG_PRIORITY order; zero hits everywhere -> 'und'.
    """
    toks = tokens(F.col(text_col))
    scores = {
        lang: _stopword_hits(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*[scores[lang] for lang in LANG_PRIORITY])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    cols = [
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_PRIORITY],
        pred.alias("predicted_lang"),
    ]
    if label_col:
        cols.append(
            (F.col(label_col) == pred).alias("matches_label")
        )
    return df.select(*cols)


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite [0,1] quality score from cheap surface statistics.

    Components (each 0..1): length saturation, type-token ratio, alpha
    character ratio, mean-token-length saturation. Single-division doubles
    over exact integers — no accumulation-order ambiguity.
    """
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length(F.col(text_col))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    len_sat = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    ttr = n_distinct / n_tokens
    alpha_ratio = n_alpha / n_chars
    mean_tok = (n_chars - (n_tokens - 1)) / n_tokens  # chars minus separators
    mean_sat = F.least(mean_tok / F.lit(8.0), F.lit(1.0))
    score = portable_round6(
        0.25 * len_sat + 0.25 * ttr + 0.25 * alpha_ratio + 0.25 * mean_sat
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        portable_round6(ttr).alias("type_token_ratio"),
        portable_round6(alpha_ratio).alias("alpha_ratio"),
        score.alias("quality"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalization fingerprint (lowercase, collapse whitespace) + dup-group
    size via a window over the fingerprint."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    out = df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return out.withColumn("group_size", F.count("*").over(w))


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every doc of ``df`` that shares at
    least one n-token shingle with ``eval_df`` (the held-out benchmark
    set) — the standard pre-training hygiene step.

    Scale plan: the eval shingle set is tiny relative to a 100 TB corpus,
    so it is distinct-ed and BROADCAST; the corpus side is one explode +
    semi-join + distinct-of-ids + anti-join — no pair materialization and
    no corpus-wide groupBy. Returns the surviving rows of ``df`` unchanged
    (same schema).

    Production note: real decontamination uses longer shingles (8-13
    tokens) so only verbatim leakage matches; n is a parameter because the
    right value depends on tokenizer granularity.
    """
    from distributed_api_etl_spark.functions.textfns import token_shingles

    # per-doc dedup happens map-side (array_distinct before the explode);
    # ev's remaining .distinct() only dedups ACROSS eval docs — a shuffle of
    # the already-shrunk eval set, not of the corpus-expanded table
    ev = (
        eval_df.select(
            F.explode(F.array_distinct(token_shingles(F.col(text_col), n))).alias("s")
        )
        .distinct()
    )
    corpus = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(token_shingles(F.col(text_col), n))).alias("s"),
    )
    contaminated = corpus.join(F.broadcast(ev), "s").select(id_col).distinct()
    return df.join(contaminated, id_col, "left_anti")


def repetition_ratio(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Within-doc duplicate n-gram fraction — the classic repetition-based
    quality filter for training corpora (boilerplate/spam detector).

    rep_ppm = floor(1e6 * (total - distinct) / total) over the doc's token
    n-grams; integer ppm so the threshold boundary is bit-exact on every
    engine. Docs shorter than n tokens score 0. Pure codegen (no explode:
    the shingle array, its distinct form, and the sizes are all HOFs).
    """
    from distributed_api_etl_spark.functions.textfns import token_shingles

    sh = token_shingles(F.col(text_col), n)
    return (
        df.select(
            F.col(id_col),
            F.size(sh).alias("_total"),
            F.size(F.array_distinct(sh)).alias("_distinct"),
        )
        .select(
            F.col(id_col),
            F.col("_total").alias("n_ngrams"),
            F.when(
                F.col("_total") > 0,
                F.expr("div(1000000 * (_total - _distinct), _total)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rep_ppm"),
        )
    )


#: PII patterns kept to syntax with identical semantics in Java regex
#: (Spark) and RE2 (DuckDB): character classes, bounded repeats, \d, \b.
#: No backrefs or lookarounds (RE2 has neither).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[- ]\d{3}[- ]\d{3}[- ]\d{4}",
}


def pii_redact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Mask PII spans with ``[<KIND>]`` tokens and count what was masked.

    Pure ``regexp_replace`` / ``regexp_extract_all`` column expressions —
    codegen'd, one scan, no shuffle at all (the canonical pre-training
    scrubbing pass: at 100 TB this pipelines with the scan and costs only
    CPU). Patterns apply in sorted-name order so the output is
    deterministic regardless of dict ordering.
    """
    pats = patterns or PII_PATTERNS
    redacted = F.col(text_col)
    counts = []
    for kind in sorted(pats):
        pat = pats[kind]
        counts.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).alias(
                f"n_{kind}"
            )
        )
        redacted = F.regexp_replace(redacted, pat, f"[{kind.upper()}]")
    return df.select(F.col(id_col), *counts, redacted.alias("redacted_text"))


def corpus_vocab(
    df: DataFrame, id_col: str, text_col: str, top_k: int | None = None
) -> DataFrame:
    """Corpus-wide vocabulary: per-token occurrence and document frequency
    (the tokenizer-vocab / IDF-feature builder).

    One explode + one groupBy: ``n_occurrences`` is a plain count with
    map-side partial aggregation; ``n_docs`` dedups (doc, token) inside the
    same shuffle via count(DISTINCT id). At 100 TB token keys are Zipf-skewed
    — the map-side combine already collapses the head tokens per partition,
    which is exactly the salting outcome without a salt column. Optional
    ``top_k`` orders by (count desc, token) for a deterministic cut.
    """
    tok = df.select(
        F.col(id_col).alias("_doc"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct(F.col("_doc")).alias("n_docs"),
    )
    if top_k is not None:
        agg = agg.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)
    return agg


def quality_quantile_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stratum_col: str,
    keep_top_fraction: float = 0.5,
) -> DataFrame:
    """Keep the top quality fraction WITHIN each stratum (per-source quality
    gating — a global threshold would let a high-quality-skewed source crowd
    out every other stratum of the training mix).

    percent_rank over (stratum, quality, id) — the id tie-break makes the
    cut deterministic. One window shuffle keyed by stratum; at scale the
    stratum count should be >= parallelism or the window key extended with a
    hash bucket (same guidance as pack_sequences).
    """
    from pyspark.sql import Window

    scored = quality_score(df, id_col, text_col).select(
        F.col(id_col), F.col("quality")
    )
    joined = df.select(F.col(id_col), F.col(stratum_col)).join(scored, id_col)
    w = Window.partitionBy(stratum_col).orderBy(
        F.desc("quality"), F.asc(id_col)
    )
    return (
        joined.withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") < keep_top_fraction)
        .select(id_col, stratum_col, "quality", portable_round6(F.col("pr")).alias("pr"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token windows with overlap (stride < chunk_size overlaps
    by chunk_size - stride) — the context-window chunking stage of a
    training pipeline. drop_remainder semantics: only starts with a FULL
    window emit (tail tokens shorter than chunk_size are dropped, matching
    fixed-length sequence training where ragged tails are either dropped or
    packed — packing is operators/packing.py's job).

    All codegen: window starts from ``sequence`` (1, 1+stride, ...), one
    explode to (doc, start), ``slice`` + ``concat_ws`` for the chunk text.
    No shuffle at all — chunking is embarrassingly row-parallel; downstream
    repartitioning is the caller's choice.
    """
    t = tokens(F.col(text_col))
    last_full_start = F.size(t) - F.lit(chunk_size) + 1
    starts = F.when(
        last_full_start >= 1,
        F.sequence(F.lit(1), last_full_start, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col(id_col), t.alias("_toks"), F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("start").cast("int").alias("start_token"),
            F.concat_ws(" ", F.slice(F.col("_toks"), F.col("start"), chunk_size)).alias(
                "chunk_text"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (tf * (ln((N+1)/(df+1)) + 1), the scikit-learn smoothing) — the
    keyword-extraction / doc-characterization stage.

    Plan: one explode -> (doc, term, tf) aggregation; document frequency is
    a second aggregation OVER THE TF TABLE (already one row per (doc,term),
    so no second pass over raw text); N is a one-row broadcast cross join.
    Ranking is a per-doc window on the tf table, k rows kept per doc.
    Zipf skew lands on the term-keyed df aggregation, where map-side
    combine collapses the head terms per partition (same argument as
    corpus_vocab). Ties rank by term ascending — deterministic everywhere.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    tf = scoped_persist(tf)  # referenced twice: document-frequency agg + ranking
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


def bm25_term_score_sql(
    tf: str = "tf",
    dl: str = "dl",
    dft: str = "dft",
    n_docs: str = "n_docs",
    total_tok: str = "total_tok",
    k1_milli: int = 1200,
    b_milli: int = 750,
) -> str:
    """Per-(doc, term) Okapi BM25 contribution in integer MICRO-units.

    One SQL string used verbatim by BOTH engines (F.expr on the Spark side,
    inlined in the DuckDB oracle), so the floating-point expression tree is
    textually identical: every input is an exact integer (tf, dl, dft, N,
    total tokens), parameters arrive as integer millis, float literals are
    scientific notation (bare decimals parse as DECIMAL on both engines —
    the verify gotcha), and the result is fixed-pointed via
    ``floor(x*1e6 + 0.5)`` so the per-document SUM is an order-free integer
    sum. avgdl never materializes: ``dl/avgdl == dl*N/total_tok``.
    """
    k1 = f"(CAST({k1_milli} AS DOUBLE) / 1e3)"
    b = f"(CAST({b_milli} AS DOUBLE) / 1e3)"
    idf = (
        f"ln(1e0 + (CAST({n_docs} AS DOUBLE) - CAST({dft} AS DOUBLE) + 5e-1)"
        f" / (CAST({dft} AS DOUBLE) + 5e-1))"
    )
    denom = (
        f"(CAST({tf} AS DOUBLE) + {k1} * (1e0 - {b} + {b}"
        f" * CAST({dl} AS DOUBLE) * CAST({n_docs} AS DOUBLE)"
        f" / CAST({total_tok} AS DOUBLE)))"
    )
    score = f"({idf} * CAST({tf} AS DOUBLE) * ({k1} + 1e0) / {denom})"
    return f"CAST(floor({score} * 1e6 + 5e-1) AS BIGINT)"


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1_milli: int = 1200,
    b_milli: int = 750,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query-term set —
    the retrieval-style scorer a training pipeline uses to SELECT data
    relevant to a target domain (seed queries in, ranked corpus out).

    Plan: the explode filters to the query terms immediately, so the big
    (doc, term) frequency table never exists — only |terms|-bounded rows
    per doc survive the first shuffle. Document frequency is |terms| rows
    (broadcast); corpus stats are a one-row broadcast cross join (the
    sanctioned scalar pattern); per-doc length rides the original scan.
    Score = sum of integer micro-unit term contributions
    (:func:`bm25_term_score_sql`) — aggregation-order-free by construction.
    Output: one row per input doc (zero-match docs score 0), with
    ``score`` = micro/1e6 as DOUBLE and ``n_terms_matched``.
    """
    terms = sorted(set(query_terms))
    # base is NOT persisted: it carries the full text column, so caching it
    # duplicates the corpus — at 100 TB the three derivations below are
    # each one cheap columnar scan, strictly better than a corpus-sized
    # cache write. Only the |terms|-bounded tf table (tiny) is persisted.
    base = df.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
        F.col(text_col),
    )
    tf = (
        base.select(F.col(id_col), "dl", F.explode(tokens(F.col(text_col))).alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    tf = scoped_persist(tf)  # referenced twice: document frequency + scoring
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dft"))
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    micro = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "micro",
            F.expr(bm25_term_score_sql(k1_milli=k1_milli, b_milli=b_milli)),
        )
        .groupBy(id_col)
        .agg(
            F.sum("micro").alias("micro_sum"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    return base.select(id_col).join(micro, id_col, "left").select(
        id_col,
        (F.coalesce(F.col("micro_sum"), F.lit(0)).cast("double") / F.lit(1000000.0)).alias(
            "score"
        ),
        F.coalesce(F.col("n_terms_matched"), F.lit(0)).cast("bigint").alias(
            "n_terms_matched"
        ),
    )


def unigram_logprob_micro_sql(
    c_t: str = "c_t", total_tok: str = "total_tok"
) -> str:
    """Per-token-occurrence surprisal in integer MICRO-nats.

    ``-ln(c_t / T) == ln(T / c_t)`` over exact integer counts, fixed-pointed
    with the shared ``floor(x*1e6 + 5e-1)`` form — ONE SQL string evaluated
    verbatim by both engines (the BM25 portability pattern), so per-document
    totals are order-free integer sums. Every token that appears in the
    corpus has c_t >= 1, so the value is finite and non-negative.
    """
    return (
        f"CAST(floor(ln(CAST({total_tok} AS DOUBLE) / CAST({c_t} AS DOUBLE))"
        f" * 1e6 + 5e-1) AS BIGINT)"
    )


def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """CCNet-style unigram language-model scoring: mean per-token surprisal
    under a unigram LM fit on the corpus itself — the classic
    quality/fluency proxy used to FILTER web-scale training data (docs with
    high mean surprisal are noise/gibberish; abnormally low means are
    boilerplate). A production pipeline would fit the frequency table on a
    trusted REFERENCE corpus; the fit step here is the same aggregation run
    on that corpus instead.

    Plan: one explode -> corpus token-frequency table (Zipf-skewed key, but
    map-side combine collapses the head per partition — the corpus_vocab
    argument); the per-occurrence join back is against a VOCAB-sized frame
    (<< corpus; AQE broadcasts it when it fits, falls back to a shuffle
    join with skew handling otherwise — no hint, measured stats decide);
    the one-row total is a broadcast scalar. Per-token surprisal is an
    integer micro-nat (:func:`unigram_logprob_micro_sql`), so the per-doc
    mean is an exact integer sum with ONE final int->double division —
    deterministic on any engine, any partitioning.

    Output: one row per doc with >= 1 token: (id, n_tokens,
    surprisal_micro_sum BIGINT, mean_surprisal_nats DOUBLE).
    """
    # deliberately NOT persisted: the exploded token table is 10-100x the
    # corpus row count — materializing it at 100 TB costs more than the two
    # extra columnar text scans it saves (scan + explode are streaming,
    # map-side-combined before any exchange). Persist is for SMALL shared
    # intermediates (BM25's |terms|-bounded tf table), never corpus-sized.
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("c_t"))
    total = freq.agg(F.sum("c_t").alias("total_tok"))
    scored = (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("micro", F.expr(unigram_logprob_micro_sql()))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("micro").alias("surprisal_micro_sum"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("surprisal_micro_sum").cast("bigint").alias("surprisal_micro_sum"),
        (
            F.col("surprisal_micro_sum").cast("double")
            / (F.lit(1000000.0) * F.col("n_tokens").cast("double"))
        ).alias("mean_surprisal_nats"),
    )


def ccnet_ppl_buckets(
    df: DataFrame, id_col: str, text_col: str, n_bins: int | None = None
) -> DataFrame:
    """CCNet head/middle/tail corpus partitioning (Wenzek et al. 2020,
    public): rank every document by LM perplexity and split the corpus at
    the 1/3 and 2/3 quantiles — "head" (lowest perplexity, most fluent)
    is what CCNet-lineage pipelines train on first, "tail" is dropped or
    down-weighted. This is the selection step DOWNSTREAM of the LM gates
    (:func:`unigram_logprob_scores` et al.): a gate scores documents, the
    bucketing turns scores into a corpus-wide decision.

    Plan: the per-doc integer score is mean micro-nats per token
    (truncating div — exact on both engines); the tertile thresholds come
    from the mergeable 64-bin histogram sketch (operators/sketch.py), NOT
    a global sort: bounds + histogram are two map-side-combinable
    aggregations over the doc-count score frame, the quantile pick is a
    <=64-row window, and the two 1-row thresholds broadcast back onto the
    scores — so at 100 TB the only corpus-proportional exchanges are the
    unigram LM's own (frequency table + per-doc sum), and bucketing adds
    fixed-size state. CCNet itself sorts perplexities exactly; bin-width
    threshold granularity is the price of mergeability, and the bucket
    decision is still exact w.r.t. the published thresholds (score and
    thresholds are both in the output).

    Output: one row per doc with >= 1 token:
    (id, score_micro BIGINT, bucket in {'head','middle','tail'},
    t33 DOUBLE, t66 DOUBLE).
    """
    from distributed_api_etl_spark.operators.sketch import (
        histogram_quantile,
        histogram_sketch,
    )

    kwargs = {} if n_bins is None else {"n_bins": n_bins}
    scores = unigram_logprob_scores(df, id_col, text_col).select(
        id_col,
        F.expr("div(surprisal_micro_sum, n_tokens)").alias("score_micro"),
    )
    # doc-count rows x 16 bytes — a SMALL shared intermediate (the unigram
    # token explosion behind it must not run 3x for bounds/hist/buckets)
    scores = scoped_persist(scores)
    bounds, hist = histogram_sketch(scores, "score_micro", [], **kwargs)
    t33 = histogram_quantile(bounds, hist, [], 1, 3, "t33", **kwargs)
    t66 = histogram_quantile(bounds, hist, [], 2, 3, "t66", **kwargs)
    thresholds = t33.crossJoin(t66)  # one row x one row
    return scores.crossJoin(F.broadcast(thresholds)).select(
        id_col,
        "score_micro",
        F.when(F.col("score_micro") <= F.col("t33"), F.lit("head"))
        .when(F.col("score_micro") <= F.col("t66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "t33",
        "t66",
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_df: int = 5,
) -> DataFrame:
    """Per-document boilerplate load: how much of a doc is made of n-grams
    that recur across >= ``min_df`` documents (navigation chrome, license
    headers, template sentences — the stuff corpus curation strips before
    training).

    Plan: one distinct-shingle explode, ONE shuffle for document frequency,
    then the (small by construction — templates, not content) boilerplate
    shingle set joins back against the per-doc shingles; no broadcast hint,
    AQE broadcasts it from measured stats. ``min_df`` should scale with the
    corpus (a fixed count at 100 TB marks nothing; a fixed fraction works).
    Output: (doc_id, total_grams, boiler_grams, boiler_ppm) for every doc,
    zero-gram docs included with ppm 0.
    """
    # distinctness is per (doc, gram) — established map-side by
    # array_distinct, so no corpus-expanded .distinct() shuffle exists
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(token_shingles(F.col(text_col), n))).alias("s"),
    )
    sh = scoped_persist(sh)  # referenced three times: df-count, totals, boiler join
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    boiler = dfreq.where(F.col("df") >= min_df).select("s")
    totals = sh.groupBy(id_col).agg(F.count("*").alias("total_grams"))
    boiler_counts = (
        sh.join(boiler, "s").groupBy(id_col).agg(F.count("*").alias("boiler_grams"))
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(boiler_counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("total_grams", F.lit(0)).alias("total_grams"),
            F.coalesce("boiler_grams", F.lit(0)).alias("boiler_grams"),
        )
        .withColumn(
            "boiler_ppm",
            F.when(F.col("total_grams") == 0, F.lit(0).cast("bigint")).otherwise(
                F.expr("div(1000000 * boiler_grams, total_grams)")
            ),
        )
    )


#: Fixed-point linear quality model (weights in 1e-6 logit units). The
#: integer weights are the engine-portable form of a trained linear/fastText
#: -style quality classifier: at deploy time quantize learned floats to
#: micro-units once, and every engine scores identically forever after.
QUALITY_MODEL_WEIGHTS = {
    "bias": -400_000,
    "distinct_tokens": 30_000,
    "stopword_hits": 80_000,
    "repeated_tokens": -10_000,  # n_tokens - n_distinct_tokens
}


def quality_model_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Linear-classifier quality gate: fixed-point logit per document.

    The inference pattern, not the training: a quality model (fastText /
    logistic head) reduced to integer micro-unit weights scores each doc
    with a dot product over exact integer features — whole-stage codegen,
    zero shuffle, no Python, no broadcast (the model IS the plan literals).
    That is the map-only plan shape model-based filtering has at 100 TB;
    swap the literal weights for a broadcast weight table or an ONNX
    pandas-UDF when the model outgrows literals. The fixed-point logit
    makes classifier DECISIONS reproducible cross-engine — a float dot
    product would round differently per engine at decision boundaries.

    Output: (id, logit_micros BIGINT, keep = logit_micros >= 0).
    """
    w = QUALITY_MODEL_WEIGHTS
    toks = tokens(F.col(text_col))
    feats = df.select(
        F.col(id_col),
        F.size(toks).alias("t"),
        F.size(F.array_distinct(toks)).alias("d"),
        _stopword_hits(toks, LANG_STOPWORDS["en"]).alias("s"),
    )
    logit = (
        F.lit(w["bias"]).cast("bigint")
        + F.lit(w["distinct_tokens"]) * F.col("d")
        + F.lit(w["stopword_hits"]) * F.col("s")
        + F.lit(w["repeated_tokens"]) * (F.col("t") - F.col("d"))
    )
    return feats.select(
        F.col(id_col),
        logit.alias("logit_micros"),
        (logit >= 0).alias("keep"),
    )


def dsir_logratio_micro_sql(
    c_tgt: str = "c_tgt",
    c_raw: str = "c_raw",
    total_tgt: str = "total_tgt",
    total_raw: str = "total_raw",
    vocab_v: str = "vocab_v",
) -> str:
    """Per-token-occurrence log importance ratio in integer MICRO-nats.

    DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — public) weights each document by
    log p_target(doc)/p_raw(doc) under cheap bag-of-words LMs. Per token:
    ``ln(((c_tgt + 1) / (T_tgt + V)) / (c_raw / T_raw))`` with add-1
    smoothing on the target side (the raw side needs none — every corpus
    token has c_raw >= 1). Rearranged into ONE double division with a
    fixed op order so both engines compute the identical IEEE value, then
    fixed-pointed with the shared ``floor(x*1e6 + 5e-1)`` round-half-up
    (exact for negative x too: identical double in, identical floor out).
    Integer products are cast to DOUBLE BEFORE multiplying — at 100 TB
    ``c_tgt * total_raw`` overflows BIGINT, the double product does not.
    """
    num = f"(CAST({c_tgt} AS DOUBLE) + 1e0) * CAST({total_raw} AS DOUBLE)"
    den = f"(CAST({total_tgt} AS DOUBLE) + CAST({vocab_v} AS DOUBLE)) * CAST({c_raw} AS DOUBLE)"
    return f"CAST(floor(ln(({num}) / ({den})) * 1e6 + 5e-1) AS BIGINT)"


def dsir_importance_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
) -> DataFrame:
    """DSIR importance weights: how much more likely each document is under
    a unigram LM fit on the TARGET subset than under one fit on the raw
    corpus — the standard cheap proxy for "select pretraining data that
    looks like the target distribution" (Xie et al. 2023).

    ``target_pred`` is a boolean Column choosing the target subset (e.g.
    ``F.col('lang') == 'en'``). Both LMs are fit in-flight: two
    map-side-combined groupBy(term) passes (vocab-sized outputs), a
    full-outer-free left join putting (c_raw, c_tgt) side by side, then
    one vocab-sized join back onto the token stream (AQE broadcasts it
    when it fits) and one narrow groupBy(doc). The three scalars (corpus
    totals + vocab size) ride a one-row broadcast. Per-token log-ratio is
    an integer micro-nat (:func:`dsir_logratio_micro_sql`), so per-doc
    sums are order-free on any engine.

    Output: (id, n_tokens, logratio_micro_sum, mean_logratio_micro) — the
    mean as integer micro-nats via ``div`` (truncating; identical on both
    engines). Downstream selection = rank/threshold on the sum or mean.
    """
    toks = df.select(
        F.col(id_col),
        target_pred.alias("_is_tgt"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # corpus-sized token stream deliberately NOT persisted (see
    # unigram_logprob_scores) — the frequency pass and the score join
    # re-stream the scan with map-side combine before any exchange.
    # BOTH counts come from ONE aggregation (count + conditional sum over
    # the same exchange) — a separate target-side groupBy would re-shuffle
    # the token stream a second time for a column the first pass can carry
    freq = toks.groupBy("term").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("c_tgt"),
    )
    freq = scoped_persist(freq)  # vocab-sized; read for scalars AND the score join
    scalars = freq.agg(
        F.sum("c_raw").alias("total_raw"),
        F.sum("c_tgt").alias("total_tgt"),
        F.count("*").alias("vocab_v"),
    )
    scored = (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(scalars))
        .withColumn("micro", F.expr(dsir_logratio_micro_sql()))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("micro").alias("logratio_micro_sum"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("logratio_micro_sum").cast("bigint").alias("logratio_micro_sum"),
        F.expr("div(logratio_micro_sum, n_tokens)")
        .cast("bigint")
        .alias("mean_logratio_micro"),
    )


#: Gopher rule thresholds (Rae et al. 2021 §A1.1, public) in integer units
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN_CENTI = 300   # 3.00 chars
GOPHER_MAX_MEAN_WORD_LEN_CENTI = 1000  # 10.00 chars
GOPHER_MIN_ALPHA_WORD_PPM = 800_000    # >= 80% of words contain a letter
GOPHER_MIN_STOP_HITS = 2


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style heuristic quality gate (Rae et al. 2021, public):
    the standard pre-training filter battery — word-count bounds, mean
    word length bounds, alphabetic-word ratio, stopword presence — as an
    integer flag bitmask per document plus the derived keep decision.
    (The original's line-level rules — bullet/ellipsis line ratios — do
    not apply to this corpus's single-line documents and are omitted.)

    Entirely MAP-SIDE: every statistic is a fold over the token array of
    one row, so the plan has zero exchanges and stays in whole-stage
    codegen end to end — at 100 TB this runs at scan speed. All ratios
    are fixed-point integers (centi-chars, ppm) via truncating div, so
    the bitmask grades bit-exactly on any engine.

    Flag bits: 1 = word count outside [50, 100000] (GOPHER_MIN/MAX_WORDS);
    2 = mean word length outside [3.00, 10.00] chars;
    4 = alphabetic-word share below 80%; 8 = fewer than 2 stopword hits.

    Null text is treated as empty text (coalesced to ``''`` before
    tokenizing): a quality gate that rejects ``''`` but passes NULL —
    every stat NULL, every flag condition NULL, otherwise(0) — is
    inverted, so both degenerate forms fail the min-word-count rule.
    """
    return (
        df.select(F.col(id_col), *_gopher_quality_base_cols(text_col))
        .withColumn(
            "mean_word_len_centi",
            F.expr("div(100 * total_word_chars, n_words)").cast("bigint"),
        )
        .withColumn(
            "alpha_word_ppm",
            F.expr("div(1000000 * alpha_words, n_words)").cast("bigint"),
        )
        .withColumn("gopher_flags", _gopher_quality_flags_expr().cast("bigint"))
        .withColumn("keep", F.col("gopher_flags") == 0)
    )


def _gopher_quality_base_cols(text_col: str) -> list[Column]:
    """The four per-row base statistics of the Gopher quality gate — one
    fold each over the row's own token array."""
    t = tokens(F.coalesce(F.col(text_col), F.lit("")))
    total_chars = F.aggregate(
        F.transform(t, lambda w: F.length(w)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return [
        F.size(t).cast("bigint").alias("n_words"),
        total_chars.cast("bigint").alias("total_word_chars"),
        F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
        .cast("bigint")
        .alias("alpha_words"),
        _stopword_hits(t, LANG_STOPWORDS["en"]).cast("bigint").alias("stop_hits"),
    ]


def _gopher_quality_flags_expr() -> Column:
    """Quality flag bitmask over the named derived columns
    (``n_words``/``mean_word_len_centi``/``alpha_word_ppm``/``stop_hits``)."""
    return (
        F.when(
            (F.col("n_words") < GOPHER_MIN_WORDS)
            | (F.col("n_words") > GOPHER_MAX_WORDS),
            F.lit(1),
        ).otherwise(F.lit(0))
        + F.when(
            (F.col("mean_word_len_centi") < GOPHER_MIN_MEAN_WORD_LEN_CENTI)
            | (F.col("mean_word_len_centi") > GOPHER_MAX_MEAN_WORD_LEN_CENTI),
            F.lit(2),
        ).otherwise(F.lit(0))
        + F.when(
            F.col("alpha_word_ppm") < GOPHER_MIN_ALPHA_WORD_PPM, F.lit(4)
        ).otherwise(F.lit(0))
        + F.when(F.col("stop_hits") < GOPHER_MIN_STOP_HITS, F.lit(8)).otherwise(
            F.lit(0)
        )
    )


def bigram_logprob_micro_sql(
    c_vw: str = "c_vw",
    c_v: str = "c_v",
    c_w: str = "c_w",
    total_tok: str = "total_tok",
) -> str:
    """Per-bigram-occurrence surprisal in integer MICRO-nats under an
    interpolated bigram LM: ``-ln(0.7 * c_vw/c_v + 0.3 * c_w/T)``.

    ``c_v`` is the PREFIX count (bigrams starting with v), so the ML term
    is a proper conditional; the 0.3 unigram interpolation floor keeps the
    argument positive for any in-corpus bigram. One shared SQL string,
    fixed op order, scientific-notation literals (both engines parse bare
    decimals as DECIMAL — the pinned gotcha), exact-integer inputs cast to
    DOUBLE individually: bit-identical across engines, and the per-doc sum
    is an order-free integer. The probability never exceeds 1 (both terms
    are ratios <= 1 with weights summing to 1), so the value is >= 0.
    """
    ml = f"(CAST({c_vw} AS DOUBLE) / CAST({c_v} AS DOUBLE))"
    uni = f"(CAST({c_w} AS DOUBLE) / CAST({total_tok} AS DOUBLE))"
    return (
        f"CAST(floor(-ln(7e-1 * {ml} + 3e-1 * {uni}) * 1e6 + 5e-1) AS BIGINT)"
    )


def bigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Mean per-token surprisal under a corpus-fit INTERPOLATED BIGRAM LM —
    the step from the unigram CCNet proxy toward the KenLM-style gate
    production corpus filters use (real CCNet uses a 5-gram model; bigram
    with unigram interpolation is the same math one order up).

    Plan: the bigram stream explodes map-side (zip of the token array with
    its tail); its groupBy(v, w) exchange is REUSED by the score join
    (byte-identical subtree, same keys), so the corpus pays one
    bigram-keyed shuffle total. Prefix counts c_v derive from the bigram
    table (second-level aggregate over vocab-sized input, not a corpus
    pass); unigram counts and the corpus total ride the vocab aggregation;
    scalars broadcast one-row. Output: one row per doc with >= 1 bigram:
    (id, n_bigrams, surprisal_micro_sum BIGINT, mean_surprisal_nats
    DOUBLE).
    """
    t = tokens(F.col(text_col))
    bigram_arr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda v, w: F.struct(v.alias("v"), w.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<v:string,w:string>>"))
    big = df.select(F.col(id_col), F.explode(bigram_arr).alias("_b")).select(
        F.col(id_col), F.col("_b.v").alias("v"), F.col("_b.w").alias("w")
    )
    cb = big.groupBy("v", "w").agg(F.count("*").alias("c_vw"))
    cb = scoped_persist(cb)  # read twice: prefix counts + the score join
    cv = cb.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    toks = df.select(F.col(id_col), F.explode(t).alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c_w"))
    uni = scoped_persist(uni)  # read twice: total scalar + the score join
    total = uni.agg(F.sum("c_w").alias("total_tok"))
    scored = (
        big.join(cb, ["v", "w"])
        .join(cv, "v")
        .join(uni.withColumnRenamed("term", "w"), "w")
        .crossJoin(F.broadcast(total))
        .withColumn("micro", F.expr(bigram_logprob_micro_sql()))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("micro").alias("surprisal_micro_sum"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("surprisal_micro_sum").cast("bigint").alias("surprisal_micro_sum"),
        (
            F.col("surprisal_micro_sum").cast("double")
            / (F.lit(1000000.0) * F.col("n_bigrams").cast("double"))
        ).alias("mean_surprisal_nats"),
    )


#: BOS sentinel for LM padding — a control char no whitespace-split token
#: can equal unless the raw text contains \x01, in which case the model
#: degrades gracefully (the sentinel just becomes one more vocab entry).
LM_BOS = "\x01"


def trigram_logprob_micro_sql(
    c_uvw: str = "c_uvw",
    c_uv: str = "c_uv",
    c_vw: str = "c_vw",
    c_v: str = "c_v",
    c_w: str = "c_w",
    total_tok: str = "total_tok",
) -> str:
    """Per-trigram-occurrence surprisal in integer MICRO-nats under an
    interpolated trigram LM: ``-ln(0.5*c_uvw/c_uv + 0.3*c_vw/c_v +
    0.2*c_w/T)``. Same portability contract as the bigram form: one
    shared SQL string, fixed op order, scientific-notation float
    literals, exact-integer counts cast to DOUBLE individually; every
    ratio is <= 1 and the weights sum to 1, so the argument is in (0, 1]
    and the value is >= 0 — the per-doc sum is an order-free integer.
    """
    ml = f"(CAST({c_uvw} AS DOUBLE) / CAST({c_uv} AS DOUBLE))"
    bi = f"(CAST({c_vw} AS DOUBLE) / CAST({c_v} AS DOUBLE))"
    uni = f"(CAST({c_w} AS DOUBLE) / CAST({total_tok} AS DOUBLE))"
    return (
        f"CAST(floor(-ln(5e-1 * {ml} + 3e-1 * {bi} + 2e-1 * {uni})"
        f" * 1e6 + 5e-1) AS BIGINT)"
    )


def trigram_logprob_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Mean per-token surprisal under a corpus-fit INTERPOLATED TRIGRAM
    LM — one model order above :func:`bigram_logprob_scores`, one closer
    to the KenLM-style 5-gram gate CCNet uses in production.

    The double-BOS padding trick makes this CHEAPER per order than the
    bigram gate's plan, not costlier: padding every doc with two
    ``LM_BOS`` sentinels means each of the doc's n tokens is the tail of
    exactly one padded trigram, so the trigram table is a COMPLETE
    sufficient statistic — bigram counts (c_vw = sum over u), bigram
    prefix counts (c_v), unigram counts (c_w) and the corpus total
    (T = total tokens) are all second-level aggregates over the
    vocab-sized trigram table, never a second corpus pass. The corpus
    pays ONE (u,v,w)-keyed exchange (map-side combinable), which the
    score join then REUSES (byte-identical subtree, same keys); the
    lower-order sides are vocab-sized and broadcast under AQE (the
    Zipfian-skew story at 100x is measured in SCALE.md: AQE skew-join
    covers the hot-prefix keys, no hybrid needed).

    Output: one row per doc with >= 1 token:
    (id, n_tokens, surprisal_micro_sum BIGINT, mean_surprisal_nats
    DOUBLE) — n_tokens == the number of scored trigrams, by construction
    of the padding.
    """
    # the padded position stream comes from the Arrow kernel at order 3;
    # the broadcast-interpolation plan below is specific to this gate
    tri = _ngram_position_stream_kernel(df, id_col, text_col, 3).select(
        F.col(id_col),
        F.col("g1").alias("u"),
        F.col("g2").alias("v"),
        F.col("g3").alias("w"),
    )
    ct = tri.groupBy("u", "v", "w").agg(F.count("*").alias("c_uvw"))
    # read four times (prefix/tail/unigram rollups + the score join):
    # persist so the corpus-keyed exchange runs once
    ct = scoped_persist(ct)
    cuv = ct.groupBy("u", "v").agg(F.sum("c_uvw").alias("c_uv"))
    cvw = ct.groupBy("v", "w").agg(F.sum("c_uvw").alias("c_vw"))
    cvw = scoped_persist(cvw)  # read twice: c_v rollup + the score join
    cv = cvw.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    cw = ct.groupBy("w").agg(F.sum("c_uvw").alias("c_w"))
    cw = scoped_persist(cw)  # read twice: total scalar + the score join
    total = cw.agg(F.sum("c_w").alias("total_tok"))
    scored = (
        tri.join(ct, ["u", "v", "w"])
        .join(cuv, ["u", "v"])
        .join(cvw, ["v", "w"])
        .join(cv, "v")
        .join(cw, "w")
        .crossJoin(F.broadcast(total))
        .withColumn("micro", F.expr(trigram_logprob_micro_sql()))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("micro").alias("surprisal_micro_sum"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("surprisal_micro_sum").cast("bigint").alias("surprisal_micro_sum"),
        (
            F.col("surprisal_micro_sum").cast("double")
            / (F.lit(1000000.0) * F.col("n_tokens").cast("double"))
        ).alias("mean_surprisal_nats"),
    )



# Interpolation weights per model order, highest order first. Strings, not
# floats: the SAME scientific-notation literal must appear in both engines'
# SQL (bare decimals parse as DECIMAL on both Spark and DuckDB and their
# decimal division rounds differently — the round-5 lesson). Each weight set
# sums to 1 in the reals; as DOUBLEs the order-5 set's sum carries a ~2e-16
# float excess, so the -ln argument can exceed 1 by at most one ulp and the
# micro-nat value can be -0 before the floor(x*1e6 + 0.5) half-up rounding,
# which absorbs it back to exact integer 0 (ADVICE r8 #4: the rounding, not
# the weights, is what guarantees a non-negative exact integer).
NGRAM_WEIGHTS: dict[int, tuple[str, ...]] = {
    2: ("7e-1", "3e-1"),
    3: ("5e-1", "3e-1", "2e-1"),
    4: ("45e-2", "25e-2", "2e-1", "1e-1"),
    5: ("4e-1", "2e-1", "15e-2", "15e-2", "1e-1"),
}


def ngram_logprob_micro_sql(order: int) -> str:
    """Per-occurrence surprisal in integer MICRO-nats under an interpolated
    ``order``-gram LM, as ONE SQL string shared verbatim by Spark and the
    DuckDB oracle (fixed op order, scientific-notation literals, each count
    cast to DOUBLE individually). Expects columns ``c_k`` (count of the
    k-token suffix) for k = 1..order, ``x_k`` (count of that suffix's
    (k-1)-token prefix context) for k = 2..order, and ``total_tok``.
    """
    weights = NGRAM_WEIGHTS[order]
    terms = []
    for k in range(order, 1, -1):
        w = weights[order - k]
        terms.append(f"{w} * (CAST(c_{k} AS DOUBLE) / CAST(x_{k} AS DOUBLE))")
    terms.append(f"{weights[-1]} * (CAST(c_1 AS DOUBLE) / CAST(total_tok AS DOUBLE))")
    return f"CAST(floor(-ln({' + '.join(terms)}) * 1e6 + 5e-1) AS BIGINT)"


def _ngram_position_stream_kernel(
    df: DataFrame, id_col: str, text_col: str, order: int
) -> DataFrame:
    """The padded position stream ``(id, g1..gN)`` as ONE Arrow kernel —
    the §4.2 form of a JVM transform/element_at/struct/explode chain (r17;
    pinned bit-identical to that chain by
    test_ngram_stream_kernel_equals_explode, and graded by the DuckDB
    oracles of the trigram and n-gram gates). Per batch everything is vectorized C: one
    ``split_pattern`` tokenization, index arithmetic in numpy, and one
    zero-copy ``take`` per gram column over the flattened token values
    (+1 appended BOS sentinel all out-of-range positions point at) —
    the JVM chain materializes positions x order UTF8String copies
    through an interpreted HOF transform instead. Tokenization is the
    same single-space split (empty tokens kept, ``"" -> [""]``); null
    texts are dropped by the pre-filter exactly as the explode drops
    their empty arrays."""
    from pyspark.sql.types import StringType, StructField, StructType

    gcols = [f"g{i}" for i in range(1, order + 1)]
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[id_col]] + [StructField(c, StringType()) for c in gcols]
    )
    bos = LM_BOS

    def _batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            ids = batch.column(0)
            texts = batch.column(1)
            toks = pc.split_pattern(texts, pattern=" ")
            lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
            n_pos = int(lens.sum())
            if n_pos == 0:
                continue
            vals = pc.list_flatten(toks)
            # token values + one BOS sentinel; any padded position
            # (p + j < order-1) takes the sentinel index
            vals_ext = pa.concat_arrays(
                [vals.cast(pa.string()), pa.array([bos], type=pa.string())]
            )
            bos_idx = len(vals)
            doc_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            # flattened values are batch-contiguous: doc d's tokens start
            # at sum(lens[:d]) in vals
            tok_start = np.repeat(np.cumsum(lens) - lens, lens)
            pos = np.arange(n_pos, dtype=np.int64) - tok_start
            cols = []
            for j in range(order):
                k = pos + j - (order - 1)
                idx = np.where(k >= 0, tok_start + k, bos_idx)
                cols.append(pc.take(vals_ext, pa.array(idx)))
            id_out = pc.take(ids, pa.array(doc_idx))
            yield pa.RecordBatch.from_arrays(
                [id_out] + cols, names=[id_col] + gcols
            )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .where(F.col(text_col).isNotNull())
        .mapInArrow(_batches, out_schema)
    )


def ngram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order: int = 5,
) -> DataFrame:
    """Mean per-token surprisal under a corpus-fit interpolated
    ``order``-gram LM — the generalization the trigram gate's double-BOS
    trick promised (VERDICT r7 #4): at order 5 this is the KenLM-order
    gate CCNet actually uses in production.

    (order-1)-fold BOS padding makes every token the tail of EXACTLY ONE
    padded ``order``-gram, so the full-order table is a complete
    sufficient statistic: every lower-order suffix count (c_k), every
    prefix-context count (x_k), and the corpus total all roll up from it
    in a cascade of table-sized aggregations — adding a model order never
    adds a corpus pass. Plan shape — score the DISTINCT grams, then ONE
    stream join against the finished (gram -> micro) score table; this is
    deliberately NOT the bespoke bigram/trigram gates' shape (stream
    broadcast-joins every count table), which degrades to one corpus
    shuffle PER model order once the tables outgrow broadcast at 100 TB.
    The 4/5-gram heads live here; the 2/3 heads keep the bespoke shape by
    measurement (SCALE.md, n-gram order sweep).

    Two structural choices are fixed (both measured in SCALE.md,
    "singleton pruning + suffix-aligned cascade"; the A/B forms were
    output-identical):

    Suffix-aligned partitioning — the r8 breakdown probe showed the
    rollup CASCADE, not the corpus exchange, dominates the counter (27 of
    40.36 MB at order 5 / sf0.1): every s/x rollup re-exchanged a
    near-table-sized frame on its own key set. HashPartitioning on a
    SUBSET of the grouping keys satisfies ClusteredDistribution, so
    keying the corpus exchange on the last two tokens (g_{N-1}, g_N)
    makes every suffix rollup down to s2 exchange-free, and keying x_N's
    exchange on (g_{N-3+1}..g_{N-1}) makes the x-chain (x_k rolls up
    from x_{k+1} by summing out ITS first column — same identity as the
    s-chain) free down to x3. The price: the corpus exchange loses
    map-side combine (raw positions instead of distinct grams — +9% rows
    on this corpus), and the partitioning key is a token bigram, so a
    corpus with a pathologically hot trailing bigram inherits that skew
    in the cascade stage (AQE splits join skew, not aggregate skew).

    Singleton pruning — 94% of distinct 5-grams on diverse text are
    singletons (c_N = 1), and a singleton gram occurs at EXACTLY ONE
    corpus position in exactly one doc. Carrying min(id) through the
    corpus aggregation therefore lets the singleton rows' per-doc
    contribution aggregate TABLE-SIDE (groupBy that one doc id), so 86%
    of stream positions never participate in the stream-score join at
    any scale, and the score table the stream does join shrinks 18x —
    it stays broadcastable far further up the scale curve, and when it
    finally does shuffle, Catalyst's runtime bloom filter (enabled in
    session.py) has a small, selective build side to prune the stream
    scan with. Output is hash-identical to the unpruned shape BY
    CONSTRUCTION: the score build is one chain over ALL grams (identical
    joins, identical shared micro-nat SQL on identical bigint inputs),
    split only AFTERWARD into disjoint c_N=1 / c_N>=2 subsets whose
    per-doc partial sums (exact integers) recombine under an order-free
    sum — and graded by the DuckDB oracle, which scores every position
    directly.

    The cost that grows with order is the TABLE, not the pass count
    (measured curve and singleton shares in SCALE.md). Same output
    contract as the bigram/trigram gates: (id, n_tokens,
    surprisal_micro_sum BIGINT, mean_surprisal_nats DOUBLE), one row per
    doc with >= 1 token.
    """
    if order not in NGRAM_WEIGHTS:
        raise ValueError(f"order must be one of {sorted(NGRAM_WEIGHTS)}")
    gcols = [f"g{i}" for i in range(1, order + 1)]
    stream = _ngram_position_stream_kernel(df, id_col, text_col, order)
    # ONE corpus exchange, keyed on the deepest suffix every s-rollup
    # shares (last two tokens); the persisted exchanged stream ALSO serves
    # as the probe side of the final score join. Storage cost (ADVICE r9
    # #4): this persist holds the full POSITION stream (positions x order
    # token columns) at MEMORY_AND_DISK — a corpus-sized materialization.
    # At 100 TB that is a deliberate disk-for-shuffle trade: the persist
    # spills to local disk (sequential, node-local) to delete a full
    # cascade of cluster-wide exchanges; executors sized for the shuffle
    # an unaligned shape would do hold the same bytes anyway, just on the
    # wire.
    s_part = gcols[max(0, order - 2) :]
    stream = scoped_persist(stream.repartition(*s_part))
    # s[order] carries min(id): for a singleton gram (c_N = 1) this IS the
    # one doc holding its one occurrence — the column the table-side
    # per-doc aggregation keys on. min() is map-side combinable so the
    # extra column never changes the exchange structure.
    s: dict[int, DataFrame] = {}
    # lazy persist suffices: a suspected cache race between the parallel
    # broadcast job and the rollup stages was A/B-measured at order 5 and
    # does not exist — shuffle is byte-identical with and without an eager
    # materialize (the apparent win came from a flawed probe whose pruned
    # output columns dropped the context tables; SCALE.md, order sweep)
    s[order] = scoped_persist(
        stream.groupBy(*gcols).agg(
            F.count("*").alias(f"c_{order}"), F.min(id_col).alias("_one_doc")
        )
    )
    for k in range(order - 1, 0, -1):
        keys = gcols[order - k :]
        s[k] = scoped_persist(
            s[k + 1].groupBy(*keys).agg(F.sum(f"c_{k + 1}").alias(f"c_{k}"))
        )
    # prefix-context counts: x_k sums c_k over the suffix's LAST token, so
    # x[order] aggregates s[order] and — because summing out x_{k+1}'s
    # FIRST column yields exactly x_k — every lower x rolls up from its
    # parent x. x[order]'s one exchange is keyed on the two tokens every
    # x-rollup's keys share (ending at g_{N-1}), making the x-chain
    # exchange-free below it.
    x: dict[int, DataFrame] = {}
    xN = s[order].select(*gcols[:-1], f"c_{order}")
    x_part = gcols[max(0, order - 3) : order - 1]
    if x_part:
        xN = xN.repartition(*x_part)
    x[order] = scoped_persist(
        xN.groupBy(*gcols[:-1]).agg(F.sum(f"c_{order}").alias(f"x_{order}"))
    )
    for k in range(order - 1, 1, -1):
        keys = gcols[order - k : order - 1]
        x[k] = scoped_persist(
            x[k + 1].groupBy(*keys).agg(F.sum(f"x_{k + 1}").alias(f"x_{k}"))
        )
    total = s[1].agg(F.sum("c_1").alias("total_tok"))
    # score each DISTINCT order-gram once, in ONE chain over ALL grams
    # (the hash-identity of the singleton split rests on this):
    # table-vs-table interpolation joins, then the shared micro-nat
    # expression.
    score_table = s[order]
    for k in range(order, 1, -1):
        score_table = score_table.join(x[k], gcols[order - k : order - 1])
    for k in range(order - 1, 0, -1):
        score_table = score_table.join(s[k], gcols[order - k :])
    score_table = scoped_persist(
        score_table.crossJoin(F.broadcast(total))
        .withColumn("micro", F.expr(ngram_logprob_micro_sql(order)))
        .select(*gcols, f"c_{order}", "_one_doc", "micro")
    )
    # singleton tail: per-doc contribution aggregated table-side — these
    # positions never join the stream
    sing = (
        score_table.filter(F.col(f"c_{order}") == 1)
        .groupBy(F.col("_one_doc").alias(id_col))
        .agg(
            F.count("*").alias("_n"),
            F.sum("micro").alias("_m"),
        )
    )
    pruned = score_table.filter(F.col(f"c_{order}") >= 2).select(*gcols, "micro")
    # the string key keeps this join compatible with the stream's
    # trailing-bigram partitioning (HashPartitioning on a subset of the
    # join keys); a 128-bit fingerprint key was measured and rejected
    # (SCALE.md, "fp128 stream-score join key A/B")
    nonsing = (
        stream.join(pruned, gcols)
        .groupBy(id_col)
        .agg(F.count("*").alias("_n"), F.sum("micro").alias("_m"))
    )
    scored = (
        nonsing.unionByName(sing)
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_tokens"),
            F.sum("_m").alias("surprisal_micro_sum"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("surprisal_micro_sum").cast("bigint").alias("surprisal_micro_sum"),
        (
            F.col("surprisal_micro_sum").cast("double")
            / (F.lit(1000000.0) * F.col("n_tokens").cast("double"))
        ).alias("mean_surprisal_nats"),
    )


# ---------------------------------------------------------------------------
# Gopher REPETITION rules (Rae et al. 2021 Table A1 — the other half of the
# quality gate gopher_quality_flags implements). Thresholds are the paper's:
# a document is removed when any fraction EXCEEDS its bound.
GOPHER_REP_MAX_DUP_LINE_PPM = 300_000        # duplicate-line fraction  > 0.30
GOPHER_REP_MAX_DUP_PARA_PPM = 300_000        # duplicate-paragraph frac > 0.30
GOPHER_REP_MAX_DUP_LINE_CHAR_PPM = 200_000   # chars in dup lines       > 0.20
GOPHER_REP_MAX_DUP_PARA_CHAR_PPM = 200_000   # chars in dup paragraphs  > 0.20
GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM = {2: 200_000, 3: 180_000, 4: 160_000}
GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM = {
    5: 150_000, 6: 140_000, 7: 130_000, 8: 120_000, 9: 110_000, 10: 100_000,
}


def gopher_repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 Table A1): duplicate-line
    and duplicate-paragraph fractions (row and character weighted),
    top-{2,3,4}-gram character share, and duplicate-{5..10}-gram character
    share, each as fixed-point ppm, plus the flag bitmask and keep
    decision. The filter every public LLM curation pipeline (Gopher,
    RefinedWeb, FineWeb) runs alongside the heuristic rules of
    :func:`gopher_quality_flags`.

    Semantics (pinned so both engines agree exactly):

    * lines split on ``\\n``, paragraphs on ``\\n\\n``; empty segments are
      dropped on both sides. "Duplicate" = occurrences beyond the first of
      an identical segment; the char-weighted form divides chars of ALL
      duplicate occurrences (total minus one budget per distinct value) by
      total segment chars.
    * word metrics tokenize the whitespace-NORMALIZED text (``\\s+`` -> one
      space, trimmed); n-grams are space-joined word windows; the char
      denominator is the normalized text length; a gram's chars = its
      joined string length (Gopher leaves tokenizer/char accounting
      unspecified — this choice is exact-integer on any engine).
    * ties for "most frequent n-gram" resolve to the lexicographically
      smallest gram so the numerator is engine-independent; a top gram
      occurring ONCE is not repetition (numerator 0).

    Entirely MAP-SIDE like :func:`gopher_quality_flags` — every metric is
    computed per row by one Arrow kernel pass (:func:`_gate_row_stats`,
    zero exchanges); at 100 TB the gate runs at parquet scan speed, and no
    corpus-wide gram table is ever shuffled. All fractions are truncating
    integer ppm, so the grade is bit-exact on any engine.

    Flag bits (set when the fraction EXCEEDS the Gopher bound): 1
    dup-line, 2 dup-line-chars, 4 dup-para, 8 dup-para-chars, 16/32/64
    top-2/3/4-gram chars, 128..4096 dup-5..10-gram chars.
    """
    # Arrow kernel (one native pass per batch; identical integers) — the
    # JVM fold-chain reference lives in tests/reference_forms.py and the
    # equality is pinned by test_gopher_repetition_arrow_equals_hof.
    import pandas as pd

    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    in_fields = {f.name: f for f in df.schema.fields}
    ppm_names = (
        [
            "dup_line_frac_ppm",
            "dup_line_char_frac_ppm",
            "dup_para_frac_ppm",
            "dup_para_char_frac_ppm",
        ]
        + [f"top{n}_char_frac_ppm" for n in GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM]
        + [f"dup{n}_char_frac_ppm" for n in GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM]
    )
    out_schema = StructType(
        [in_fields[id_col]]
        + [StructField(c, LongType()) for c in ["n_lines", "n_paras"] + ppm_names]
        + [StructField("rep_flags", LongType()), StructField("keep", BooleanType())]
    )

    def _batches(it):
        for pdf in it:
            stats = [_gate_row_stats(t) for t in pdf[text_col]]
            out = pd.DataFrame({id_col: pdf[id_col]})
            out["n_lines"] = pd.Series(
                [s[2] for s in stats], dtype="int64", index=pdf.index
            )
            out["n_paras"] = pd.Series(
                [s[3] for s in stats], dtype="int64", index=pdf.index
            )
            for i, c in enumerate(ppm_names):
                out[c] = pd.Series(
                    [s[4][i] for s in stats], dtype="int64", index=pdf.index
                )
            out["rep_flags"] = pd.Series(
                [s[1] for s in stats], dtype="int64", index=pdf.index
            )
            out["keep"] = out["rep_flags"] == 0
            yield out

    return df.select(id_col, text_col).mapInPandas(_batches, out_schema)


def _gate_row_stats(raw: str, _stop=None, _alpha=None) -> tuple:
    """(gopher_flags, rep_flags, n_lines, n_paras, [13 rep ppms in flag-bit
    order]) of one document — the exact integer semantics of
    :func:`_gopher_quality_flags_expr` over
    :func:`_gopher_quality_base_cols` and of the repetition rules' flag
    bitmask, computed in one native pass.

    Every statistic is an exact integer (counts, code-point lengths,
    truncating ppm divisions), so this agrees bit-for-bit with the JVM
    fold chain in tests/reference_forms.py (pinned by
    test_gopher_combined_gate_arrow_equals_hof):

    * quality tokens = ``raw.split(" ")`` (the ``tokens()`` convention:
      literal single-space split, trailing empties kept — identical to
      Java ``split(regex, -1)`` for this pattern);
    * lines/paras split on ``\\n`` / ``\\n\\n`` with empty segments
      dropped; word metrics tokenize the whitespace-normalized text
      (Java ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]`` exactly — NOT Python's
      Unicode-aware ``\\s``);
    * n-gram order ties resolve to the lexicographically smallest joined
      gram. Grams are compared as rank-coded token sequences: ranks come
      from the sorted distinct tokens, and because the separator space
      (0x20) sorts below every possible token character, token-sequence
      rank order equals joined-string order (Spark/DuckDB compare UTF-8
      bytes; Python compares code points — the same total order).
    """
    import numpy as np

    if _stop is None:
        _stop = frozenset(LANG_STOPWORDS["en"])
    if _alpha is None:
        import re as _re

        _alpha = _re.compile(r"[A-Za-z]").search
    raw = raw if raw is not None else ""

    # -- quality base stats (tokens of the RAW text, split on ' ') --------
    toks = raw.split(" ")
    n_words = len(toks)
    total_word_chars = sum(map(len, toks))
    alpha_words = sum(1 for t in toks if _alpha(t))
    stop_hits = sum(1 for t in toks if t in _stop)
    mean_word_len_centi = (100 * total_word_chars) // n_words if n_words else 0
    alpha_word_ppm = (1000000 * alpha_words) // n_words if n_words else 0
    gopher_flags = (
        (1 if (n_words < GOPHER_MIN_WORDS or n_words > GOPHER_MAX_WORDS) else 0)
        + (
            2
            if (
                mean_word_len_centi < GOPHER_MIN_MEAN_WORD_LEN_CENTI
                or mean_word_len_centi > GOPHER_MAX_MEAN_WORD_LEN_CENTI
            )
            else 0
        )
        + (4 if alpha_word_ppm < GOPHER_MIN_ALPHA_WORD_PPM else 0)
        + (8 if stop_hits < GOPHER_MIN_STOP_HITS else 0)
    )

    # -- repetition stats --------------------------------------------------
    def _ppm(num: int, den: int) -> int:
        return (1000000 * num) // den if den > 0 else 0

    lines = [s for s in raw.split("\n") if s != ""]
    paras = [s for s in raw.split("\n\n") if s != ""]
    dl = set(lines)
    dp = set(paras)
    n_lines, nd_lines = len(lines), len(dl)
    lc_tot, lc_dist = sum(map(len, lines)), sum(map(len, dl))
    n_paras, nd_paras = len(paras), len(dp)
    pc_tot, pc_dist = sum(map(len, paras)), sum(map(len, dp))

    norm = _JAVA_WS.sub(" ", raw).strip(" ")
    wt = norm.split(" ")
    L = len(wt)
    den_chars = len(norm)
    # rank-coded tokens: rank order == joined-gram string order (docstring)
    vocab = {w: i for i, w in enumerate(sorted(set(wt)))}
    ids = np.fromiter((vocab[w] for w in wt), dtype=np.int32, count=L)
    lens = np.fromiter(map(len, wt), dtype=np.int64, count=L)
    pref = np.concatenate(([0], np.cumsum(lens)))

    def gram_metrics(n: int, want_top: bool) -> int:
        g = L - n + 1
        if g <= 0:
            return 0
        win = np.lib.stride_tricks.sliding_window_view(ids, n)
        uniq, first, counts = np.unique(
            win, axis=0, return_index=True, return_counts=True
        )
        glen = pref[first + n] - pref[first] + (n - 1)
        if want_top:
            cmax = int(counts.max())
            if cmax < 2:
                return 0
            tied = np.flatnonzero(counts == cmax)
            if len(tied) > 1:
                # numeric row-lexicographic min (np.unique's axis order is
                # byte-wise on the raw dtype, not guaranteed numeric)
                rows = uniq[tied]
                tied = tied[np.lexsort(rows.T[::-1])[:1]]
            return cmax * int(glen[tied[0]])
        dup = counts > 1
        return int((counts[dup] * glen[dup]).sum())

    ppms = [
        _ppm(n_lines - nd_lines, n_lines),
        _ppm(lc_tot - lc_dist, lc_tot),
        _ppm(n_paras - nd_paras, n_paras),
        _ppm(pc_tot - pc_dist, pc_tot),
    ]
    bounds = [
        GOPHER_REP_MAX_DUP_LINE_PPM,
        GOPHER_REP_MAX_DUP_LINE_CHAR_PPM,
        GOPHER_REP_MAX_DUP_PARA_PPM,
        GOPHER_REP_MAX_DUP_PARA_CHAR_PPM,
    ]
    for n, thr in GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM.items():
        ppms.append(_ppm(gram_metrics(n, True), den_chars))
        bounds.append(thr)
    for n, thr in GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM.items():
        ppms.append(_ppm(gram_metrics(n, False), den_chars))
        bounds.append(thr)
    rep_flags = 0
    bit = 1
    for p, thr in zip(ppms, bounds):
        if p > thr:
            rep_flags += bit
        bit *= 2
    return gopher_flags, rep_flags, n_lines, n_paras, ppms


# Java regex \s (non-Unicode default) — what regexp_replace(raw, r"\s+")
# matches in Spark. Python's \s would additionally match Unicode spaces.
import re as _re_mod

_JAVA_WS = _re_mod.compile(r"[ \t\n\x0B\f\r]+")


def gopher_combined_gate(
    df: DataFrame, id_col: str, text_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The Gopher quality gate AND the Gopher repetition gate fused into
    ONE corpus scan: both rule families' statistics come out of one
    per-row pass (:func:`_gate_row_stats`), so the combined keep decision
    costs one read of the text instead of two scans + a doc_id keep-set
    join — at 100 TB the text scans dominate the gate stage, so this
    halves it. Returns ``(id_col, gopher_flags, rep_flags, keep,
    *carry)`` with keep = both bitmasks zero; the per-row stats are the
    same ones :func:`gopher_repetition_stats` computes and the same
    integers :func:`gopher_quality_flags` derives, so keep here ==
    ``gopher_quality_flags(...).keep AND gopher_repetition_stats(...).keep``
    row for row (pinned by test).

    ``carry`` names input columns to pass through (e.g. the text itself):
    a consumer that needs gated ROWS, not just gated ids, carries them
    here and skips the join back onto the corpus entirely — the id-keyed
    exchange that join costs at scale never happens. Carried columns
    cross the Python boundary — carry what downstream actually needs,
    not the whole row."""
    # the kernel outputs (id, gopher_flags, rep_flags, keep, *carry): a
    # carried column named like one of the others would duplicate it and
    # fail later with AMBIGUOUS_REFERENCE instead of this actionable error
    # (the build_ivf_*_index guard convention)
    clash = {id_col, "gopher_flags", "rep_flags", "keep"}.intersection(carry)
    if clash:
        raise ValueError(
            f"gopher_combined_gate: carry column(s) {sorted(clash)} collide "
            "with the gate's output columns or the id column — rename them "
            "upstream"
        )
    # One Arrow pass over (id, text, carry): both rule families' statistics
    # are exact integers over per-row token/segment arrays, so the whole
    # gate is a map-side kernel — guide-§4.2 shape: Spark does the scan and
    # distribution, the per-batch loop runs native (numpy window-unique for
    # the 9 gram metrics, C-level splits/sets for the rest). The
    # interpreted JVM HOF fold chain (9 array_sorts + struct-accumulator
    # aggregates per row — measured 2.6x slower at sf0.1) survives as the
    # test reference, pinned bit-for-bit by
    # test_gopher_combined_gate_arrow_equals_hof. Only the columns the
    # consumer asked for cross the Python boundary.
    import pandas as pd

    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    in_fields = {f.name: f for f in df.schema.fields}
    in_cols = [id_col, text_col] + [c for c in carry if c != text_col]
    out_schema = StructType(
        [in_fields[id_col]]
        + [
            StructField("gopher_flags", LongType()),
            StructField("rep_flags", LongType()),
            StructField("keep", BooleanType()),
        ]
        + [in_fields[c] for c in carry]
    )
    stop = frozenset(LANG_STOPWORDS["en"])
    alpha = _re_mod.compile(r"[A-Za-z]").search

    def _gate_batches(it):
        for pdf in it:
            stats = [
                _gate_row_stats(t, stop, alpha) for t in pdf[text_col]
            ]
            out = pd.DataFrame({id_col: pdf[id_col]})
            out["gopher_flags"] = pd.Series(
                [s[0] for s in stats], dtype="int64", index=pdf.index
            )
            out["rep_flags"] = pd.Series(
                [s[1] for s in stats], dtype="int64", index=pdf.index
            )
            out["keep"] = (out["gopher_flags"] == 0) & (out["rep_flags"] == 0)
            for c in carry:
                out[c] = pdf[c]
            yield out

    return df.select(*in_cols).mapInPandas(_gate_batches, out_schema)
