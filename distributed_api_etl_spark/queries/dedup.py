"""Dedup-family graded queries over the ``documents`` table.

Jaccard values are reported as integer parts-per-million (``jaccard_ppm`` =
floor(1e6 * inter / union) via integer division) so threshold and output are
bit-exact on both engines — no float rounding at the compare boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_api_etl_spark.functions.portable import portable_hash32_sql
from distributed_api_etl_spark.operators import dedup as D
from distributed_api_etl_spark.queries.registry import REGISTRY, fan_out, register, table

# --- shared oracle CTE fragments -------------------------------------------
def shingle_ctes(src: str = "documents") -> str:
    """toks/sh/sizes CTE block over any (doc_id, text) relation — the
    curation pipeline reuses it over its gopher-gated subset."""
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
sh AS (SELECT DISTINCT doc_id, s FROM toks,
       UNNEST(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) u(s)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""


SHINGLE_CTES = shingle_ctes()

PAIRS_CTE = """
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""


def _ppm(inter: str, union: str) -> str:
    return f"(1000000 * {inter}) // ({union})"


# --- exact dedup ------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents"))
    return D.exact_fingerprint_groups(docs, "doc_id", "text")


# --- n-gram Jaccard ---------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLE_CTES}, {PAIRS_CTE}
    SELECT p.d1, p.d2,
           {_ppm('p.inter', 's1.sz + s2.sz - p.inter')} AS jaccard_ppm
    FROM pairs p
    JOIN sizes s1 ON s1.doc_id = p.d1
    JOIN sizes s2 ON s2.doc_id = p.d2
    WHERE 100 * p.inter >= 80 * (s1.sz + s2.sz - p.inter)
    """,
    bench=True,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents"))
    return D.jaccard_pairs(docs, "doc_id", "text", 3, 80).select(
        "d1", "d2", F.expr("div(1000000 * inter, union_sz)").alias("jaccard_ppm")
    )


# --- MinHash + LSH ----------------------------------------------------------
def _minhash_sig_sql() -> str:
    hashes = ",\n        ".join(
        f"min(({D.MINHASH_A[i]} * xh + {D.MINHASH_B[i]}) % {D.MINHASH_P}) AS h{i}"
        for i in range(D.N_HASHES)
    )
    return f"""
sigx AS (SELECT doc_id, {portable_hash32_sql('s')} AS xh FROM sh),
sigs AS (SELECT doc_id,
        {hashes}
        FROM sigx GROUP BY doc_id)
"""


def _lsh_cand_sql(extra_cond: str = "") -> str:
    n_bands = D.N_HASHES // D.BAND_ROWS
    joins = []
    for b in range(n_bands):
        cols = [f"h{b * D.BAND_ROWS + r}" for r in range(D.BAND_ROWS)]
        cond = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        joins.append(
            f"SELECT a.doc_id AS d1, b.doc_id AS d2 FROM sigs a "
            f"JOIN sigs b ON a.doc_id < b.doc_id AND {cond}{extra_cond}"
        )
    return "cands AS (SELECT DISTINCT d1, d2 FROM (" + " UNION ALL ".join(joins) + "))"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {SHINGLE_CTES}, {_minhash_sig_sql()}, {_lsh_cand_sql()}, {PAIRS_CTE}
    SELECT p.d1, p.d2,
           {_ppm('p.inter', 's1.sz + s2.sz - p.inter')} AS jaccard_ppm
    FROM pairs p
    JOIN cands c ON c.d1 = p.d1 AND c.d2 = p.d2
    JOIN sizes s1 ON s1.doc_id = p.d1
    JOIN sizes s2 ON s2.doc_id = p.d2
    WHERE 100 * p.inter >= 70 * (s1.sz + s2.sz - p.inter)
    """,
    bench=True,
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents"))
    return D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).select(
        "d1", "d2", F.expr("div(1000000 * inter, union_sz)").alias("jaccard_ppm")
    )


# --- incremental MinHash (new ingest batch vs existing corpus) --------------
# tier split for the graded query: docs with doc_id % 5 == 0 are the "new"
# ingest batch, the rest are the standing corpus.
_NEW_TIER = "doc_id % 5 = 0"


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {SHINGLE_CTES}, {_minhash_sig_sql()},
    {_lsh_cand_sql(" AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)")}, {PAIRS_CTE}
    SELECT p.d1, p.d2,
           {_ppm('p.inter', 's1.sz + s2.sz - p.inter')} AS jaccard_ppm,
           ((p.d1 % 5 = 0) <> (p.d2 % 5 = 0)) AS cross_tier
    FROM pairs p
    JOIN cands c ON c.d1 = p.d1 AND c.d2 = p.d2
    JOIN sizes s1 ON s1.doc_id = p.d1
    JOIN sizes s2 ON s2.doc_id = p.d2
    WHERE 100 * p.inter >= 70 * (s1.sz + s2.sz - p.inter)
    """,
    bench=True,
    tags=("dedup", "pipeline"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup (operators/dedup.py:incremental_lsh_pairs):
    the new batch (doc_id % 5 == 0) collides against the standing corpus and
    itself via band buckets — the corpus never self-joins, which is what
    makes re-ingest dedup affordable against a 100 TB standing corpus.
    ``cross_tier`` marks corpus-vs-new pairs (vs new-vs-new)."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    new_batch = docs.where(F.expr(_NEW_TIER))
    corpus = docs.where(~F.expr(_NEW_TIER))
    pairs = D.incremental_lsh_pairs(new_batch, corpus, "doc_id", "text", 3, 70)
    return pairs.select(
        "d1",
        "d2",
        F.expr("div(1000000 * inter, union_sz)").alias("jaccard_ppm"),
        ((F.col("d1") % 5 == 0) != (F.col("d2") % 5 == 0)).alias("cross_tier"),
    )


# --- SimHash ----------------------------------------------------------------
def _simhash_sig_sql(bits: int = 32) -> str:
    sums = ",\n        ".join(
        f"sum(cnt * (((xh >> {j}) & 1) * 2 - 1)) AS s{j}" for j in range(bits)
    )
    terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
tokc AS (SELECT doc_id, tok, count(*) AS cnt
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY doc_id, tok),
hashed AS (SELECT doc_id, cnt, {portable_hash32_sql('tok')} AS xh FROM tokc),
sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
simsigs AS (SELECT doc_id, {terms} AS simhash FROM sums)
"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_sig_sql()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM simsigs a JOIN simsigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents"))
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=2).select(
        "d1", "d2", F.col("hamming").cast("int").alias("hamming")
    )


# --- embedding cosine near-dup ---------------------------------------------
@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_api_etl_spark.operators.similarity import cosine_pairs

    emb = fan_out(table(spark, sf_dir, "embeddings"))
    return cosine_pairs(emb, "vec_id", "embedding", threshold=0.3)


# --- embedding LSH near-dup (the bucketed scale path) -----------------------
# band_bits=8 keeps the expected per-band bucket population ~n/256 — at the
# bench scale (2000 vectors) that is ~60k candidate pairs vs ~1M at the old
# band_bits=4, and the exact-cosine verify on candidates is the dominant cost
# (SCALE.md scale law; lsh_params_for encodes the same dial for real corpora).
# Recall at a given threshold is governed by n_bands (kept at 8); the oracle
# mirrors the identical planes/bands so parity is parameter-independent.
EMB_DIM = 64
LSH_PLANES = 64
LSH_BAND_BITS = 8


def _emb_lsh_oracle(threshold: float) -> str:
    """DuckDB mirror of operators/similarity.py:embedding_lsh_pairs — same
    fixed hyperplanes, same bands, same exact-cosine verify (the MinHash
    oracle pattern: the LSH semantics themselves are cross-engine checked).
    """
    from distributed_api_etl_spark.operators.similarity import hyperplanes

    planes = hyperplanes(LSH_PLANES, EMB_DIM)
    bits = ",\n      ".join(
        f"CASE WHEN list_dot_product(v, [{','.join(str(x) for x in p)}]) > 0 "
        f"THEN 1 ELSE 0 END AS bit{j}"
        for j, p in enumerate(planes)
    )
    n_bands = LSH_PLANES // LSH_BAND_BITS
    band_cols = []
    for b in range(n_bands):
        terms = " + ".join(
            f"bit{b * LSH_BAND_BITS + r} * {1 << (LSH_BAND_BITS - 1 - r)}"
            for r in range(LSH_BAND_BITS)
        )
        band_cols.append(f"{terms} AS band{b}")
    band_joins = " UNION ALL ".join(
        f"SELECT a.vec_id AS d1, b.vec_id AS d2 FROM bands a "
        f"JOIN bands b ON a.vec_id < b.vec_id AND a.band{b} = b.band{b}"
        for b in range(n_bands)
    )
    return f"""
    WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (SELECT vec_id,
      {bits}
      FROM vecs),
    bands AS (SELECT vec_id, {', '.join(band_cols)} FROM sig),
    cands AS (SELECT DISTINCT d1, d2 FROM ({band_joins}))
    SELECT c.d1, c.d2,
           round(list_cosine_similarity(x.v, y.v), 6) AS cosine
    FROM cands c
    JOIN vecs x ON x.vec_id = c.d1
    JOIN vecs y ON y.vec_id = c.d2
    WHERE list_cosine_similarity(x.v, y.v) >= {threshold}
    """


@register(
    "dedup_embedding_lsh",
    oracle=_emb_lsh_oracle(0.3),
    bench=True,
    tags=("dedup", "similarity"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed near-dup over embeddings — the scale path
    (candidates from band equi-joins, exact cosine verify); output is a
    verified subset of dedup_embedding_cosine with identical cosines."""
    from distributed_api_etl_spark.operators.similarity import embedding_lsh_pairs

    emb = fan_out(table(spark, sf_dir, "embeddings"))
    return embedding_lsh_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=0.3,
        dim=EMB_DIM,
        n_planes=LSH_PLANES,
        band_bits=LSH_BAND_BITS,
    )


# --- near-dup clustering (connected components over MinHash pairs) ----------
@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {SHINGLE_CTES}, {_minhash_sig_sql()}, {_lsh_cand_sql()}, {PAIRS_CTE},
    dup_pairs AS (
      SELECT p.d1, p.d2
      FROM pairs p
      JOIN cands c ON c.d1 = p.d1 AND c.d2 = p.d2
      JOIN sizes s1 ON s1.doc_id = p.d1
      JOIN sizes s2 ON s2.doc_id = p.d2
      WHERE 100 * p.inter >= 70 * (s1.sz + s2.sz - p.inter)
    ),
    sym AS (SELECT d1 AS a, d2 AS b FROM dup_pairs
            UNION SELECT d2, d1 FROM dup_pairs),
    reach(v, w) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT r.v, s.b FROM reach r JOIN sym s ON r.w = s.a
    ),
    comp AS (SELECT v AS doc_id, min(w) AS cluster_id FROM reach GROUP BY v)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS is_keep
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
    tags=("dedup", "graph"),
    # promoted r10 (VERDICT r9 #3): held graded=False while
    # dedup_clusters_two_phase graded the identical contract, but its own
    # driver evidence had aged to r2/r3 — the only entries that old — so
    # it rejoins the rotation for fresh evidence on the label-prop path.
    graded=True,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise near-dups -> canonical clusters: connected components
    (min-label propagation, operators/graph.py) over the MinHash+LSH pair
    graph, then a full-corpus cluster map with is_keep markers — the actual
    'which docs ship' answer a training-data pipeline needs."""
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment

    docs = fan_out(table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).select("d1", "d2")
    return dedup_cluster_assignment(pairs, docs, "doc_id")


@register(
    "dedup_clusters_two_phase",
    oracle=REGISTRY["dedup_clusters"].oracle,  # same semantics, same oracle
    # bench head (r5): wall-time evidence must track the algorithm the driver
    # grades — the O(log n) star-contraction, not the label-prop library tier.
    bench=True,
    tags=("dedup", "graph"),
)
def dedup_clusters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster map as dedup_clusters, computed with large-star/
    small-star contraction (O(log n) rounds on ANY graph shape — the
    long-chain-safe scale path promised in SCALE.md, now graded against
    the identical recursive-CTE oracle rather than only property-tested)."""
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment

    docs = fan_out(table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).select("d1", "d2")
    return dedup_cluster_assignment(pairs, docs, "doc_id", algorithm="two_phase")


@register(
    "documents_leakage_safe_split",
    oracle=f"""
    SELECT m.doc_id, m.cluster_id,
           CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster_id,
             {portable_hash32_sql("'split:' || CAST(cluster_id AS VARCHAR)")}
               % 100 AS h
      FROM ({REGISTRY["dedup_clusters"].oracle}) c
    ) m
    """,
    tags=("dedup", "ml", "pipeline"),
    # graded since round 6 (VERDICT r5 #1): entered graded=False under the
    # r4 registry freeze, flipped once the freeze completed at 135/135.
)
def documents_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that near-duplicates cannot straddle
    (operators/sampling.py:leakage_safe_split): the split hash keys on the
    near-dup CLUSTER id from the two-phase component map, so every member
    of a dup cluster — including ones discovered between runs — lands in
    the same split. Splitting by doc hash instead silently turns eval into
    a memorization test; this is the structural fix, and it is map-side
    free on top of the clustering the pipeline already runs."""
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment
    from distributed_api_etl_spark.operators.sampling import leakage_safe_split

    docs = fan_out(table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).select("d1", "d2")
    clusters = dedup_cluster_assignment(pairs, docs, "doc_id", algorithm="two_phase")
    return leakage_safe_split(clusters, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


@register(
    "dedup_keep_corpus_stats",
    oracle=f"""
    SELECT d.source,
           count(*) AS n_docs_total,
           CAST(sum(CASE WHEN m.is_keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           CAST(sum(CASE WHEN m.is_keep
                    THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM ({REGISTRY["dedup_clusters"].oracle}) m
    JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY d.source
    """,
    tags=("dedup", "pipeline"),
)
def dedup_keep_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: per-source corpus counts
    BEFORE vs AFTER near-dup removal (keep = cluster canonical), plus the
    surviving token budget — MinHash pairs -> connected components ->
    is_keep filter -> one aggregation, composed end to end and graded as
    one query."""
    from distributed_api_etl_spark.functions.textfns import tokens
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment

    docs = fan_out(table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).select("d1", "d2")
    cluster_map = dedup_cluster_assignment(pairs, docs, "doc_id")
    return (
        docs.select("doc_id", "source", F.size(tokens(F.col("text"))).alias("n_toks"))
        .join(cluster_map, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_total"),
            F.sum(F.when(F.col("is_keep"), 1).otherwise(0)).alias("n_docs_kept"),
            F.sum(F.when(F.col("is_keep"), F.col("n_toks")).otherwise(0)).alias(
                "tokens_kept"
            ),
        )
    )


def _lsh_recall_oracle() -> str:
    """Exhaustive pairs vs LSH-found pairs at the same threshold — recall
    of the sub-quadratic path, measured, in a graded row."""
    lsh = _emb_lsh_oracle(0.3)
    return f"""
    WITH exact_pairs AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.3),
    lsh_pairs AS (SELECT d1, d2 FROM ({lsh}))
    SELECT CAST((SELECT count(*) FROM exact_pairs) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM lsh_pairs) AS BIGINT) AS n_lsh,
           CAST((1000000 * (SELECT count(*) FROM lsh_pairs))
                // (SELECT count(*) FROM exact_pairs) AS BIGINT) AS recall_ppm
    """


@register(
    "dedup_lsh_recall_report",
    oracle=_lsh_recall_oracle(),
    tags=("dedup", "similarity", "quality"),
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: the LSH scale path's recall against the
    exhaustive cosine tier at the same threshold, as a graded row
    (LSH output is a verified SUBSET of the exact pairs — identical
    cosines — so recall is a pure count ratio). At production thresholds
    (>=0.9) recall -> 1 with strong pruning; at the graded 0.3 threshold
    the measured ppm documents the approximation honestly. At 100 TB only
    the LSH tier runs; this report is the calibration job you run on a
    sample to pick n_planes/band_bits (lsh_params_for)."""
    from distributed_api_etl_spark.operators.similarity import (
        cosine_pairs,
        embedding_lsh_pairs,
    )
    from distributed_api_etl_spark.session import scoped_persist

    emb = scoped_persist(fan_out(table(spark, sf_dir, "embeddings")))
    exact_n = cosine_pairs(emb, "vec_id", "embedding", threshold=0.3).agg(
        F.count("*").alias("n_exact")
    )
    lsh_n = embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.3, dim=EMB_DIM,
        n_planes=LSH_PLANES, band_bits=LSH_BAND_BITS,
    ).agg(F.count("*").alias("n_lsh"))
    return (
        exact_n.crossJoin(lsh_n)
        .withColumn("recall_ppm", F.expr("div(1000000 * n_lsh, n_exact)"))
    )


@register(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH {SHINGLE_CTES}, {_minhash_sig_sql()}, {_lsh_cand_sql()}, {PAIRS_CTE},
    dup_pairs AS (
      SELECT p.d1, p.d2
      FROM pairs p
      JOIN cands c ON c.d1 = p.d1 AND c.d2 = p.d2
      JOIN sizes s1 ON s1.doc_id = p.d1
      JOIN sizes s2 ON s2.doc_id = p.d2
      WHERE 100 * p.inter >= 70 * (s1.sz + s2.sz - p.inter)),
    srcd AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM dup_pairs
      JOIN documents da ON da.doc_id = d1
      JOIN documents db ON db.doc_id = d2)
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM srcd GROUP BY source_a, source_b
    """,
    tags=("dedup", "pipeline"),
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate which: near-dup pair counts per unordered
    source pair — the provenance view that tells a curation team whether
    cross-source mirroring (drop one feed) or within-source churn (fix
    the crawler) dominates. Pure composition: the MinHash+LSH pair graph
    joined back to the documents' source column (two broadcast-sized
    lookups against the tiny pair set), then a tiny matrix aggregation."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).select("d1", "d2")
    src = docs.select("doc_id", "source")
    joined = (
        pairs.join(src.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa")), "d1")
        .join(src.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb")), "d2")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return joined.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_dup_pairs")
    )


@register(
    "customer_name_edit_pairs",
    oracle="""
    WITH keys AS (
      SELECT c_custkey, c_name AS t,
             unnest(list_distinct(list_prepend(c_name,
               [substr(c_name, 1, i - 1) || substr(c_name, i + 1)
                FOR i IN range(1, length(c_name) + 1)]))) AS k
      FROM customer
    ),
    cand AS (
      SELECT DISTINCT a.c_custkey AS d1, b.c_custkey AS d2,
                      a.t AS t1, b.t AS t2
      FROM keys a JOIN keys b ON a.k = b.k AND a.c_custkey < b.c_custkey
    )
    SELECT d1, d2, CAST(levenshtein(t1, t2) AS INTEGER) AS lev
    FROM cand
    WHERE levenshtein(t1, t2) <= 1
    """,
    tags=("dedup", "text", "er"),
)
def customer_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: customer-name pairs within Levenshtein
    distance 1 via symmetric-delete blocking (operators/dedup.py:
    edit_distance_pairs) — the scale-safe form of an edit-distance join
    (equi-join on O(len) deletion keys + exact verify on candidates; no
    cross join exists in the plan). Both engines verify with the built-in
    integer levenshtein, so the pair set hash-grades exactly."""
    from distributed_api_etl_spark.operators import dedup as D

    cust = table(spark, sf_dir, "customer")
    return D.edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=1)


@register(
    "supplier_name_edit2_pairs",
    oracle="""
    SELECT a.s_suppkey AS d1, b.s_suppkey AS d2,
           CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS lev
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 2
    """,
    tags=("dedup", "text", "er"),
)
def supplier_name_edit2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-2 fuzzy join (the VERDICT-r6 "edit-distance joins beyond
    distance 1" gap): supplier-name pairs within Levenshtein distance 2
    via 2-deletion symmetric-delete blocking (operators/dedup.py:
    edit_distance_pairs). The oracle is deliberately the BRUTE-FORCE
    quadratic form — it grades the blocking's candidate completeness
    against ground truth, not against a mirrored blocking scheme. The
    Spark plan exchanges only 64-bit key fingerprints and 16-byte id
    pairs; the O(N^2) shape exists solely on the DuckDB side where N is
    oracle-scale."""
    supp = table(spark, sf_dir, "supplier")
    return D.edit_distance_pairs(supp, "s_suppkey", "s_name", max_dist=2)


# --- passage-level exact dedup (Lee et al. 2022) ----------------------------
PASSAGE_TOKENS = 5
PASSAGE_MIN_DF = 2


def passage_ctes(src: str = "documents", prefix: str = "") -> str:
    """``{prefix}toks/{prefix}pas/{prefix}w/{prefix}agg`` CTE block: the
    passage-dedup aggregate (n_passages, kept_passages, cleaned_text per
    doc with >= 1 passage) over any (doc_id, text) relation. ``prefix``
    disambiguates when composed next to the shingle block's ``toks``."""
    return f"""
    {prefix}toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
    {prefix}pas AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx,
             list_aggregate(
               t[(i-1)*{PASSAGE_TOKENS}+1 : least(i*{PASSAGE_TOKENS}, len(t))],
               'string_agg', ' ') AS p
      FROM {prefix}toks,
           UNNEST(generate_series(
             1, CAST(ceil(len(t) / CAST({PASSAGE_TOKENS} AS DOUBLE)) AS BIGINT)
           )) u(i)
    ),
    {prefix}w AS (
      SELECT doc_id, idx, p,
             count(*) OVER (PARTITION BY p) AS df,
             row_number() OVER (PARTITION BY p ORDER BY doc_id, idx) AS rn
      FROM {prefix}pas
    ),
    {prefix}agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_passages,
             CAST(sum(CASE WHEN df < {PASSAGE_MIN_DF} OR rn = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS kept_passages,
             string_agg(CASE WHEN df < {PASSAGE_MIN_DF} OR rn = 1 THEN p END,
                        ' ' ORDER BY idx) AS cleaned_text
      FROM {prefix}w GROUP BY doc_id
    )
"""


@register(
    "dedup_passage_exact",
    oracle=f"""
    WITH {passage_ctes()}
    SELECT d.doc_id,
           CAST(COALESCE(a.n_passages, 0) AS BIGINT) AS n_passages,
           CAST(COALESCE(a.kept_passages, 0) AS BIGINT) AS kept_passages,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    bench=True,
    tags=("dedup", "text", "ml", "pipeline"),
)
def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (Lee et al. 2022, public): every
    {PASSAGE_TOKENS}-token passage repeated >= {PASSAGE_MIN_DF} times
    corpus-wide is kept only at its first occurrence (min (doc_id, idx)),
    and the cleaned corpus is reassembled in passage order. Catches the
    boilerplate paragraphs doc-level MinHash cannot remove. Plan
    (operators/dedup.py:passage_exact_dedup): map-side chunking, stats on
    a 128-bit fingerprint (narrow first shuffle, map-side combinable),
    duplicated-set broadcast-join back (AQE, no corpus re-shuffle), one
    groupBy(doc) reassembly. The oracle mirrors the semantics on the raw
    passage strings — hash-free — so a fingerprint collision would grade
    as a mismatch rather than hide."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    return D.passage_exact_dedup(
        docs, "doc_id", "text",
        passage_tokens=PASSAGE_TOKENS, min_df=PASSAGE_MIN_DF,
    )


@register(
    "dedup_passage_incremental",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pas AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx,
             list_aggregate(
               t[(i-1)*{PASSAGE_TOKENS}+1 : least(i*{PASSAGE_TOKENS}, len(t))],
               'string_agg', ' ') AS p
      FROM toks,
           UNNEST(generate_series(
             1, CAST(ceil(len(t) / CAST({PASSAGE_TOKENS} AS DOUBLE)) AS BIGINT)
           )) u(i)
    ),
    newpas AS (SELECT * FROM pas WHERE {_NEW_TIER}),
    corp AS (SELECT DISTINCT p, TRUE AS in_corpus
             FROM pas WHERE NOT ({_NEW_TIER})),
    w AS (
      SELECT n.doc_id, n.idx, n.p,
             COALESCE(c.in_corpus, FALSE) AS in_corpus,
             count(*) OVER (PARTITION BY n.p) AS nf,
             row_number() OVER (PARTITION BY n.p ORDER BY n.doc_id, n.idx)
               AS rn
      FROM newpas n LEFT JOIN corp c ON c.p = n.p
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_passages,
             CAST(sum(CASE WHEN NOT in_corpus
                            AND (nf < {PASSAGE_MIN_DF} OR rn = 1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS kept_passages,
             string_agg(CASE WHEN NOT in_corpus
                              AND (nf < {PASSAGE_MIN_DF} OR rn = 1)
                             THEN p END, ' ' ORDER BY idx) AS cleaned_text
      FROM w GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_passages, 0) AS BIGINT) AS n_passages,
           CAST(COALESCE(a.kept_passages, 0) AS BIGINT) AS kept_passages,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM (SELECT doc_id FROM documents WHERE {_NEW_TIER}) d
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    # bench head: the counter proves the incremental contract — the corpus
    # contributes a scan, not a shuffle, so shuffle bytes track the BATCH
    bench=True,
    tags=("dedup", "text", "ml", "pipeline"),
)
def dedup_passage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest passage dedup (operators/dedup.py:
    passage_incremental_dedup): the new batch (doc_id % 5 == 0) is cleaned
    against the standing corpus — a new passage is dropped when the corpus
    already contains it, or kept only at its first in-batch occurrence
    when the batch repeats it. The corpus contributes ONE streaming
    fingerprint scan semi-joined against the batch-bounded key set (it
    never self-joins, never shuffles — the property that makes re-ingest
    affordable against a 100 TB standing corpus, same contract as
    dedup_incremental_minhash)."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    new_batch = docs.where(F.expr(_NEW_TIER))
    corpus = docs.where(~F.expr(_NEW_TIER))
    return D.passage_incremental_dedup(
        new_batch, corpus, "doc_id", "text",
        passage_tokens=PASSAGE_TOKENS, min_df=PASSAGE_MIN_DF,
    )


@register(
    "dedup_span_unaligned",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    win AS (
      SELECT doc_id, CAST(i AS BIGINT) AS s,
             list_aggregate(t[i : i + {PASSAGE_TOKENS} - 1],
                            'string_agg', ' ') AS g
      FROM toks,
           UNNEST(generate_series(1, len(t) - {PASSAGE_TOKENS} + 1)) u(i)
      WHERE len(t) >= {PASSAGE_TOKENS}
    ),
    ww AS (
      SELECT doc_id, s,
             count(*) OVER (PARTITION BY g) AS df,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn
      FROM win
    ),
    drops AS (SELECT doc_id, s FROM ww
              WHERE df >= {PASSAGE_MIN_DF} AND rn > 1),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tokstr
      FROM toks, UNNEST(generate_series(1, len(t))) u(i)
    ),
    kept AS (
      SELECT k.doc_id, k.pos, k.tokstr
      FROM tok k
      WHERE NOT EXISTS (
        SELECT 1 FROM drops d
        WHERE d.doc_id = k.doc_id
          AND d.s <= k.pos AND k.pos < d.s + {PASSAGE_TOKENS}
      )
    ),
    agg AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(k.pos) AS BIGINT) AS kept_tokens,
             COALESCE(string_agg(k.tokstr, ' ' ORDER BY k.pos), '')
               AS cleaned_text
      FROM tok t
      LEFT JOIN kept k ON k.doc_id = t.doc_id AND k.pos = t.pos
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    bench=True,
    tags=("dedup", "text", "ml", "pipeline"),
)
def dedup_span_unaligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free repeated-span removal (operators/dedup.py:
    sliding_span_dedup) — closes the fixed-grid gap VERDICT r6 named as
    the one semantic hole in the passage family: a span repeated at
    offsets p != q (mod {PASSAGE_TOKENS}) never produces equal grid
    chunks, so dedup_passage_exact cannot see it; stride-1 windows see
    every alignment (the w-gram form of Lee et al.'s ExactSubstr; the
    suggested staggered dual grid only reaches offset deltas divisible by
    floor(w/2) and was superseded). Window fingerprints hash map-side off
    the cached token array — the only corpus-proportional shuffle is
    16 bytes per window (w x the grid variant, the price of alignment
    freedom); text reassembles map-side from broadcast dropped-start
    positions. The oracle replays coverage semantics on the raw window
    strings, hash-free, so a fingerprint collision grades as a mismatch."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    return D.sliding_span_dedup(
        docs, "doc_id", "text",
        window_tokens=PASSAGE_TOKENS, min_df=PASSAGE_MIN_DF,
    )


# --- winnowing fingerprint overlap (Schleimer et al. 2003) ------------------
WINNOW_K = 3
WINNOW_W = 4
WINNOW_MIN_SHARED = 2


def _winnow_oracle_sql() -> str:
    h = portable_hash32_sql(
        f"list_aggregate(t[i : i + {WINNOW_K - 1}], 'string_agg', ' ')"
    )
    win = f"gr[j : j + least({WINNOW_W}, len(gr) - j + 1) - 1]"
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(t) - {WINNOW_K - 1}),
                            i -> {h}) AS gr
      FROM toks WHERE len(t) >= {WINNOW_K}
    ),
    sel AS (
      SELECT doc_id, gr,
             list_distinct(list_transform(
               generate_series(1, greatest(1, len(gr) - {WINNOW_W - 1})),
               j -> j - 1 + list_position({win}, list_aggregate({win}, 'min'))
             )) AS ps
      FROM g
    ),
    fps AS (
      SELECT DISTINCT s.doc_id, s.gr[u.p] AS fp
      FROM sel s, UNNEST(s.ps) u(p)
    ),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, n_shared FROM pairs WHERE n_shared >= {WINNOW_MIN_SHARED}
    """


@register(
    "dedup_winnow_overlap",
    oracle=_winnow_oracle_sql(),
    # promoted r8 (VERDICT r7 #3): held graded=False in r7 only because
    # that round's window was exactly full.
    graded=True,
    # bench head from day one so r8 has a counter baseline (5.28 MB at
    # sf0.1 vs 9.09 for the all-gram join — SCALE.md round-7 entry)
    bench=True,
    tags=("dedup", "text", "ml", "pipeline"),
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap candidates from winnowed fingerprints
    (operators/dedup.py:winnowed_fingerprints — Schleimer et al. 2003):
    doc pairs sharing >= {WINNOW_MIN_SHARED} distinct selected k={WINNOW_K}-gram
    fingerprints under a w={WINNOW_W} winnowing window. The selected set
    is ~2/(w+1) of all grams yet guarantees detection of every shared
    span of >= w+k-1 tokens — candidate generation at a fraction of the
    all-grams join volume; the hash is portable_hash32 on BOTH engines
    because winnowing's selection depends on hash values."""
    from distributed_api_etl_spark.operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    return D.winnow_overlap_pairs(
        docs, "doc_id", "text", k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED
    )


@register(
    "customer_name_damerau1_pairs",
    # Brute-force quadratic oracle (ADVICE r7 #1): grading the Spark plan's
    # deletion-blocking against GROUND TRUTH, not against a mirrored
    # blocking — a shared blocking-completeness bug for transpositions
    # would be invisible to a blocked oracle. Same grading posture as
    # supplier_name_edit2_pairs.
    oracle="""
    SELECT a.c_custkey AS d1, b.c_custkey AS d2,
           CAST(damerau_levenshtein(a.c_name, b.c_name) AS INTEGER) AS dam
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE damerau_levenshtein(a.c_name, b.c_name) <= 1
    """,
    # promoted r8 (VERDICT r7 #3): held graded=False in r7 only because
    # that round's window was exactly full.
    graded=True,
    tags=("dedup", "text", "er"),
    # The brute-force oracle is ~112M damerau evaluations at sf0.1
    # (ADVICE r8 #3) and a length pre-filter prunes nothing here (every
    # TPC-H c_name is exactly 18 chars) — pin the LOCAL sweep to sf0.01
    # (~1.1M evals); the driver grades at sf0.01 regardless.
    oracle_max_sf=0.01,
)
def customer_name_damerau1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transposition-aware fuzzy join (operators/dedup.py:damerau1_pairs):
    customer-name pairs within Damerau-Levenshtein distance 1 — catches
    the adjacent digit/character swaps ("...012"/"...021") plain
    Levenshtein charges 2 for. Same single-deletion symmetric-delete
    blocking as the d=1 Levenshtein query (the key neighborhood provably
    covers transpositions); the Spark verify tests the transposition
    shape with built-ins, the oracle uses DuckDB's native
    damerau_levenshtein — at threshold 1 the OSA and unrestricted
    variants coincide, so both engines accept the identical pair set."""
    from distributed_api_etl_spark.operators import dedup as D

    cust = table(spark, sf_dir, "customer")
    return D.damerau1_pairs(cust, "c_custkey", "c_name")
