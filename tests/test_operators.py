"""Unit tests for the LLM-pipeline operator library (beyond the oracle gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_api_etl_spark.operators import dedup as D
from distributed_api_etl_spark.operators import multimodal as MM
from distributed_api_etl_spark.operators import similarity as S


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups_duplicates(spark):
    df = docs_df(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")],
    )
    out = {
        r.keep_id: r.n_copies
        for r in D.exact_fingerprint_groups(df, "doc_id", "text").collect()
    }
    assert out == {1: 3, 3: 1}


def test_jaccard_pairs_finds_near_dup(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = docs_df(
        spark,
        [(1, base), (2, base + " extra"), (3, "q r s t u v w x y z")],
    )
    pairs = {(r.d1, r.d2) for r in D.jaccard_pairs(df, "doc_id", "text", 3, 80).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_lsh_agrees_with_bruteforce_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    brute = {
        (r.d1, r.d2)
        for r in D.jaccard_pairs(docs, "doc_id", "text", 3, 70).collect()
    }
    lsh = {
        (r.d1, r.d2)
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).collect()
    }
    # LSH candidates are a subset; at jaccard>=0.7 with 4 bands x 2 rows the
    # planted near-dups (j~0.97) are all found
    assert lsh <= brute
    high = {
        (r.d1, r.d2)
        for r in D.jaccard_pairs(docs, "doc_id", "text", 3, 90).collect()
    }
    assert high <= lsh


def test_jaccard_prefix_filter_matches_full_self_join(spark, sf_dir):
    """The PPJoin prefix-filtered candidate path must reproduce the full
    shingle self-join bit for bit (the legacy freq-cut branch with an
    unreachable cut IS the old full join)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for pct in (70, 80, 90):
        prefix = {
            (r.d1, r.d2, r.inter, r.union_sz)
            for r in D.jaccard_pairs(docs, "doc_id", "text", 3, pct).collect()
        }
        full = {
            (r.d1, r.d2, r.inter, r.union_sz)
            for r in D.jaccard_pairs(
                docs, "doc_id", "text", 3, pct, max_shingle_freq=10**9
            ).collect()
        }
        assert prefix == full


def test_minhash_lsh_short_docs_never_pair(spark):
    """ADVICE r5 (high): docs shorter than n tokens have EMPTY shingle sets;
    they must neither crash the Jaccard verify (ANSI 0/0) nor band-join each
    other through a shared '' band value."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = docs_df(
        spark,
        [(1, base), (2, base + " extra"), (3, "a"), (4, "b c"), (5, "")],
    )
    pairs = {
        (r.d1, r.d2)
        for r in D.minhash_lsh_pairs(df, "doc_id", "text", 3, 70).collect()
    }
    assert (1, 2) in pairs
    assert all(d not in (3, 4, 5) for p in pairs for d in p)
    # incremental path shares the banding internals: short docs on both the
    # new and the corpus tier must stay silent too
    new_batch = df.where(F.col("doc_id").isin(2, 4))
    corpus = df.where(~F.col("doc_id").isin(2, 4))
    inc = {
        (r.d1, r.d2)
        for r in D.incremental_lsh_pairs(
            new_batch, corpus, "doc_id", "text", 3, 70
        ).collect()
    }
    assert inc == {(1, 2)}


def test_simhash_null_text_dropped_and_identifier_quoted(spark):
    """ADVICE r5 (low x2): null-text docs emit NO signature row (the
    pre-rewrite contract), and a column name requiring backtick quoting
    resolves instead of breaking the SQL fold."""
    df = docs_df(spark, [(1, "a b"), (2, None), (3, "a b")])
    sigs = D.simhash_signatures(df, "doc_id", "text").collect()
    assert {r.doc_id for r in sigs} == {1, 3}
    assert sigs[0].simhash is not None
    odd = df.withColumnRenamed("text", "the text.col")
    odd_sigs = {
        r.doc_id: r.simhash
        for r in D.simhash_signatures(odd, "doc_id", "the text.col").collect()
    }
    assert odd_sigs == {r.doc_id: r.simhash for r in sigs}


def test_simhash_blocked_vs_exhaustive(spark, sf_dir):
    from tests.reference_forms import simhash_pairs_exhaustive

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # pigeonhole blocking (max_hamming+1 blocks) is exact at any distance
    for d in (0, 6):
        blocked = {
            (r.d1, r.d2, r.hamming)
            for r in D.simhash_pairs(docs, "doc_id", "text", max_hamming=d).collect()
        }
        exact = {
            (r.d1, r.d2, r.hamming)
            for r in simhash_pairs_exhaustive(
                docs, "doc_id", "text", max_hamming=d
            ).collect()
        }
        assert blocked == exact


def test_embedding_lsh_recall_on_planted_neardups(spark):
    """At near-dup thresholds (>=0.9) hyperplane-LSH banding must find every
    planted pair (recall 1.0) and stay an exact-valued subset of brute
    force."""
    import random

    rng = random.Random(99)
    dim = 16
    rows = []
    vid = 0
    for i in range(60):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((vid, base))
        vid += 1
        if i < 20:  # plant a near-dup: tiny perturbation => cosine ~0.99
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in base]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    brute = {
        (r.d1, r.d2): r.cosine
        for r in S.cosine_pairs(emb, "vec_id", "embedding", 0.9).collect()
    }
    lsh = {
        (r.d1, r.d2): r.cosine
        for r in S.embedding_lsh_pairs(
            emb, "vec_id", "embedding", 0.9, dim=dim, n_planes=16, band_bits=2
        ).collect()
    }
    assert len(brute) >= 20  # the planted pairs are all above threshold
    assert lsh == brute  # recall 1.0 AND identical verified cosines


def test_embedding_lsh_subset_of_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r.d1, r.d2): r.cosine
        for r in S.cosine_pairs(emb, "vec_id", "embedding", 0.3).collect()
    }
    lsh = {
        (r.d1, r.d2): r.cosine
        for r in S.embedding_lsh_pairs(
            emb, "vec_id", "embedding", 0.3, dim=64
        ).collect()
    }
    assert set(lsh) <= set(brute)
    assert all(brute[p] == c for p, c in lsh.items())


def test_ivf_assignment_covers_all_vectors(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.orderBy("vec_id").limit(8)
    assigned = S.ivf_assign(emb, cents, "vec_id", "embedding")
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 8


def test_bruteforce_topk_excludes_self_and_ranks(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    out = S.bruteforce_topk(emb, q, "vec_id", "embedding", 4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rnk, r.cosine))
    for ranks in by_q.values():
        ranks.sort()
        cosines = [c for _, c in ranks]
        assert cosines == sorted(cosines, reverse=True)


def test_multimodal_plumbing_deterministic(spark):
    df = docs_df(spark, [(1, "hello world"), (2, "abc")])
    binary = MM.attach_binary_content(df, "doc_id", "text")
    feats1 = {r.doc_id: r for r in MM.extract_features(binary).collect()}
    feats2 = {r.doc_id: r for r in MM.extract_features(binary).collect()}
    assert feats1.keys() == feats2.keys() == {1, 2}
    r = feats1[1]
    assert r.byte_len == len(b"hello world")
    assert r.width == (11 % 64) + 1 and r.height == 1
    assert len(r.features) == 8
    assert abs(sum(r.features) - 1.0) < 1e-9
    assert feats1[2].features == feats2[2].features


def test_multimodal_real_decoder_raises(spark):
    df = MM.attach_binary_content(docs_df(spark, [(1, "x")]), "doc_id", "text")
    import pytest

    with pytest.raises(NotImplementedError, match="mapInPandas contract"):
        MM.extract_features(df, decoder="pil")


def test_binary_file_manifest_and_features(spark, tmp_path):
    """binaryFile source -> manifest shape -> Arrow decode stage end-to-end."""
    from distributed_api_etl_spark.operators.multimodal import (
        binary_file_manifest,
        extract_features,
    )

    media = tmp_path / "media"
    media.mkdir()
    (media / "a.jpg").write_bytes(b"\xff\xd8fakejpeg" * 10)
    (media / "b.wav").write_bytes(b"RIFFfakewav" * 5)
    (media / "notes.txt").write_bytes(b"hello world")
    (media / "blob.xyz").write_bytes(b"\x00\x01\x02")

    man = binary_file_manifest(spark, str(media))
    rows = {r.doc_id.rsplit("/", 1)[-1]: r for r in man.collect()}
    assert rows["a.jpg"].media_meta.media_type == "image/jpeg"
    assert rows["b.wav"].media_meta.media_type == "audio/wav"
    assert rows["notes.txt"].media_meta.media_type == "text/plain"
    assert rows["blob.xyz"].media_meta.media_type == "application/octet-stream"
    assert rows["notes.txt"].media_meta.byte_len == 11
    assert bytes(rows["notes.txt"].content) == b"hello world"

    feats = {r.doc_id.rsplit("/", 1)[-1]: r for r in extract_features(man).collect()}
    assert feats["a.jpg"].byte_len == 100
    assert len(feats["a.jpg"].features) == 8
    assert abs(sum(feats["a.jpg"].features) - 1.0) < 1e-9

    # glob + size pushdown
    only_jpg = binary_file_manifest(spark, str(media), path_glob="*.jpg")
    assert only_jpg.count() == 1
    small = binary_file_manifest(spark, str(media), max_bytes=20)
    assert small.count() == 2


def test_connected_components_chain_and_clique(spark):
    from distributed_api_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> one component, label 1
         (10, 11), (11, 10),          # duplicate/reverse edges collapse
         (20, 21), (21, 22), (20, 22)],  # clique
        "d1 bigint, d2 bigint",
    )
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_driver_equals_loop(spark):
    """The size-gated driver-side union-find (r16: one bounded collect
    instead of 3-8 label-propagation shuffle rounds for small dup graphs)
    must produce byte-identical labels to the distributed loop, which
    ``driver_max_rows=0`` forces."""
    import random

    from distributed_api_etl_spark.operators.graph import connected_components

    rng = random.Random(42)
    for trial in range(4):
        n_nodes = rng.randint(2, 40)
        edges = [
            (rng.randint(0, n_nodes), rng.randint(0, n_nodes))
            for _ in range(rng.randint(1, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        df = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
        drv = {
            r.node: r.cluster_id for r in connected_components(df).collect()
        }
        loop = {
            r.node: r.cluster_id
            for r in connected_components(df, driver_max_rows=0).collect()
        }
        assert drv == loop, f"trial {trial}: driver CC diverged from loop"
    # string ids: UTF-8 byte order == code-point order, so the driver min
    # agrees with Spark's ORDER BY on the same labels
    sdf = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "d1 string, d2 string"
    )
    got = {r.node: r.cluster_id for r in connected_components(sdf).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # schema parity with the loop (consumers join on node/cluster_id)
    assert (
        connected_components(sdf).schema
        == connected_components(sdf, driver_max_rows=0).schema
    )


def test_connected_components_nonconvergence_falls_back(spark):
    """VERDICT r16 #1: a path graph of diameter > max_iter must NOT return
    silently split clusters — the loop detects non-convergence and falls
    back to the O(log n) star-contraction algorithm. The fallback must
    keep the loop's row set: a self-loop-only node and a null endpoint
    (both dropped by the star contraction's ``p != q`` pairs) still get
    the rows the converged loop gives them."""
    from distributed_api_etl_spark.operators.graph import connected_components

    n = 12  # path 0-1-2-...-12, diameter 12 > max_iter=3
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)] + [(100, 100), (None, 50), (50, 51)],
        "d1 bigint, d2 bigint",
    )

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    got = rows(connected_components(chain, max_iter=3, driver_max_rows=0))
    assert got == rows(connected_components(chain, driver_max_rows=0))
    labels = dict(got)
    assert {i: labels[i] for i in range(n + 1)} == {i: 0 for i in range(n + 1)}
    assert (labels[100], labels[None], labels[50], labels[51]) == (100, None, 50, 50)
    assert len(got) == n + 1 + 4


def test_connected_components_driver_gate_edge_cases(spark):
    """ADVICE r16 #1: mixed endpoint types and null endpoints must take the
    distributed loop, not the driver union-find — and still label correctly."""
    from distributed_api_etl_spark.operators.graph import connected_components

    # mixed types (int src, bigint dst): gate requires equal types; the loop
    # widens via unionByName and must still produce correct labels
    mixed = spark.createDataFrame([(1, 2), (2, 3)], "d1 int, d2 bigint")
    got = {r.node: r.cluster_id for r in connected_components(mixed).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    # null endpoint: driver path would crash Python's `<`; must fall back to
    # the loop, whose join semantics keep the null node self-labelled
    withnull = spark.createDataFrame(
        [(1, 2), (None, 5)], "d1 bigint, d2 bigint"
    )
    rows = {r.node: r.cluster_id for r in connected_components(withnull).collect()}
    assert rows[1] == 1 and rows[2] == 1 and rows[5] == 5


def test_graph_ops_use_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    """VERDICT r5 #4: with a checkpoint dir set, iterative graph ops must
    switch from localCheckpoint to reliable checkpoint (executor-loss-safe)
    — and produce identical results."""
    import os

    from distributed_api_etl_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (20, 21), (21, 22)], "d1 bigint, d2 bigint"
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 20: 20, 21: 20, 22: 20}
    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        lp = {r.node: r.cluster_id for r in connected_components(edges).collect()}
        tp = {
            r.node: r.cluster_id
            for r in connected_components_two_phase(edges).collect()
        }
        assert lp == expected and tp == expected
        # reliable checkpoint leaves RDD files under the configured dir
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "checkpoint dir configured but nothing was written to it"
        # pagerank has NO per-round action, so the reliable path must force
        # eager checkpoints — stacked lazy marks would write only the
        # outermost round (doCheckpoint stops at the nearest marked
        # ancestor) and executor loss would replay the whole chain
        from distributed_api_etl_spark.operators.graph import pagerank_fixed_point

        def rdd_dirs():
            return {
                d
                for root, dirs, _ in os.walk(ckpt)
                for d in dirs
                if d.startswith("rdd-")
            }

        before = rdd_dirs()
        pagerank_fixed_point(edges, iters=3).collect()
        new_dirs = rdd_dirs() - before
        assert len(new_dirs) >= 3, (
            f"expected one reliable checkpoint per pagerank round, got "
            f"{len(new_dirs)}"
        )
    finally:
        # unset so the rest of the suite keeps the localCheckpoint default
        # (no public unset API; the scala field is test-reachable via py4j)
        try:
            jsc = sc._jsc.sc()
            getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
            assert jsc.checkpointDir().isEmpty()
        except Exception:
            pass


def test_dedup_cluster_assignment_singletons(spark):
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment

    pairs = spark.createDataFrame([(2, 5)], "d1 bigint, d2 bigint")
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id bigint")
    rows = {r.doc_id: r for r in dedup_cluster_assignment(pairs, ids, "doc_id").collect()}
    assert rows[2].cluster_id == 2 and rows[5].cluster_id == 2
    assert rows[2].is_keep and not rows[5].is_keep
    assert all(rows[i].is_keep and rows[i].cluster_id == i for i in (1, 3, 4, 6))


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    """|v - dequant(quant(v))| <= scale/2 elementwise (symmetric rounding)."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators import similarity as S
    from distributed_api_etl_spark.queries.registry import table

    emb = table(spark, sf_dir, "embeddings").limit(200)
    q = S.quantize_embeddings(emb, "vec_id", "embedding", levels=127)
    joined = q.join(emb, "vec_id").select(
        "vec_id", "scale",
        F.array_max(
            F.zip_with(
                F.transform("qvec", lambda q: q.cast("double") * F.col("scale")),
                F.transform("embedding", lambda x: x.cast("double")),
                lambda a, b: F.abs(a - b),
            )
        ).alias("max_err"),
    )
    bad = joined.where(F.col("max_err") > F.col("scale") / 2 + 1e-12).count()
    assert bad == 0


def test_ivf_kmeans_recall_vs_bruteforce(spark, sf_dir):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators import similarity as S
    from distributed_api_etl_spark.queries.registry import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select("vec_id")
    exact = S.bruteforce_topk(
        emb, emb.where(F.col("vec_id") < 20), "vec_id", "embedding", 3
    )
    approx = S.ivf_kmeans_topk(emb, "vec_id", "embedding", 8, queries, 3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe=1 over 8 learned buckets on random-ish vectors: modest recall
    # floor — the assertion is about wiring, not ANN quality at toy scale
    assert recall >= 0.3, f"recall {recall}"
    assert len(approx_set) == 60


def test_asof_join_semantics(spark):
    """Backward inclusive match, no-match -> NULL, tolerance cutoff, and no
    row tearing when a right value is legitimately NULL."""
    from distributed_api_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "p1"), ("u1", 205, "p2"), ("u2", 50, "p3")],
        "user string, ts bigint, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 100, "c1", None), ("u1", 200, "c2", "x"), ("u1", 300, "c3", "y")],
        "user string, ts bigint, cid string, extra string",
    )
    out = {r.pid: r for r in asof_join(left, right, on="ts", by=["user"]).collect()}
    assert out["p1"].r_cid == "c1" and out["p1"].r_ts == 100  # inclusive tie
    assert out["p1"].r_extra is None  # NULL value carried from the SAME row
    assert out["p2"].r_cid == "c2" and out["p2"].r_extra == "x"
    assert out["p3"].r_cid is None  # u2 has no clicks

    tol = {
        r.pid: r
        for r in asof_join(
            left, right, on="ts", by=["user"], tolerance_ms=None
        ).collect()
    }
    assert tol["p2"].r_cid == "c2"


def test_range_join_within_matches_naive(spark):
    """Banded equi-join plan == naive inequality join, including boundary
    pairs at exactly |diff| == window and cross-cell neighbors."""
    import random

    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.rangejoin import range_join_within

    rng = random.Random(11)
    lrows = [("u%d" % rng.randint(0, 3), rng.randint(0, 1000), i) for i in range(80)]
    rrows = [("u%d" % rng.randint(0, 3), rng.randint(0, 1000), i) for i in range(80)]
    left = spark.createDataFrame(lrows, "k string, t bigint, lid int")
    right = spark.createDataFrame(rrows, "k string, t bigint, rid int")
    W = 50
    got = {
        (r.k, r.l_lid, r.r_rid)
        for r in range_join_within(left, right, on="t", by=["k"], window=W).collect()
    }
    naive = {
        (lk, lid, rid)
        for (lk, lt, lid) in lrows
        for (rk, rt, rid) in rrows
        if lk == rk and abs(lt - rt) <= W
    }
    assert got == naive


def test_profile_table_single_pass_and_nulls(spark):
    from distributed_api_etl_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, None, 4.0), (3, "b", None), (3, "b", 8.0)],
        "k bigint, s string, v double",
    )
    prof = {r.column_name: r for r in profile_table(df).collect()}
    assert prof["k"].n_rows == 4 and prof["k"].n_nulls == 0
    assert prof["k"].n_distinct == 3
    assert prof["k"].min_num == 1.0 and prof["k"].max_num == 3.0
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_str == "a" and prof["s"].max_str == "b"
    assert prof["v"].n_nulls == 1 and prof["v"].max_num == 8.0
    # approx mode runs and keeps the schema
    approx = profile_table(df, approx=True)
    assert {r.column_name for r in approx.collect()} == {"k", "s", "v"}


def test_decontaminate_drops_exactly_overlapping_docs(spark):
    ev = docs_df(spark, [(100, "a b c d"), (101, "x y z w")])
    train = docs_df(
        spark,
        [
            (1, "a b c q r s"),      # shares shingle "a b c" -> dropped
            (2, "q r s t u v"),      # clean -> survives
            (3, "w x y z"),          # shares "x y z" -> dropped
            (4, "b c d"),            # shares "b c d" -> dropped
            (5, "c b a d e f"),      # reordered: no shared 3-gram -> survives
        ],
    )
    from distributed_api_etl_spark.operators.text import decontaminate

    out = {r.doc_id for r in decontaminate(train, ev, "doc_id", "text", 3).collect()}
    assert out == {2, 5}


def test_hash_stratified_sample_deterministic_and_rated(spark, sf_dir):
    from distributed_api_etl_spark.operators.sampling import hash_stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"src0": 1000, "src1": 0}
    a = {
        r.doc_id
        for r in hash_stratified_sample(docs, "doc_id", "source", rates, 500).collect()
    }
    # partition layout must not change the sample (the df.sample failure mode)
    b = {
        r.doc_id
        for r in hash_stratified_sample(
            docs.repartition(13), "doc_id", "source", rates, 500
        ).collect()
    }
    assert a == b
    by_src = {
        r.source: r.cnt
        for r in hash_stratified_sample(docs, "doc_id", "source", rates, 500)
        .groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    total = {
        r.source: r.cnt
        for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_src.get("src0") == total["src0"]  # rate 1000 keeps all
    assert "src1" not in by_src  # rate 0 keeps none


def test_pack_sequences_concat_and_chunk(spark):
    from distributed_api_etl_spark.operators.packing import pack_sequences

    rows = [
        # stream a: tokens 300, 300, 100 -> starts 0, 300, 600
        (1, "a", 300), (2, "a", 300), (3, "a", 100),
        # stream b: single doc longer than the budget still gets pack 0
        (1, "b", 900),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, src string, n bigint")
    out = {
        (r.src, r.doc_id): (r.pack_id, r.pack_offset)
        for r in pack_sequences(df, "doc_id", "n", 512, "src").collect()
    }
    assert out[("a", 1)] == (0, 0)
    assert out[("a", 2)] == (0, 300)   # straddles the 512 cut: pack of 1st token
    assert out[("a", 3)] == (1, 88)    # 600 div 512 = 1, 600 % 512 = 88
    assert out[("b", 1)] == (0, 0)

    # deterministic under any partition layout (window is key-ordered)
    out2 = {
        (r.src, r.doc_id): (r.pack_id, r.pack_offset)
        for r in pack_sequences(df.repartition(7), "doc_id", "n", 512, "src").collect()
    }
    assert out == out2


def test_pack_sequences_compound_order_tie_break(spark):
    """Ordering by a derived key with duplicates (an epoch-shuffle hash
    collision) must still give one total order via the tie-break column —
    the recipe head's (sort_key, doc_id) contract."""
    from distributed_api_etl_spark.operators.packing import pack_sequences

    rows = [  # sort_key ties on 7: doc order within the tie is 2 then 5
        (5, "a", 7, 100), (2, "a", 7, 200), (9, "a", 3, 50), (1, "b", 9, 40),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, src string, k bigint, n bigint")
    out = {
        (r.src, r.doc_id): (r.pack_id, r.pack_offset)
        for r in pack_sequences(df, ("k", "doc_id"), "n", 128, "src").collect()
    }
    # stream a epoch order: (3,9) -> (7,2) -> (7,5); starts 0, 50, 250
    assert out[("a", 9)] == (0, 0)
    assert out[("a", 2)] == (0, 50)
    assert out[("a", 5)] == (1, 122)  # 250 div 128 = 1, 250 % 128 = 122
    assert out[("b", 1)] == (0, 0)


def test_token_budget_null_tokens_and_guards(spark):
    """A NULL token count contributes 0 and the row is KEPT (the batch
    window's coalesce — mirrored by the streaming form's fillna); the
    shard/pack guards fail fast on degenerate inputs instead of silently
    emitting NULL shards or clobbering prior packing outputs."""
    import pytest as _pytest

    from distributed_api_etl_spark.operators.packing import pack_sequences
    from distributed_api_etl_spark.operators.sampling import (
        shard_assignment,
        token_budget_sample,
    )

    import hashlib

    rows = [(1, "en", None), (2, "en", 100), (3, "en", None), (4, "en", 2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens bigint")
    out = {r.doc_id: (r.n_tokens, r.cum_tokens)
           for r in token_budget_sample(
               df, "doc_id", "lang", "n_tokens", {"en": 150}).collect()}

    # python reference: same hash priority, nulls contribute 0 and are
    # kept while the running total still fits the budget
    def pri(doc_id):
        return int(hashlib.md5(f":en:{doc_id}".encode()).hexdigest()[:8], 16)

    expected, cum = {}, 0
    for doc_id, _, tok in sorted(rows, key=lambda r: (pri(r[0]), r[0])):
        cum += tok or 0
        if cum <= 150:
            expected[doc_id] = (tok, cum)
    assert out == expected

    # with a budget everything fits, the null rows are KEPT with an
    # unchanged running total (pre-fix they'd be dropped and could close
    # the streaming group) — null n_tokens surfaces as None, not 0
    all_kept = {r.doc_id: (r.n_tokens, r.cum_tokens)
                for r in token_budget_sample(
                    df, "doc_id", "lang", "n_tokens", {"en": 5000}).collect()}
    assert set(all_kept) == {1, 2, 3, 4}
    assert all_kept[1][0] is None and all_kept[3][0] is None
    assert max(c for _, c in all_kept.values()) == 2100

    with _pytest.raises(ValueError, match="n_shards"):
        shard_assignment(df, "doc_id", 0)
    packed = pack_sequences(
        df.where("n_tokens is not null"), "doc_id", "n_tokens", 128, "lang"
    )
    with _pytest.raises(ValueError, match="re-packing"):
        pack_sequences(packed, "doc_id", "n_tokens", 256, "lang")


def test_shard_assignment_carry_cols(spark):
    """carry_cols projects attributes through (no self-join needed in
    composition) without perturbing the hash outputs; collisions with the
    operator's own output columns fail fast."""
    import pytest as _pytest

    from distributed_api_etl_spark.operators.sampling import shard_assignment

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "zh", 20)], "doc_id bigint, lang string, n bigint"
    )
    plain = {r.doc_id: (r.shard, r.sort_key)
             for r in shard_assignment(df, "doc_id", 8, "e0").collect()}
    carried = shard_assignment(df, "doc_id", 8, "e0", carry_cols=("lang", "n"))
    assert carried.columns == ["doc_id", "lang", "n", "shard", "sort_key"]
    for r in carried.collect():
        assert (r.shard, r.sort_key) == plain[r.doc_id]
    with _pytest.raises(ValueError, match="carry_cols"):
        shard_assignment(df, "doc_id", 8, "e0", carry_cols=("shard",))


def test_ivf_multiprobe_improves_on_single_probe(spark, sf_dir):
    from distributed_api_etl_spark.operators.similarity import (
        bruteforce_topk,
        ivf_multiprobe_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select("vec_id")

    def hits(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = hits(bruteforce_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", 3))
    p1 = hits(ivf_topk(emb, "vec_id", "embedding", 8, queries, 3))
    p2 = hits(ivf_multiprobe_topk(emb, "vec_id", "embedding", 8, queries, 3, nprobe=2))
    # more probes can only improve (or equal) recall vs the exact answer
    assert len(p2 & exact) >= len(p1 & exact)
    # and nprobe = n_centroids degenerates to exact brute force
    pall = hits(ivf_multiprobe_topk(emb, "vec_id", "embedding", 8, queries, 3, nprobe=8))
    assert pall == exact


def test_ivf_int8_rerank_degenerates_to_exact(spark, sf_dir):
    """The composed IVF+int8+rerank serving path at exhaustive settings
    (nprobe = n_centroids => every bucket probed; k_cand >= corpus => no
    candidate ever cut) must return EXACTLY the full-precision brute-force
    top-k — same pairs, same ranks, same cosines — because the final
    ranking is full-precision over an uncut candidate set. Also: at
    serving settings the output pair set can only shrink vs exhaustive."""
    from distributed_api_etl_spark.operators.similarity import (
        bruteforce_topk,
        ivf_int8_multiprobe_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 6).select("vec_id")
    n = emb.count()

    def rows(df):
        return {
            (r.query_id, r.neighbor_id, r.rnk, r.cosine) for r in df.collect()
        }

    exact = rows(
        bruteforce_topk(emb, emb.where(F.col("vec_id") < 6), "vec_id", "embedding", 3)
    )
    exhaustive = rows(
        ivf_int8_multiprobe_topk(
            emb, "vec_id", "embedding", 8, queries, 3, k_cand=n, nprobe=8
        )
    )
    assert exhaustive == exact
    served = rows(
        ivf_int8_multiprobe_topk(
            emb, "vec_id", "embedding", 8, queries, 3, k_cand=10, nprobe=2
        )
    )
    # per query: ranks are contiguous 1..k (a window over the candidate
    # set, never gapped by the probe/depth cuts)
    by_q = {}
    for q, _nb, r, _c in served:
        by_q.setdefault(q, []).append(r)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    # every served pair that IS a true neighbor carries the identical
    # full-precision cosine (rerank restores exact scores)
    exact_cos = {(q, nb): c for (q, nb, _r, c) in exact}
    for q, nb, _r, c in served:
        if (q, nb) in exact_cos:
            assert c == exact_cos[(q, nb)]


def test_ivf_int8_stored_index_roundtrip_and_partition_pruning(
    spark, tmp_path, sf_dir
):
    """The deployed form of the IVF+int8+rerank path: build the index once
    (build_ivf_int8_index), store it partitionBy(centroid_id), serve from
    the stored layout (ivf_int8_topk_from_index). Must (a) reproduce the
    inline operator's output exactly, and (b) prune unprobed buckets at
    the FILE level — the scan's plan carries a centroid_id
    PartitionFilter and reads only the probed buckets' files."""
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_int8_index,
        ivf_int8_multiprobe_topk,
        ivf_int8_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    index, cents = build_ivf_int8_index(emb, "vec_id", "embedding", 8)
    path = str(tmp_path / "ivf_int8_index")
    index.write.partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)

    inline = ivf_int8_multiprobe_topk(
        emb, "vec_id", "embedding", 8, queries, 3, k_cand=10, nprobe=2
    )
    served = ivf_int8_topk_from_index(
        stored, cents, emb, queries, "vec_id", "embedding", 3, k_cand=10, nprobe=2
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(served) == rows(inline)

    # file-level pruning: the probed-bucket IN-filter must reach the
    # partitioned scan as a PartitionFilter (not a post-scan Filter) ...
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = served._jdf.queryExecution().explainString(jmode)
    import re

    # pair each scan node's Location with ITS PartitionFilters (explain
    # prints them per scan block; matching "the first PartitionFilters
    # after the path mention" depends on node ordering, which is not a
    # contract). The served plan must scan the index layout and EVERY
    # scan of it must be partition-pruned — since the query-vector
    # lookup quantizes from the embeddings side, the pruned candidate
    # scan is the only read of the stored index.
    idx_pfs, loc = [], ""
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Location:"):
            loc = s
        m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", s)
        if m2 and "ivf_int8_index" in loc:
            idx_pfs.append(m2.group(1))
            loc = ""
    assert idx_pfs, plan
    assert all("centroid_id" in pf for pf in idx_pfs), plan
    # ... and it must touch strictly fewer index files than the full
    # 8-bucket layout whenever the queries don't probe every bucket
    from distributed_api_etl_spark.operators.similarity import (
        ivf_probe_assign,
        quantize_embeddings,
    )

    qvecs = queries.join(
        quantize_embeddings(emb, "vec_id", "embedding").select("vec_id", "qvec"),
        "vec_id",
    )
    probed = sorted(
        r.centroid_id
        for r in ivf_probe_assign(qvecs, cents, "vec_id", "qvec", 2)
        .select("centroid_id")
        .distinct()
        .collect()
    )
    def files_read(df):
        # input_file_name() over the executed rows = files ACTUALLY read
        # (inputFiles() lists the relation pre-pruning and can't see it)
        return df.select(F.input_file_name().alias("f")).distinct().count()

    n_all = files_read(stored)
    n_probed = files_read(stored.where(F.col("centroid_id").isin(probed)))
    assert len(probed) < 8  # 4 queries x 2 probes share buckets on this corpus
    assert n_probed < n_all


def test_ivf_int8_index_incremental_append_equals_rebuild(
    spark, tmp_path, sf_dir
):
    """Appending a new batch to the stored IVF+int8 index (frozen
    centroids, append-mode partitioned write) must yield the same index
    CONTENT as a from-scratch rebuild over the union corpus with the
    same centroids — and the served top-k from either layout is
    identical. The append path touches only the batch: the standing
    index is never re-read or re-assigned."""
    from distributed_api_etl_spark.operators.similarity import (
        assign_to_ivf_int8_index,
        build_ivf_int8_index,
        ivf_assign,
        ivf_int8_topk_from_index,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where(F.col("vec_id") < 400)
    new = emb.where(F.col("vec_id") >= 400)
    path = str(tmp_path / "ivf_idx")

    # initial build over the OLD corpus; centroids frozen from it
    index0, cents = build_ivf_int8_index(old, "vec_id", "embedding", 8)
    index0.write.partitionBy("centroid_id").parquet(path)
    # incremental: assign only the NEW batch, append
    assign_to_ivf_int8_index(new, cents, "vec_id", "embedding").write.partitionBy(
        "centroid_id"
    ).mode("append").parquet(path)
    appended = spark.read.parquet(path)

    # rebuild over the union with the SAME frozen centroids
    rebuilt = ivf_assign(
        quantize_embeddings(emb, "vec_id", "embedding"), cents, "vec_id", "qvec"
    ).select("vec_id", "qvec", "centroid_id")
    key = lambda df: {  # noqa: E731
        (r.vec_id, tuple(r.qvec), r.centroid_id) for r in df.collect()
    }
    assert key(appended) == key(rebuilt)

    # and serving from the appended layout == serving from the rebuilt frame
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    serve = lambda idx: {  # noqa: E731
        tuple(r)
        for r in ivf_int8_topk_from_index(
            idx, cents, emb, queries, "vec_id", "embedding", 3, 10, nprobe=2
        ).collect()
    }
    assert serve(appended) == serve(rebuilt)


def test_ivf_index_stats_shares_and_uniformity(spark, sf_dir):
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_int8_index,
        ivf_index_stats,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index, _ = build_ivf_int8_index(emb, "vec_id", "embedding", 8)
    n = emb.count()
    rows = {r.centroid_id: r for r in ivf_index_stats(index).collect()}
    assert sum(r.n_vectors for r in rows.values()) == n
    for r in rows.values():
        assert r.share_ppm == (1_000_000 * r.n_vectors) // n
        assert r.vs_uniform_ppm == (1_000_000 * r.n_vectors * len(rows)) // n
    # shares sum to ~1e6 (truncating div loses < n_buckets ppm)
    s = sum(r.share_ppm for r in rows.values())
    assert 1_000_000 - len(rows) < s <= 1_000_000

    # with the centroid table, EMPTY buckets stay in the report as zero
    # rows and the uniformity denominator is n_centroids, not the count
    # of non-empty buckets — otherwise drift that empties a bucket
    # silently shrinks the baseline and understates skew
    some_cid = next(iter(rows))
    drifted = index.where(F.col("centroid_id") != some_cid)
    emb2 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, cents = build_ivf_int8_index(emb2, "vec_id", "embedding", 8)
    full = {
        r.centroid_id: r
        for r in ivf_index_stats(drifted, cents, "vec_id").collect()
    }
    assert len(full) == 8 and full[some_cid].n_vectors == 0
    n2 = n - rows[some_cid].n_vectors
    for r in full.values():
        assert r.vs_uniform_ppm == (1_000_000 * r.n_vectors * 8) // n2


def test_pii_redact_masks_and_counts(spark):
    from distributed_api_etl_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c@ex-ample.co.uk and 192.168.1.1 and +44-123-456-7890"),
            (2, "clean text, no pii; almost@an@email 999.999.999.999 is matched"),
            (3, "trailing dot never joins: end. 1.2.3.4."),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert out[1].redacted_text == "mail [EMAIL] and [IPV4] and [PHONE]"
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    # "almost@an@email": the local-part regex matches "an@email"? no TLD dot
    # => no email match; 999.* still matches the (syntactic) ipv4 pattern
    assert out[2].n_email == 0 and out[2].n_ipv4 == 1
    assert out[3].n_ipv4 == 1 and out[3].redacted_text.endswith("[IPV4].")


def test_events_ts_normalizes_all_three_encodings(spark, tmp_path):
    """The driver's testdata has already switched events.ts encoding once
    between rounds (TIMESTAMP(NANOS) in r1 -> TIMESTAMP(MICROS) NTZ in r2).
    table()/normalize_events_ts must yield identical TIMESTAMP_NTZ values for
    nanos-long, micros-LTZ, and micros-NTZ files alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_api_etl_spark.queries.registry import table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789, 1_700_086_400_000_001]
    ids = list(range(len(micros)))
    cases = {
        "nanos_ntz": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "micros_ntz": pa.array(micros, pa.timestamp("us")),
        "micros_ltz": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    results = {}
    for label, arr in cases.items():
        d = tmp_path / label
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array(ids, pa.int64()), "ts": arr}),
            str(d / "events.parquet"),
        )
        df = table(spark, str(d), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz", label
        results[label] = {
            (r.event_id, r.ts.isoformat()) for r in df.select("event_id", "ts").collect()
        }
    assert results["nanos_ntz"] == results["micros_ntz"] == results["micros_ltz"]
    # and the values are the exact micros written, not rounded
    assert any(t.endswith("456789") for _, t in results["micros_ntz"])


def test_value_percentiles_approx_tier(spark, sf_dir):
    """The approx=True tier (approx_percentile sketch, the 100 TB path) is
    not cross-engine comparable, so it is smoke-checked here: same keys and
    counts as the exact tier, monotone p50<=p90<=p99, values inside the
    group's [min, max]."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.queries.events import value_percentiles
    from distributed_api_etl_spark.queries.registry import table

    ev = table(spark, sf_dir, "events")
    exact = {r.event_type: r for r in value_percentiles(ev).collect()}
    approx = {r.event_type: r for r in value_percentiles(ev, approx=True).collect()}
    bounds = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert set(exact) == set(approx)
    for k, a in approx.items():
        assert a.n == exact[k].n
        assert a.p50 <= a.p90 <= a.p99
        assert bounds[k].lo <= a.p50 and a.p99 <= bounds[k].hi


def test_chunk_documents_windows_and_tails(spark):
    """Chunk starts advance by stride; only full windows emit
    (drop_remainder); docs shorter than chunk_size yield nothing."""
    from distributed_api_etl_spark.operators.text import chunk_documents

    toks = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, toks), (2, "a b c")], "doc_id bigint, text string"
    )
    out = chunk_documents(df, "doc_id", "text", chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.start_token, r.chunk_text))
    # doc 1: starts 1,4,7 (last full window start = 10-4+1 = 7)
    assert by_doc[1] == [
        (0, 1, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 7, "t6 t7 t8 t9"),
    ]
    assert 2 not in by_doc  # 3 tokens < chunk_size => no full window


def test_two_phase_cc_matches_label_propagation(spark):
    """Star contraction == min-label propagation on random graphs (both
    exact), and converges in O(log n) rounds on a 200-node chain where
    label propagation would need 200 rounds."""
    import random

    from distributed_api_etl_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
    )

    rng = random.Random(42)
    # random sparse graph: 3 planted components + noise edges inside them
    comp_nodes = [list(range(b, b + 12)) for b in (0, 100, 200)]
    edges = []
    for nodes in comp_nodes:
        for i in range(1, len(nodes)):  # spanning chain keeps it connected
            edges.append((nodes[i - 1], nodes[i]))
        for _ in range(6):
            edges.append((rng.choice(nodes), rng.choice(nodes)))
    e = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
    lp = {(r.node, r.cluster_id) for r in connected_components(e).collect()}
    tp = {(r.node, r.cluster_id) for r in connected_components_two_phase(e).collect()}
    assert tp == lp

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "d1 bigint, d2 bigint"
    )
    got = {r.node: r.cluster_id for r in connected_components_two_phase(chain, max_iter=12).collect()}
    assert len(got) == 201
    assert set(got.values()) == {0}  # one component, min id 0, within 12 rounds


def test_salted_join_equals_plain_join(spark):
    """Salting is a pure re-key: row multiset identical to the plain join,
    including duplicate keys on both sides and left-join misses."""
    from distributed_api_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(k, i) for k in ("hot", "hot", "hot", "warm", "orphan") for i in range(5)],
        "k string, payload int",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("hot", 2), ("warm", 9)], "k string, dim int"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for how in ("inner", "left"):
        plain = big.join(small, ["k"], how)
        salted = salted_join(big, small, ["k"], n_salts=4, how=how)
        assert rows(salted) == rows(plain), how


def test_auto_salted_join_derivation(spark):
    """derive_n_salts sizes the salt count from MEASURED skew: a hot key
    with 60 of 100 rows at target 10 rows/task derives ceil(60/10)=6;
    uniform data derives 1 (no salting tax); max_salts clamps the
    replication cost; the empty frame degrades to 1. auto_salted_join
    stays row-identical to the plain join for the derived count, left
    misses included."""
    from distributed_api_etl_spark.operators.skew import (
        auto_salted_join,
        derive_n_salts,
    )

    skewed = spark.createDataFrame(
        [("hot", i) for i in range(60)]
        + [(f"k{i % 40}", i) for i in range(40)],
        "k string, payload int",
    )
    # minimum split: ceil(60/10) = 6 buckets of even-task size...
    n_min, info = derive_n_salts(
        skewed, ["k"], target_rows_per_task=10, oversalt=1
    )
    assert n_min == 6 and info["hot_key_rows"] == 60
    assert info["total_rows"] == 100
    # ...default oversalt=8 shrinks buckets below the even share so
    # reducer collisions stay cheap (the measured SCALE.md r16 curve)
    assert derive_n_salts(skewed, ["k"], target_rows_per_task=10)[0] == 48
    n_clamped, _ = derive_n_salts(
        skewed, ["k"], target_rows_per_task=10, max_salts=4
    )
    assert n_clamped == 4
    uniform = spark.createDataFrame(
        [(f"k{i}", i) for i in range(20)], "k string, payload int"
    )
    # hot <= target: no straggler to split -> no replication tax
    assert derive_n_salts(uniform, ["k"], target_rows_per_task=10)[0] == 1
    empty = spark.createDataFrame([], "k string, payload int")
    assert derive_n_salts(empty, ["k"], target_rows_per_task=10)[0] == 1
    small = spark.createDataFrame(
        [("hot", 1), ("k1", 9)], "k string, dim int"
    )
    for how in ("inner", "left"):
        joined, jinfo = auto_salted_join(
            skewed, small, ["k"], how=how, target_rows_per_task=10
        )
        assert jinfo["n_salts"] == 48
        assert sorted(tuple(r) for r in joined.collect()) == sorted(
            tuple(r) for r in skewed.join(small, ["k"], how).collect()
        ), how


def test_operators_tolerate_empty_input(spark):
    """Every pipeline stage must yield an empty (not crashing) result on an
    empty input frame — at 100 TB, date-scoped runs routinely see empty
    slices and a crash poisons the whole job."""
    from distributed_api_etl_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
        dedup_cluster_assignment,
    )
    from distributed_api_etl_spark.operators.similarity import embedding_lsh_pairs
    from distributed_api_etl_spark.operators.skew import salted_join
    from distributed_api_etl_spark.operators.text import chunk_documents, tfidf_top_terms

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_edges = spark.createDataFrame([], "d1 bigint, d2 bigint")
    empty_emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")

    assert D.minhash_lsh_pairs(empty_docs, "doc_id", "text", 3, 70).count() == 0
    assert D.exact_fingerprint_groups(empty_docs, "doc_id", "text").count() == 0
    assert chunk_documents(empty_docs, "doc_id", "text", 4, 3).count() == 0
    assert tfidf_top_terms(empty_docs, "doc_id", "text").count() == 0
    assert connected_components(empty_edges).count() == 0
    assert connected_components_two_phase(empty_edges).count() == 0
    assert dedup_cluster_assignment(empty_edges, empty_docs, "doc_id").count() == 0
    assert embedding_lsh_pairs(empty_emb, "vec_id", "embedding", 0.3, dim=4).count() == 0
    assert (
        salted_join(empty_docs, empty_docs.select("doc_id"), ["doc_id"]).count() == 0
    )
    # round-6 additions honor the same contract
    from distributed_api_etl_spark.operators.text import dsir_importance_scores

    assert D.passage_exact_dedup(empty_docs, "doc_id", "text").count() == 0
    assert D.jaccard_pairs(empty_docs, "doc_id", "text", 3, 80).count() == 0
    assert (
        dsir_importance_scores(
            empty_docs, "doc_id", "text", F.lit(True)
        ).count()
        == 0
    )


def test_lsh_params_hold_bucket_size():
    from distributed_api_etl_spark.operators.similarity import lsh_params_for

    for n in (1_000, 32_000, 1_000_000, 10_000_000_000):
        n_planes, band_bits = lsh_params_for(n)
        assert n_planes == 8 * band_bits
        assert 2 <= band_bits <= 16
        # expected bucket size n / 2^band_bits stays within ~2x of target
        assert n / (1 << band_bits) <= 400 or band_bits == 16
    assert lsh_params_for(32_000) == (64, 8)  # the measured configuration


def test_embedding_lsh_validates_params_and_nulls(spark):
    """Eager ValueError on indivisible banding (trailing planes would be
    silently dropped) and a clear error on null embedding vectors."""
    import pytest

    from distributed_api_etl_spark.operators.similarity import embedding_lsh_pairs

    emb = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="divisible"):
        embedding_lsh_pairs(emb, "vec_id", "embedding", 0.5, dim=8, n_planes=10, band_bits=4)

    withnull = spark.createDataFrame(
        [(1, [0.1] * 8), (2, None)], "vec_id int, embedding array<double>"
    )
    out = embedding_lsh_pairs(
        withnull, "vec_id", "embedding", 0.5, dim=8, n_planes=8, band_bits=4
    )
    with pytest.raises(Exception, match="null embedding"):
        out.collect()


def test_release_caches_unpersists_tracked_frames(spark):
    from distributed_api_etl_spark.session import release_caches, scoped_persist

    df = scoped_persist(spark.range(10))
    assert df.count() == 10
    assert release_caches() >= 1
    assert not df.is_cached


def test_incremental_lsh_equals_full_lsh_restricted(spark, sf_dir):
    """Incremental (new-batch vs corpus) pairs == the full self-join LSH
    pairs restricted to pairs touching >=1 new doc — same recall, without
    the corpus self-join."""
    from distributed_api_etl_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_lsh_pairs,
    )
    from distributed_api_etl_spark.queries.registry import table

    docs = table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    inc = {
        (r.d1, r.d2)
        for r in incremental_lsh_pairs(new, corpus, "doc_id", "text", 3, 70).collect()
    }
    full = {
        (r.d1, r.d2)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", 3, 70).collect()
        if r.d1 % 5 == 0 or r.d2 % 5 == 0
    }
    assert inc == full and inc  # non-vacuous


def test_semantic_representatives_cover_clusters(spark, sf_dir):
    """One representative per non-empty cluster; the representative belongs
    to its cluster; cluster sizes partition the corpus."""
    from distributed_api_etl_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
        semantic_representatives,
    )
    from distributed_api_etl_spark.queries.registry import table

    emb = table(spark, sf_dir, "embeddings")
    reps = semantic_representatives(emb, "vec_id", "embedding", 8, iters=2).collect()
    cents = kmeans_centroids(emb, "vec_id", "embedding", 8, iters=2)
    assign = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(emb, cents, "vec_id", "embedding").collect()
    }
    assert len({r.centroid_id for r in reps}) == len(reps)
    for r in reps:
        assert assign[r.keep_id] == r.centroid_id
    assert sum(r.cluster_size for r in reps) == emb.count()


def test_shard_assignment_layout_invariant(spark, sf_dir):
    """Shard/sort_key are pure row functions: invariant under repartition,
    shards in range, and a different seed produces a different permutation."""
    from distributed_api_etl_spark.operators.sampling import shard_assignment
    from distributed_api_etl_spark.queries.registry import table

    docs = table(spark, sf_dir, "documents")
    a = {r.doc_id: (r.shard, r.sort_key)
         for r in shard_assignment(docs, "doc_id", 8, "epoch0").collect()}
    b = {r.doc_id: (r.shard, r.sort_key)
         for r in shard_assignment(docs.repartition(13), "doc_id", 8, "epoch0").collect()}
    assert a == b
    assert all(0 <= v[0] < 8 for v in a.values())
    c = {r.doc_id: (r.shard, r.sort_key)
         for r in shard_assignment(docs, "doc_id", 8, "epoch1").collect()}
    assert c != a


def test_scd2_two_batches_build_history(spark):
    """Two sequential update batches: change -> version chain with correct
    validity windows; unchanged re-land suppressed; new key inserts."""
    from distributed_api_etl_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", "2024-01-01 00:00:00", None), (2, "B", "2024-01-01 00:00:00", None)],
        "k int, seg string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "seg",
        "CAST(valid_from AS timestamp_ntz) AS valid_from",
        "CAST(valid_to AS timestamp_ntz) AS valid_to",
    )

    def upd(rows):
        return spark.createDataFrame(
            rows, "k int, seg string, effective_ts string"
        ).selectExpr("k", "seg", "CAST(effective_ts AS timestamp_ntz) AS effective_ts")

    # batch 1: key1 changes, key2 re-lands unchanged, key3 is new
    d1 = scd2_apply(dim, upd([(1, "X", "2024-02-01 00:00:00"),
                              (2, "B", "2024-02-01 00:00:00"),
                              (3, "C", "2024-02-01 00:00:00")]),
                    "k", ["seg"])
    # batch 2: key1 changes again
    d2 = scd2_apply(d1, upd([(1, "Y", "2024-03-01 00:00:00")]), "k", ["seg"])

    rows = {(r.k, r.seg, str(r.valid_from), str(r.valid_to)) for r in d2.collect()}
    assert rows == {
        (1, "A", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        (1, "X", "2024-02-01 00:00:00", "2024-03-01 00:00:00"),
        (1, "Y", "2024-03-01 00:00:00", "None"),
        (2, "B", "2024-01-01 00:00:00", "None"),   # no spurious version
        (3, "C", "2024-02-01 00:00:00", "None"),
    }
    # exactly one current version per key
    cur = d2.where(F.col("valid_to").isNull()).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_hll_estimate_within_error_and_mergeable(spark):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators import sketch as SK

    n = 5000
    df = spark.range(n).select(F.col("id").alias("k"), (F.col("id") % 2).alias("g"))
    regs = SK.hll_registers(df, "k", [])
    est = SK.hll_estimate(regs, []).collect()[0]["est_distinct"]
    # m=256 -> sigma ~6.5%; 4 sigma is a deterministic bound for this fixed
    # hash (no randomness run to run)
    assert abs(est - n) / n < 0.26
    # merge algebra: registers of two disjoint halves, max-merged, must give
    # the EXACT registers (hence estimate) of the whole
    lo = SK.hll_registers(df.where(F.col("k") < n // 2), "k", [])
    hi = SK.hll_registers(df.where(F.col("k") >= n // 2), "k", [])
    merged = (
        lo.unionByName(hi)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    est_merged = SK.hll_estimate(merged, []).collect()[0]["est_distinct"]
    assert est_merged == est


def test_bloom_no_false_negatives_and_tiny_bitmap_fps(spark):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators import sketch as SK

    members = spark.range(200).select((F.col("id") * 3).alias("k"))
    probe = spark.range(2000).select(F.col("id").alias("k"))
    # deliberately undersized bitmap: false positives MUST appear, false
    # negatives must NOT (the one-sided error contract)
    bm = SK.build_bloom(members, "k", m_bits=512)
    marked = SK.bloom_might_contain(probe, "k", bm, m_bits=512)
    got = {r["k"]: r["bloom_pass"] for r in marked.collect()}
    true_members = {i * 3 for i in range(200) if i * 3 < 2000}
    assert all(got[k] for k in true_members), "false negative!"
    n_pass = sum(1 for v in got.values() if v)
    assert n_pass > len(true_members), "expected false positives at 512 bits"
    # production-sized bitmap: FP rate under 1%
    bm2 = SK.build_bloom(members, "k")
    n_pass2 = (
        SK.bloom_might_contain(probe, "k", bm2).where("bloom_pass").count()
    )
    assert n_pass2 - len(true_members) <= 0.01 * 2000


def test_pagerank_mass_and_star_center(spark):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    # star: center 0, leaves 1..10 — center must out-rank every leaf, and
    # total fixed-point mass stays ~scale (floor drift only: < |V| units
    # lost per round)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 11)], ["d1", "d2"]
    )
    pr = pagerank_fixed_point(edges, iters=3).collect()
    ranks = {r["node"]: r["pr_fp"] for r in pr}
    assert max(ranks, key=ranks.get) == 0
    assert abs(sum(ranks.values()) - PR_SCALE) < 11 * 3 * 100
    # leaves are symmetric: identical integer ranks
    leaf_ranks = {ranks[i] for i in range(1, 11)}
    assert len(leaf_ranks) == 1


def test_boilerplate_ngram_stats_flags_planted_template(spark):
    from distributed_api_etl_spark.operators.text import boilerplate_ngram_stats

    template = "all rights reserved by example corp"
    rows = [(i, f"unique{i} words only here {i} " + template) for i in range(8)]
    rows += [(100 + i, f"fresh{i} standalone doc number {i} nothing shared") for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_ngram_stats(docs, "doc_id", "text", n=3, min_df=5).collect()
    }
    assert len(out) == 12
    # template docs carry the shared trigrams; fresh docs carry none
    for i in range(8):
        assert out[i]["boiler_grams"] >= 4, out[i]
        assert out[i]["boiler_ppm"] > 0
    for i in range(4):
        assert out[100 + i]["boiler_grams"] == 0
        assert out[100 + i]["boiler_ppm"] == 0


def test_zorder_layout_clusters_both_dimensions(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.layout import (
        with_zorder_key,
        write_zordered,
    )
    from distributed_api_etl_spark.queries.registry import table

    ev = table(spark, sf_dir, "events").withColumn(
        "minute_idx", F.expr("div(unix_millis(cast(ts as timestamp)), 60000)")
    )
    zloc = str(tmp_path / "z")
    write_zordered(ev, zloc, "user_id", "minute_idx", n_files=8)
    back = spark.read.parquet(zloc)
    assert back.count() == ev.count()
    assert "_zval" not in back.columns
    # per-file bounding boxes: under z-order, one user's rows live in a few
    # files; under a pure time sort they smear across all of them
    files = back.inputFiles()
    assert len(files) >= 4
    uid = ev.select("user_id").first()["user_id"]

    def files_holding(loc_files):
        n = 0
        for f in loc_files:
            if spark.read.parquet(f).where(F.col("user_id") == uid).limit(1).count():
                n += 1
        return n

    tloc = str(tmp_path / "t")
    (ev.repartitionByRange(8, "minute_idx").sortWithinPartitions("minute_idx")
       .write.parquet(tloc))
    t_files = spark.read.parquet(tloc).inputFiles()
    z_hits, t_hits = files_holding(files), files_holding(t_files)
    assert z_hits < t_hits, (z_hits, t_hits)


def test_snapshot_diff_classifies_all_change_types(spark):
    from distributed_api_etl_spark.operators.reconcile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 31.0), (4, "d", 40.0)], ["k", "s", "v"]
    )
    d = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k", ["s", "v"]).collect()}
    assert d == {1: "removed", 3: "changed", 4: "added"}
    full = snapshot_diff(old, new, "k", ["s", "v"], include_unchanged=True)
    s = {
        r["change_type"]: r["n"]
        for r in full.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    assert s == {"removed": 1, "changed": 1, "added": 1, "unchanged": 1}
    # null-tagging: NULL vs 'null' string must differ
    o2 = spark.createDataFrame([(1, None)], "k int, s string")
    n2 = spark.createDataFrame([(1, "null")], "k int, s string")
    assert snapshot_diff(o2, n2, "k", ["s"]).collect()[0]["change_type"] == "changed"


def test_round4_operators_tolerate_empty_input(spark):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.graph import pagerank_fixed_point
    from distributed_api_etl_spark.operators.reconcile import snapshot_diff
    from distributed_api_etl_spark.operators.sketch import (
        bloom_might_contain,
        build_bloom,
        hll_estimate,
        hll_registers,
    )
    from distributed_api_etl_spark.operators.text import boilerplate_ngram_stats
    from distributed_api_etl_spark.queries.events import winsorize_normalize

    empty_kv = spark.createDataFrame([], "k bigint, v double")
    empty_edges = spark.createDataFrame([], "d1 bigint, d2 bigint")
    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")

    assert pagerank_fixed_point(empty_edges).count() == 0
    # global (no-group) estimate of an empty set: one row, estimate 0
    est_rows = hll_estimate(hll_registers(empty_kv, "k", []), []).collect()
    assert len(est_rows) == 1 and est_rows[0]["est_distinct"] == 0.0
    # empty build side: bitmap empty, NOTHING passes (no false positives
    # from a missing filter)
    probe = spark.createDataFrame([(1,), (2,)], "k bigint")
    bm = build_bloom(empty_kv, "k")
    assert bloom_might_contain(probe, "k", bm).where("bloom_pass").count() == 0
    assert snapshot_diff(empty_kv, empty_kv, "k", ["v"]).count() == 0
    assert boilerplate_ngram_stats(empty_docs, "doc_id", "text").count() == 0
    out = winsorize_normalize(empty_kv, "v")
    assert out.count() == 0 and "v_norm" in out.columns


def test_file_bounding_boxes_quantify_zorder_layout(spark, tmp_path, sf_dir):
    """Z-order layout => BOTH dimensions' per-file coverage is a fraction
    of the domain; a time-only sort leaves user_id coverage ~1 per file."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.layout import write_zordered
    from distributed_api_etl_spark.queries.registry import table

    ev = table(spark, sf_dir, "events").withColumn(
        "minute_idx", F.expr("div(unix_millis(cast(ts as timestamp)), 60000)")
    )
    zloc, tloc = str(tmp_path / "z"), str(tmp_path / "t")
    write_zordered(ev, zloc, "user_id", "minute_idx", n_files=8)
    (ev.repartitionByRange(8, "minute_idx").sortWithinPartitions("minute_idx")
       .write.parquet(tloc))

    def mean_cov(loc, col):
        # per-file box width / global width, averaged over files
        df = spark.read.parquet(loc)
        lo, hi = df.agg(F.min(col), F.max(col)).first()
        widths = [
            r.w
            for r in df.groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("w"))
            .collect()
        ]
        return sum(widths) / len(widths) / (hi - lo)

    z_user, t_user = mean_cov(zloc, "user_id"), mean_cov(tloc, "user_id")
    assert z_user < t_user * 0.8, (z_user, t_user)
    # and the z layout still bounds time decently (it trades, not discards)
    assert mean_cov(zloc, "minute_idx") < 1.0


def test_shuffle_bytes_snapshot_monotonic_and_sensitive(spark):
    """The measured-shuffle instrument: counters are monotonic, and a
    real exchange moves them while a map-only job does not."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.session import shuffle_bytes_snapshot

    w0, r0 = shuffle_bytes_snapshot(spark)
    df = spark.range(0, 20000, 1, 4)
    # map-only: no exchange
    df.select((F.col("id") * 2).alias("x")).write.format("noop").mode(
        "overwrite"
    ).save()
    w1, r1 = shuffle_bytes_snapshot(spark)
    assert (w1 - w0, r1 - r0) == (0, 0)
    # groupBy on a wide key: real exchange
    df.groupBy((F.col("id") % 1000).alias("k")).count().write.format("noop").mode(
        "overwrite"
    ).save()
    w2, r2 = shuffle_bytes_snapshot(spark)
    assert w2 > w1 and r2 >= r1


def test_pagerank_damping_params_respected(spark):
    """d=0 (pure teleport) must give every node exactly scale//N whatever
    the graph shape — pins the teleport term to the damping params (a
    hardcoded 15/100 base made any non-default damping silently wrong)."""
    from distributed_api_etl_spark.operators.graph import PR_SCALE, pagerank_fixed_point

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "d1 bigint, d2 bigint")
    rows = pagerank_fixed_point(edges, iters=2, damping_num=0, damping_den=100).collect()
    assert len(rows) == 3
    assert {r["pr_fp"] for r in rows} == {PR_SCALE // 3}


def test_triangle_counts_known_graphs(spark):
    """K4 (every node in C(3,2)=3 triangles), a path (zero triangles), and
    a star (zero triangles despite a high-degree hub — the orientation's
    whole point), all in one graph; plus reversed/duplicate edge input."""
    from distributed_api_etl_spark.operators.graph import triangle_counts

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(10, 11), (11, 12), (12, 13)]
    star = [(20, 21), (20, 22), (20, 23), (20, 24)]
    # duplicates + reversed orientation must not change counts
    noisy = k4 + path + star + [(2, 1), (3, 1), (11, 10)]
    edges = spark.createDataFrame(noisy, "d1 bigint, d2 bigint")
    got = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    assert {n: t for n, t in got.items() if n < 10} == {1: 3, 2: 3, 3: 3, 4: 3}
    assert all(got[n] == 0 for n in (10, 11, 12, 13, 20, 21, 22, 23, 24))
    assert len(got) == 13


def test_cusum_changepoints_level_shift(spark):
    """A 10/day series that jumps to 100/day must flag during the elevated
    regime and never before it; the window identity must equal the
    sequential recurrence exactly."""
    from distributed_api_etl_spark.operators.timeseries import cusum_changepoints

    vals = [10] * 20 + [100] * 10
    rows = [("a", d, v) for d, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, day long, v long")
    out = {
        r["day"]: r
        for r in cusum_changepoints(df, ["k"], "day", "v").collect()
    }
    # sequential reference with the same rational params (slack=mu/10, h=3mu)
    n, total = len(vals), sum(vals)
    s, flags, stats = 0, [], []
    for v in vals:
        s = max(0, s + (10 * n * v - 11 * total))
        stats.append(s / (10 * n))
        flags.append(s > 30 * total)
    for d in range(n):
        assert out[d]["is_changepoint"] == flags[d], d
        assert abs(out[d]["cusum"] - stats[d]) < 1e-9, d
    assert not any(flags[:20])  # stable regime never flags
    assert any(flags[20:])  # the shift is detected


def test_edit_distance_pairs_symspell_blocking(spark):
    """Substitution / deletion / insertion neighbors found; distance-2
    excluded even when a double-deletion key collides; exact duplicates
    surface as lev=0."""
    from distributed_api_etl_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "cat"), (2, "bat"),      # substitution  -> lev 1
        (3, "cart"),                 # insertion vs cat -> lev 1
        (4, "ca"),                   # deletion vs cat -> lev 1
        (5, "dog"),                  # far from everything
        (6, "bt"),                   # lev(bat,bt)=1 ; lev(cat,bt)=2 excluded
        (7, "cat"),                  # exact dup of 1 -> lev 0
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    got = {(r["d1"], r["d2"]): r["lev"]
           for r in edit_distance_pairs(df, "id", "name").collect()}
    # authoritative check: brute force over all pairs
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    expected = {
        (i, j): lev(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 1
    }
    assert got == expected

    # distance 2: the 2-deletion neighborhood must find substitution+insertion
    # combos ("cart" vs "bat" = sub+del = 2) while excluding distance 3
    got2 = {(r["d1"], r["d2"]): r["lev"]
            for r in edit_distance_pairs(df, "id", "name", max_dist=2).collect()}
    expected2 = {
        (i, j): lev(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 2
    }
    assert got2 == expected2
    assert got2[(2, 3)] == 2  # bat ~ cart: substitution + insertion


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every member of a cluster gets the same split; proportions are
    hash-driven; assignment is layout-invariant."""
    from distributed_api_etl_spark.operators.sampling import leakage_safe_split

    import pytest

    cm = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 137).alias("cluster_id")
    )
    out = leakage_safe_split(cm, "cluster_id")
    per_cluster = out.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_cluster.where("n_splits > 1").count() == 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # layout invariance: same assignment under a different partitioning
    out2 = leakage_safe_split(cm.repartition(13), "cluster_id")
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {(r["doc_id"], r["split"]) for r in out2.collect()}
    assert a == b
    # a different seed re-rolls at least one cluster
    out3 = leakage_safe_split(cm, "cluster_id", seed="epoch2")
    c = {(r["doc_id"], r["split"]) for r in out3.collect()}
    assert c != a
    with pytest.raises(ValueError):
        leakage_safe_split(cm, "cluster_id", train_pct=95, val_pct=10)


def test_next_event_examples_window_semantics(spark):
    """Hand-checked: oldest-first feature order, short-history rows dropped,
    (ts, id) tie-break."""
    import datetime as dt

    from distributed_api_etl_spark.operators.examples import next_event_examples

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a,b,c,d,e -> examples at d (a b c) and e (b c d)
        (1, t0, 1, "a"),
        (2, t0 + dt.timedelta(minutes=1), 1, "b"),
        (3, t0 + dt.timedelta(minutes=2), 1, "c"),
        (4, t0 + dt.timedelta(minutes=3), 1, "d"),
        (5, t0 + dt.timedelta(minutes=4), 1, "e"),
        # user 2: only 3 events -> one example; first two share a ts, so the
        # event_id tie-break decides feature order
        (6, t0, 2, "x"),
        (7, t0, 2, "y"),
        (8, t0 + dt.timedelta(minutes=1), 2, "z"),
        (9, t0 + dt.timedelta(minutes=2), 2, "w"),
        # user 3: NULL mid-stream poisons every window it appears in AND
        # its own label row — no examples until 3 non-null predecessors
        (10, t0, 3, "p"),
        (11, t0 + dt.timedelta(minutes=1), 3, None),
        (12, t0 + dt.timedelta(minutes=2), 3, "q"),
        (13, t0 + dt.timedelta(minutes=3), 3, "r"),
        (14, t0 + dt.timedelta(minutes=4), 3, "s"),
        (15, t0 + dt.timedelta(minutes=5), 3, "t"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    got = {
        r["example_id"]: (r["user_id"], r["features"], r["label"])
        for r in next_event_examples(ev).collect()
    }
    assert got == {
        4: (1, "a b c", "d"),
        5: (1, "b c d", "e"),
        9: (2, "x y z", "w"),
        15: (3, "q r s", "t"),  # first window past user 3's NULL
    }


def test_bm25_scores_match_reference_formula(spark):
    """Spark BM25 equals a plain-Python Okapi implementation to the
    operator's 1e-6 fixed-point grid; zero-match docs present with 0."""
    import math

    from distributed_api_etl_spark.operators.text import bm25_scores

    docs = [
        (1, "spark join spark stream table"),
        (2, "table row batch filter merge"),  # no query terms
        (3, "stream stream stream spark"),
        (4, "vector"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    terms = ["spark", "stream", "vector"]
    got = {r["doc_id"]: (r["score"], r["n_terms_matched"])
           for r in bm25_scores(df, "doc_id", "text", terms).collect()}

    k1, b = 1.2, 0.75
    toks = {i: t.split(" ") for i, t in docs}
    n = len(docs)
    total = sum(len(t) for t in toks.values())
    dft = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}

    def ref(i):
        dl = len(toks[i])
        micro = 0
        matched = 0
        for t in terms:
            tf = toks[i].count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log(1 + (n - dft[t] + 0.5) / (dft[t] + 0.5))
            s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl * n / total))
            micro += math.floor(s * 1e6 + 0.5)
        return micro / 1e6, matched

    for i, _ in docs:
        exp_score, exp_matched = ref(i)
        assert got[i][1] == exp_matched
        assert abs(got[i][0] - exp_score) < 1e-9, (i, got[i], exp_score)
    assert got[2] == (0.0, 0)


def test_epoch_day_and_dow_floor_semantics_pre_1970(spark):
    """epoch_day must FLOOR (not truncate) on both engines — and NEITHER
    engine does so natively: Spark's ``div`` truncates toward zero and
    DuckDB's integer ``//`` ALSO truncates (-7 // 2 = -3; the round-4
    advice claiming ``//`` floors was wrong — this test is the pin).
    Likewise both engines' ``%`` keeps the dividend's sign, so the dow mod
    must be built non-negative (pmod / pmod_sql) on both sides.

    TZ note: the Spark frame is built from epoch MILLIS via
    timestamp_millis (an absolute instant), never from naive datetimes —
    createDataFrame(naive datetime) converts through the OS process
    timezone, which spark.sql.session.timeZone does not control, and would
    break this test on any non-UTC machine."""
    import datetime as dt

    import duckdb

    from distributed_api_etl_spark.functions.portable import (
        epoch_day,
        epoch_day_sql,
    )

    stamps = [
        dt.datetime(1969, 12, 24, 5, 0, 0),   # pre-epoch, mid-day
        dt.datetime(1969, 12, 31, 23, 59, 59),  # day -1 boundary
        dt.datetime(1970, 1, 1, 0, 0, 0),     # day 0
        dt.datetime(1970, 1, 2, 12, 0, 0),    # day 1
        dt.datetime(1995, 6, 15, 9, 30, 0),   # in-data range
    ]
    # ground truth: python floor division over the UTC-wall epoch millis
    ms_list = [
        int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) for t in stamps
    ]
    expected = [
        (ms // 86_400_000, (ms // 86_400_000 + 4) % 7) for ms in ms_list
    ]  # python // floors and % is non-negative for positive modulus
    sdf = spark.createDataFrame([(ms,) for ms in ms_list], "ms bigint").select(
        F.timestamp_millis(F.col("ms")).alias("ts")
    )
    got = [
        (r["d"], r["dow"])
        for r in sdf.select(
            epoch_day("ts").alias("d"),
            F.pmod(epoch_day("ts") + F.lit(4), F.lit(7)).cast("int").alias("dow"),
        ).collect()
    ]
    assert got == expected
    # and the SQL half agrees on the same instants (DuckDB TIMESTAMP
    # literals are naive UTC-wall — exactly what epoch_ms assumes)
    con = duckdb.connect()
    for t, (d, _) in zip(stamps, expected):
        o = con.sql(
            "SELECT " + epoch_day_sql(f"TIMESTAMP '{t.isoformat()}'") + " AS d"
        ).fetchone()
        assert o[0] == d, (t, o[0], d)


def test_pmod_sql_matches_spark_pmod_on_negatives(spark):
    """pmod_sql (the one audited non-negative-mod SQL form) must agree with
    Spark's pmod for negative dividends — the shared idiom behind the dow
    and z-order oracles."""
    import duckdb

    from distributed_api_etl_spark.functions.portable import pmod_sql

    values = [-673200000, -59999, -7, -1, 0, 1, 7, 59999, 673200000]
    for m in (2, 7, 65536):
        got_spark = [
            r["p"]
            for r in spark.createDataFrame([(v,) for v in values], "x bigint")
            .select(F.pmod(F.col("x"), F.lit(m)).alias("p"))
            .collect()
        ]
        con = duckdb.connect()
        got_duck = [
            con.sql(f"SELECT {pmod_sql(str(v), m)}").fetchone()[0] for v in values
        ]
        expected = [v % m for v in values]  # python % non-negative for m>0
        assert got_spark == expected, (m, got_spark)
        assert got_duck == expected, (m, got_duck)


def test_unigram_logppl_matches_python_reference(spark):
    """Spark unigram surprisal equals a plain-Python reference on the
    micro-nat grid; constant-corpus docs score ~0; rare-token docs score
    higher than common-token docs."""
    import math

    from distributed_api_etl_spark.operators.text import unigram_logprob_scores

    docs = [
        (1, "a a a a"),
        (2, "a a b b"),
        (3, "rare a a a"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in unigram_logprob_scores(df, "doc_id", "text").collect()}

    toks = {i: t.split(" ") for i, t in docs}
    freq: dict[str, int] = {}
    for t in toks.values():
        for w in t:
            freq[w] = freq.get(w, 0) + 1
    total = sum(freq.values())
    for i, t in toks.items():
        micro = sum(math.floor(math.log(total / freq[w]) * 1e6 + 0.5) for w in t)
        assert got[i]["surprisal_micro_sum"] == micro, i
        assert got[i]["n_tokens"] == len(t)
        assert abs(got[i]["mean_surprisal_nats"] - micro / 1e6 / len(t)) < 1e-12
    # rare token doc scores strictly higher than the all-common doc
    assert got[3]["mean_surprisal_nats"] > got[1]["mean_surprisal_nats"]


def test_passage_exact_dedup_semantics(spark):
    """Lee-et-al-style span dedup: repeated passages survive only at their
    first (doc_id, idx) occurrence; intra-doc repeats, null text, and the
    short tail passage all follow the contract."""
    from distributed_api_etl_spark.operators.dedup import passage_exact_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),   # two full passages, both unique-ish
            (2, "a b c d e x"),           # first passage dups d1's; tail "x" kept
            (4, None),                    # null text -> (0, 0, '')
            (5, "a b c d e"),             # exact dup of the shared passage
            (6, "z z z z z z z z z z"),   # intra-doc repeat: keep first only
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n_passages, r.kept_passages, r.cleaned_text)
        for r in passage_exact_dedup(
            docs, "doc_id", "text", passage_tokens=5, min_df=2
        ).collect()
    }
    assert out[1] == (2, 2, "a b c d e f g h i j")  # keeper of the dup passage
    assert out[2] == (2, 1, "x")
    assert out[4] == (0, 0, "")
    assert out[5] == (1, 0, "")
    assert out[6] == (2, 1, "z z z z z")


def test_passage_incremental_dedup_semantics(spark):
    """Corpus hit drops ALL new occurrences (corpus holds the keeper);
    batch-internal repeats keep the first (doc_id, idx); corpus-free
    unique passages survive; output covers new docs only."""
    from distributed_api_etl_spark.operators.dedup import passage_incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "a b c d e x y z w v")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "a b c d e q q q q q"),  # p1 in corpus -> dropped; p2 unique
            (20, "q q q q q"),            # repeats doc 10's p2 -> keeper is (10,2)
            (30, "n n n n n"),            # unique, untouched
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n_passages, r.kept_passages, r.cleaned_text)
        for r in passage_incremental_dedup(
            new, corpus, "doc_id", "text", passage_tokens=5, min_df=2
        ).collect()
    }
    assert set(out) == {10, 20, 30}  # corpus docs never appear
    assert out[10] == (2, 1, "q q q q q")
    assert out[20] == (1, 0, "")
    assert out[30] == (1, 1, "n n n n n")


def test_ccnet_buckets_order_and_degenerate(spark):
    """Bucket assignment must follow score order (most-fluent = head) and
    a constant-score corpus must collapse to all-head (lo == hi histogram
    degenerates, t33 == t66 == the score)."""
    from distributed_api_etl_spark.operators.text import ccnet_ppl_buckets

    # 9 docs in three fluency tiers: 'a' dominates the corpus (cheap),
    # 'm*' words appear twice (middle), 'r*' words are singletons (rare)
    rows = [(i, "a a a a a a") for i in range(3)]
    rows += [(i + 3, f"m{i} n{i} m{i} n{i}") for i in range(3)]
    rows += [(i + 6, f"r{2*i} r{2*i+1} s{2*i} s{2*i+1}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.bucket for r in
           ccnet_ppl_buckets(df, "doc_id", "text").collect()}
    assert all(out[i] == "head" for i in range(3))
    assert all(out[i + 6] == "tail" for i in range(3))

    const = spark.createDataFrame(
        [(i, "x y z") for i in range(5)], "doc_id bigint, text string"
    )
    cout = ccnet_ppl_buckets(const, "doc_id", "text").collect()
    assert {r.bucket for r in cout} == {"head"}
    assert all(r.t33 == r.t66 for r in cout)


def test_gopher_flags_reject_null_and_empty_text(spark):
    """A quality gate that drops '' but keeps NULL is inverted (ADVICE r6):
    null text must coalesce to empty and fail the min-word-count rule on
    both engines, while a normal passing doc stays kept."""
    from distributed_api_etl_spark.operators.text import gopher_quality_flags

    passing = " ".join(
        ["the quick brown foxes jumped over the lazy sleeping dogs"] * 6
    )
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, passing)], "doc_id bigint, text string"
    )
    out = {
        r.doc_id: (r.n_words, r.gopher_flags, r.keep)
        for r in gopher_quality_flags(docs, "doc_id", "text").collect()
    }
    # null and empty text behave identically: one empty token, rejected
    assert out[1] == out[2]
    assert out[1][0] == 1 and out[1][2] is False and out[1][1] & 1
    assert out[3][2] is True


def test_sliding_span_dedup_catches_misaligned_spans(spark):
    """The fixed-grid gap (VERDICT r6 missing #1): a span repeated at
    different intra-doc offsets is invisible to grid chunking but removed
    by stride-1 sliding windows; keeper = min (doc_id, start); coverage
    drops tokens, overlap unions, short/null docs pass through."""
    from distributed_api_etl_spark.operators.dedup import (
        passage_exact_dedup,
        sliding_span_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),   # span "c d e f g" at s=3 (keeper)
            (2, "z c d e f g q"),     # same span at s=2 -> misaligned vs grid
            (3, None),                # null text -> (0, 0, '')
            (4, "p q"),               # shorter than the window: untouched
            (5, "m m m m m m"),       # intra-doc overlap: s=2 drops pos 2-6
        ],
        "doc_id bigint, text string",
    )
    # the grid version misses the misaligned repeat entirely
    grid = {
        r.doc_id: r.kept_passages
        for r in passage_exact_dedup(
            docs, "doc_id", "text", passage_tokens=5, min_df=2
        ).collect()
    }
    assert grid[2] == 2  # nothing stripped: the span straddles grid cells
    out = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.cleaned_text)
        for r in sliding_span_dedup(
            docs, "doc_id", "text", window_tokens=5, min_df=2
        ).collect()
    }
    assert out[1] == (8, 8, "a b c d e f g h")  # keeper occurrence untouched
    assert out[2] == (7, 2, "z q")              # covered tokens stripped
    assert out[3] == (0, 0, "")
    assert out[4] == (2, 2, "p q")
    assert out[5] == (6, 1, "m")


def test_trigram_logppl_matches_python_reference(spark):
    """Spark interpolated-trigram surprisal equals a plain-Python
    reference on the micro-nat grid; the BOS padding yields exactly
    n_tokens scored trigrams per doc; a doc of a repeated common pattern
    scores below one containing a unique continuation."""
    import math
    from collections import Counter

    from distributed_api_etl_spark.operators.text import (
        LM_BOS,
        ngram_logprob_scores,
        trigram_logprob_scores,
    )

    docs = [
        (1, "a b a b a b"),
        (2, "a b c"),
        (3, "c c a b"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r
        for r in ngram_logprob_scores(df, "doc_id", "text", order=3).collect()
    }
    # the bespoke broadcast-interpolation plan (kept for the graded head by
    # the r8 shape A/B) must agree with the generic score-table plan exactly
    bespoke = {
        r["doc_id"]: r for r in trigram_logprob_scores(df, "doc_id", "text").collect()
    }
    assert got == bespoke

    tris = []
    per_doc: dict[int, list] = {}
    for i, t in docs:
        toks = [LM_BOS, LM_BOS] + t.split(" ")
        mine = [tuple(toks[k : k + 3]) for k in range(len(toks) - 2)]
        per_doc[i] = mine
        tris.extend(mine)
    ct = Counter(tris)
    cuv = Counter((u, v) for u, v, _ in tris)
    cvw = Counter((v, w) for _, v, w in tris)
    cv = Counter(v for _, v, _ in tris)
    cw = Counter(w for _, _, w in tris)
    total = len(tris)
    for i, _ in docs:
        micro = sum(
            math.floor(
                -math.log(
                    0.5 * (ct[g] / cuv[g[:2]])
                    + 0.3 * (cvw[g[1:]] / cv[g[1]])
                    + 0.2 * (cw[g[2]] / total)
                )
                * 1e6
                + 0.5
            )
            for g in per_doc[i]
        )
        assert got[i]["surprisal_micro_sum"] == micro, i
        assert got[i]["n_tokens"] == len(per_doc[i])
    # the repetitive doc is the most predictable of the three
    assert (
        got[1]["mean_surprisal_nats"]
        < got[2]["mean_surprisal_nats"]
    )


def test_ngram_stream_kernel_equals_explode(spark, sf_dir):
    """The r17 Arrow position-stream kernel must emit EXACTLY the rows the
    JVM transform/element_at/explode chain emits — same multiset of
    (id, g1..gN) including empty-token and empty-string-doc edge cases
    (single-space split semantics) — on a real corpus AND a constructed
    edge-case frame (nulls, empty text, consecutive spaces, short docs)."""
    from distributed_api_etl_spark.operators.text import (
        _ngram_position_stream_kernel,
    )
    from pyspark.sql import functions as F
    from distributed_api_etl_spark.functions.textfns import tokens
    from distributed_api_etl_spark.operators.text import LM_BOS

    def explode_stream(df, order):
        gcols = [f"g{i}" for i in range(1, order + 1)]
        t = tokens(F.col("text"))
        padded = F.concat(F.array(*[F.lit(LM_BOS)] * (order - 1)), t)
        struct_type = f"array<struct<{','.join(c + ':string' for c in gcols)}>>"
        arr = F.when(
            F.size(t) >= 1,
            F.transform(
                F.sequence(F.lit(1), F.size(t)),
                lambda i: F.struct(
                    *[
                        F.element_at(padded, i + j).alias(gcols[j])
                        for j in range(order)
                    ]
                ),
            ),
        ).otherwise(F.array().cast(struct_type))
        return df.select(F.col("doc_id"), F.explode(arr).alias("_g")).select(
            F.col("doc_id"), *[F.col(f"_g.{c}").alias(c) for c in gcols]
        )

    edge = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, ""),            # "" -> [""] -> one padded position
            (3, None),          # dropped by both paths
            (4, "x  y"),        # consecutive spaces keep the empty token
            (5, "lone"),
            (6, " lead trail "),
        ],
        "doc_id bigint, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for frame in (edge, docs):
        for order in (3, 5):
            a = sorted(
                map(tuple, explode_stream(frame, order).collect())
            )
            b = sorted(
                map(
                    tuple,
                    _ngram_position_stream_kernel(
                        frame, "doc_id", "text", order
                    ).collect(),
                )
            )
            assert a == b and len(a) > 0, (order, frame is edge)


def test_fivegram_fixture_has_singleton_and_repeated_grams(spark, sf_dir):
    """ngram_logprob_scores splits the order-5 score table into the
    singleton tail (c_5 = 1, aggregated table-side) and the repeated-gram
    path (c_5 >= 2, joined against the stream). The graded
    `documents_fivegram_logppl` oracle only checks both halves if the
    fixture corpus feeds both of them."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the split is only exercised if BOTH disjoint subsets are
    # non-empty: sf0.001 documents plants exact/near-dup docs (repeated
    # 5-grams) in otherwise-diverse text (singletons) — verify rather
    # than assume, with the operator's own tokenization (single-space
    # split, (order-1)-fold BOS padding)
    from collections import Counter

    from distributed_api_etl_spark.operators.text import LM_BOS

    toks_by_doc = [
        ([LM_BOS] * 4) + (r.text.split(" ") if r.text else [])
        for r in docs.select("text").collect()
    ]
    c5 = Counter(
        tuple(t[i : i + 5])
        for t in toks_by_doc
        for i in range(max(0, len(t) - 4))
    )
    assert any(v == 1 for v in c5.values()), "corpus lost its singleton tail"
    assert any(v >= 2 for v in c5.values()), "corpus lost its repeated grams"


def test_gopher_repetition_stats_hand_computed(spark):
    """Every repetition rule against hand-computed values: dup lines/
    paragraphs (row- and char-weighted), top-n-gram char share (count>=2
    required — a gram seen once is not repetition), dup-n-gram char share
    (overlapping occurrences can push the share past 1e6 by design), and
    the null/empty degenerate forms."""
    from distributed_api_etl_spark.operators.text import gopher_repetition_stats

    rows = [
        # 4 non-empty lines (one dup pair each), 2 identical paragraphs
        (1, "aa bb\ncc dd\n\naa bb\ncc dd"),
        (2, "x y x y x y x y"),  # heavy overlap: "x y" 4x of 7 bigrams
        (3, "one two three four five six seven eight nine ten"),  # clean
        (4, ""),
        (5, None),
        (6, "a b c d e a b c d e f"),  # one repeated 5-gram, non-adjacent
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r.asDict()
        for r in gopher_repetition_stats(docs, "doc_id", "text").collect()
    }
    d1 = out[1]
    assert (d1["n_lines"], d1["n_paras"]) == (4, 2)
    assert d1["dup_line_frac_ppm"] == 500_000  # 2 of 4 lines are repeats
    assert d1["dup_line_char_frac_ppm"] == 500_000  # 10 of 20 chars
    assert d1["dup_para_frac_ppm"] == 500_000  # 1 of 2 paragraphs
    # norm = "aa bb cc dd aa bb cc dd" (23 ch); top bigram "aa bb" 2x5 ch
    assert d1["top2_char_frac_ppm"] == (1_000_000 * 10) // 23
    # 3-gram count tie at 2 ("aa bb cc" vs "bb cc dd") -> smallest gram
    assert d1["top3_char_frac_ppm"] == (1_000_000 * 16) // 23
    assert d1["dup5_char_frac_ppm"] == 0  # all 5-grams distinct
    assert not d1["keep"]

    d2 = out[2]  # "x y x y x y x y", norm 15 ch
    assert d2["top2_char_frac_ppm"] == (1_000_000 * 4 * 3) // 15
    # overlapping dup 5-grams: 4 windows, each seen twice -> 4*9 chars
    assert d2["dup5_char_frac_ppm"] == (1_000_000 * 36) // 15  # > 1e6
    assert not d2["keep"]

    d3 = out[3]  # nothing repeats: every metric 0, doc kept
    assert all(
        v == 0 for k, v in d3.items() if k.endswith("_ppm") or k == "rep_flags"
    )
    assert d3["keep"]

    # null and empty text behave identically and pass (nothing repeats)
    assert {k: v for k, v in out[4].items() if k != "doc_id"} == {
        k: v for k, v in out[5].items() if k != "doc_id"
    }
    assert out[4]["keep"] and out[4]["n_lines"] == 0

    d6 = out[6]  # "a b c d e a b c d e f", norm 21 ch
    assert d6["dup5_char_frac_ppm"] == (1_000_000 * 18) // 21  # "a b c d e" 2x9
    assert d6["dup6_char_frac_ppm"] == 0


def test_gopher_repetition_stats_plan_is_exchange_free(spark):
    """The gate must run at scan speed: no Exchange anywhere in the plan
    (all metrics are per-row sorted-runs folds, like gopher_quality_flags)."""
    from distributed_api_etl_spark.operators.text import gopher_repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b c\nd e f")], "doc_id bigint, text string"
    )
    plan = (
        gopher_repetition_stats(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_curation_pipeline_repetition_gate_flag(spark, sf_dir):
    """repetition_gate=True composes the repetition rules into the first
    curation stage: the survivor set shrinks to a subset of the default
    pipeline's, and the default pipeline's output is unchanged by the new
    parameter's existence (the graded hash contract)."""
    from distributed_api_etl_spark.queries.curation import (
        documents_curation_pipeline,
    )

    base = {
        r.doc_id
        for r in documents_curation_pipeline(spark, sf_dir).select("doc_id").collect()
    }
    gated = {
        r.doc_id
        for r in documents_curation_pipeline(spark, sf_dir, repetition_gate=True)
        .select("doc_id")
        .collect()
    }
    assert gated <= base


def test_ivf_kmeans_int8_composition_degenerates_to_bruteforce(spark, sf_dir):
    """The learned-centroid int8 composition at exhaustive settings
    (nprobe = n_centroids, k_cand >= corpus) must return exactly the
    full-precision brute-force top-k: centroid choice (learned vs
    lowest-id) affects WHICH buckets exist, but with every bucket probed
    and no candidate cut, the full-precision rerank decides everything."""
    from distributed_api_etl_spark.operators.similarity import (
        bruteforce_topk,
        ivf_kmeans_int8_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 6).select("vec_id")
    n = emb.count()

    def rows(df):
        return {
            (r.query_id, r.neighbor_id, r.rnk, r.cosine) for r in df.collect()
        }

    exact = rows(
        bruteforce_topk(emb, emb.where(F.col("vec_id") < 6), "vec_id", "embedding", 3)
    )
    exhaustive = rows(
        ivf_kmeans_int8_topk(
            emb, "vec_id", "embedding", 8, queries, 3, k_cand=n, nprobe=8, iters=2
        )
    )
    assert exhaustive == exact
    # at serving settings ranks stay contiguous 1..k per query and every
    # served pair that IS a true top-k neighbor carries the exact cosine
    served = rows(
        ivf_kmeans_int8_topk(
            emb, "vec_id", "embedding", 8, queries, 3, k_cand=10, nprobe=2, iters=2
        )
    )
    by_q = {}
    for q, _nb, r, _c in served:
        by_q.setdefault(q, []).append(r)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    exact_cos = {(q, nb): c for (q, nb, _r, c) in exact}
    for q, nb, _r, c in served:
        if (q, nb) in exact_cos:
            assert c == exact_cos[(q, nb)]


def test_pq_train_kernel_equals_hof(spark, sf_dir):
    """The numpy PQ assignment kernel (r16) must reproduce the interpreted
    JVM fold chain BIT-exactly: same codebook rows (same (s, code) keys,
    same rounded doubles) on the real corpus AND on an adversarial frame
    with exact-duplicate vectors (argmin tie groups — the strictly-less /
    lowest-code contract)."""
    from distributed_api_etl_spark.operators.similarity import pq_train
    from tests.reference_forms import pq_train_hof

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def rows(df):
        return sorted((r.s, r.code, tuple(r.cw)) for r in df.collect())

    ref = rows(
        pq_train_hof(emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=2)
    )
    # the default path (the r17 size-gated driver Lloyd's fires at this
    # corpus size) AND the forced distributed kernel loop must both equal
    # the interpreted HOF reference
    assert rows(
        pq_train(emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=2)
    ) == ref
    assert rows(
        pq_train(
            emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=2,
            driver_max_rows=0,
        )
    ) == ref
    # ties: duplicated vectors, including duplicated SEEDS
    base = [float(x) for x in range(8)]
    dup = spark.createDataFrame(
        [(i, [v + (i % 3) for v in base]) for i in range(24)],
        "vec_id bigint, embedding array<double>",
    )
    dup_ref = rows(pq_train_hof(dup, "vec_id", "embedding", 8, m=2, k_codes=4))
    assert rows(pq_train(dup, "vec_id", "embedding", 8, m=2, k_codes=4)) == dup_ref
    assert (
        rows(
            pq_train(
                dup, "vec_id", "embedding", 8, m=2, k_codes=4, driver_max_rows=0
            )
        )
        == dup_ref
    )


def test_pq_train_null_id_takes_distributed_loop(spark, sf_dir):
    """A null id under the driver-gate cap must not crash the driver
    Lloyd's (Python cannot order None against ids): pq_train falls
    through to the distributed loop, whose ORDER BY puts the null first,
    so the default call equals the forced distributed one row for row."""
    from distributed_api_etl_spark.operators.similarity import pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    one = emb.where(F.col("vec_id") == 5).select(
        F.lit(None).cast(emb.schema["vec_id"].dataType).alias("vec_id"), "embedding"
    )
    with_null = emb.unionByName(one)

    def rows(df):
        return sorted((r.s, r.code, tuple(r.cw)) for r in df.collect())

    kw = dict(m=4, k_codes=8, iters=2)
    assert rows(pq_train(with_null, "vec_id", "embedding", 64, **kw)) == rows(
        pq_train(with_null, "vec_id", "embedding", 64, driver_max_rows=0, **kw)
    )


def test_vector_matrix_equals_per_row_lists():
    """The Arrow list -> float64 matrix step equals the per-row
    ``list(v[:w])`` form it replaces, on null, short, exact and long rows
    of float32 and float64 lists, on a sliced (offset) array and on a
    chunked array."""
    import numpy as np
    import pyarrow as pa

    from distributed_api_etl_spark.operators.driver_local import vector_matrix

    vals = [[1.5, 2.25, 3.0], None, [4.0], [0.1, 0.2, 0.3, 0.4], [], [7.0, 8.0]]
    for typ in (pa.float32(), pa.float64()):
        arr = pa.array(vals, pa.list_(typ))
        rows_all = arr.to_pylist()  # float32 values as the column holds them
        chunked = pa.chunked_array([arr.slice(0, 2), arr.slice(2)])
        for a, rows in (
            (arr, rows_all),
            (arr.slice(1), rows_all[1:]),
            (chunked, rows_all),
        ):
            for w in (1, 2, 3):
                ok, V = vector_matrix(a, w)
                want_ok = [v is not None and len(v) >= w for v in rows]
                want = np.array(
                    [list(v[:w]) for v, k in zip(rows, want_ok) if k], dtype=np.float64
                ).reshape(-1, w)
                assert ok.tolist() == want_ok
                assert V.dtype == np.float64 and V.shape == want.shape
                assert np.array_equal(V, want)


def test_pq_train_byte_bound_takes_distributed_loop(spark, monkeypatch):
    """The driver gate caps bytes as well as rows: a corpus under the row
    cap whose estimated size (rows x 8*(dim+1) B) exceeds
    DRIVER_MAX_BYTES never reaches the driver Lloyd's, and trains the
    same codebook as the forced distributed loop."""
    from distributed_api_etl_spark.operators import driver_local
    from distributed_api_etl_spark.operators import similarity as sim

    base = [float(x) for x in range(8)]
    emb = spark.createDataFrame(
        [(i, [v + (i % 5) for v in base]) for i in range(24)],
        "vec_id bigint, embedding array<double>",
    )
    calls = []
    driver = sim._pq_train_driver

    def spy(*a, **k):
        calls.append(1)
        return driver(*a, **k)

    def rows(df):
        return sorted((r.s, r.code, tuple(r.cw)) for r in df.collect())

    monkeypatch.setattr(sim, "_pq_train_driver", spy)
    kw = dict(m=2, k_codes=4, iters=2)
    assert rows(sim.pq_train(emb, "vec_id", "embedding", 8, **kw))
    assert len(calls) == 1  # the default bound keeps this corpus on the driver
    monkeypatch.setattr(driver_local, "DRIVER_MAX_BYTES", 24 * 8 * (8 + 1) - 1)
    got = rows(sim.pq_train(emb, "vec_id", "embedding", 8, **kw))
    assert len(calls) == 1
    assert got == rows(sim.pq_train(emb, "vec_id", "embedding", 8, driver_max_rows=0, **kw))


def test_pq_train_rejects_fewer_dims_than_subspaces(spark):
    """``dim < m`` leaves each subspace zero components wide; it fails at
    entry with a clear error, before any Spark job runs."""
    import pytest

    from distributed_api_etl_spark.operators.similarity import pq_train

    emb = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id bigint, embedding array<double>")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    for dim, m in ((2, 4), (2, 0)):
        with pytest.raises(ValueError, match=f"m={m}, dim={dim}"):
            pq_train(emb, "vec_id", "embedding", dim, m=m)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_pq_encode_kernel_equals_hof(spark, sf_dir):
    """The numpy PQ encode kernel (r16) must emit the exact codes of the
    m interpreted argmin folds it replaces — real corpus + a trained
    codebook, extra_cols carried through, null vector -> all-null codes."""
    from distributed_api_etl_spark.operators.similarity import pq_encode, pq_train
    from tests.reference_forms import pq_encode_hof

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=1)

    def rows(df):
        return sorted(
            (r[0], tuple(r.codes) if r.codes is not None else None, r[2])
            for r in df.collect()
        )

    new = pq_encode(emb, cb, "vec_id", "embedding", 64, 4, extra_cols=("label",))
    old = pq_encode_hof(
        emb, cb, "vec_id", "embedding", 64, 4, extra_cols=("label",)
    )
    assert rows(new) == rows(old)
    # null vector: the fold null-propagates to an all-null codes array
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id bigint, embedding array<double>"
    )
    got = pq_encode(nulls, cb, "vec_id", "embedding", 64, 4).collect()
    assert [tuple(r.codes) for r in got] == [(None, None, None, None)]


def test_pq_encode_is_map_side_and_codes_are_codebook_members(spark, sf_dir):
    """The PQ ingest projection must run at scan speed: with the (tiny)
    codebook provided as a static table, pq_encode's plan contains NO
    Exchange — m argmin folds over one broadcast codebook row inside the
    corpus scan. And every emitted code is a codebook member for its own
    subspace (assignment can only pick from the broadcast array)."""
    from distributed_api_etl_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = spark.createDataFrame(
        pq_train(emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=1).collect(),
        "s int, code int, cw array<double>",
    )
    enc = pq_encode(emb, cb, "vec_id", "embedding", 64, 4)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    # the ONLY exchange allowed is the SinglePartition collect of the
    # 32-row codebook into its broadcast array — the corpus side must
    # never hash-shuffle (that would scale with the 100-TB side)
    assert "Exchange hashpartitioning" not in plan, plan
    valid = {(r.s, r.code) for r in cb.collect()}
    for r in enc.collect():
        assert len(r.codes) == 4
        for s, code in enumerate(r.codes):
            assert (s, code) in valid


def test_ivf_pq_stored_index_composition(spark, tmp_path, sf_dir):
    """The composed IVF-PQ layout (VERDICT r12 #1). Pins three contracts:
    (a) the ingest projection (assignment + PQ encode in one scan) never
    hash-shuffles the corpus; (b) with EVERY bucket probed the stored
    path degenerates exactly to the labeled brute ADC scan (pq_adc_topk)
    — bucket pruning is the only difference between the two operators, so
    the equality also certifies parquet layout invariance of the codes;
    (c) with nprobe < n_buckets the served plan partition-prunes the
    stored layout at the file level."""
    import re

    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
        pq_adc_topk,
    )

    from distributed_api_etl_spark.operators.similarity import pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    # materialize the trained codebook as a static table (the offline-
    # training deployment shape) so the ingest-plan assertion sees the
    # pure scan — training itself is allowed to aggregate
    cb_static = spark.createDataFrame(
        pq_train(emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=1).collect(),
        "s int, code int, cw array<double>",
    )
    index, cents, cb = build_ivf_pq_index(
        emb, "vec_id", "embedding", 64, 8, m=4, k_codes=8, iters=1,
        codebook=cb_static,
    )
    plan = index._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan

    path = str(tmp_path / "ivf_pq_index")
    index.write.partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)

    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    served_all = ivf_pq_topk_from_index(
        stored, cents, cb, emb, queries, "vec_id", "embedding", 64, 4,
        3, 10, nprobe=8,
    )
    brute = pq_adc_topk(emb, queries, cb, "vec_id", "embedding", 64, 4, 3, 10)
    assert rows(served_all) == rows(brute)

    served = ivf_pq_topk_from_index(
        stored, cents, cb, emb, queries, "vec_id", "embedding", 64, 4,
        3, 10, nprobe=2,
    )
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    splan = served._jdf.queryExecution().explainString(jmode)
    idx_pfs, loc = [], ""
    for line in splan.splitlines():
        s = line.strip()
        if s.startswith("Location:"):
            loc = s
        m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", s)
        if m2 and "ivf_pq_index" in loc:
            idx_pfs.append(m2.group(1))
            loc = ""
    assert idx_pfs, splan
    assert all("centroid_id" in pf for pf in idx_pfs), splan


def test_compact_streaming_appended_index_preserves_serving(spark, tmp_path, sf_dir):
    """VERDICT r12 #7: streaming_ann_index_append writes one file per
    micro-batch per bucket — at production trigger rates the stored index
    fragments. compact_files(partition_by=("centroid_id",)) must collapse
    the layout to ~one file per bucket while (a) keeping the directory
    structure (partition pruning still applies) and (b) leaving the
    served top-k bit-identical."""
    from distributed_api_etl_spark.core.table_manager import compact_files
    from distributed_api_etl_spark.operators.similarity import (
        assign_to_ivf_int8_index,
        build_ivf_int8_index,
        ivf_int8_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    index0, cents = build_ivf_int8_index(
        emb.where(F.col("vec_id") < 200), "vec_id", "embedding", 8
    )
    path = str(tmp_path / "stream_appended_index")
    index0.write.partitionBy("centroid_id").parquet(path)
    # three appends reproduce the foreachBatch fragmentation pattern
    # (assign_to_ivf_int8_index is exactly what the streaming sink calls)
    for lo, hi in ((200, 300), (300, 400), (400, 1 << 60)):
        batch = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        assign_to_ivf_int8_index(batch, cents, "vec_id", "embedding").write.mode(
            "append"
        ).partitionBy("centroid_id").parquet(path)

    def serve():
        return ivf_int8_topk_from_index(
            spark.read.parquet(path), cents, emb, queries,
            "vec_id", "embedding", 3, k_cand=10, nprobe=2,
        )

    def files_read(df):
        return df.select(F.input_file_name().alias("f")).distinct().count()

    rows_before = {tuple(r) for r in serve().collect()}
    stats = compact_files(
        spark, path, partition_by=("centroid_id",), target_file_mb=128
    )
    assert stats["files_after"] < stats["files_before"], stats
    stored = spark.read.parquet(path)
    n_buckets = stored.select("centroid_id").distinct().count()
    # one file per bucket in the small-bucket regime
    assert files_read(stored) == n_buckets, stats
    assert {tuple(r) for r in serve().collect()} == rows_before
    # pruning still applies on the compacted layout
    some_bucket = stored.select("centroid_id").first()[0]
    assert files_read(stored.where(F.col("centroid_id") == some_bucket)) == 1


def test_ivf_rpq_residuals_share_bucketing_and_zero_at_centroids(spark, sf_dir):
    """Residual IVF-PQ invariants: (a) the residual index shares the int8
    layout's bucket assignment exactly (one routing space, two payload
    encodings); (b) the centroid rows' residuals are EXACTLY zero (v - v
    in IEEE is +0.0 — the deterministic replay depends on it); (c) every
    stored code is a codebook member for its own subspace."""
    from distributed_api_etl_spark.operators.similarity import (
        _residual_frame,
        build_ivf_int8_index,
        build_ivf_rpq_index,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ridx, rcq, rcf, rcb = build_ivf_rpq_index(
        emb, "vec_id", "embedding", 64, 8, m=4, k_codes=8, iters=1
    )
    iidx, _ = build_ivf_int8_index(emb, "vec_id", "embedding", 8)
    a = {r.vec_id: r.centroid_id for r in ridx.select("vec_id", "centroid_id").collect()}
    b = {r.vec_id: r.centroid_id for r in iidx.select("vec_id", "centroid_id").collect()}
    assert a == b

    quant = quantize_embeddings(emb, "vec_id", "embedding", 127)
    cq = quant.orderBy("vec_id").limit(8).select("vec_id", "qvec")
    resid = _residual_frame(emb, cq, rcf, "vec_id", "embedding", 127)
    for r in resid.where(F.col("vec_id") < 8).select("vec_id", "rvec").collect():
        assert all(x == 0.0 for x in r.rvec), r

    valid = {(r.s, r.code) for r in rcb.collect()}
    for r in ridx.select("codes").limit(50).collect():
        for s, code in enumerate(r.codes):
            assert (s, code) in valid


def test_ivf_rpq_stored_index_partition_pruning(spark, tmp_path, sf_dir):
    """Residual IVF-PQ served from its stored layout: the index written
    partitionBy(centroid_id) and served with prune_partitions=True must
    (a) carry a centroid_id PartitionFilter on every scan of the layout
    and (b) return exactly the prune_partitions=False rows."""
    import re

    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_rpq_index,
        ivf_rpq_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    index, cents_q, cents_full, cb = build_ivf_rpq_index(
        emb, "vec_id", "embedding", 64, 8, m=4, k_codes=8, iters=1
    )
    path = str(tmp_path / "ivf_rpq_index")
    index.write.partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)

    def serve(prune):
        return ivf_rpq_topk_from_index(
            stored, cents_q, cents_full, cb, emb, queries, "vec_id",
            "embedding", 64, 4, 3, 10, nprobe=2, prune_partitions=prune,
        )

    served = serve(True)
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(served) == rows(serve(False))

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = served._jdf.queryExecution().explainString(jmode)
    idx_pfs, loc = [], ""
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Location:"):
            loc = s
        m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", s)
        if m2 and "ivf_rpq_index" in loc:
            idx_pfs.append(m2.group(1))
            loc = ""
    assert idx_pfs, plan
    assert all("centroid_id" in pf for pf in idx_pfs), plan


def test_ivf_pq_with_learned_centroids_degenerates_to_brute_adc(spark, tmp_path, sf_dir):
    """build_ivf_pq_index composes with kmeans_centroids exactly like the
    int8 index does (centroids= quantizes the learned table with the
    corpus levels). At exhaustive settings — every bucket probed — the
    stored learned-centroid IVF-PQ path must return exactly the labeled
    brute ADC scan's result: bucketing (whatever the centroids) only
    partitions the candidate set; it must never change what ADC+rerank
    compute over the union of all buckets."""
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
        kmeans_centroids,
        pq_adc_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    k_cents = 4
    cents_f = kmeans_centroids(emb, "vec_id", "embedding", k_cents, iters=1)
    index, cents_q, cb = build_ivf_pq_index(
        emb, "vec_id", "embedding", 64, k_cents, m=4, k_codes=8, iters=1,
        centroids=cents_f,
    )
    path = str(tmp_path / "ivf_pq_kmeans_index")
    index.write.partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)
    assert stored.select("centroid_id").distinct().count() <= k_cents

    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    served = ivf_pq_topk_from_index(
        stored, cents_q, cb, emb, queries, "vec_id", "embedding", 64, 4,
        3, 10, nprobe=k_cents,
    )
    brute = pq_adc_topk(emb, queries, cb, "vec_id", "embedding", 64, 4, 3, 10)
    assert rows(served) == rows(brute)


def test_gopher_combined_gate_is_one_scan_and_equals_standalone_and(spark, sf_dir):
    """The fused Gopher gate must (a) agree row-for-row with the AND of
    the two standalone graded operators' keep decisions, and (b) read
    the corpus text EXACTLY ONCE with no join anywhere in the plan —
    the property that halves the curation pipeline's gate stage at
    100 TB."""
    from distributed_api_etl_spark.operators.text import (
        gopher_combined_gate,
        gopher_quality_flags,
        gopher_repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comb = {
        r.doc_id: r.keep
        for r in gopher_combined_gate(docs, "doc_id", "text").collect()
    }
    q = {
        r.doc_id: r.keep
        for r in gopher_quality_flags(docs, "doc_id", "text").collect()
    }
    rp = {
        r.doc_id: r.keep
        for r in gopher_repetition_stats(docs, "doc_id", "text").collect()
    }
    assert len(comb) == len(q) == len(rp)
    assert all(comb[d] == (q[d] and rp[d]) for d in comb)

    plan = (
        gopher_combined_gate(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_gopher_combined_gate_arrow_equals_hof(spark, sf_dir):
    """The Arrow gate kernel (mapInPandas, native per-batch loop) must be
    BIT-IDENTICAL to the all-JVM HOF fold chain on every column — flags,
    keep, and carried columns — including the adversarial whitespace /
    tie-break rows below. This is the pin that makes the r16 kernel swap
    a pure optimization (same integers, 3.5x less gate wall at sf0.1)."""
    from distributed_api_etl_spark.operators.text import gopher_combined_gate
    from tests.reference_forms import gopher_combined_gate_hof

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    adversarial = spark.createDataFrame(
        [
            (100001, "", "xx"),
            (100002, None, "xx"),
            (100003, "a  b\t c\nd\n\ne \x0b f\r g", "xx"),
            # top-gram count tie with different gram lengths: the lex-
            # smallest gram's length must win on both paths
            (100004, "b c b c a! x a! x a x a x", "xx"),
            # token that is a strict prefix of another (joined-string
            # order vs token-sequence order agree because ' ' < any char)
            (100005, "a ab a ab a ab q w e r t y u i o p", "xx"),
            (100006, "the and of to in is " * 30, "xx"),
            (100007, "one\ntwo\none\ntwo\n\nthree\n\nthree", "xx"),
        ],
        "doc_id long, text string, lang string",
    )
    for frame in (docs.select("doc_id", "text", "lang"), adversarial):
        a = (
            gopher_combined_gate(frame, "doc_id", "text", carry=("lang",))
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        b = (
            gopher_combined_gate_hof(frame, "doc_id", "text", carry=("lang",))
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert a.columns.tolist() == b.columns.tolist()
        assert a.equals(b), (a.compare(b) if a.shape == b.shape else (a, b))


def test_gopher_combined_gate_carry_guard_names_only_outputs(spark):
    """The carry guard refuses only names the gate outputs (the id and
    gopher_flags / rep_flags / keep): a carried column named like a
    per-row statistic passes through unchanged."""
    import pytest

    from distributed_api_etl_spark.operators.text import gopher_combined_gate

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat", 7)], "doc_id long, text string, n_words int"
    )
    out = gopher_combined_gate(df, "doc_id", "text", carry=("n_words",))
    assert out.columns == ["doc_id", "gopher_flags", "rep_flags", "keep", "n_words"]
    assert [r.n_words for r in out.collect()] == [7]
    with pytest.raises(ValueError, match="keep"):
        gopher_combined_gate(
            df.withColumnRenamed("n_words", "keep"), "doc_id", "text", carry=("keep",)
        )


def test_gopher_repetition_arrow_equals_hof(spark, sf_dir):
    """gopher_repetition_stats' Arrow kernel vs the JVM fold chain: every
    ppm column, flag bitmask and keep bit-identical."""
    from distributed_api_etl_spark.operators.text import gopher_repetition_stats
    from tests.reference_forms import gopher_repetition_stats_hof

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = (
        gopher_repetition_stats(docs, "doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        gopher_repetition_stats_hof(docs, "doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = b[a.columns]
    assert a.equals(b)


def test_exact_knn_pairs_equals_window(spark, sf_dir):
    """The numpy exact-kNN kernel (chunked src x one broadcast corpus-
    matrix row, per-dimension fold accumulation) must be BIT-IDENTICAL to
    the reference shape it replaced — broadcast N^2 self-join + JVM HOF
    cosine + (cosine DESC, dst ASC) window — including exact-duplicate
    vectors (tie groups) and a src id that hash-chunks away from its
    duplicates."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from distributed_api_etl_spark.functions.vectors import cosine_similarity
    from distributed_api_etl_spark.operators.similarity import exact_knn_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(8)
    # adversarial: exact duplicates (cosine exactly 1.0 ties broken by id)
    dups = emb.where("vec_id < 3").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    frame = emb.select("vec_id", "embedding").unionByName(dups)
    K = 5
    new = (
        exact_knn_pairs(frame, "vec_id", "embedding", K)
        .toPandas()
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    a = frame.select(F.col("vec_id").alias("src"), F.col("embedding").alias("sv"))
    b = frame.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("dv"))
    ex = a.join(F.broadcast(b), F.col("src") != F.col("dst")).withColumn(
        "cosine", cosine_similarity("sv", "dv")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    old = (
        ex.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= K)
        .select("src", "dst")
        .toPandas()
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    assert new.equals(old)


def test_filtered_topk_pre_filter_semantics(spark, sf_dir):
    """Metadata-filtered ANN: every returned neighbor shares the query's
    label (pre-filter — the predicate applies BEFORE the k_cand cut, so
    selectivity costs candidates, not top-k slots), the stored-layout
    serving equals the inline composition, and exhaustive probing
    recovers the filtered brute-force truth exactly."""
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_int8_index,
        bruteforce_filtered_topk,
        ivf_int8_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    index, cents = build_ivf_int8_index(
        emb, "vec_id", "embedding", 8, carry_cols=("label",)
    )
    assert "label" in index.columns  # carry_cols stores the predicate column

    served = ivf_int8_topk_from_index(
        index, cents, emb, queries, "vec_id", "embedding",
        3, 10, nprobe=2, prune_partitions=False, filter_col="label",
    )
    lab = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in served.collect():
        assert lab[r.neighbor_id] == lab[r.query_id], r

    # exhaustive probing == filtered brute truth (the recall ceiling)
    full = ivf_int8_topk_from_index(
        index, cents, emb, queries, "vec_id", "embedding",
        3, 10**6, nprobe=8, prune_partitions=False, filter_col="label",
    )
    truth = bruteforce_filtered_topk(
        emb, emb.join(queries, "vec_id"), "vec_id", "embedding", "label", 3
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(full) == rows(truth)


def test_filtered_serving_stored_equals_inline(spark, tmp_path, sf_dir):
    """The filtered index roundtrips through the partitioned layout: the
    stored, partition-pruned serve returns exactly the in-memory plan's
    rows (layout invariance, with the label column riding the index
    files)."""
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_int8_index,
        ivf_int8_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    index, cents = build_ivf_int8_index(
        emb, "vec_id", "embedding", 8, carry_cols=("label",)
    )
    path = str(tmp_path / "ivf_int8_flt_index")
    index.write.partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)

    inline = ivf_int8_topk_from_index(
        index, cents, emb, queries, "vec_id", "embedding",
        3, 10, nprobe=2, prune_partitions=False, filter_col="label",
    )
    served = ivf_int8_topk_from_index(
        stored, cents, emb, queries, "vec_id", "embedding",
        3, 10, nprobe=2, prune_partitions=True, filter_col="label",
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(served) == rows(inline)


def test_rrf_fuse_semantics(spark):
    """RRF fusion: exact integer contributions div(1e9, c+rank), absent
    ranks encoded 0 (schema stays integer end-to-end), both-lists docs
    beat single-list docs of similar rank, grouped fusion stays within
    its group."""
    from distributed_api_etl_spark.operators.similarity import RRF_SCALE, rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)], "q int, id bigint, rnk int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (2, 21, 1)], "q int, id bigint, rnk int"
    )
    out = rrf_fuse(
        [("a", a), ("b", b)], "id", "rnk", k=3, c=60, group_cols=("q",)
    )
    rows = {(r.q, r.id): r for r in out.collect()}
    # doc 11 is on both lists (ranks 2 and 1) and must out-score doc 10
    # (rank 1 on one list): 1e9//62 + 1e9//61 > 1e9//61
    assert rows[(1, 11)].rrf_e9 == RRF_SCALE // 62 + RRF_SCALE // 61
    assert rows[(1, 11)].fused_rnk == 1
    assert rows[(1, 10)].rrf_e9 == RRF_SCALE // 61
    assert rows[(1, 10)].n_lists == 1
    assert rows[(1, 10)].b_rnk == 0  # absent from list b -> 0, not null
    assert rows[(1, 10)].a_rnk == 1
    # group 2 fuses independently
    assert rows[(2, 20)].fused_rnk in (1, 2) and rows[(2, 21)].fused_rnk in (1, 2)
    assert all(v is not None for r in rows.values() for v in r)


def test_token_budget_sample_exactness(spark):
    """Token budgets are HARD caps: per group, the kept running total
    never exceeds the budget, kept docs form a strict prefix of the
    priority order, and a doc that would cross the boundary is dropped
    even when a later, smaller doc would have fit (no back-filling —
    determinism over packing efficiency)."""
    from distributed_api_etl_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(i, "g", 10 + i % 3) for i in range(40)]
        + [(100 + i, "h", 50) for i in range(4)],
        "doc_id bigint, grp string, n_tokens bigint",
    )
    out = token_budget_sample(
        df, "doc_id", "grp", "n_tokens", {"g": 100, "h": 120}, 0
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r)
    assert max(r.cum_tokens for r in by_grp["g"]) <= 100
    assert max(r.cum_tokens for r in by_grp["h"]) <= 120
    assert len(by_grp["h"]) == 2  # 50+50 fits, the third 50 crosses 120
    # prefix property: cum_tokens of the kept set are the running sums of
    # the kept docs themselves (no gaps — nothing was skipped then resumed)
    for grp, rows in by_grp.items():
        rows = sorted(rows, key=lambda r: r.cum_tokens)
        run = 0
        for r in rows:
            run += r.n_tokens
            assert r.cum_tokens == run, (grp, r)
    # default budget 0 -> unlisted groups keep nothing
    df2 = spark.createDataFrame([(1, "x", 5)], "doc_id bigint, grp string, n_tokens bigint")
    assert token_budget_sample(df2, "doc_id", "grp", "n_tokens", {"g": 10}, 0).count() == 0


def test_knn_graph_exhaustive_probing_equals_brute(spark, sf_dir):
    """knn_graph_bucket with nprobe == n_centroids degenerates to the
    exact kNN graph (every bucket probed), and probed buckets being
    disjoint means no duplicate (src, dst) edges at any nprobe."""
    from distributed_api_etl_spark.functions.vectors import cosine_similarity
    from distributed_api_etl_spark.operators.similarity import knn_graph_bucket

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    g = knn_graph_bucket(emb, "vec_id", "embedding", 4, 3, nprobe=4)
    a = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("sv"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("dv"))
    from pyspark.sql import Window

    ex = a.join(F.broadcast(b), F.col("src") != F.col("dst")).withColumn(
        "cosine", cosine_similarity("sv", "dv")
    )
    wt = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    truth = (
        ex.withColumn("rnk", F.row_number().over(wt))
        .where(F.col("rnk") <= 3)
        .select("src", "dst", "rnk", F.round("cosine", 6).alias("cosine"))
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(g) == rows(truth)
    g2 = knn_graph_bucket(emb, "vec_id", "embedding", 4, 3, nprobe=2)
    assert g2.groupBy("src", "dst").count().where(F.col("count") > 1).count() == 0


def test_tombstone_mask_equals_rebuild(spark, sf_dir):
    """Serving with a tombstone mask == serving from an index REBUILT
    without the deleted rows, when the deletes spare the centroid seeds
    (assignment depends only on (vector, centroid table)); and no
    tombstoned id ever appears as a neighbor."""
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_int8_index,
        ivf_int8_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    dead = emb.where((F.col("vec_id") >= 20) & (F.col("vec_id") % 7 == 3))
    dead_ids = {r.vec_id for r in dead.select("vec_id").collect()}

    index, cents = build_ivf_int8_index(emb, "vec_id", "embedding", 8)
    masked = ivf_int8_topk_from_index(
        index, cents, emb, queries, "vec_id", "embedding", 3, 10,
        nprobe=2, prune_partitions=False, tombstones=dead.select("vec_id"),
    )
    alive = emb.join(dead.select("vec_id"), "vec_id", "left_anti")
    # rebuild WITHOUT the deleted rows but around the SAME centroid table
    # (the seeds are alive); queries still quantize from the full emb side
    index2, _ = build_ivf_int8_index(
        alive, "vec_id", "embedding", 8, centroids=None
    )
    rebuilt = ivf_int8_topk_from_index(
        index2, cents, emb, queries, "vec_id", "embedding", 3, 10,
        nprobe=2, prune_partitions=False,
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(masked) == rows(rebuilt)
    assert not {r.neighbor_id for r in masked.collect()} & dead_ids


def test_retrain_after_drift_equals_from_scratch(spark, sf_dir):
    """The RETRAIN lifecycle (the graded ann_retrain_after_drift head,
    Spark-vs-Spark twin): survivors derived from the stored-index
    lifecycle (v1 build + frozen-centroid append, then tombstones that
    delete the v1 seeds) retrain Lloyd's centroids and rebuild — served
    top-k must equal a from-scratch learned-centroid index on the same
    survivor filter, the new seeds must be survivor ids, and no deleted
    id may survive into the rebuilt layout."""
    from distributed_api_etl_spark.operators.similarity import (
        ivf_kmeans_int8_topk,
    )
    from distributed_api_etl_spark.queries.similarity import (
        DRIFT_DEL,
        RETRAIN_QUERY_HI,
        RETRAIN_QUERY_LO,
        ann_retrain_after_drift,
    )

    served = ann_retrain_after_drift(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    surv = emb.where(F.col("vec_id") >= DRIFT_DEL)
    queries = surv.where(
        (F.col("vec_id") >= RETRAIN_QUERY_LO) & (F.col("vec_id") < RETRAIN_QUERY_HI)
    ).select("vec_id")
    scratch = ivf_kmeans_int8_topk(
        surv, "vec_id", "embedding", 8, queries, 3, 10, nprobe=2, iters=2
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(served) == rows(scratch)
    assert not {r.neighbor_id for r in served.collect()} & set(range(DRIFT_DEL))


def test_mmr_trades_relevance_for_diversity(spark):
    """MMR semantics on a constructed set: two near-identical highly
    relevant docs and one slightly-less-relevant diverse doc — pure top-2
    takes the twins; MMR at lambda=0.5 takes one twin then the diverse
    doc (the twin's redundancy penalty ~1.0 outweighs its relevance
    edge). Lambda=1000 degenerates to pure relevance ranking."""
    from distributed_api_etl_spark.operators.similarity import mmr_topk

    # query q points along x; twins a,b ~ x (mutual cosine ~0.99995);
    # c keeps rel ~0.95 but its off-axis component is orthogonal to the
    # twins' (cos(a,c) ~0.945)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),            # query
        (1, [0.99, 0.10, 0.0, 0.0]),          # twin a
        (2, [0.99, 0.11, 0.0, 0.0]),          # twin b (near-duplicate of a)
        (3, [0.95, 0.0, 0.3122, 0.0]),        # relevant AND diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.where(F.col("vec_id") == 0).select("vec_id")
    out = {r.rnk: r.neighbor_id for r in mmr_topk(
        emb, queries, "vec_id", "embedding", 2, 3, lambda_milli=500
    ).collect()}
    assert out[1] == 1          # most relevant twin first
    assert out[2] == 3          # diversity beats the redundant twin
    pure = {r.rnk: r.neighbor_id for r in mmr_topk(
        emb, queries, "vec_id", "embedding", 2, 3, lambda_milli=1000
    ).collect()}
    assert pure == {1: 1, 2: 2}  # lambda=1 == relevance order


def test_index_carry_cols_collision_guard(spark, sf_dir):
    import pytest as _pytest

    from distributed_api_etl_spark.operators.similarity import build_ivf_int8_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="carry_cols"):
        build_ivf_int8_index(
            emb, "vec_id", "embedding", 8, carry_cols=("centroid_id",)
        )


def test_vacuum_reclaims_tombstones_and_preserves_serving(spark, tmp_path, sf_dir):
    """The delete LIFECYCLE end-to-end: tombstone-masked serving == serving
    from a VACUUMED layout (compact_files drop_ids=) with an EMPTY
    tombstone set — the vacuum physically reclaims what the mask hid,
    partition pruning survives, and the dropped rows are really gone."""
    from distributed_api_etl_spark.core.table_manager import compact_files
    from distributed_api_etl_spark.operators.similarity import (
        build_ivf_int8_index,
        ivf_int8_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select("vec_id")
    dead = emb.where((F.col("vec_id") >= 20) & (F.col("vec_id") % 7 == 3)).select(
        "vec_id"
    )
    n_dead = dead.count()
    index, cents = build_ivf_int8_index(emb, "vec_id", "embedding", 8)
    path = str(tmp_path / "ivf_vac_index")
    index.write.partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)
    masked = ivf_int8_topk_from_index(
        stored, cents, emb, queries, "vec_id", "embedding", 3, 10,
        nprobe=2, prune_partitions=True, tombstones=dead,
    ).collect()

    stats = compact_files(
        spark, path, partition_by=("centroid_id",),
        drop_ids=dead, drop_id_col="vec_id",
    )
    assert stats["rows_dropped"] == n_dead
    vacuumed = spark.read.parquet(path)
    assert vacuumed.join(dead, "vec_id").count() == 0  # physically gone
    assert "centroid_id=" in vacuumed.inputFiles()[0]  # layout survives
    served = ivf_int8_topk_from_index(
        vacuumed, cents, emb, queries, "vec_id", "embedding", 3, 10,
        nprobe=2, prune_partitions=True,  # no tombstones needed any more
    ).collect()
    assert {tuple(r) for r in served} == {tuple(r) for r in masked}


def test_rate_budget_sample_tolerance_and_branches(spark):
    """The giant-group fallback's contract: groups whose total fits the
    budget keep EVERYTHING (threshold 1e6 — identical to the exact
    operator there); over-budget groups keep a deterministic hash sample
    whose token total lands within tolerance of the budget (relative
    error ~ sqrt(avg_doc_tokens / budget)); NULL token counts count 0
    toward the total and stay eligible; and the decision is
    partition-invariant (repartition changes nothing)."""
    from distributed_api_etl_spark.operators.sampling import rate_budget_sample

    rows = [(i, "giant", 10) for i in range(2000)] + [
        (10_000 + i, "small", 7) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, grp string, n_tokens bigint")
    out = rate_budget_sample(
        df, "doc_id", "grp", "n_tokens", {"giant": 5000}, 1_000, seed="t"
    )
    got = out.collect()
    small = [r for r in got if r.grp == "small"]
    assert len(small) == 5  # 35 tokens <= 1000 -> keep-all branch
    assert all(r.threshold_ppm == 1_000_000 for r in small)
    giant = [r for r in got if r.grp == "giant"]
    kept_tokens = sum(r.n_tokens for r in giant)
    # budget 5000 of total 20000 -> threshold 250000 ppm; with 2000 docs
    # of 10 tokens, sqrt-law tolerance is ~ sqrt(10/5000) ~ 4.5% -> assert
    # a loose 15% band so the test pins the mechanism, not the RNG
    assert giant and abs(kept_tokens - 5000) / 5000 < 0.15, kept_tokens
    assert all(r.threshold_ppm == 250_000 for r in giant)
    assert all(r.grp_total_tokens == 20_000 for r in giant)
    # partition invariance: same kept set under a different layout
    got2 = rate_budget_sample(
        df.repartition(13), "doc_id", "grp", "n_tokens", {"giant": 5000},
        1_000, seed="t",
    ).collect()
    assert sorted(r.doc_id for r in got2) == sorted(r.doc_id for r in got)
    # NULL tokens: count 0 toward the total, row stays eligible
    df3 = spark.createDataFrame(
        [(1, "g", None), (2, "g", 4)], "doc_id bigint, grp string, n_tokens bigint"
    )
    out3 = rate_budget_sample(df3, "doc_id", "grp", "n_tokens", {}, 100).collect()
    assert len(out3) == 2 and all(r.grp_total_tokens == 4 for r in out3)
    # NULL GROUPS stay eligible (ADVICE r15: the window form keeps the
    # NULL-group partition; the rate form must not silently drop it) —
    # null-safe join back + coalesced decision hash, budgeted
    # independently of any '' group
    df4 = spark.createDataFrame(
        [(1, None, 3), (2, None, 4), (3, "x", 5)],
        "doc_id bigint, grp string, n_tokens bigint",
    )
    out4 = rate_budget_sample(df4, "doc_id", "grp", "n_tokens", {}, 100).collect()
    assert len(out4) == 3
    nulls = [r for r in out4 if r.grp is None]
    assert len(nulls) == 2 and all(r.grp_total_tokens == 7 for r in nulls)
    assert [r.grp_total_tokens for r in out4 if r.grp == "x"] == [5]
