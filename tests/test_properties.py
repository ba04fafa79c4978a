"""Property-based tests (hypothesis) — the reference has none (SURVEY §5);
these pin the invariants the oracle comparison depends on.

Spark-free where possible (fast); the Spark-backed ones reuse the session
fixture and small generated frames.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------------------
# portable_hash32: Spark expr == DuckDB SQL for arbitrary strings
# ---------------------------------------------------------------------------
text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="'"),
    min_size=0,
    max_size=64,
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(text_strategy, min_size=1, max_size=20, unique=True))
def test_portable_hash_cross_engine(spark_global, strings):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.functions.portable import (
        portable_hash32,
        portable_hash32_sql,
    )

    sdf = spark_global.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r.s: r.h
        for r in sdf.select("s", portable_hash32(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for s in strings:
        expected = con.sql(
            f"SELECT {portable_hash32_sql('?')} AS h", params=[s]
        ).fetchone()[0]
        assert got[s] == expected, f"hash mismatch for {s!r}"
    # range invariant: unsigned 32-bit
    assert all(0 <= h < 2**32 for h in got.values())


# ---------------------------------------------------------------------------
# Request template rendering: total (never raises), identity without
# placeholders, and round-trip of row values
# ---------------------------------------------------------------------------
keys = st.text(alphabet="abcdefgh_", min_size=1, max_size=8)
vals = st.one_of(st.text(max_size=20), st.integers(), st.booleans(), st.none())


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(keys, vals, max_size=6), st.dictionaries(keys, st.text(max_size=10), max_size=6))
def test_template_render_total_and_roundtrip(template_static, row):
    import asyncio

    from distributed_api_etl_spark.request_execution.middleware.injectors import (
        RequestTemplateMiddleware,
    )
    from distributed_api_etl_spark.request_execution.models import (
        RequestContext,
        RequestExchange,
    )

    # template: static leaves + one placeholder per row key
    template = dict(template_static)
    for k in row:
        template[f"ph_{k}"] = "{" + k + "}"
    mw = RequestTemplateMiddleware(template)

    async def next_call(ex):
        return ex

    ex = RequestExchange(context=RequestContext(url="http://x", row=dict(row)))
    out = asyncio.run(mw(ex, next_call))
    body = out.context.json_body
    for k, v in template_static.items():
        if not isinstance(v, str):
            assert body[k] == v  # non-strings pass through untouched
    for k, v in row.items():
        assert body[f"ph_{k}"] == str(v)


# ---------------------------------------------------------------------------
# Salted aggregation == plain aggregation, any data, any bucket count
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 50)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 7),
)
def test_salted_distinct_count_exact(spark_global, rows, n_buckets):
    from distributed_api_etl_spark.operators.skew import salted_distinct_count

    df = spark_global.createDataFrame(rows, "k string, v bigint")
    got = {
        r.k: r.n_distinct
        for r in salted_distinct_count(df, ["k"], "v", n_buckets).collect()
    }
    expected: dict[str, set] = {}
    for k, v in rows:
        expected.setdefault(k, set()).add(v)
    assert got == {k: len(s) for k, s in expected.items()}


# ---------------------------------------------------------------------------
# Connected components == brute-force union-find on random graphs
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark_global, edges):
    from distributed_api_etl_spark.operators.graph import connected_components

    df = spark_global.createDataFrame(edges, "d1 bigint, d2 bigint")
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    # normalize: union-find min-root == min-label component id
    comp_min: dict[int, int] = {}
    for n, r in expected.items():
        comp_min[find(r)] = min(comp_min.get(find(r), n), n)
    expected = {n: comp_min[find(n)] for n in expected}
    assert got == expected


# ---------------------------------------------------------------------------
# SimHash pigeonhole blocking is EXACT: blocked pairs == exhaustive pairs
# ---------------------------------------------------------------------------
_POOL = [f"tok{i}" for i in range(12)]


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(_POOL), min_size=2, max_size=8),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0, 2, 6, 10]),
)
def test_simhash_blocked_equals_exhaustive(spark_global, token_docs, max_hamming):
    from distributed_api_etl_spark.operators import dedup as D
    from tests.reference_forms import simhash_pairs_exhaustive

    # docs drawn from a tiny token pool => many signature near-collisions,
    # exercising both qualifying and non-qualifying pairs at every distance
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_docs)]
    df = spark_global.createDataFrame(rows, "doc_id bigint, text string")
    blocked = {
        (r.d1, r.d2, r.hamming)
        for r in D.simhash_pairs(df, "doc_id", "text", max_hamming=max_hamming).collect()
    }
    exact = {
        (r.d1, r.d2, r.hamming)
        for r in simhash_pairs_exhaustive(
            df, "doc_id", "text", max_hamming=max_hamming
        ).collect()
    }
    assert blocked == exact


def test_simhash_blocks_partition_all_bits():
    from distributed_api_etl_spark.operators.dedup import simhash_blocks

    for d in range(0, 33):
        blocks = simhash_blocks(d, 32)
        assert len(blocks) == min(d + 1, 32)
        covered = []
        for off, width in blocks:
            assert width >= 1
            covered.extend(range(off, off + width))
        assert covered == list(range(32))


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


# ---------------------------------------------------------------------------
# Two-phase (star contraction) CC == union-find on random graphs
# ---------------------------------------------------------------------------
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
    )
)
def test_two_phase_cc_matches_union_find(spark_global, edges):
    from distributed_api_etl_spark.operators.graph import connected_components_two_phase

    df = spark_global.createDataFrame(edges, "d1 bigint, d2 bigint")
    got = {r.node: r.cluster_id for r in connected_components_two_phase(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    assert got == expected


# ---------------------------------------------------------------------------
# Chunking: with stride == chunk_size, chunks reconstruct the full-window
# prefix of every doc; with overlap, consecutive chunks share the suffix
# ---------------------------------------------------------------------------
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=8),
    st.integers(2, 6),
)
def test_chunk_documents_reconstruction(spark_global, token_counts, chunk_size):
    from distributed_api_etl_spark.operators.text import chunk_documents

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n))) for i, n in enumerate(token_counts)
    ]
    df = spark_global.createDataFrame(rows, "doc_id bigint, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_size=chunk_size, stride=chunk_size)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
    for i, n in enumerate(token_counts):
        toks = rows[i][1].split(" ") if rows[i][1] else []
        n_tokens = len(toks)  # note: "" splits to [''] (1 token), like SQL
        n_full = n_tokens // chunk_size
        chunks = sorted(by_doc.get(i, []))
        assert len(chunks) == n_full
        rebuilt = " ".join(c for _, c in chunks).split(" ") if chunks else []
        assert rebuilt == toks[: n_full * chunk_size]


# ---------------------------------------------------------------------------
# Z-order interleave: bijective on the (x, y) grid, monotone block locality
# ---------------------------------------------------------------------------
@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=2, max_value=6))
def test_zorder_interleave_bijective(bits):
    from distributed_api_etl_spark.operators.layout import zorder_expr

    con = duckdb.connect()
    n = 1 << bits
    rows = con.sql(
        f"""
        SELECT x, y, {zorder_expr('x', 'y', bits=bits, sql_div='//')} AS z
        FROM generate_series(0, {n - 1}) g1(x), generate_series(0, {n - 1}) g2(y)
        """
    ).fetchall()
    zs = [r[2] for r in rows]
    assert len(set(zs)) == n * n  # bijective
    assert min(zs) == 0 and max(zs) == n * n - 1  # dense
    # locality: the low 2k bits of z identify the 2^k x 2^k block
    for x, y, z in rows:
        assert (z & 3) == (x & 1) | ((y & 1) << 1)


# ---------------------------------------------------------------------------
# HLL register merge: associative/commutative, equals whole-set registers
# ---------------------------------------------------------------------------
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=200),
    st.integers(min_value=1, max_value=5),
)
def test_hll_register_merge_partition_invariant(spark_global, keys, n_parts):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.sketch import hll_registers

    df = spark_global.createDataFrame([(k,) for k in keys], "k bigint")
    whole = {
        (r["bucket"], r["max_rho"])
        for r in hll_registers(df, "k", []).collect()
    }
    # split into arbitrary disjoint parts, sketch each, merge with max
    parts = [
        hll_registers(df.where(F.pmod(F.col("k"), F.lit(n_parts)) == i), "k", [])
        for i in range(n_parts)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = {
        (r["bucket"], r["max_rho"])
        for r in u.groupBy("bucket").agg(F.max("max_rho").alias("max_rho")).collect()
    }
    assert merged == whole


# ---------------------------------------------------------------------------
# Bloom bitmap algebra: bitmap(A ∪ B) == word-wise OR of bitmap(A), bitmap(B)
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=0, max_size=60),
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=0, max_size=60),
)
def test_bloom_bitmap_or_merge(spark_global, ka, kb):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.sketch import build_bloom

    def bm(keys):
        df = spark_global.createDataFrame([(k,) for k in keys] or [], "k bigint")
        return {
            r["word"]: r["bits"] for r in build_bloom(df, "k", m_bits=512).collect()
        }

    a, b, u = bm(ka), bm(kb), bm(ka + kb)
    merged = {w: a.get(w, 0) | b.get(w, 0) for w in set(a) | set(b)}
    assert merged == u


# ---------------------------------------------------------------------------
# Count-min sketch: never underestimates, and counter tables from disjoint
# inputs SUM-merge to the whole-stream counters (the rollup algebra)
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=150),
    st.integers(min_value=2, max_value=4),
)
def test_cms_overestimates_and_sum_merges(spark_global, keys, n_parts):
    from collections import Counter

    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.sketch import cms_counters, cms_estimate

    df = spark_global.createDataFrame([(k,) for k in keys], "k bigint")
    whole = cms_counters(df, "k", width=16)
    cands = df.distinct()
    est = {
        r["k"]: r["est_count"]
        for r in cms_estimate(cands, "k", whole, width=16).collect()
    }
    exact = Counter(keys)
    # CMS one-sided error: collisions only ADD, so est >= exact for every key
    assert all(est[k] >= c for k, c in exact.items())

    # split the stream arbitrarily, sketch each part, merge with SUM
    parts = [
        cms_counters(df.where(F.pmod(F.col("k"), F.lit(n_parts)) == i), "k", width=16)
        for i in range(n_parts)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = {
        (r["r"], r["bucket"]): r["cnt"]
        for r in u.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt")).collect()
    }
    assert merged == {
        (r["r"], r["bucket"]): r["cnt"] for r in whole.collect()
    }


# ---------------------------------------------------------------------------
# densify_daily: one row per key per day of its span, originals intact,
# gaps zero-filled and flagged
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=3),  # key
        st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=12),
        min_size=1,
        max_size=4,
    )
)
def test_densify_daily_spans_and_preserves(spark_global, per_key_days):
    import datetime as dt

    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.timeseries import densify_daily

    base = dt.date(2024, 1, 1)
    rows = [
        (k, base + dt.timedelta(days=d), d + 1)
        for k, days in per_key_days.items()
        for d in days
    ]
    sparse = spark_global.createDataFrame(rows, "k bigint, day date, n bigint")
    dense = densify_daily(sparse, ["k"], "day").collect()

    expect_rows = sum(max(ds) - min(ds) + 1 for ds in per_key_days.values())
    assert len(dense) == expect_rows
    by_kd = {(r["k"], r["day"]): r for r in dense}
    assert len(by_kd) == expect_rows  # no duplicate (key, day)
    for k, days in per_key_days.items():
        for d in range(min(days), max(days) + 1):
            r = by_kd[(k, base + dt.timedelta(days=d))]
            if d in days:  # original rows survive untouched
                assert (r["n"], r["is_gap"]) == (d + 1, 0)
            else:  # manufactured rows: zero-filled + flagged
                assert (r["n"], r["is_gap"]) == (0, 1)


# ---------------------------------------------------------------------------
# Histogram sketch: disjoint-input histograms SUM-merge to the whole-input
# histogram, and the quantile estimate lands within one bin width of exact
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False, width=32),
        min_size=2,
        max_size=120,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_histogram_sum_merge_and_quantile_bound(spark_global, values, n_parts):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.sketch import (
        histogram_quantile,
        histogram_sketch,
    )

    rows = [(i, float(v)) for i, v in enumerate(values)]
    df = spark_global.createDataFrame(rows, "i bigint, v double")
    bounds, hist = histogram_sketch(df, "v", [], n_bins=16)
    whole = {r["bin"]: r["cnt"] for r in hist.collect()}

    # disjoint splits sketch independently; counts merge by SUM given the
    # SAME bounds (production: bounds from a first pass or fixed a priori)
    parts = [
        df.where(F.pmod(F.col("i"), F.lit(n_parts)) == p).crossJoin(bounds)
        for p in range(n_parts)
    ]
    from distributed_api_etl_spark.operators.sketch import _hist_bin

    merged: dict[int, int] = {}
    for part in parts:
        binned = part.select(
            _hist_bin(F.col("v"), F.col("lo"), F.col("hi"), 16).alias("bin")
        )
        for r in binned.groupBy("bin").agg(F.count("*").alias("cnt")).collect():
            merged[r["bin"]] = merged.get(r["bin"], 0) + r["cnt"]
    assert merged == whole

    # estimate within one bin width of the true median
    est = histogram_quantile(bounds, hist, [], 1, 2, "p50", n_bins=16).collect()[0][
        "p50"
    ]
    svals = sorted(values)
    exact = svals[(len(svals) + 1) // 2 - 1]  # lower discrete median
    bin_w = (max(values) - min(values)) / 16 if max(values) > min(values) else 0.0
    assert abs(est - exact) <= bin_w + 1e-4


def test_densify_preserves_real_null_aggregates(spark_global):
    """A real row whose aggregate is legitimately NULL must NOT be flagged
    as a gap or zero-filled (pinned after review: the old first-agg-NULL
    inference misclassified exactly this case)."""
    import datetime as dt

    from distributed_api_etl_spark.operators.timeseries import densify_daily

    d = dt.date(2024, 1, 1)
    sparse = spark_global.createDataFrame(
        [(1, d, None, 7), (1, d + dt.timedelta(days=2), 5, 9)],
        "k bigint, day date, a bigint, b bigint",
    )
    rows = {r["day"].day: r for r in densify_daily(sparse, ["k"], "day").collect()}
    assert (rows[1]["a"], rows[1]["b"], rows[1]["is_gap"]) == (None, 7, 0)
    assert (rows[2]["a"], rows[2]["b"], rows[2]["is_gap"]) == (0, 0, 1)
    assert (rows[3]["a"], rows[3]["b"], rows[3]["is_gap"]) == (5, 9, 0)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_counts_match_bruteforce(spark_global, edge_list):
    """Degree-ordered triangle counting == brute-force enumeration on random
    graphs (self-loops and duplicate/reversed edges in the input)."""
    from itertools import combinations

    from distributed_api_etl_spark.operators.graph import triangle_counts

    adj = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {n: 0 for n in adj}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                expected[n] += 1
    edges = spark_global.createDataFrame(
        [(a, b) for a, b in edge_list], "d1 bigint, d2 bigint"
    )
    got = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=40),
    st.lists(st.integers(0, 500), min_size=1, max_size=40),
)
def test_cusum_matches_sequential_recurrence(spark_global, va, vb):
    """Window-identity CUSUM == the sequential recurrence for arbitrary
    nonnegative integer series, across multiple keys in one frame."""
    from distributed_api_etl_spark.operators.timeseries import cusum_changepoints

    rows = [("a", d, v) for d, v in enumerate(va)] + [
        ("b", d, v) for d, v in enumerate(vb)
    ]
    df = spark_global.createDataFrame(rows, "k string, day long, v long")
    got = {
        (r["k"], r["day"]): r
        for r in cusum_changepoints(df, ["k"], "day", "v").collect()
    }
    for key, vals in (("a", va), ("b", vb)):
        n, total = len(vals), sum(vals)
        s = 0
        for d, v in enumerate(vals):
            s = max(0, s + (10 * n * v - 11 * total))
            r = got[(key, d)]
            assert r["is_changepoint"] == (s > 30 * total), (key, d)
            assert abs(r["cusum"] - s / (10 * n)) < 1e-9, (key, d)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(1, 50), min_size=1, max_size=30))
def test_skew_report_gini_matches_definition(spark_global, counts):
    """The rank-formulation Gini in events_key_skew_report's operator logic
    equals the mean-absolute-difference definition
    G = sum_ij |x_i - x_j| / (2 n^2 mu) ... normalized as (n/(n-1))-free
    rank form G = (2*sum(i*x_sorted) - (n+1)*sum(x)) / (n*sum(x))."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(f"u{i}", c) for i, c in enumerate(counts)]
    df = spark_global.createDataFrame(rows, "user_id string, cnt long")
    w = Window.orderBy("cnt", "user_id")
    ranked = df.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("t"),
        F.sum(F.col("i") * F.col("cnt")).alias("s"),
    ).collect()[0]
    got = (2 * agg["s"] - (agg["n"] + 1) * agg["t"]) / (agg["n"] * agg["t"])
    n, t = len(counts), sum(counts)
    mad = sum(abs(a - b) for a in counts for b in counts)
    expected = mad / (2 * n * t)
    assert abs(got - expected) < 1e-9


# ---------------------------------------------------------------------------
# BM25: Spark matches a pure-Python Okapi reference on random corpora
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    ),
    st.sets(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3),
)
def test_bm25_matches_python_reference(spark_global, token_docs, query_terms):
    import math

    from distributed_api_etl_spark.operators.text import bm25_scores

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_docs)]
    df = spark_global.createDataFrame(docs, "doc_id bigint, text string")
    terms = sorted(query_terms)
    got = {
        r["doc_id"]: (r["score"], r["n_terms_matched"])
        for r in bm25_scores(df, "doc_id", "text", terms).collect()
    }
    k1, b = 1.2, 0.75
    n = len(token_docs)
    total = sum(len(t) for t in token_docs)
    dft = {t: sum(1 for toks in token_docs if t in toks) for t in terms}
    for i, toks in enumerate(token_docs):
        dl = len(toks)
        micro, matched = 0, 0
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log(1 + (n - dft[t] + 0.5) / (dft[t] + 0.5))
            s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl * n / total))
            micro += math.floor(s * 1e6 + 0.5)
        assert got[i][1] == matched
        assert abs(got[i][0] - micro / 1e6) < 1e-9


# ---------------------------------------------------------------------------
# Leakage-safe split: cluster-consistency on arbitrary cluster maps
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 400), st.integers(0, 30)), min_size=1, max_size=80),
    st.integers(0, 100),
    st.integers(0, 100),
)
def test_leakage_split_cluster_consistent(spark_global, pairs, train_pct, val_pct):
    import pytest

    from distributed_api_etl_spark.operators.sampling import leakage_safe_split

    df = spark_global.createDataFrame(pairs, "doc_id bigint, cluster_id bigint")
    if train_pct + val_pct > 100:
        with pytest.raises(ValueError):
            leakage_safe_split(df, "cluster_id", train_pct, val_pct)
        return
    out = leakage_safe_split(df, "cluster_id", train_pct, val_pct).collect()
    by_cluster: dict[int, set] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r["split"] for r in out} <= {"train", "val", "test"}


# ---------------------------------------------------------------------------
# passage dedup: full-corpus and incremental variants vs a sequential
# Python reference; PPJoin prefix-filter candidate completeness
# ---------------------------------------------------------------------------
def _passage_ref(docs, p, min_df):
    """Sequential reference for passage_exact_dedup: (id -> (n, kept, text))."""
    pas = []  # (doc_id, idx, passage) in scan order
    for did, toks in docs:
        for i in range(0, len(toks), p):
            pas.append((did, i // p + 1, " ".join(toks[i : i + p])))
    from collections import Counter

    cnt = Counter(s for _, _, s in pas)
    first = {}
    for did, idx, s in sorted(pas):
        first.setdefault(s, (did, idx))
    out = {}
    for did, toks in docs:
        mine = [(i, s) for d, i, s in pas if d == did]
        kept = [
            s
            for i, s in mine
            if cnt[s] < min_df or first[s] == (did, i)
        ]
        out[did] = (len(mine), len(kept), " ".join(kept))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(_POOL[:4]), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([2, 3]),
)
def test_passage_exact_dedup_matches_reference(spark_global, token_docs, p):
    """Random corpora over a tiny vocab (forcing collisions): the Spark
    plan must equal the sequential first-occurrence-wins reference, and
    with an unreachable min_df it must round-trip the corpus untouched."""
    from distributed_api_etl_spark.operators.dedup import passage_exact_dedup

    docs = [(i, toks) for i, toks in enumerate(token_docs)]
    df = spark_global.createDataFrame(
        [(i, " ".join(t)) for i, t in docs], "doc_id bigint, text string"
    )
    ref = _passage_ref(docs, p, 2)
    got = {
        r.doc_id: (r.n_passages, r.kept_passages, r.cleaned_text)
        for r in passage_exact_dedup(
            df, "doc_id", "text", passage_tokens=p, min_df=2
        ).collect()
    }
    assert got == ref
    # identity round-trip: min_df beyond any possible count drops nothing
    untouched = {
        r.doc_id: r.cleaned_text
        for r in passage_exact_dedup(
            df, "doc_id", "text", passage_tokens=p, min_df=10**6
        ).collect()
    }
    assert untouched == {i: " ".join(t) for i, t in docs}


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(_POOL[:4]), min_size=1, max_size=10),
        min_size=1,
        max_size=5,
    ),
    st.lists(
        st.lists(st.sampled_from(_POOL[:4]), min_size=1, max_size=10),
        min_size=1,
        max_size=5,
    ),
)
def test_passage_incremental_matches_reference(spark_global, new_toks, corp_toks):
    """Incremental semantics: corpus hit -> drop all new occurrences;
    batch-internal repeat -> keep first; otherwise untouched."""
    from distributed_api_etl_spark.operators.dedup import passage_incremental_dedup

    p = 3
    new_docs = [(i, t) for i, t in enumerate(new_toks)]
    corp_docs = [(1000 + i, t) for i, t in enumerate(corp_toks)]

    def chunks(toks):
        return [" ".join(toks[i : i + p]) for i in range(0, len(toks), p)]

    corp_set = {s for _, t in corp_docs for s in chunks(t)}
    from collections import Counter

    npas = [
        (did, i + 1, s)
        for did, t in new_docs
        for i, s in enumerate(chunks(t))
    ]
    cnt = Counter(s for _, _, s in npas)
    first = {}
    for did, idx, s in sorted(npas):
        first.setdefault(s, (did, idx))
    ref = {}
    for did, t in new_docs:
        mine = chunks(t)
        kept = [
            s
            for i, s in enumerate(mine)
            if s not in corp_set and (cnt[s] < 2 or first[s] == (did, i + 1))
        ]
        ref[did] = (len(mine), len(kept), " ".join(kept))
    new_df = spark_global.createDataFrame(
        [(i, " ".join(t)) for i, t in new_docs], "doc_id bigint, text string"
    )
    corp_df = spark_global.createDataFrame(
        [(i, " ".join(t)) for i, t in corp_docs], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_passages, r.kept_passages, r.cleaned_text)
        for r in passage_incremental_dedup(
            new_df, corp_df, "doc_id", "text", passage_tokens=p, min_df=2
        ).collect()
    }
    assert got == ref


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(_POOL[:5]), min_size=3, max_size=10),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([50, 70, 80, 90]),
)
def test_ppjoin_jaccard_matches_bruteforce(spark_global, token_docs, pct):
    """Prefix-filter completeness, empirically: the hash-space PPJoin
    result must equal exact all-pairs Jaccard over distinct 3-shingle
    sets at every threshold — no qualifying pair may be lost."""
    from distributed_api_etl_spark.operators.dedup import jaccard_pairs

    docs = [(i, toks) for i, toks in enumerate(token_docs)]
    df = spark_global.createDataFrame(
        [(i, " ".join(t)) for i, t in docs], "doc_id bigint, text string"
    )

    def shingle_set(toks):
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    sets = {i: shingle_set(t) for i, t in docs}
    expected = set()
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if 100 * inter >= pct * union:
                expected.add((a, b, inter, union))
    got = {
        (r.d1, r.d2, r.inter, r.union_sz)
        for r in jaccard_pairs(df, "doc_id", "text", 3, pct).collect()
    }
    assert got == expected


def _sliding_ref(docs, w, min_df):
    """Sequential reference for sliding_span_dedup: coverage semantics,
    keeper = min (doc_id, start), drops union over occurrences."""
    from collections import Counter

    wins = [
        (did, s + 1, " ".join(toks[s : s + w]))
        for did, toks in docs
        for s in range(len(toks) - w + 1)
    ]
    cnt = Counter(g for _, _, g in wins)
    first = {}
    for did, s, g in sorted(wins):
        first.setdefault(g, (did, s))
    out = {}
    for did, toks in docs:
        drops = set()
        for s0 in range(len(toks) - w + 1):
            g = " ".join(toks[s0 : s0 + w])
            if cnt[g] >= min_df and first[g] != (did, s0 + 1):
                drops.update(range(s0 + 1, s0 + 1 + w))  # 1-based coverage
        kept = [t for i, t in enumerate(toks) if (i + 1) not in drops]
        out[did] = (len(toks), len(kept), " ".join(kept))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(_POOL[:3]), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([2, 3]),
)
def test_sliding_span_dedup_matches_reference(spark_global, token_docs, w):
    """Random tiny-vocab corpora (forcing overlapping window collisions —
    the hard case for coverage semantics): the Spark plan must equal the
    sequential reference at every alignment, and an unreachable min_df
    must round-trip the corpus untouched."""
    from distributed_api_etl_spark.operators.dedup import sliding_span_dedup

    docs = [(i, toks) for i, toks in enumerate(token_docs)]
    df = spark_global.createDataFrame(
        [(i, " ".join(t)) for i, t in docs], "doc_id bigint, text string"
    )
    ref = _sliding_ref(docs, w, 2)
    got = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.cleaned_text)
        for r in sliding_span_dedup(
            df, "doc_id", "text", window_tokens=w, min_df=2
        ).collect()
    }
    assert got == ref
    untouched = {
        r.doc_id: r.cleaned_text
        for r in sliding_span_dedup(
            df, "doc_id", "text", window_tokens=w, min_df=10**6
        ).collect()
    }
    assert untouched == {i: " ".join(t) for i, t in docs}


# symmetric-delete blocking completeness at distance 2 ------------------------
def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.text(alphabet="abc", max_size=6), min_size=2, max_size=25, unique=True
    ),
    st.sampled_from([1, 2]),
)
def test_edit_distance_blocking_matches_bruteforce(spark_global, strs, d):
    """SymSpell completeness, empirically: a 3-letter alphabet with strings
    down to the empty string forces dense deletion-key collisions (the
    universal empty-string bucket, multi-path 2-deletions) — the blocked
    result must equal brute-force Levenshtein over all pairs at d=1 and
    d=2, so no alignment shape (sub+sub, sub+ins, del+del, ...) may lose
    its shared key."""
    from distributed_api_etl_spark.operators.dedup import edit_distance_pairs

    import itertools

    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark_global.createDataFrame(rows, "id bigint, name string")
    got = {
        (r["d1"], r["d2"]): r["lev"]
        for r in edit_distance_pairs(df, "id", "name", max_dist=d).collect()
    }
    expected = {
        (i, j): _lev(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if _lev(a, b) <= d
    }
    assert got == expected


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.text(alphabet="ab", max_size=4), min_size=2, max_size=25),
    st.sampled_from([1, 2]),
)
def test_edit_distance_representative_pass_expands_to_full(spark_global, strs, d):
    """The dup-dense guardrail (VERDICT r7 #7): a representative pass over
    distinct texts, expanded back over group membership, must reproduce the
    full pair set EXACTLY. Duplicates are allowed (and likely — 2-letter
    alphabet, length <= 4) so the within-group lev=0 tier and the
    cross-group fan-out are both exercised, as is the universal
    empty-string deletion bucket."""
    from distributed_api_etl_spark.operators.dedup import (
        edit_distance_pairs,
        expand_representative_pairs,
    )

    import itertools

    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark_global.createDataFrame(rows, "id bigint, name string")
    full = {
        (r["d1"], r["d2"]): r["lev"]
        for r in edit_distance_pairs(df, "id", "name", max_dist=d).collect()
    }
    rep = edit_distance_pairs(
        df, "id", "name", max_dist=d, representative_pass=True
    )
    rep_rows = rep.collect()
    # representatives are min-id-per-distinct-text and never emit lev=0
    min_id = {}
    for i, s in rows:
        min_id[s] = min(min_id.get(s, i), i)
    rep_ids = set(min_id.values())
    assert all(r["d1"] in rep_ids and r["d2"] in rep_ids for r in rep_rows)
    assert all(r["lev"] >= 1 for r in rep_rows)
    expanded = {
        (r["d1"], r["d2"]): r["lev"]
        for r in expand_representative_pairs(rep, df, "id", "name").collect()
    }
    expected = {
        (i, j): _lev(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if _lev(a, b) <= d
    }
    assert full == expected
    assert expanded == expected


# winnowing: selection equality + detection guarantee -------------------------
def _winnow_ref(toks, k, w):
    import hashlib

    if len(toks) < k:
        return set()
    g = [
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(toks) - k + 1)
    ]
    sel = set()
    for j in range(max(1, len(g) - w + 1)):
        win = g[j : j + w]
        sel.add(j + win.index(min(win)))
    return {(p + 1, g[p]) for p in sel}


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(_POOL[:6]), min_size=0, max_size=14),
        min_size=2,
        max_size=10,
    ),
    st.lists(st.sampled_from(_POOL[:6]), min_size=6, max_size=9),
)
def test_winnowing_matches_reference_and_detects_planted_span(
    spark_global, token_docs, span
):
    """Random tiny-vocab corpora (dense hash ties exercise the leftmost
    tie-break; short docs exercise the single-window boundary): the Spark
    selection must equal the sequential reference exactly, and every pair
    of docs carrying the planted >= w+k-1 token span must share >= 1
    selected fingerprint (the paper's detection guarantee)."""
    from distributed_api_etl_spark.operators.dedup import (
        winnow_overlap_pairs,
        winnowed_fingerprints,
    )

    k, w = 3, 4
    docs = [(i, toks) for i, toks in enumerate(token_docs)]
    # plant the shared span into every even doc
    docs = [
        (i, (t[: len(t) // 2] + span + t[len(t) // 2 :]) if i % 2 == 0 else t)
        for i, t in docs
    ]
    df = spark_global.createDataFrame(
        [(i, " ".join(t)) for i, t in docs], "doc_id bigint, text string"
    )
    got = {}
    for r in winnowed_fingerprints(df, "doc_id", "text", k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    exp = {i: _winnow_ref(t, k, w) for i, t in docs if len(t) >= k}
    assert got == exp
    planted = [i for i, _ in docs if i % 2 == 0]
    pairs = {
        (r.d1, r.d2)
        for r in winnow_overlap_pairs(
            df, "doc_id", "text", k=k, w=w, min_shared=1
        ).collect()
    }
    for ai, a in enumerate(planted):
        for b in planted[ai + 1 :]:
            assert (a, b) in pairs, (a, b)


def _osa(a, b):
    m, n = len(a), len(b)
    d = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(m + 1):
        d[i][0] = i
    for j in range(n + 1):
        d[0][j] = j
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            c = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + c)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[m][n]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.text(alphabet="abc", max_size=6), min_size=2, max_size=25, unique=True
    )
)
def test_damerau1_pairs_matches_bruteforce(spark_global, strs):
    """Transposition coverage of the single-deletion blocking plus the
    explicit swap-shape verify, against brute-force OSA on a 3-letter
    alphabet (dense key collisions, empty strings, repeated chars whose
    'transpositions' are really equalities or substitutions)."""
    from distributed_api_etl_spark.operators.dedup import damerau1_pairs

    import itertools

    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark_global.createDataFrame(rows, "id bigint, name string")
    got = {
        (r["d1"], r["d2"]): r["dam"]
        for r in damerau1_pairs(df, "id", "name").collect()
    }
    expected = {
        (i, j): _osa(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if _osa(a, b) <= 1
    }
    assert got == expected


# ExactSubstr parity: sliding_span_dedup vs brute-force suffix matching ------
def _exactsubstr_covered(docs, threshold):
    """Independent ExactSubstr reference (Lee et al. 2022 semantics, no
    suffix array): positions covered by ANY substring of >= threshold
    tokens that occurs >= 2 times corpus-wide. Brute force: every pair of
    start positions, longest common prefix; m >= threshold marks both
    ranges. Deliberately NOT the windows-tiling argument the operator
    uses — this is the ground truth the tiling theorem is tested against.
    """
    suf = [(d, p) for d, toks in docs for p in range(len(toks))]
    tok = {d: toks for d, toks in docs}
    covered = set()
    for i, (d1, p1) in enumerate(suf):
        for d2, p2 in suf[i + 1 :]:
            if (d1, p1) == (d2, p2):
                continue
            t1, t2 = tok[d1], tok[d2]
            m = 0
            while (
                p1 + m < len(t1) and p2 + m < len(t2) and t1[p1 + m] == t2[p2 + m]
            ):
                m += 1
            if m >= threshold:
                covered.update((d1, q) for q in range(p1, p1 + m))
                covered.update((d2, q) for q in range(p2, p2 + m))
    return covered


@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_sliding_span_dedup_is_exactsubstr_at_threshold_w(spark_global, data):
    """VERDICT r7 #5 resolved as a THEOREM plus its empirical check: the
    position set sliding_span_dedup covers at window w equals ExactSubstr
    coverage at threshold w — every duplicated substring of length
    L >= w is tiled by duplicated w-windows (window at max(s, p-w+1)
    covers any p in it), and every duplicated w-window IS a duplicated
    substring of length w. So ONE pass at the finest window already
    implements "repeats of ANY length >= w", and composing passes at
    w in {5, 10, 20} is redundant: dropped(w') subset-of dropped(w) for
    w <= w' (each non-keeper w'-occurrence has an earlier twin, so every
    w-subwindow of it is also non-keeper). Corpus construction pins
    keepers to doc 0 (all planted copies come from doc 0 blocks), so the
    operator's dropped set on docs >= 1 must equal reference coverage
    exactly; copies shorter than w are negative controls."""
    from distributed_api_etl_spark.operators.dedup import sliding_span_dedup

    w = data.draw(st.sampled_from([3, 5]))
    n_blocks = data.draw(st.integers(1, 3))
    uid = iter(range(10**6))
    blocks = [
        [f"b{b}_{i}" for i in range(data.draw(st.integers(1, 3 * w)))]
        for b in range(n_blocks)
    ]
    filler = lambda k: [f"f{next(uid)}" for _ in range(k)]
    doc0 = []
    for b in blocks:
        doc0 += filler(data.draw(st.integers(1, 3))) + b
    doc0 += filler(2)
    docs = [(0, doc0)]
    for d in range(1, data.draw(st.integers(2, 4))):
        toks = filler(data.draw(st.integers(0, 2)))
        for b in blocks:
            if data.draw(st.booleans()):
                lo = data.draw(st.integers(0, max(0, len(b) - 1)))
                hi = data.draw(st.integers(lo + 1, len(b)))
                toks += b[lo:hi] + filler(data.draw(st.integers(1, 3)))
        docs.append((d, toks))

    covered = _exactsubstr_covered(docs, w)
    # keeper pinning sanity: doc 0 holds the minimal occurrence of every
    # planted window, so the operator must keep doc 0 untouched
    df = spark_global.createDataFrame(
        [(d, " ".join(t)) for d, t in docs], "doc_id bigint, text string"
    )
    out = {
        r.doc_id: r.cleaned_text
        for r in sliding_span_dedup(
            df, "doc_id", "text", window_tokens=w, min_df=2
        ).collect()
    }
    assert out[0] == " ".join(doc0)
    for d, toks in docs[1:]:
        expect = " ".join(
            t for q, t in enumerate(toks) if (d, q) not in covered
        )
        assert out[d] == expect, (d, toks, sorted(covered))
    # composition redundancy: dropped at 2w is a subset of dropped at w
    out2 = {
        r.doc_id: r.cleaned_text
        for r in sliding_span_dedup(
            df, "doc_id", "text", window_tokens=2 * w, min_df=2
        ).collect()
    }
    for d, toks in docs:
        kept_w = set(out[d].split(" ")) if out[d] else set()
        kept_2w = set(out2[d].split(" ")) if out2[d] else set()
        assert kept_w <= kept_2w


# ---------------------------------------------------------------------------
# token_budget_sample: for ANY (ids, tokens, budget), the kept set is the
# maximal prefix of the hash-priority order whose running total fits —
# never exceeds the budget, never skips-then-resumes
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 50)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.integers(0, 300),
)
def test_token_budget_is_maximal_prefix(spark_global, rows, budget):
    from distributed_api_etl_spark.operators.sampling import token_budget_sample

    df = spark_global.createDataFrame(
        [(i, "g", t) for i, t in rows], "doc_id bigint, grp string, n_tokens bigint"
    )
    out = sorted(
        token_budget_sample(df, "doc_id", "grp", "n_tokens", {"g": budget}).collect(),
        key=lambda r: r.cum_tokens,
    )
    # python reference: same priority order (portable hash via duckdb),
    # strict prefix under the budget
    con = duckdb.connect()
    from distributed_api_etl_spark.functions.portable import portable_hash32_sql

    h = portable_hash32_sql("':g:' || CAST(? AS VARCHAR)")
    order = sorted(
        rows, key=lambda t: (con.sql(f"SELECT {h}", params=[t[0]]).fetchone()[0], t[0])
    )
    run, expect = 0, []
    for i, tok in order:
        if run + tok > budget:
            break
        run += tok
        expect.append((i, run))
    assert [(r.doc_id, r.cum_tokens) for r in out] == expect
    assert sum(r.n_tokens for r in out) <= budget


# ---------------------------------------------------------------------------
# rrf_fuse: fused integer scores equal the python reference for ANY pair of
# ranked lists; ranks are dense 1..k; absent-list markers are 0, never null
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
)
def test_rrf_fuse_matches_reference(spark_global, la, lb):
    from distributed_api_etl_spark.operators.similarity import RRF_SCALE, rrf_fuse

    a = spark_global.createDataFrame(
        [(d, i + 1) for i, d in enumerate(la)], "id bigint, rnk int"
    )
    b = spark_global.createDataFrame(
        [(d, i + 1) for i, d in enumerate(lb)], "id bigint, rnk int"
    )
    k = len(set(la) | set(lb))
    got = {r.id: r for r in rrf_fuse([("a", a), ("b", b)], "id", "rnk", k).collect()}
    ref = {}
    for lst, label in ((la, "a"), (lb, "b")):
        for i, d in enumerate(lst):
            e = ref.setdefault(d, {"s": 0, "n": 0, "a": 0, "b": 0})
            e["s"] += RRF_SCALE // (60 + i + 1)
            e["n"] += 1
            e[label] = i + 1
    assert set(got) == set(ref)
    for d, e in ref.items():
        r = got[d]
        assert (r.rrf_e9, r.n_lists, r.a_rnk, r.b_rnk) == (
            e["s"], e["n"], e["a"], e["b"],
        )
    fused = sorted(got.values(), key=lambda r: r.fused_rnk)
    assert [r.fused_rnk for r in fused] == list(range(1, len(fused) + 1))
    assert all(
        (x.rrf_e9, -x.id) >= (y.rrf_e9, -y.id) for x, y in zip(fused, fused[1:])
    )
