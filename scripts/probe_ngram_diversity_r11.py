#!/usr/bin/env python
"""Round-11 singleton-share-vs-GENUINE-diversity probe (VERDICT r10 #6).

The r10 1x/4x/10x scaling probe (scripts/probe_ngram_scaling_r10.py) built
its corpus from per-copy token-tagged REPLICAS, which replicates the gram
frequency distribution — its 94.39% singleton share is scale-invariant by
construction, so it bounds but cannot test the "share rises with
diversity" hypothesis the 100-TB pruning argument leans on.

This probe grows the corpus with DISJOINT REAL DOCUMENT SUBSETS instead:
1x = the 500 lowest-doc_id sf0.1 documents, 4x = 2,000, 10x = all 5,000 —
every scale step adds genuinely NEW documents (new topical content), the
regime real corpus growth lives in. At each scale it measures the three
quantities the pruning argument rests on:

  - distinct 5-grams (the table-growth exponent under real diversity —
    Heaps-law sub-linear expected, vs the tagged probe's exact 1.0),
  - the singleton share of distinct 5-grams (does it hold/rise?), and
  - the post-prune score-table fraction (what singleton pruning keeps),

plus the shuffle volume of the SHIPPED pruned + suffix-aligned
ngram_logprob_scores(order=5) plan, min-of-2, counters over walls.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_api_etl_spark.operators.text import LM_BOS, ngram_logprob_scores
from distributed_api_etl_spark.queries.registry import fan_out, table
from distributed_api_etl_spark.session import (
    get_spark,
    release_caches,
    shuffle_bytes_snapshot,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ORDER = 5
SCALES = ((1, 500), (4, 2000), (10, 5000))

spark = get_spark(app_name="probe-ngram-diversity-r11")
spark.sparkContext.setLogLevel("ERROR")
print(f"loadavg={os.getloadavg()[0]:.2f} order={ORDER} sf={SF}", flush=True)


def subset_corpus(n_docs: int):
    return (
        fan_out(table(spark, SF, "documents"))
        .where(F.col("doc_id") < n_docs)
        .select("doc_id", "text")
    )


for label, n_docs in SCALES:
    docs = subset_corpus(n_docs)
    toks = F.split(F.col("text"), " ")
    padded = F.concat(F.array(*[F.lit(LM_BOS)] * (ORDER - 1)), toks)
    gcols = [f"g{i}" for i in range(1, ORDER + 1)]
    arr = F.when(
        F.size(toks) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: F.struct(
                *[F.element_at(padded, i + j).alias(gcols[j]) for j in range(ORDER)]
            ),
        ),
    ).otherwise(
        F.array().cast(
            f"array<struct<{','.join(c + ':string' for c in gcols)}>>"
        )
    )
    stats = (
        docs.select(F.explode(arr).alias("_g"))
        .select(*[F.col(f"_g.{c}").alias(c) for c in gcols])
        .groupBy(*gcols)
        .count()
        .agg(
            F.count("*").alias("distinct_grams"),
            F.sum(F.when(F.col("count") == 1, 1).otherwise(0)).alias("singletons"),
        )
        .collect()[0]
    )
    dg, sg = stats["distinct_grams"], stats["singletons"]
    best, mb = None, None
    for _r in range(2):
        release_caches()
        spark.catalog.clearCache()
        w0, _ = shuffle_bytes_snapshot(spark)
        t0 = time.perf_counter()
        df = ngram_logprob_scores(subset_corpus(n_docs), "doc_id", "text", order=ORDER)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        w1, _ = shuffle_bytes_snapshot(spark)
        best = dt if best is None else min(best, dt)
        mb = round((w1 - w0) / 1e6, 2)
    print(
        f"{label}x ({n_docs} docs)  shuffle={mb:>8} MB  wall={best:.2f}s  "
        f"distinct_5grams={dg}  singleton_share={sg / dg:.4f}  "
        f"post_prune_table_frac={(dg - sg) / dg:.4f}",
        flush=True,
    )
release_caches()
spark.stop()
