"""Per-batch cost of the streaming training recipe under multi-batch arrival.

The round-15 RecipeStore refactor stores keeper FEATURES instead of raw
text, so each batch's dedup cost should track the BATCH (its own shingling
+ storage scans of the standing state), not the standing corpus (which the
first-cut text store re-shingled per batch). This probe streams the sf
documents table in ``n_batches`` files (maxFilesPerTrigger=1) through the
real foreachBatch sink and reports each batch's wall plus the standing
keeper count it entered with.

Run: python scripts/probe_recipe_stream_r15.py [sf_dir] [n_batches]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from distributed_api_etl_spark.streaming.recipe import (
    RecipeConfig,
    RecipeStore,
    process_recipe_batch,
)


def main(sf_dir: str, n_batches: int) -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        # pinned: the 1g JVM default GC-thrashes
        # the multi-batch drain into superlinear per-batch walls
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from distributed_api_etl_spark.queries.curation import (
        RECIPE_BUDGET_DEFAULT,
        RECIPE_BUDGET_SEED,
        RECIPE_BUDGETS,
        RECIPE_PACK_BUDGET,
        RECIPE_SHARD_SEED,
        RECIPE_SHARDS,
    )
    from distributed_api_etl_spark.queries.dedup import (
        PASSAGE_MIN_DF,
        PASSAGE_TOKENS,
    )
    from distributed_api_etl_spark.queries.text import MIX_DEFAULT, MIX_RATES

    cfg = RecipeConfig(
        mix_rates=MIX_RATES,
        mix_default=MIX_DEFAULT,
        budgets=RECIPE_BUDGETS,
        budget_default=RECIPE_BUDGET_DEFAULT,
        budget_seed=RECIPE_BUDGET_SEED,
        n_shards=RECIPE_SHARDS,
        shard_seed=RECIPE_SHARD_SEED,
        pack_budget=RECIPE_PACK_BUDGET,
        passage_tokens=PASSAGE_TOKENS,
        passage_min_df=PASSAGE_MIN_DF,
    )
    src = tempfile.mkdtemp(prefix="recipe_probe_src_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    n_docs = docs.count()
    # n_batches arrival files of roughly equal size, pinned order by mtime
    # (stamp ONLY the file each append created — a recency check would
    # re-stamp earlier files whose pinned mtimes sit in the future)
    seen: set[str] = set()
    for b in range(n_batches):
        docs.where(F.pmod(F.col("doc_id"), n_batches) == b).coalesce(
            1
        ).write.mode("append").parquet(src)
        t = time.time() + b * 600
        for f in os.listdir(src):
            path = os.path.join(src, f)
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                os.utime(path, (t, t))
    store = RecipeStore(spark, tempfile.mkdtemp(prefix="recipe_probe_store_"))
    store.reset()
    walls: list[dict] = []

    def _sink(batch_df, batch_id):
        standing = 0
        feats_in = store._committed_inputs(store.feats_dir)
        if feats_in:
            standing = spark.read.parquet(*feats_in).count()
        t0 = time.time()
        process_recipe_batch(batch_df, store, cfg, batch_id)
        walls.append(
            {
                "batch": int(batch_id),
                "rows_in": batch_df.count(),
                "standing_keepers_in": standing,
                "wall_s": round(time.time() - t0, 2),
            }
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", store.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1800)
    manifest = store.read_manifest().count()
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_docs": n_docs,
                "n_batches": n_batches,
                "batches": walls,
                "manifest_rows": manifest,
            },
            indent=2,
        )
    )
    shutil.rmtree(src, ignore_errors=True)


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
        int(sys.argv[2]) if len(sys.argv) > 2 else 5,
    )
