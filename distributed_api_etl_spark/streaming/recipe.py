"""STREAMING composition of the end-to-end training-data recipe.

The batch recipe (queries/curation.py:documents_training_recipe) re-curates
the whole corpus per run. Real pipelines ingest continuously — so this
module runs the SAME stage chain (gates -> near-dup keep-set -> passage
dedup -> leakage-safe split -> mixture rates -> token budgets -> epoch
shards -> concat-and-chunk packs) inside ``foreachBatch``, with the
cross-batch state each stage needs held in a parquet/JSON RecipeStore:

- **keeper_feats/ + keeper_bands/** (parquet, batch-keyed subdirs) — the
  stored dedup state of every near-dup keeper so far (operators/dedup.py:
  dedup_corpus_features: shingle sets + sizes, and the banded-signature
  long table): what the next batch's incremental MinHash
  (incremental_lsh_pairs_from_features) collides against. Text-sized
  (feats) + 4 rows/doc (bands), but the standing corpus never
  RE-SHINGLES — each batch pays storage scans, not text processing.
- **passage_fps/** (parquet, batch-keyed subdirs) — distinct 16-byte
  passage fingerprints of the keepers: the infinite-prior corpus for
  incremental passage dedup (passage_incremental_dedup_from_fps).
  Duplicate keys across batches are absorbed by the operator's
  semi-join + distinct.
- **manifest/** (parquet, batch-keyed subdirs) — the shipped-document
  manifest, one row per packed document: the recipe's loader-facing
  output.
- **commits/** — the single ATOMIC commit point, shaped like Structured
  Streaming's own ``commits/`` log: one small JSON file per committed
  batch id, written under a hidden name and renamed into place. The
  largest id is the high-water mark; its file also holds the two bounded
  per-group states — per-language (admitted tokens, closed) pairs (the
  streaming_token_budget_admission contract: first rejection closes the
  group for the stream's lifetime; O(languages)) and the per-shard token
  base so pack ids/offsets continue across batches (O(shards)).
- **checkpoint/** — the stream checkpoint (run_streaming_training_recipe).

Exactly-once per batch_id (the backfill-bookmark pattern,
orchestration/backfill.py, applied at the foreachBatch grain):
foreachBatch is AT-LEAST-ONCE — after a sink failure Structured
Streaming re-delivers the same (batch_id, rows) from the checkpoint. The
store makes the replay a no-op or a clean redo:

- every parquet write lands as ``mode("overwrite")`` into a
  ``b{batch_id:09d}/`` subdir — a redo REPLACES the crashed attempt's
  partial output instead of appending next to it;
- readers enumerate COMMITTED inputs only (subdirs with id <= the
  high-water mark, plus the flat compacted baseline) — a crashed
  attempt's partial subdir is invisible to the batch that redoes it;
- the commit mark (mark + budget + pack state together) is written LAST
  and atomically, so the budget/pack state a redo reads is always the
  PRE-batch state;
- a re-delivered ``batch_id <=`` the mark returns immediately.

Hence crash at ANY point between writes yields exactly-once effects once
the stream recovers — the same contract the batch loop gets from its
sink anti-join (reference batch_processor.py:36-40) and the backfill
driver from its bookmark. The store and the stream's checkpoint must
live and die together (reset() both or neither): batch ids are
checkpoint-scoped, so the runner keeps the checkpoint under the store
root and reset() drops both.

Semantics contract (the same split the graded streaming family uses):

- Per-row stages (gates, split hash, mixture hash, shard hash) are
  batch-INVARIANT — any batching yields the batch result.
- Prefix-stateful stages (budget admission, packing) extend the batch
  operators' strict-prefix semantics by arrival: within a batch, the batch
  operator's own order (budget priority hash / epoch sort key) governs;
  across batches, arrival order governs — a stream cannot reorder the
  future, and a shipped pack cannot be unshipped.
- Dedup stages are arrival-prefix-stateful with STANDING-WINS semantics: a
  new doc that near-dup-matches any standing keeper is dropped (the batch
  recompute would instead pick the min id); passage doc-frequency uses the
  incremental operator's documented infinite-prior contract. Both reduce
  exactly to the batch pipeline when the store is empty.

Hence a single availableNow drain reproduces documents_training_recipe
row-for-row — what the graded head's oracle asserts — and multi-batch
arrival is pinned by tests/test_streaming.py with maxFilesPerTrigger=1.

Reference parity note: the reference has no streaming engine at all (its
batch loop is src/orchestration/batch_processor.py); this is the
Spark-first extension of its ingest pipeline to continuous arrival.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_api_etl_spark.core.table_manager import (
    hadoop_fs,
    recover_scratch,
    swap_in_rewrite,
)
from distributed_api_etl_spark.functions.portable import portable_hash32


@dataclass(frozen=True)
class RecipeConfig:
    """Knobs of the recipe chain — the graded head passes the SAME
    constants the batch head uses so the two stay contract-identical."""

    mix_rates: dict[str, int]
    mix_default: int
    budgets: dict[str, int]
    budget_default: int
    budget_seed: str
    n_shards: int
    shard_seed: str
    pack_budget: int
    shingle_n: int = 3
    jaccard_pct: int = 70
    passage_tokens: int = 5
    passage_min_df: int = 2
    train_pct: int = 80
    val_pct: int = 10


class RecipeStore:
    """Stored state of the streaming recipe (layout + exactly-once
    contract in the module doc).

    Every filesystem operation goes through the Hadoop FileSystem that
    resolves ``root`` (core/table_manager.py:hadoop_fs), so a bare path,
    ``file://``, ``hdfs://`` or ``s3a://`` root behaves the same. Parquet
    stores hold one ``b{batch_id:09d}/`` subdir per committed batch plus an
    optional flat compacted baseline (:meth:`compact`). The JSON state is
    bounded by construction (O(languages) + O(shards)); only the parquet
    stores scale with the corpus, and they are only ever scanned, never
    collected.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs, self._path = hadoop_fs(spark, self.root)
        self.feats_dir = f"{self.root}/keeper_feats"
        self.bands_dir = f"{self.root}/keeper_bands"
        self.pfps_dir = f"{self.root}/passage_fps"
        self.manifest_dir = f"{self.root}/manifest"
        self.commits_dir = f"{self.root}/commits"
        self.checkpoint_dir = f"{self.root}/checkpoint"

    def reset(self) -> None:
        """Drop the whole store, the stream checkpoint under it included."""
        self.fs.delete(self._path(self.root), True)
        self.fs.mkdirs(self._path(self.root))

    def _parquet_dirs(self) -> tuple[str, ...]:
        return (self.feats_dir, self.bands_dir, self.pfps_dir, self.manifest_dir)

    # -- commit log ----------------------------------------------------------

    def _marks(self) -> list[int]:
        return [
            int(st.getPath().getName())
            for st in self.fs.globStatus(self._path(f"{self.commits_dir}/[0-9]*"))
        ]

    def _read_commit(self) -> dict:
        marks = self._marks()
        if not marks:
            return {}
        io = self.spark.sparkContext._jvm.org.apache.hadoop.io.IOUtils  # noqa: SLF001
        stream = self.fs.open(self._path(f"{self.commits_dir}/{max(marks)}"))
        try:
            return json.loads(bytes(io.readFullyToByteArray(stream)))
        finally:
            stream.close()

    def last_committed(self) -> int:
        """High-water mark: the largest batch_id whose effects are fully
        applied, or -1 before the first commit."""
        marks = self._marks()
        return max(marks) if marks else -1

    def commit(self, batch_id: int, budget_state: dict, pack_state: dict) -> None:
        """Atomically publish a batch: mark + both bounded states in ONE
        file, written under a hidden name and renamed to ``commits/<id>``,
        so a redo always reads the pre-batch state. Older marks are
        deleted once the new one has landed."""
        obj = {
            "batch_id": int(batch_id),
            "budget": {k: list(v) for k, v in budget_state.items()},
            "pack": {str(k): int(v) for k, v in pack_state.items()},
        }
        tmp = self._path(f"{self.commits_dir}/.{int(batch_id)}.tmp")
        out = self.fs.create(tmp, True)
        try:
            out.write(json.dumps(obj).encode())
        finally:
            out.close()
        # Hadoop rename never overwrites: an existing mark fails it
        if not self.fs.rename(tmp, self._path(f"{self.commits_dir}/{int(batch_id)}")):
            raise OSError(f"recipe store {self.root!r}: commit of batch {batch_id} failed")
        for old in self._marks():
            if old < batch_id:
                self.fs.delete(self._path(f"{self.commits_dir}/{old}"), False)

    def read_budget_state(self) -> dict[str, tuple[int, bool]]:
        return {
            k: (int(v[0]), bool(v[1]))
            for k, v in self._read_commit().get("budget", {}).items()
        }

    def read_pack_state(self) -> dict[int, int]:
        return {
            int(k): int(v) for k, v in self._read_commit().get("pack", {}).items()
        }

    # -- committed-only parquet reads --------------------------------------

    @staticmethod
    def batch_subdir(d: str, batch_id: int) -> str:
        return f"{d}/b{batch_id:09d}"

    def _committed_inputs(self, d: str) -> list[str]:
        """Readable inputs under ``d``: the flat compacted baseline (only
        ever produced from committed batches) + committed batch subdirs.
        An in-flight or crashed batch's subdir (id > mark) is excluded —
        that is what makes a redo read exactly the pre-batch corpus. A
        crashed compaction's swap leftovers are resolved first
        (table_manager.recover_scratch)."""
        recover_scratch(self.spark, d)
        hwm = self.last_committed()
        name = d.rsplit("/", 1)[-1]
        out = set()
        for st in self.fs.globStatus(self._path(f"{d}/{{*.parquet,b*/*.parquet}}")):
            parent = st.getPath().getParent()
            m = re.fullmatch(r"b(\d{9})", parent.getName())
            if m is None and parent.getName() == name:
                out.add(st.getPath().toString())
            elif m is not None and int(m.group(1)) <= hwm:
                out.add(parent.toString())
        return sorted(out)

    def read_dedup_state(self) -> tuple[DataFrame, DataFrame, DataFrame] | None:
        """(keeper features, keeper bands, passage fingerprints) of every
        COMMITTED batch, or None while no committed batch holds keepers."""
        feats = self._committed_inputs(self.feats_dir)
        bands = self._committed_inputs(self.bands_dir)
        pfps = self._committed_inputs(self.pfps_dir)
        if not (feats and bands and pfps):
            return None
        read = self.spark.read.parquet
        return read(*feats), read(*bands), read(*pfps)

    def read_manifest(self) -> DataFrame:
        inputs = self._committed_inputs(self.manifest_dir)
        if not inputs:
            raise ValueError(
                f"recipe store {self.root!r} has no committed manifest — did "
                "the stream produce zero admitted documents?"
            )
        return self.spark.read.parquet(*inputs)

    # -- maintenance --------------------------------------------------------

    def discard_uncommitted(self) -> None:
        """Drop batch subdirs above the high-water mark. Always safe: an
        uncommitted subdir is a crashed attempt's partial output, and the
        checkpoint will re-deliver that batch."""
        hwm = self.last_committed()
        for d in self._parquet_dirs():
            recover_scratch(self.spark, d)
            for st in self.fs.globStatus(self._path(f"{d}/b*")):
                m = re.fullmatch(r"b(\d{9})", st.getPath().getName())
                if m and int(m.group(1)) > hwm:
                    self.fs.delete(st.getPath(), True)

    def compact(self, target_files: int = 4) -> dict:
        """Merge each store dir's committed content into a flat baseline of
        ``target_files`` files — the per-batch-subdir file-listing tax
        (O(batches) dirs) goes back to O(1) while results are byte-identical
        (compaction == no-op oracle, pinned in tests/test_streaming.py).

        Run BETWEEN micro-batches (foreachBatch is serial per query, so any
        point outside the sink callback is a committed boundary). Crash
        contract: the rewrite is swapped in by the table manager's
        two-rename swap; a crash between the renames is healed on the next
        read (table_manager.recover_scratch — the compaction is lost, the
        store is not). Uncommitted partials are discarded first so a
        crashed attempt's rows can never be folded into the committed
        baseline. Returns a per-dir {files_before, files_after} census."""
        self.discard_uncommitted()
        census: dict[str, dict[str, int]] = {}
        for d in self._parquet_dirs():
            inputs = self._committed_inputs(d)
            if not inputs:
                continue
            df = self.spark.read.parquet(*inputs)
            files_before = len(df.inputFiles())
            write = df.coalesce(target_files).write.mode("overwrite").parquet
            swap_in_rewrite(self.spark, d, "compact", write)
            census[d.rsplit("/", 1)[-1]] = {
                "files_before": files_before,
                "files_after": len(self.spark.read.parquet(d).inputFiles()),
            }
        return census


def process_recipe_batch(
    batch: DataFrame, store: RecipeStore, cfg: RecipeConfig, batch_id: int
) -> None:
    """Run one arriving micro-batch through the full recipe chain and
    publish its admitted documents to the manifest — exactly once per
    ``batch_id`` (module doc: re-delivery of a committed batch is a no-op;
    re-delivery of a crashed batch is a clean redo over the pre-batch
    state).

    ``batch`` must carry (doc_id, lang, text); doc_ids must be globally
    unique across the stream's life (the incremental dedup operators
    require disjoint ids — re-delivery dedup WITHIN the source is the
    idempotency anti-join family's job, upstream of this sink; sink-level
    re-delivery of the same batch is handled here).
    """
    from distributed_api_etl_spark.session import cache_mark, release_caches_since

    if batch_id <= store.last_committed():
        return  # at-least-once replay of an already-applied batch
    # every cache below is BATCH-scoped: release them on exit or a
    # long-lived stream accumulates one cache generation per micro-batch
    # (measured: OOM of the shared local-mode heap at sf0.1 x 5 batches)
    mark = cache_mark()
    try:
        _process_recipe_batch_inner(batch, store, cfg, batch_id)
    finally:
        release_caches_since(mark)


def _process_recipe_batch_inner(
    batch: DataFrame, store: RecipeStore, cfg: RecipeConfig, batch_id: int
) -> None:
    from distributed_api_etl_spark.functions.textfns import tokens
    from distributed_api_etl_spark.operators.dedup import (
        dedup_corpus_features,
        incremental_lsh_pairs_from_features,
        minhash_lsh_pairs,
        passage_exact_dedup,
        passage_fingerprint_keys,
        passage_incremental_dedup_from_fps,
    )
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment
    from distributed_api_etl_spark.operators.sampling import (
        hash_stratified_sample,
        leakage_safe_split,
        shard_assignment,
    )
    from distributed_api_etl_spark.operators.text import gopher_combined_gate
    from distributed_api_etl_spark.session import scoped_persist

    spark = batch.sparkSession

    # the arriving micro-batch inherits the SOURCE's split (one small file
    # -> ONE scan task at the graded scale), which would run the whole
    # gate + shingling chain single-task (guide §2.5, input skew). Fan it
    # out to the session's parallelism first; when the source already
    # carries >= that many partitions (any real deployment) this is a
    # no-op. Round-robin is safe: every downstream stage is a
    # deterministic function of the ROWS (per-row gates/hashes, set
    # aggregations, totally-ordered windows), never of their placement.
    par = spark.sparkContext.defaultParallelism
    if batch.rdd.getNumPartitions() < par:
        batch = batch.repartition(par)

    # -- stage 1: per-row gates (batch-invariant) --------------------------
    gated = scoped_persist(
        gopher_combined_gate(
            batch.select("doc_id", "lang", "text"),
            "doc_id",
            "text",
            carry=("text", "lang"),
        )
        .where("keep")
        .select("doc_id", "lang", "text")
    )

    # -- stage 2: near-dup keep-set (standing-wins across batches) ---------
    standing = store.read_dedup_state()
    if standing is None:
        survivors0 = gated
        within = minhash_lsh_pairs(
            gated, "doc_id", "text", cfg.shingle_n, cfg.jaccard_pct
        ).select("d1", "d2")
    else:
        st_feats, st_bands, st_pfps = standing
        # persisted: referenced by both new_dups branches AND the `within`
        # anti-join chain — unpersisted, the candidate+verify join would
        # re-execute up to three times per micro-batch (ADVICE r15)
        pairs = scoped_persist(
            incremental_lsh_pairs_from_features(
                gated.select("doc_id", "text"),
                st_feats,
                st_bands,
                "doc_id",
                "text",
                cfg.shingle_n,
                cfg.jaccard_pct,
            ).select("d1", "d2")
        )
        s1 = st_feats.select(F.col("doc_id").alias("d1"))
        s2 = st_feats.select(F.col("doc_id").alias("d2"))
        # the NEW side of every corpus-x-new pair is a dup of a standing
        # keeper -> dropped (arrival wins; the batch recompute would pick
        # min id instead — the documented divergence)
        new_dups = scoped_persist(
            pairs.join(s1, "d1", "left_semi")
            .select(F.col("d2").alias("doc_id"))
            .unionByName(
                pairs.join(s2, "d2", "left_semi").select(F.col("d1").alias("doc_id"))
            )
            .distinct()
        )
        survivors0 = gated.join(new_dups, "doc_id", "left_anti")
        within = (
            pairs.join(new_dups.select(F.col("doc_id").alias("d1")), "d1", "left_anti")
            .join(new_dups.select(F.col("doc_id").alias("d2")), "d2", "left_anti")
            .join(s1, "d1", "left_anti")
            .join(s2, "d2", "left_anti")
        )
    # label propagation (see queries/curation.py — near-clique dup graphs,
    # identical labels, measured ~2.5x less per-batch CC overhead)
    clusters = dedup_cluster_assignment(
        within, survivors0.select("doc_id"), "doc_id", algorithm="label_propagation"
    )
    keepers = scoped_persist(
        survivors0.join(
            clusters.where("is_keep").select("doc_id", "cluster_id"), "doc_id"
        )
    )

    # -- stage 3: passage dedup (infinite-prior corpus df) ------------------
    if standing is None:
        cleaned = passage_exact_dedup(
            keepers.select("doc_id", "text"),
            "doc_id",
            "text",
            passage_tokens=cfg.passage_tokens,
            min_df=cfg.passage_min_df,
        )
    else:
        cleaned = passage_incremental_dedup_from_fps(
            keepers.select("doc_id", "text"),
            st_pfps,
            "doc_id",
            "text",
            passage_tokens=cfg.passage_tokens,
            min_df=cfg.passage_min_df,
        )

    # -- stages 4-5: husk drop, cluster-keyed split, TRAIN mixture ----------
    survivors = keepers.select("doc_id", "lang", "cluster_id").join(
        cleaned.where("kept_passages > 0").select("doc_id", "cleaned_text"),
        "doc_id",
    )
    train = (
        leakage_safe_split(
            survivors, "cluster_id", train_pct=cfg.train_pct, val_pct=cfg.val_pct
        )
        .where(F.col("split") == "train")
        .select(
            "doc_id",
            "lang",
            F.size(tokens(F.col("cleaned_text"))).cast("bigint").alias("n_tokens"),
        )
    )
    mixed = hash_stratified_sample(
        train, "doc_id", "lang", cfg.mix_rates, cfg.mix_default
    )

    # -- stage 6: token-budget admission with lifetime state ---------------
    bstate = store.read_budget_state()
    state_rows = [(k, v[0], v[1]) for k, v in bstate.items()]
    if state_rows:
        sdf = spark.createDataFrame(
            state_rows, "lang string, _used bigint, _closed boolean"
        )
        based = mixed.join(F.broadcast(sdf), "lang", "left")
    else:
        based = mixed.withColumn("_used", F.lit(None).cast("bigint")).withColumn(
            "_closed", F.lit(None).cast("boolean")
        )
    pri = portable_hash32(
        F.concat(
            F.lit(f"{cfg.budget_seed}:"),
            F.col("lang"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(pri.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = None
    for value, b in cfg.budgets.items():
        cond = F.col("lang") == F.lit(value)
        budget = F.when(cond, b) if budget is None else budget.when(cond, b)
    budget = (
        budget.otherwise(cfg.budget_default)
        if budget is not None
        else F.lit(cfg.budget_default)
    )
    scored = scoped_persist(
        based.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.coalesce(F.col("_closed"), F.lit(False)).alias("_closed"),
            (
                F.coalesce(F.col("_used"), F.lit(0))
                + F.sum(
                    F.coalesce(F.col("n_tokens").cast("bigint"), F.lit(0))
                ).over(w)
            )
            .cast("bigint")
            .alias("cum_tokens"),
            budget.cast("bigint").alias("_budget"),
        )
    )
    admitted = scored.where(
        (~F.col("_closed")) & (F.col("cum_tokens") <= F.col("_budget"))
    ).select("doc_id", "lang", "n_tokens", "cum_tokens")

    # -- stage 7: epoch shards + cross-batch pack offsets -------------------
    sharded = shard_assignment(
        admitted,
        "doc_id",
        cfg.n_shards,
        seed=cfg.shard_seed,
        carry_cols=("lang", "n_tokens", "cum_tokens"),
    )
    pstate = store.read_pack_state()
    if pstate:
        pdf = spark.createDataFrame(
            [(k, v) for k, v in pstate.items()], "shard int, _base bigint"
        )
        based_p = sharded.join(F.broadcast(pdf), "shard", "left")
    else:
        based_p = sharded.withColumn("_base", F.lit(None).cast("bigint"))
    # pack_sequences' concat-and-chunk formula with a cross-batch token
    # base: cb = base + exclusive running sum in (sort_key, doc_id) order
    wp = (
        Window.partitionBy("shard")
        .orderBy("sort_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = (
        F.coalesce(F.col("_base"), F.lit(0))
        + F.coalesce(F.sum("n_tokens").over(wp), F.lit(0))
    ).cast("bigint")
    # persisted: the manifest write AND the pack-state aggregate both
    # consume it — unpersisted, the shard/pack window chain above scored
    # would execute twice per micro-batch
    packed = scoped_persist(
        based_p.withColumn("_cb", cb).select(
            "doc_id",
            "lang",
            "n_tokens",
            "cum_tokens",
            "shard",
            "sort_key",
            F.expr(f"_cb div {cfg.pack_budget}").cast("bigint").alias("pack_id"),
            F.pmod(F.col("_cb"), F.lit(cfg.pack_budget)).cast("bigint").alias(
                "pack_offset"
            ),
        )
    )

    # -- actions ------------------------------------------------------------
    # Every write is an idempotent per-batch OVERWRITE into b{batch_id}/
    # (module doc: a redo replaces a crashed attempt's partial output;
    # readers see committed subdirs only), so write ORDER no longer
    # matters for safety — only the atomic commit() at the end publishes
    # anything. Each write is coalesced to a few files: a per-batch write
    # otherwise emits one part file per shuffle partition (200 x 3 state
    # dirs x batches = the classic small-files explosion; the probe
    # measured the file-listing tax growing per batch). 4 files bounds
    # listing cost at ~4 x batches; store.compact() between batches
    # folds committed batches into a flat baseline (compaction == no-op,
    # pinned in tests), returning the listing tax to O(1).
    #
    # The batch is LATENCY-bound, not byte-bound (r16 stage profile: many
    # small serial stages, run >> cpu), so the independent actions overlap
    # on driver threads (optimization-guide §2.6 — Spark schedules
    # concurrent jobs FIFO and back-fills the tail): first ONE bounded
    # action materializes the shared `keepers` cache (every branch hangs
    # off it — without this barrier the concurrent first-touch would
    # compute the gate+dedup chain once PER THREAD), then the manifest
    # chain, the dedup-state writes and the passage-fingerprint write run
    # concurrently, then the two bounded state aggregates (which read the
    # scored/packed caches the manifest chain populated). The atomic
    # commit stays LAST — overlap never reorders anything past it.
    from concurrent.futures import ThreadPoolExecutor

    keepers.count()  # materialize the shared upstream cache exactly once

    def _w_manifest() -> None:
        packed.coalesce(4).write.mode("overwrite").parquet(
            store.batch_subdir(store.manifest_dir, batch_id)
        )

    def _w_dedup_state() -> None:
        # feats + bands share the shingle-set persist inside
        # dedup_corpus_features — serial in ONE thread so the cache is
        # built once, not raced
        new_feats, new_bands = dedup_corpus_features(
            keepers.select("doc_id", "text"), "doc_id", "text", cfg.shingle_n
        )
        new_feats.coalesce(4).write.mode("overwrite").parquet(
            store.batch_subdir(store.feats_dir, batch_id)
        )
        new_bands.coalesce(4).write.mode("overwrite").parquet(
            store.batch_subdir(store.bands_dir, batch_id)
        )

    def _w_pfps() -> None:
        passage_fingerprint_keys(
            keepers.select("doc_id", "text"), "doc_id", "text", cfg.passage_tokens
        ).coalesce(4).write.mode("overwrite").parquet(
            store.batch_subdir(store.pfps_dir, batch_id)
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(_w_manifest),
            pool.submit(_w_dedup_state),
            pool.submit(_w_pfps),
        ]
        for f in futs:
            f.result()

    # budget/pack state updates (bounded aggregates -> driver dicts,
    # published only by the commit below); both read caches the manifest
    # write just materialized
    def _upd():
        return (
            scored.groupBy("lang")
            .agg(
                F.max(
                    F.when(
                        F.col("cum_tokens") <= F.col("_budget"), F.col("cum_tokens")
                    )
                ).alias("_mx"),
                F.max((F.col("cum_tokens") > F.col("_budget")).cast("int")).alias(
                    "_rej"
                ),
                F.first("_closed").alias("_was_closed"),
            )
            .collect()
        )

    def _pupd():
        return packed.groupBy("shard").agg(F.sum("n_tokens").alias("_t")).collect()

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_upd, f_pupd = pool.submit(_upd), pool.submit(_pupd)
        upd, pupd = f_upd.result(), f_pupd.result()
    for r in upd:
        if r["_was_closed"]:
            continue  # closed langs admit nothing; state already final
        used0 = bstate.get(r["lang"], (0, False))[0]
        bstate[r["lang"]] = (
            int(r["_mx"]) if r["_mx"] is not None else used0,
            bool(r["_rej"]),
        )
    for r in pupd:
        pstate[int(r["shard"])] = pstate.get(int(r["shard"]), 0) + int(r["_t"])
    # the ONE atomic publish: mark + budget + pack state together.
    store.commit(batch_id, bstate, pstate)


def run_streaming_training_recipe(
    spark: SparkSession,
    stream: DataFrame,
    store_dir: str,
    cfg: RecipeConfig,
    timeout_s: int = 600,
    crash_after_batch: int | None = None,
) -> tuple[DataFrame, str | None]:
    """Drain ``stream`` (doc_id, lang, text) through the recipe sink with a
    fresh store, and return (manifest DataFrame, executed micro-batch plan).

    The store is RESET, its checkpoint (``<store_dir>/checkpoint``) with
    it — this runner is the graded/oracle entry point (one deterministic
    replay); a production deployment would keep the store and checkpoint
    across runs instead (they must live and die together — exactly-once
    hinges on checkpoint-scoped batch ids, see module doc).

    ``crash_after_batch=N`` exercises the RECOVERY path under the same
    oracle: the sink raises AFTER batch N's store commit but BEFORE the
    checkpoint records it, the first query dies, and the runner restarts
    the stream on the SAME checkpoint + store — Structured Streaming
    re-delivers batch N (at-least-once), the store's high-water mark skips
    it, and the drain completes. The returned manifest must therefore be
    identical to the crash-free drain's — which is exactly what the graded
    head's batch-replay oracle asserts."""
    from pyspark.errors import StreamingQueryException

    store = RecipeStore(spark, store_dir)
    store.reset()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_recipe_batch(batch_df, store, cfg, batch_id)
        if crash_after_batch is not None and batch_id == crash_after_batch:
            raise RuntimeError(
                f"injected post-commit crash at batch {batch_id}"
            )

    def _clean_sink(batch_df: DataFrame, batch_id: int) -> None:
        process_recipe_batch(batch_df, store, cfg, batch_id)

    def _drain(sink) -> str | None:
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", store.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming recipe drain still running after {timeout_s}s; "
                "refusing to grade a partial manifest"
            )
        try:
            return q._jsq.explainInternal(False)
        except Exception:
            return None

    if crash_after_batch is None:
        plan = _drain(_sink)
    else:
        try:
            _drain(_sink)
            raise AssertionError(
                "injected crash did not fire — the restart path was "
                "not exercised"
            )
        except StreamingQueryException:
            pass  # the injected at-least-once window: batch N committed
            # to the store, not to the checkpoint
        if store.last_committed() < crash_after_batch:
            raise AssertionError(
                "crash fired before the store commit it must follow"
            )
        plan = _drain(_clean_sink)  # restart: engine redelivers batch N
    return store.read_manifest(), plan
