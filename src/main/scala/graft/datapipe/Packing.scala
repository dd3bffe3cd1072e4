package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sequence packing for LLM training: concatenate the corpus in one fixed
  * total order (the doc id) and chunk the resulting token stream into
  * fixed-length training sequences — "concat-and-chunk", the packing rule
  * used by most large pre-training runs.
  *
  * The core quantity is each document's GLOBAL token start offset — a
  * prefix sum over the whole corpus. The naive Spark spelling,
  * `sum(n_tokens).over(Window.orderBy(id))`, plans an
  * `Exchange SinglePartition`: 100 TB of corpus funneled through one
  * reducer. This module computes the same prefix sum in two distributed
  * phases instead:
  *
  *   1. range-partition the (id, n_tokens) projection on the order key and
  *      aggregate ONE row per partition (its token total); `collect` those
  *      P rows and turn them into per-partition base offsets (a P-element
  *      exclusive prefix sum on the driver — P ≈ thousands at 100 TB,
  *      trivially driver-sized);
  *   2. a per-partition window cumsum (`Window.partitionBy(pid)` — P-way
  *      parallel, never a single reducer) plus a broadcast join of the base
  *      offsets: `start = base(pid) + local_cumsum`.
  *
  * Prefix sums compose across any split of a total order, so the result is
  * independent of where the range partitioner draws its boundaries — only
  * the (order, token count, seqLen) triple matters. The narrow projection
  * is persisted between the two phases so both see the SAME partition ids:
  * an independently recomputed range exchange could legally re-sample
  * different boundaries, and phase 2's pids must match the ones phase 1
  * collected. (A lost cache block does NOT re-sample — the boundaries are
  * baked into the shuffle dependency; recompute refetches map outputs.)
  *
  * Cache lifecycle: each call releases everything it pinned before
  * returning — the narrow projection unpersists right after the phase-1
  * collect, and the range-partitioned projection unpersists once the
  * result is materialized (localCheckpoint in packIndex/shuffleOrder, the
  * snapshot commit in packIncremental) — so a micro-batch stream calling
  * these forever holds ZERO retained CacheManager entries per batch.
  */
object Packing {

  /** Per-document packing index over a fixed sequence length:
    * (doc id, n_tokens, start_offset, seq_first, seq_last, n_seqs) where
    * seq_first/seq_last are the ids of the first/last training sequence the
    * document lands in and n_seqs how many it straddles. Zero-token docs
    * are dropped (they occupy no stream positions).
    */
  def packIndex(docs: DataFrame, idCol: String, textCol: String,
                seqLen: Long, parts: Int = 0,
                baseOffset: Long = 0L): DataFrame = {
    val (idx, caches) =
      packIndexCached(docs, idCol, textCol, seqLen, parts, baseOffset)
    // Materialize the ~48-byte/doc index into executor-local blocks
    // (GC-reclaimed by the ContextCleaner, unlike CacheManager entries),
    // then release the phase caches. Without this, every call pins a
    // range-partitioned cache for the life of the session — the streaming
    // micro-batch leak ADVICE flagged. The checkpoint also truncates the
    // lineage, so downstream consumers never re-trigger the corpus scan.
    val out = idx.localCheckpoint()
    caches.foreach(_.unpersist(blocking = false))
    out
  }

  /** Internal two-phase prefix sum; returns the lazily-planned index plus
    * the cache(s) the plan still depends on, so callers that materialize
    * the result themselves (e.g. [[packIncremental]]'s snapshot commit)
    * can unpersist without paying [[packIndex]]'s localCheckpoint. */
  private def packIndexCached(
      docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long, parts: Int,
      baseOffset: Long): (DataFrame, Seq[DataFrame]) = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(baseOffset >= 0, s"baseOffset must be >= 0, got $baseOffset")
    val spark = docs.sparkSession
    val p =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // narrow FIRST, and persist BEFORE the range partition:
    // repartitionByRange SAMPLES its child to pick boundaries, so an
    // unpersisted child — the full corpus scan + tokenization — would be
    // computed twice (once for the sample pass, once for the real
    // exchange). Persisting the ~16-byte (id, n_tokens) projection turns
    // the sampling pass into a cached-block read. Measured (2M docs /
    // 121M tokens, local[32]): end-to-end 18.4 s → 4.2 s (29M tokens/s).
    val narrow = docs
      .select(col(idCol),
        TextStats.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val toks = narrow
      .repartitionByRange(p, col(idCol))
      .withColumn("pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // phase 1: one row per partition → driver-side exclusive prefix sum.
    // This collect fully materializes `toks`; `narrow`'s cache has served
    // its one purpose (the range sampler's extra pass) and can go now — a
    // lost `toks` block recomputes through the shuffle files, not through
    // `narrow`.
    val ptotals = toks.groupBy("pid").agg(sum("n_tokens").as("ptoks"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    narrow.unpersist(blocking = false)
    val exclusive = ptotals.map(_._2).scanLeft(0L)(_ + _)
    val baseDf = spark.createDataFrame(
      ptotals.map(_._1).zip(exclusive).toSeq).toDF("pid", "base")

    // phase 2: per-partition cumsum (P-way parallel) + broadcast bases
    val w = Window.partitionBy("pid").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val idx = toks
      .join(broadcast(baseDf), "pid")
      .withColumn("start_offset",
        coalesce(sum("n_tokens").over(w), lit(0L)) + col("base") +
          lit(baseOffset))
      .withColumn("seq_first", expr(s"start_offset div $seqLen"))
      .withColumn("seq_last",
        expr(s"(start_offset + n_tokens - 1) div $seqLen"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .select(idCol, "n_tokens", "start_offset", "seq_first", "seq_last",
        "n_seqs")
    (idx, Seq(toks))
  }

  /** Incremental packing — the daily-crawl shape. Each batch packs only
    * documents beyond the committed id high-water mark, CONTINUING the
    * global token stream from the committed token high-water mark, and
    * appends one snapshot per run through [[graft.core.TableIO]] (epoch
    * append + counters, the same discipline as the JDBC incremental
    * ingest). Invariant (PackingSpec): as long as batch ids are
    * monotonically increasing across runs, the union of all committed
    * snapshots is byte-identical to packing everything in one shot — a
    * restarted or daily-repeated job never repacks, and never shifts, what
    * an earlier run committed. Returns the full accumulated index.
    */
  def packIncremental(io: graft.core.TableIO, stage: String, docs: DataFrame,
                      idCol: String, textCol: String, seqLen: Long,
                      parts: Int = 0): DataFrame = {
    val tokHwm = io.counterOf(stage, "token_high_water_mark").getOrElse(0L)
    val fresh = io.counterOf(stage, "id_high_water_mark") match {
      case Some(h) => docs.where(col(idCol) > h)
      case None    => docs
    }
    // packIndexCached, not packIndex: the snapshot commit below is the
    // materialization, so the localCheckpoint would be a wasted copy. The
    // finally-unpersist is what keeps a long-running stream's storage
    // memory flat — one micro-batch, zero retained cache entries.
    val (idx, caches) = packIndexCached(fresh, idCol, textCol, seqLen,
      parts, baseOffset = tokHwm)
    try {
      val agg = idx.agg(max(col(idCol)).cast("long"), sum("n_tokens"))
        .collect()(0)
      if (!agg.isNullAt(0))
        io.commit(stage, idx, counters = Map(
          "id_high_water_mark" -> agg.getLong(0),
          "token_high_water_mark" -> (tokHwm + agg.getLong(1))))
    } finally caches.foreach(_.unpersist(blocking = false))
    io.readAll(stage)
  }

  /** Materialize the packing as training shards: one directory per
    * `seqsPerShard` consecutive sequences (`shard_id=<k>/` partitioned
    * parquet — the layout a 1000-executor shard-writing job produces, and
    * the unit a training loader reads). A document straddling a shard
    * boundary is written to EVERY shard its span intersects, so each shard
    * reconstructs its token range without reaching into a neighbor.
    * Returns the per-shard audit: docs written, distinct sequences, and
    * token slots owned by the shard.
    */
  def writeShards(index: DataFrame, outDir: String, seqLen: Long,
                  seqsPerShard: Long): DataFrame = {
    require(seqsPerShard > 0, s"seqsPerShard must be positive")
    val spark = index.sparkSession
    val shardTok = seqLen * seqsPerShard
    // shard count derived from the data (one tiny agg over the narrow
    // index), NOT left to AQE: a keyless repartition(col) lets AQE coalesce
    // the small exchange into ONE reducer, and that lone task then writes
    // every shard directory SEQUENTIALLY (measured 3.3 s → 0.2 s at 265
    // shards, local[32]).
    val nShards = index
      .agg(max(expr(s"seq_last div $seqsPerShard")).cast("long")).collect()(0) match {
        case r if r.isNullAt(0) => 1
        case r => math.min(r.getLong(0) + 1, Int.MaxValue.toLong).toInt.max(1)
      }
    // Writer width: NOT one reducer per shard — each write TASK is its own
    // scheduling + committer-setup + commit-coordination unit, and at
    // shards ≫ cores those fixed costs dominate the wall (measured at 265
    // shards, local[32]: 1 task/shard 3.1–4.6 s vs 32 tasks × ~8 whole
    // shards each 0.6–0.7 s; committer algorithm v2 does not help — the
    // cost is per task, not the job-commit merge). Hash-clustering several
    // WHOLE shards per task keeps the one-file-per-shard layout (a shard's
    // rows all land in one task; a task writes its shards sequentially)
    // and amortizes the per-task overhead. Width is scale-adaptive, never
    // a local constant: at least the cluster's parallelism (all executors
    // write concurrently), and grows with the data so no task owns more
    // than ~32 shard directories (bounded unit of work/retry at 10^6-shard
    // scale).
    val width = math.min(nShards.toLong,
      math.max(spark.sparkContext.defaultParallelism.toLong,
        (nShards.toLong + 31) / 32)).toInt.max(1)
    index
      .withColumn("shard_id",
        explode(sequence(expr(s"seq_first div $seqsPerShard"),
          expr(s"seq_last div $seqsPerShard"))))
      // cluster rows by shard BEFORE partitionBy: otherwise every write
      // task leaves a sliver file in every shard directory (tasks × shards
      // small files — the layout that kills a 100 TB shard job and the
      // loader that reads it)
      .repartition(width, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)
    val end = col("start_offset") + col("n_tokens") - 1
    spark.read.parquet(outDir)
      .withColumn("owned",
        least(end, (col("shard_id") + 1) * shardTok - 1) -
          greatest(col("start_offset"), col("shard_id") * shardTok) + 1)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("owned").as("n_tokens"),
        (max(expr(s"least(seq_last, (shard_id + 1) * $seqsPerShard - 1)")) -
          min(expr(s"greatest(seq_first, shard_id * $seqsPerShard)")) + 1)
          .as("n_seqs"))
  }

  /** Deterministic training-order shuffle: a seeded pseudorandom GLOBAL
    * permutation rank for every row — the order training examples are
    * served in. Every epoch's shuffle must be reproducible (restarts,
    * data-parallel workers agreeing on the order), so the key is a hash
    * of (seed, id), not randomness; changing the seed re-shuffles.
    *
    * The naive spelling `row_number().over(Window.orderBy(hash))` is an
    * `Exchange SinglePartition` — the whole corpus ranked on one reducer.
    * This is the SAME two-phase distributed rank as [[packIndex]]'s prefix
    * sum, with row counts instead of token sums: range-partition on the
    * hash key, collect P per-partition counts, per-partition row_number
    * (P-way parallel) + broadcast exclusive-count bases. The hash key is
    * an md5 prefix (engine-reproducible, oracle-checkable), ties broken by
    * id so the permutation is total. */
  def shuffleOrder(df: DataFrame, idCol: String, seed: Long = 42L,
                   parts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // persist the narrow (id, key) projection BEFORE the range exchange —
    // repartitionByRange samples its child (the packIndex lesson)
    val keyed = df
      .select(col(idCol),
        conv(substring(md5(concat_ws("#", lit(seed), col(idCol))), 1, 15),
          16, 10).cast("long").as("sk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val parted = keyed
      .repartitionByRange(p, col("sk"), col(idCol))
      .withColumn("pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the collect materializes `parted`; release `keyed` immediately
    // (recompute of a lost `parted` block refetches shuffle files)
    val pcounts = parted.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    keyed.unpersist(blocking = false)
    val exclusive = pcounts.map(_._2).scanLeft(0L)(_ + _)
    val baseDf = spark.createDataFrame(
      pcounts.map(_._1).zip(exclusive).toSeq).toDF("pid", "base")
    val w = Window.partitionBy("pid").orderBy(col("sk"), col(idCol))
    // localCheckpoint the 16-byte/row permutation so `parted`'s cache can
    // be dropped too — repeated calls (an epoch-per-seed training loop)
    // must not each pin a corpus-width cache for the session's lifetime
    val out = parted
      .join(broadcast(baseDf), "pid")
      .select(col(idCol),
        (row_number().over(w).cast("long") - 1 + col("base"))
          .as("shuffle_pos"))
      .localCheckpoint()
    parted.unpersist(blocking = false)
    out
  }

  /** Per-sequence fill report: how many documents touch each training
    * sequence and how many of its token slots they fill (== seqLen for
    * every sequence except the final partial one). The doc→sequence
    * fan-out is bounded: ceil(n_tokens / seqLen) + 1 rows per doc.
    */
  def packStats(index: DataFrame, seqLen: Long): DataFrame = {
    val end = col("start_offset") + col("n_tokens") - 1
    index
      .withColumn("seq_id",
        explode(sequence(col("seq_first"), col("seq_last"))))
      .withColumn("fill",
        least(end, (col("seq_id") + 1) * seqLen - 1) -
          greatest(col("start_offset"), col("seq_id") * seqLen) + 1)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("fill").as("n_tokens"))
  }
}
