package graft

import graft.core.{DriverBound, Rules, TableIO}
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** End-to-end KG-construction dataflow (the north star):
  *
  *   docs ─► normalize (narrow) ─► weibo triples
  *        ─► text spans ─► trie mention detect ─► distinct mentions
  *        ─► KB BFS expand (broadcast dims, anti-join visited)
  *        ─► canonicalize (alias CC, salted) ─► two-phase triple dedup
  *        ─► vertices / edges materialize
  *
  * Every run takes the same stages, with or without checkpointing: the dim
  * side is `kb_triples` → `canon_map`, whose size class (driver fast path
  * or dataflow) is chosen inside [[KbExpand.expand]] and
  * [[Canon.canonicalMap]]. Each stage optionally checkpoints through
  * [[TableIO]] (Iceberg-style snapshot + lineage manifest); a killed run
  * resumes from the last committed snapshot, skipping finished stages
  * entirely.
  */
object KgPipeline {

  case class Outputs(triples: DataFrame, vertices: DataFrame, edges: DataFrame)

  /** text spans of every doc: (doc_id, span_offset, text) — one explode. */
  def textSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "text" && col("s.text").isNotNull)
      .select(col("doc_id"), col("s.offset").as("span_offset"), col("s.text").as("text"))

  /** Canonicalized distinct triple set with provenance.
    * @param dimFastPaths when true, the dimension-bounded passes (KB BFS
    *   closure, alias CC) use their driver fast paths below the collectable
    *   threshold (see KbExpand/Canon docs). The golden P/R suite runs with
    *   false — pure dataflow — so the gate never tests driver code against
    *   driver code; KgParitySpec asserts both modes emit identical triples. */
  def run(spark: SparkSession, docs: DataFrame, ment2ent: DataFrame,
          avpair: DataFrame, io: Option[TableIO] = None,
          shufflePartitions: Int = 32,
          dimFastPaths: Boolean = false,
          dimBound: Long = 2000000L): Outputs = {
    val dimThreshold = if (dimFastPaths) dimBound else 0L

    // Reap obsolete shuffle/broadcast state before the wide job. In a
    // long-lived driver (notebook, streaming service, a bench loop) the
    // references to earlier jobs' shuffles die, but with a large,
    // pressure-free driver heap the JVM may not GC for tens of minutes —
    // and Spark's ContextCleaner only reaps executor-side shuffle files
    // and broadcast blocks when those driver references are COLLECTED
    // (spark.cleaner.periodicGC.interval, default 30 min, exists for
    // exactly this). A pipeline entry is the natural reap boundary:
    // measured on the 4-executor scaling rig, back-to-back runs in one
    // session degrade 22 s → 29 s → 37 s without this and hold 21-24 s
    // with it (the accumulated state starves the fixed-size executors);
    // the GC itself costs well under a second against a multi-second job.
    // Unconditional: back-to-back benchmark runs in one driver rely on it.
    System.gc()

    // Stage boundaries: snapshot commit when checkpointing. Without io the
    // big stages stay LAZY — with single-pass triple emission each wide
    // input is scanned at most twice, and in-memory caching of fat rows
    // serializes local-mode tasks on the MemoryStore lock (measured: 3/32
    // threads busy during cache build). Only the small dim-side stages
    // (kb, canon_map) are checkpointed via `small()` — unless a fast path
    // already built them driver-side: a LocalRelation is its own
    // materialization, checkpointing it would cost a job, and the bounded
    // collect downstream reads it without one.
    def stage(name: String, upstream: Seq[String],
              counters: => Map[String, Long] = Map.empty)
             (f: => DataFrame): DataFrame =
      io match {
        case Some(t) => t.runOrResume(name, upstream, counters)(f)
        case None => f
      }
    def small(df: DataFrame): DataFrame =
      if (io.isDefined || df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df
      else df.localCheckpoint()

    // quarantine metrics — the dataflow image of the reference's println
    // dead-letter paths (FromScrappyDump.kt:166, 179–182, 228–232, 296–299):
    // counted per stage into the lineage manifest instead of logged
    def weiboCounters: Map[String, Long] = {
      val b = Normalize.blogs(docs).agg(
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid"),
        sum(when(col("valid") && !col("time_ok"), 1L).otherwise(0L)).as("bad_time")
      ).collect()(0)
      val c = Normalize.comments(docs).agg(
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid")).collect()(0)
      Map(
        "blogs_skipped" -> Option(b.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
        "blogs_bad_time" -> Option(b.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
        "comments_skipped" -> Option(c.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }

    val weibo = stage("weibo_triples", Seq.empty, weiboCounters) {
      WeiboTriples.emit(Normalize.blogs(docs), Normalize.comments(docs))
    }

    // Dim phase: the KB closure and the canonical map are dimension-bounded
    // (they grow with the dictionary, not the corpus). Below the driver bound
    // and with dimFastPaths, KbExpand.expand and Canon.canonicalMap compute
    // them driver-side and return LocalRelations; past it they run as
    // dataflow. ONE bounded collect of ment2ent feeds both the broadcast-trie
    // dictionary and (via m2eCollected) the closure's fast path. It is
    // bounded by dimBound even in pure-dataflow mode — the trie build is
    // driver-resident regardless of the fast paths; an over-bound dictionary
    // routes through the DISTRIBUTED substring detect and the dataflow BFS,
    // where it is never collected or force-broadcast.
    val kb = small(stage("kb_triples", Seq.empty) {
      import spark.implicits._
      DriverBound.collect(
        ment2ent.select(col("mention"), col("entities")).as[(String, Seq[String])],
        dimBound) match {
        case Some(rows) =>
          val dict = rows.iterator.map(_._1).toSeq.distinct
          val mentions = Mentions.detect(spark, textSpans(docs), dict)
            .select(col("mention")).distinct()
          KbExpand.expand(spark, mentions, ment2ent, avpair, Rules.recursivePreds,
            driverThreshold = dimThreshold,
            m2eCollected = if (dimThreshold > 0) Some(rows.toMap) else None)
        case None =>
          val mentions = Mentions
            .detectBySubstring(spark, textSpans(docs), ment2ent.select("mention"))
            .select(col("mention")).distinct()
          KbExpand.expand(spark, mentions, ment2ent, avpair, Rules.recursivePreds,
            driverThreshold = dimThreshold, m2eTooLarge = true)
      }
    })

    val kbT = kb.select(col("subj"), col("pred"), col("obj"),
      lit(null).cast("string").as("doc_id"), lit(-1).as("span_offset"))

    // the CC pass runs once and is snapshot-committed: resume never re-iterates
    val canonMap = small(stage("canon_map", Seq("kb_triples")) {
      Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds,
        ccDriverThreshold = dimThreshold)
    })

    val triples = stage("triples", Seq("weibo_triples", "kb_triples", "canon_map")) {
      val all = Canon.canonicalize(weibo.unionByName(kbT), canonMap)
      // Two-phase dedup (SURVEY.md §4.2.5): partial hash-agg per partition,
      // then ONE shuffle hashed on the FULL (subj, pred, obj) key — never on
      // subj alone: the planted hot root makes subj heavily skewed (one
      // celebrity subject owns ~30% of repost triples) and a subj-keyed
      // exchange creates a straggler partition. The composite key is
      // high-cardinality and skew-free; AQE coalesces the final width.
      all
        .groupBy("subj", "pred", "obj")
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("span_offset")).as("span_offset"))
    }

    val labels = Canon.nodeLabels(
      Canon.canonicalize(kbT, canonMap), Rules.categoryPred)

    val vertices = stage("vertices", Seq("triples")) {
      GraphOut.vertices(triples, labels, shufflePartitions)
    }
    val edges = stage("edges", Seq("triples")) {
      GraphOut.edges(triples, shufflePartitions)
    }
    Outputs(triples, vertices, edges)
  }
}
