package graft.stages

import graft.core.DriverBound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 3 — entity linking + BFS triple expansion over the KB.
  *
  * Dataflow image of the reference crawl (cndbpedia/AbstractSubjectGraph.kt:
  * 17–46): startWithMention resolves mention→entities (ment2ent), skips the
  * visited set, emits every AV-pair of each new entity as a (subj, pred, obj)
  * triple, and recurses on rule-selected relations. Here each BFS round is a
  * fully parallel DataFrame pass:
  *
  *   frontier mentions ──broadcast join ment2ent──► entities
  *     ──left_anti visited──► new entities ──join avpair──► triples
  *     ──filter(recursive pred)──► next frontier mentions
  *
  * The expansion works on DISTINCT mentions — at 100 TB the per-doc mention
  * stream is first reduced to its (much smaller) distinct set, so KB work is
  * O(|dictionary hits|), not O(|docs|). The visited set is a DataFrame
  * (left_anti), never driver memory; lineage is truncated with
  * localCheckpoint each round (SURVEY.md §4.2.1).
  */
object KbExpand {

  /** The driver BFS walk of the dimension-bounded KB closure — exactly the
    * reference's HashMap recursion (AbstractSubjectGraph.kt:17–46), the
    * core of [[expand]]'s fast path.
    * @return visited entities, sorted (deterministic). */
  private def expandLocal(
      seedMentions: Iterable[String],
      m2e: Map[String, Seq[String]],
      av: Map[String, Array[(String, String, String)]],
      recursivePreds: Set[String]): Seq[String] = {
    val visited = scala.collection.mutable.HashSet[String]()
    val queue = scala.collection.mutable.Queue[String]()
    seedMentions.foreach(queue.enqueue)
    while (queue.nonEmpty) {
      val m = queue.dequeue()
      m2e.getOrElse(m, Nil).foreach { e =>
        if (!visited.contains(e)) {
          visited += e
          av.getOrElse(e, Array.empty).foreach { case (_, p, o) =>
            if (recursivePreds.contains(p)) queue.enqueue(o)
          }
        }
      }
    }
    visited.toSeq.sorted
  }

  /** Distinct (subj, pred, obj) triples of the visited entities — the local
    * image of `visited ⋈ avpair` (avpair complete by the threshold check). */
  private def triplesLocal(
      visited: Seq[String],
      av: Map[String, Array[(String, String, String)]]): Seq[(String, String, String)] =
    visited.iterator.flatMap(e => av.getOrElse(e, Array.empty)).toVector.distinct

  /** @param mentions  single-column DF `mention` (distinct seed mentions)
    * @param ment2ent  (mention, entities: array<string>) dimension
    * @param avpair    (entity, pred, obj) dimension
    * @param recursivePreds relations whose obj re-enters the frontier
    * @param maxRounds safety bound (reference recursion is visited-bounded;
    *                  our KB alias chains converge in ≪ 20 rounds)
    * @return kb triples (subj, pred, obj) distinct
    */
  def expand(
      spark: SparkSession,
      mentions: DataFrame,
      ment2ent: DataFrame,
      avpair: DataFrame,
      recursivePreds: Set[String],
      maxRounds: Int = 20,
      driverThreshold: Long = 0L,
      m2eCollected: Option[Map[String, Seq[String]]] = None,
      m2eTooLarge: Boolean = false): DataFrame = {

    // The BFS closure is DIMENSION-bounded: it expands over the KB tables,
    // never over per-doc rows (the doc side is already reduced to distinct
    // mentions). When the KB fits the driver — the same condition under
    // which it is broadcast — computing the closure in-memory costs 2 jobs
    // instead of O(rounds); this is exactly the reference's HashMap walk
    // (AbstractSubjectGraph.kt:17–46). The dataflow loop below remains the
    // path for KBs beyond driver memory. Each dim is probed with one
    // bounded collect (DriverBound); callers that already hold the
    // ment2ent dimension pass it via `m2eCollected` to skip that job, or
    // `m2eTooLarge` when their own probe of it overflowed.
    import spark.implicits._
    val avRows =
      if (m2eTooLarge) None
      else DriverBound.collect(
        avpair.select(col("entity"), col("pred"), col("obj")).as[(String, String, String)],
        driverThreshold)
    // BOTH dims must fit the driver for the fast path; m2e is probed only
    // once avpair fits (an unguarded collect of a 100× dictionary would OOM
    // the driver instead of degrading)
    val m2eProbe = avRows.map(_ => m2eCollected.orElse(DriverBound.collect(
      ment2ent.select(col("mention"), col("entities")).as[(String, Seq[String])],
      driverThreshold).map(_.toMap)))
    (avRows, m2eProbe.flatten) match {
      case (Some(rows), Some(m2e)) =>
        // avRows holds the COMPLETE avpair table (the probe returned ≤ N)
        val av = rows.groupBy(_._1)
        val seeds = mentions.select("mention").as[String].collect()
        // the result is built fully driver-side as a LocalRelation — no
        // join/broadcast/checkpoint jobs; each spared dim-phase job is serial
        // driver latency that lands 1:1 on the small-cluster pipeline wall
        return triplesLocal(expandLocal(seeds, m2e, av, recursivePreds), av)
          .toDF("subj", "pred", "obj")
      case _ =>
    }
    val m2eOver = m2eTooLarge || m2eProbe.contains(None)

    // an over-bound dictionary must not be force-broadcast either — let the
    // planner pick the join (AQE broadcasts iff it actually fits)
    val m2eJoin: DataFrame => DataFrame =
      df => if (m2eOver) df else broadcast(df)

    val recPreds = recursivePreds.toSeq
    var frontier = mentions.select(col("mention")).distinct().localCheckpoint()
    var visited: DataFrame = null
    var triples: DataFrame = null
    var round = 0
    var done = false

    while (!done && round < maxRounds) {
      // ment2ent is a broadcast dictionary (north star) — no shuffle of the
      // frontier beyond its own distinct.
      val ents0 = frontier
        .join(m2eJoin(ment2ent), Seq("mention"))
        .select(explode(col("entities")).as("entity"))
        .distinct()
      val ents =
        (if (visited == null) ents0
         else ents0.join(visited, Seq("entity"), "left_anti"))
          .localCheckpoint()

      if (ents.isEmpty) done = true
      else {
        // ents is checkpointed → unions over checkpointed pieces re-read
        // cached blocks; keeping visited/frontier lazy makes the per-round
        // blocking-job count O(1) (just the ents checkpoint), which is what
        // keeps the BFS's parallelism-independent cost negligible.
        visited = if (visited == null) ents else visited.union(ents)
        // avpair is a dimension table; AQE broadcasts it when small, falls
        // back to shuffle hash join at real KB scale.
        val newTriples = ents.join(avpair, Seq("entity"))
          .select(col("entity").as("subj"), col("pred"), col("obj"))
        triples = if (triples == null) newTriples else triples.union(newTriples)
        frontier = newTriples
          .filter(col("pred").isin(recPreds: _*))
          .select(col("obj").as("mention"))
          .distinct()
        round += 1
      }
    }

    if (triples == null)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("subj", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("pred", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("obj", org.apache.spark.sql.types.StringType))))
    else triples.distinct()
  }
}
