package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot table layer: atomic-commit Parquet snapshots with
  * per-partition lineage manifests and resume (SURVEY.md §7.3).
  *
  * No Iceberg runtime jar ships in this sandbox (§7.0), so the Iceberg
  * semantics the north rule needs — snapshot isolation, atomic commit,
  * resume-from-last-committed, per-partition row counts / lineage — are
  * provided behind this small facade over partitioned Parquet plus a
  * `_manifest.json` committed by atomic rename. A real Iceberg catalog can
  * replace this class without touching any stage code (stages exchange plain
  * DataFrames).
  *
  * Layout:  <root>/<stage>/snapshot-<k>/   parquet files
  *          <root>/<stage>/snapshot-<k>/_manifest.json
  *
  * This is the Spark-native replacement for the reference's 500k-row REPLACE
  * flush (FromScrappyDump.kt:392–406) and max-id restart (:352–357).
  */
final class TableIO(spark: SparkSession, root: String) {

  private def stageDir(stage: String): Path = Paths.get(root, stage)

  private def snapDir(stage: String, k: Int): Path =
    stageDir(stage).resolve(s"snapshot-$k")

  /** Last snapshot id with a committed manifest, or -1. Runs on every
    * read/commit, so the directory stream must be closed — a leaked fd per
    * micro-batch would exhaust the open-file limit on long streams. */
  def lastCommitted(stage: String): Int = {
    val d = stageDir(stage)
    if (!Files.exists(d)) return -1
    val listing = Files.list(d)
    try
      listing.iterator.asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") &&
          Files.exists(d.resolve(s).resolve("_manifest.json")) =>
          s.stripPrefix("snapshot-").toInt }
        .foldLeft(-1)(math.max)
    finally listing.close()
  }

  def hasCommitted(stage: String): Boolean = lastCommitted(stage) >= 0

  /** Read the latest committed snapshot of a stage. */
  def read(stage: String): DataFrame =
    spark.read.parquet(snapDir(stage, lastCommitted(stage)).toString)

  /** Read ONE committed snapshot by epoch id (epoch-tagged consumers —
    * e.g. per-batch survivor audits — read each epoch labeled). */
  def readSnapshot(stage: String, k: Int): DataFrame =
    spark.read.parquet(snapDir(stage, k).toString)

  /** Union of ALL committed snapshots of a stage (epoch-append semantics —
    * the streaming layer appends one snapshot per micro-batch). */
  def readAll(stage: String): DataFrame = {
    val dirs = (0 to lastCommitted(stage)).map(k => snapDir(stage, k))
      .filter(d => Files.exists(d.resolve("_manifest.json")))
      .map(_.toString)
    spark.read.parquet(dirs: _*)
  }

  /** Union of the committed snapshots AFTER `fromExclusive` (bounded-recency
    * reads — the streaming layer's per-batch dedup joins the compacted key
    * snapshot plus only the epochs committed since the last compaction). */
  def readRange(stage: String, fromExclusive: Int): DataFrame = {
    val dirs = (fromExclusive + 1 to lastCommitted(stage)).map(k => snapDir(stage, k))
      .filter(d => Files.exists(d.resolve("_manifest.json")))
      .map(_.toString)
    spark.read.parquet(dirs: _*)
  }

  /** A counter value from the latest committed manifest of a stage — read
    * from its `counters` object only, never from the lineage fields. */
  def counterOf(stage: String, name: String): Option[Long] =
    if (!hasCommitted(stage)) None
    else Option(Json.mapper.readTree(manifest(stage)).path("counters").get(name))
      .map(_.asLong)

  /** Write a new snapshot: data first (to a temp dir), per-partition counts,
    * then the manifest via atomic rename — a crash at any point leaves the
    * previous snapshot as the committed one (idempotent resume). */
  def commit(stage: String, df: DataFrame,
             upstream: Seq[String] = Nil,
             counters: Map[String, Long] = Map.empty): DataFrame = {
    val k = lastCommitted(stage) + 1
    val dir = snapDir(stage, k)
    val tmp = stageDir(stage).resolve(s".tmp-snapshot-$k")
    df.write.mode("overwrite").parquet(tmp.toString)

    val out = spark.read.parquet(tmp.toString)
    // per-partition lineage: rows per spark partition of the committed data
    val perPart = out
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val rowCount = perPart.map(_._2).sum

    val m = Json.mapper.createObjectNode()
      .put("stage", stage).put("snapshot", k).put("row_count", rowCount)
    val ups = m.putArray("upstream")
    upstream.foreach(s => ups.addObject().put("stage", s).put("snapshot", lastCommitted(s)))
    val parts = m.putArray("per_partition")
    perPart.foreach { case (p, n) => parts.addObject().put("pid", p).put("rows", n) }
    val cs = m.putObject("counters")
    counters.foreach { case (name, v) => cs.put(name, v) }

    val mTmp = tmp.resolve("_manifest.json.tmp")
    Files.writeString(mTmp, Json.mapper.writeValueAsString(m))
    Files.move(mTmp, tmp.resolve("_manifest.json"), StandardCopyOption.ATOMIC_MOVE)
    // final atomic publish of the whole snapshot directory
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    spark.read.parquet(dir.toString)
  }

  /** Run `f` only if the stage has no committed snapshot yet (resume skip).
    * `counters` (quarantine/skip-reason metrics) are evaluated only on a
    * fresh run and land in the manifest. */
  def runOrResume(stage: String, upstream: Seq[String] = Nil,
                  counters: => Map[String, Long] = Map.empty)
                 (f: => DataFrame): DataFrame =
    if (hasCommitted(stage)) read(stage)
    else commit(stage, f, upstream, counters)

  def manifest(stage: String): String =
    Files.readString(snapDir(stage, lastCommitted(stage)).resolve("_manifest.json"))
}
