package graft
import graft.core.{Json, Sessions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * FAIL-LOUD CONTRACT: a query that throws is recorded in
  * `outDir/errors.json` (name → message) and the process exits nonzero —
  * a failing query must never silently shrink the N/N correctness headline
  * (round-2 postmortem: q_bucketed_join vanished for a round because the
  * error was stderr-only). */
object Verify {

  /** Run every query, write each result to `outDir/<name>` parquet; returns
    * name → error message for the queries that threw (empty = all green). */
  def runQueries(spark: SparkSession, sfDir: String, outDir: String,
                 queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] FAILED $name — $msg")
        Some(name -> msg)
      }
    }
  }

  /** Always written (empty object when green) so its absence vs emptiness
    * is never ambiguous to the driver or a human reading the round. */
  def writeErrors(outDir: String, errs: Map[String, String]): Unit = {
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.obj(errs))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(s"local[$cpus]", cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // the KG/tree oracles recompute the queries in DuckDB from the corpus
    // tables materialized here (raw spans/dims + engine-normalized rows)
    var errs = Map.empty[String, String]
    try graft.oracle.OracleInputs.materialize(spark, SparkEntry.kgCfg)
    catch { case e: Throwable =>
      System.err.println(s"[verify] oracle-input materialize failed: ${e.getMessage}")
      errs += ("_oracle_inputs" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // SPARK_GRAFT_ONLY=q_a,q_b — builder-side iteration filter; the driver
    // never sets it, so the gate always runs the full map
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.view.filterKeys(f).toMap)
    errs ++= runQueries(spark, sfDir, outDir, queries)
    writeErrors(outDir, errs)
    val json = Json.obj(only.fold(SparkEntry.oracleSql)(f =>
      SparkEntry.oracleSql.view.filterKeys(f).toMap))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (errs.nonEmpty) {
      System.err.println(s"[verify] ${errs.size} quer${if (errs.size == 1) "y" else "ies"} FAILED: ${errs.keys.toSeq.sorted.mkString(", ")} (see $outDir/errors.json)")
      sys.exit(1)
    }
  }
}
