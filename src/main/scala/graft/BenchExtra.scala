package graft

import graft.core.Sessions

/** Round-7 optimization harness (NOT part of the driver contract — the
  * frozen driver bench is [[Bench]]; this main exists so per-query work can
  * be measured in isolation with repeats, and plans captured, without
  * touching the frozen harness).
  *
  * Modes:
  *   BenchExtra time q1 q2 …   — noop-sink wall per query (guide §1.4),
  *                               REPS env (default 3), min + all samples
  *   BenchExtra plan DIR SUFFIX q1 q2 …
  *                             — write explain("formatted") of each query
  *                               to DIR/<q>_<SUFFIX>.txt
  *
  * The session is [[Sessions.local]] at the headline's shuffle width
  * (SPARK_GRAFT_CPUS), so isolated numbers are comparable to driver-bench
  * headline numbers.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("REPS", "3").toInt
    val s = Sessions.local(s"local[$cpus]", cpus, "graft-bench-extra")
    try args.toList match {
      case "plan" :: dir :: suffix :: qs =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        qs.foreach { q =>
          val df = SparkEntry.queries(q)(s, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"${q}_$suffix.txt"), plan)
          println(s"[plan] wrote $dir/${q}_$suffix.txt")
        }
      case "time" :: qs =>
        qs.foreach { q =>
          s.sparkContext.setJobDescription(s"bench-extra: $q")
          val samples = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            SparkEntry.queries(q)(s, sfDir)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[t] $q%-26s min=${samples.min}%6.2fs  " +
            samples.map(x => f"$x%.2f").mkString("[", ", ", "]"))
        }
      case other =>
        System.err.println(s"usage: BenchExtra time|plan …, got: $other")
    } finally s.stop()
  }
}
