package graft.core

import org.apache.spark.sql.SparkSession

/** The one session conf block every main builds its `SparkSession` from
  * (tests keep their own in `TestSpark`: plan-pinning specs depend on it).
  * These are the confs the scaling bench measured; a main chooses only the
  * master, the shuffle width and its app name. */
object Sessions {

  def local(master: String, shufflePartitions: Int, appName: String): SparkSession = {
    // executor JVMs of a local-cluster master load the engine from here
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE's 64m default advisory coalesces the triple-dedup exchange into
      // multi-million-key partitions whose agg hash maps fall back to
      // sort+spill (superlinear CPU — measured). 16m keeps per-task maps
      // cache-resident at every cluster size.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // don't let the scheduler idle-wait for locality on a 4-JVM local
      // cluster — delay scheduling is wall-clock noise at this scale
      .config("spark.locality.wait", "0s")
      // corpus is ~100 MB, not 100 TB: proportional split size so scan
      // parallelism is set by the cluster, as the 128 MB default is at scale
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
