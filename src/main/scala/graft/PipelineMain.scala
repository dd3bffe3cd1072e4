package graft

import graft.core.{Sessions, TableIO}
import graft.gen.{Corpus, CorpusData}

/** spark-submit entry point for the KG-construction pipeline.
  *
  *   PipelineMain <outDir> [nDocs] [master]
  *
  * Reads/synthesizes the interleaved-docs corpus, runs the full dataflow
  * (normalize → mentions → KB expand → canonicalize → dedup → graph
  * materialize) with Iceberg-style snapshot commits under <outDir>; a killed
  * run re-invoked with the same <outDir> resumes from the last committed
  * snapshot (TableIO manifests carry per-partition lineage + counters).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-kg-out")
    val nDocs = if (args.length > 1) args(1).toInt else 10000
    val master = if (args.length > 2) args(2) else
      sys.env.getOrElse("SPARK_MASTER", "local[8]")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt

    val spark = Sessions.local(master, shuffleParts, "graft-kg-pipeline")

    val cfg = Corpus.Config(nDocs = nDocs)
    val io = new TableIO(spark, outDir)
    val t0 = System.nanoTime()
    val out = KgPipeline.run(spark, CorpusData.docsDF(spark, cfg),
      CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg),
      io = Some(io), shufflePartitions = shuffleParts, dimFastPaths = true)
    val nTriples = out.triples.count()
    val nV = out.vertices.count()
    val nE = out.edges.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] docs=$nDocs triples=$nTriples vertices=$nV edges=$nE " +
      f"wall=$sec%.1fs triples_per_sec=${nTriples / sec}%.0f")
    println(s"[pipeline] triples manifest: ${io.manifest("triples")}")
    spark.stop()
  }
}
