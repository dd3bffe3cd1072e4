package graft

import graft.core.Sessions
import graft.gen.{Corpus, CorpusData}
import graft.stages.{Normalize, TreeGraph}
import org.apache.spark.sql.functions._

/** spark-submit entry point mirroring the reference's BlogTreeInNeo4j main
  * (BlogTreeInNeo4j.kt:133–202): materialize the repost SUBTREE of a chosen
  * root set as a labeled graph with tag and time vertices.
  *
  *   TreeGraphMain <outDir> [rootMid[,rootMid…]] [nDocs] [master]
  *
  * Default root is the corpus's planted hot root — the analog of the
  * reference's hand-picked `roots = listOf("I9ttY0rZ1")`.
  */
object TreeGraphMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-tree-graph")
    val roots =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq(Corpus.codedMid(0, 0))
    val nDocs = if (args.length > 2) args(2).toInt else 10000
    val master = if (args.length > 3) args(3) else
      sys.env.getOrElse("SPARK_MASTER", "local[8]")

    val spark = Sessions.local(master,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt, "graft-tree-graph")

    val docs = CorpusData.docsDF(spark, Corpus.Config(nDocs = nDocs))
    val edges = TreeGraph.edges(
      Normalize.blogs(docs).filter(col("valid")),
      Normalize.comments(docs).filter(col("valid")), roots)
    edges.write.mode("overwrite").parquet(s"$outDir/tree_edges")
    val byRel = edges.groupBy("rel").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[treegraph] roots=${roots.mkString(",")} $byRel")
    spark.stop()
  }
}
