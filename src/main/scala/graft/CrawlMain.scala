package graft

import graft.core.{Rules, Sessions}
import graft.gen.{Corpus, CorpusData}
import graft.stages.{Canon, KbExpand, Mentions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-pipeline crawl replay — the reference runs Government / Company /
  * Religion as three separate mains (GovernmentGraph.kt:17,
  * CompanyGraph.kt:23, ReligionGraph.kt:40); here they are one
  * parameterized spark-submit entry over the SAME dataflow stages:
  *
  *   runMain graft.CrawlMain <government|company|religion> [nDocs]
  *
  * mention detection → KbExpand recursing ONLY on that pipeline's relation
  * rules → canonicalization under that pipeline's target-label rule
  * (Rules.PipelineRules.labelCol). The engine default (PipelineMain /
  * SparkEntry) remains the union rule set, which the golden P/R gate runs
  * on; this entry is the per-pipeline parity surface.
  */
object CrawlMain {

  /** (kb triples, node labels, canonical map) for one pipeline's rules. */
  def run(spark: SparkSession, rules: Rules.PipelineRules, cfg: Corpus.Config)
      : (DataFrame, DataFrame, DataFrame) = {
    val dict = CorpusData.ment2entDF(spark, cfg)
    val mentions = Mentions.detect(spark,
      KgPipeline.textSpans(CorpusData.docsDF(spark, cfg)),
      dict.select("mention").distinct().collect().map(_.getString(0)).toSeq)
      .select("mention").distinct()
    // the BFS expansion is consumed by several downstream actions (labels,
    // alias edges, the caller's counts) — materialize it once
    val kb = KbExpand.expand(spark, mentions, dict,
      CorpusData.avpairDF(spark, cfg), rules.recursive).localCheckpoint()
    val labels = Canon.nodeLabels(kb, Rules.categoryPred, rules.labelCol)
      .localCheckpoint()
    val canon = Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds,
      labelRule = rules.labelCol, precomputedLabels = Some(labels))
    (kb, labels, canon)
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("government")
    val rules = Rules.pipelines.find(_.name == name).getOrElse(
      sys.error(s"unknown pipeline '$name' — one of ${Rules.pipelines.map(_.name).mkString("/")}"))
    val nDocs = if (args.length > 1) args(1).toInt else 1200
    val spark = Sessions.local(sys.env.getOrElse("SPARK_MASTER", "local[8]"),
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt, s"graft-crawl-$name")
    val (kb, labels, canon) = run(spark,
      rules, Corpus.Config(nDocs = nDocs, nEntities = 120, seed = 42L))
    val nKb = kb.count()
    val nLabeled = labels.count()
    val nMerged = canon.count()
    val labelHist = labels.select(explode(col("labels")).as("l"))
      .groupBy("l").count().orderBy(col("count").desc, col("l"))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(s"[crawl:$name] kb_triples=$nKb labeled_nodes=$nLabeled " +
      s"canon_merges=$nMerged labels{$labelHist}")
    spark.stop()
  }
}
