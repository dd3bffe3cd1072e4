package graft.streaming

import graft.core.Schemas.Doc
import graft.core.Sessions
import graft.gen.{Corpus, CorpusData}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Example/driveable entry for the streaming seam: feeds the synthetic
  * corpus through a memory stream in two overlapping micro-batches and
  * prints the landed epoch-snapshot state.
  *
  *   runMain graft.streaming.StreamingDemo <tableDir> [nDocs]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val tableDir = args.headOption.getOrElse("/tmp/graft-stream-demo")
    val nDocs = if (args.length > 1) args(1).toInt else 300
    val spark = Sessions.local("local[4]", 4, "graft-stream-demo")
    import spark.implicits._

    val cfg = Corpus.Config(nDocs = nDocs)
    val docs = Corpus.docs(cfg).toVector
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = StreamingKg.start(spark, stream.toDF(),
      CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg),
      tableDir, tableDir + "-ckpt")
    stream.addData(docs.take(nDocs / 2))
    q.processAllAvailable()
    println(s"[stream-demo] after batch 1: landed=${StreamingKg.landed(spark, tableDir).count()}")
    // second batch overlaps the first by 20% — idempotent re-delivery
    stream.addData(docs.drop((nDocs * 2) / 5))
    q.processAllAvailable()
    q.stop()
    val landed = StreamingKg.landed(spark, tableDir)
    val n = landed.count()
    val d = landed.select("subj", "pred", "obj").distinct().count()
    println(s"[stream-demo] after batch 2: landed=$n distinct=$d (dupes=${n - d})")
    spark.stop()
  }
}
