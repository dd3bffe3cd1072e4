package graft

import graft.core.TableIO
import graft.gen.{Corpus, CorpusData}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Cross-cutting pipeline properties: the dim-side driver fast paths emit
  * exactly the dataflow paths' triples; a killed run resumes from the last
  * committed snapshot to an identical final set (BASELINE.md resumability);
  * dedup and canonicalization are idempotent. */
class KgParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = Corpus.Config(nDocs = 800, nEntities = 120, seed = 42L)
  private def docs = CorpusData.docsDF(spark, cfg)
  private def m2e = CorpusData.ment2entDF(spark, cfg)
  private def av = CorpusData.avpairDF(spark, cfg)

  private def tripleSet(fast: Boolean,
                        io: Option[TableIO] = None): Set[(String, String, String)] =
    KgPipeline.run(spark, docs, m2e, av, io, shufflePartitions = 4,
      dimFastPaths = fast)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet

  /** Spark jobs started while `f` runs. Listener delivery is asynchronous,
    * so a marker job submitted after `f` closes the window: events arrive
    * in order, and once the marker's start is seen every earlier one is. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "kg-parity-job-count-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          closed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("dimFastPaths ≡ pure dataflow (identical triple set)") {
    // three inputs: dataflow, fast paths, and fast paths with checkpointing
    val slow = tripleSet(fast = false)
    val fastS = tripleSet(fast = true)
    val fastIo = tripleSet(fast = true,
      Some(new TableIO(spark, Files.createTempDirectory("kgio-fast").toString)))
    assert((slow diff fastS).isEmpty && (fastS diff slow).isEmpty,
      s"diffA=${(slow diff fastS).take(3)} diffB=${(fastS diff slow).take(3)}")
    assert((slow diff fastIo).isEmpty && (fastIo diff slow).isEmpty,
      s"diffA=${(slow diff fastIo).take(3)} diffB=${(fastIo diff slow).take(3)}")
  }

  test("eager run(dimFastPaths = true, io = None) issues at most 2 jobs") {
    // the eager part of the call is the dim phase; on this fixture the
    // dims are driver-built LocalRelations, so the only jobs are the
    // distinct-mention scan's (exchange + result). Checkpointing the
    // driver-built kb or canon-map frame would add jobs for nothing.
    val (d, m, a) = (docs, m2e, av)
    val n = jobsDuring {
      KgPipeline.run(spark, d, m, a, shufflePartitions = 4, dimFastPaths = true)
    }
    assert(n <= 2, s"eager run issued $n jobs")
  }

  test("over-bound ment2ent degrades to the distributed detect + dataflow expand, identical triples") {
    // dimBound = 1: every dim collect's limit-N+1 probe overflows, so the
    // driver fast paths are skipped, the broadcast-trie build is skipped, mention
    // detection runs through Mentions.detectBySubstring, and the BFS runs
    // the dataflow loop with an unforced m2e join — the degradation path a
    // 100× dictionary takes instead of OOMing the driver.
    val bounded = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
        dimFastPaths = true, dimBound = 1L)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val reference = tripleSet(fast = true)
    assert((reference diff bounded).isEmpty && (bounded diff reference).isEmpty,
      s"diffA=${(reference diff bounded).take(3)} diffB=${(bounded diff reference).take(3)}")
  }

  test("substring detect ≡ broadcast-trie detect on the corpus dictionary") {
    val dict = m2e.select("mention").distinct()
      .as[String].collect().toSeq
    val spans = KgPipeline.textSpans(docs)
    val trie = graft.stages.Mentions.detect(spark, spans, dict)
      .select(col("doc_id").cast("string"), col("span_offset"), col("mention"))
      .as[(String, Int, String)].collect().toSet
    val sub = graft.stages.Mentions.detectBySubstring(spark, spans,
        m2e.select("mention"))
      .select(col("doc_id").cast("string"), col("span_offset"), col("mention"))
      .as[(String, Int, String)].collect().toSet
    assert((trie diff sub).isEmpty && (sub diff trie).isEmpty,
      s"diffA=${(trie diff sub).take(3)} diffB=${(sub diff trie).take(3)}")
  }

  test("kill/resume: re-run from committed snapshots yields identical triples") {
    val dir = Files.createTempDirectory("kgio").toString
    val io1 = new TableIO(spark, dir)
    val full = KgPipeline.run(spark, docs, m2e, av, Some(io1), 4)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet

    // simulate a crash after the kb/canon commits: downstream snapshots gone
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/triples")).deleteRecursively()
    new Directory(new java.io.File(s"$dir/vertices")).deleteRecursively()
    new Directory(new java.io.File(s"$dir/edges")).deleteRecursively()

    val io2 = new TableIO(spark, dir)
    assert(io2.hasCommitted("weibo_triples") && io2.hasCommitted("kb_triples"))
    val resumed = KgPipeline.run(spark, docs, m2e, av, Some(io2), 4)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    assert(resumed === full)

    // manifests carry lineage + per-partition counts
    val manifest = io2.manifest("triples")
    assert(manifest.contains("\"upstream\""))
    assert(manifest.contains("per_partition"))
    assert(manifest.contains("\"row_count\""))
  }

  test("dedup + canonicalization idempotence: running twice = once") {
    val out1 = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4)
    val t1 = out1.triples.select("subj", "pred", "obj")
    // feeding the canonical triple set through dedup again changes nothing
    val again = t1.groupBy("subj", "pred", "obj").count()
    assert(again.filter(col("count") > 1).count() === 0)
  }
}
