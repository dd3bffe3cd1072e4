package kgbench

import graft.KgPipeline
import graft.core.{Rules, TableIO}
import graft.gen.{Corpus, CorpusData}
import graft.oracle.RefOracle
import graft.stages.{Canon, KbExpand, Mentions, Normalize, WeiboTriples}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark input: a seeded corpus of `docs` interleaved documents
  * and a KB of `entities` entities (`Corpus.Config`). Every workload is a
  * closed loop: one driver thread submits one pipeline run at a time, at
  * local parallelism `cores` (and 1 for `wall_p1_s`).
  *
  * Sizes are set so that one run, set-up included, stays near a minute on a
  * 4-core host. At these sizes a pipeline run is a few seconds, of which a
  * large share is per-job and per-stage cost rather than per-row work. */
final case class Workload(name: String, docs: Int, entities: Int)

object Workload {
  val all: Map[String, Workload] = Seq(
    // many docs, small default KB: nearly all triples come from the docs,
    // so the dedup exchange and the vertex/edge outputs carry the run
    Workload("kg_lake", 1500, 120),
    // few docs, large KB: most triples come from the KB closure and the
    // canonical map, on the fused driver path (the name set stays below
    // Canon.canonicalMapLocal's 20000-name bound)
    Workload("kg_dict", 300, 2500),
  ).map(w => w.name -> w).toMap

  /** Inputs small enough for the benchmark's own tests. */
  def smoke(w: Workload): Workload =
    w.copy(docs = math.min(w.docs, 400), entities = math.min(w.entities, 400))
}

final case class Opts(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: Path)

/** (count, xor of xxhash64, sum of murmur3) over the distinct
  * (subj, pred, obj) rows: equal for equal triple sets, whatever the row
  * order or partitioning. */
object Digest {
  val columns: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    bit_xor(xxhash64(col("subj"), col("pred"), col("obj"))).as("x"),
    sum(hash(col("subj"), col("pred"), col("obj")).cast("long")).as("h"))

  def of(values: Seq[Any]): String = values.map(v => String.valueOf(v)).mkString(":")

  def of(df: DataFrame): String =
    of(df.select("subj", "pred", "obj").agg(columns.head, columns.tail: _*).head().toSeq)

  def rows(d: String): Long = d.takeWhile(_ != ':').toLong
}

object Main {
  val usage = "kgbench.Main --workload <kg_lake|kg_dict> --seed N " +
    "--seconds N --trace 0|1 --cores N --work DIR [--smoke]"

  def parse(args: Array[String]): Opts = {
    val smoke = args.contains("--smoke")
    val kv = args.filterNot(_ == "--smoke").grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k; $usage"))
    val w = Workload.all.getOrElse(need("--workload"),
      throw new IllegalArgumentException(s"unknown workload; $usage"))
    Opts(if (smoke) Workload.smoke(w) else w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--cores").toInt, Paths.get(need("--work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val bench = new Bench(parse(args))
    val ok = try bench.run() finally bench.close()
    sys.exit(if (ok) 0 else 1)
  }
}

/** One invocation: set-up, output checks, then either the untraced
  * end-to-end measurement or the traced per-layer run. */
final class Bench(o: Opts) {
  import Bench._

  private val w = o.workload
  private val cfg = Corpus.Config(nDocs = w.docs, nEntities = w.entities, seed = o.seed)
  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val scratch = o.work.resolve("scratch").resolve(runId)
  private var spark: SparkSession = _
  private var dims: (DataFrame, DataFrame) = _
  private var corpus: Path = _
  private var heapMb = Double.NaN

  private var attempted = 0
  private var failed = 0
  private val checkFailures = mutable.ArrayBuffer[String]()
  private val digests = mutable.LinkedHashMap[String, String]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  private def log(msg: String): Unit = println(s"[kgbench] $msg")

  private def put(name: String, value: Double, unit: String): Unit =
    if (!value.isNaN && !value.isInfinite) metrics(name) = (value, unit)

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { checkFailures += what; log(s"CHECK FAILED: $what") }

  /** One counted operation. A throwing operation counts as failed, is
    * logged with its stack trace, and yields None. */
  private def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        log(s"FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** Every run of the workload's pipeline must produce the same triple set. */
  private def expectSame(label: String, digest: String): Unit = {
    digests(label) = digest
    val first = digests.head
    check(first._2 == digest, s"digest of $label ($digest) differs from ${first._1} (${first._2})")
  }

  // -- session, inputs -------------------------------------------------------

  private def startSession(parallelism: Int): Unit = {
    if (spark != null) stopSession()
    spark = SparkSession.builder()
      .master(s"local[$parallelism]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.locality.wait", "0s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", o.work.resolve("tmp").resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  private def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def close(): Unit = {
    if (spark != null) stopSession()
    deleteTree(scratch)
  }

  /** A corpus as parquet, cached under the work dir keyed by
    * (seed, docs, entities). Only the first run of a key generates it. */
  private def ensureCorpus(c: Corpus.Config): Path = {
    val root = o.work.resolve("corpus")
    val dir = root.resolve(s"seed${c.seed}-docs${c.nDocs}-ent${c.nEntities}")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val tmp = root.resolve(s".tmp-$runId")
      writeCorpus(c, tmp)
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => deleteTree(tmp) }
      evictCorpora(root)
    }
    dir
  }

  private def writeCorpus(c: Corpus.Config, dir: Path): Unit =
    CorpusData.docsDF(spark, c).repartition(CorpusFiles)
      .write.mode("overwrite").parquet(dir.toString)

  private def docs: DataFrame = spark.read.parquet(corpus.toString)

  private def loadDims(): Unit =
    dims = (CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg))

  // -- the measured operations -------------------------------------------------

  private def pipeline(input: DataFrame, io: Option[TableIO]): KgPipeline.Outputs =
    KgPipeline.run(spark, input, dims._1, dims._2, io = io,
      shufflePartitions = ShufflePartitions, dimFastPaths = true)

  /** Triples to the noop sink; their digest is observed on the way, so it
    * costs no extra job. Returns the digest. */
  private def sinkTriples(triples: DataFrame): String = {
    val obs = Observation()
    noop(triples.observe(obs, Digest.columns.head, Digest.columns.tail: _*))
    Digest.of(Seq("n", "x", "h").map(obs.get))
  }

  /** All three outputs to the noop sink. Returns the triple digest. */
  private def sink(out: KgPipeline.Outputs): String = {
    val d = sinkTriples(out.triples)
    noop(out.vertices)
    noop(out.edges)
    d
  }

  /** The measured operation, input to complete result: `io = None`, all
    * three outputs to the noop sink. Returns its wall seconds. With
    * `readHeap`, the live driver heap is read into `heapMb` afterwards,
    * outside the timing, while the outputs are still referenced. */
  private def mainRun(label: String, readHeap: Boolean = false): Option[Double] =
    attempt(label) {
      val t0 = System.nanoTime()
      val out = pipeline(docs, None)
      val d = sink(out)
      val wall = (System.nanoTime() - t0) / 1e9
      if (readHeap) heapMb = Host.liveHeapMb()
      expectSame(label, d)
      wall
    }

  /** A cold checkpointed run into a fresh root; the resume runs start from
    * its committed stages. */
  private def coldRun(label: String, root: Path): Option[Double] = attempt(label) {
    deleteTree(root)
    val t0 = System.nanoTime()
    val out = pipeline(docs, Some(new TableIO(spark, root.toString)))
    val wall = (System.nanoTime() - t0) / 1e9
    expectSame(label, Digest.of(out.triples))
    wall
  }

  /** Simulated crash: every stage directory after `after` is deleted, as if
    * the driver died once `after` had committed. */
  private def crashAfter(root: Path, after: String): Int = {
    val later = StageOrder.dropWhile(_ != after).drop(1)
    later.foreach(s => deleteTree(root.resolve(s)))
    StageOrder.count(s => Files.isDirectory(root.resolve(s)))
  }

  private def resumeRun(label: String, root: Path, after: String): Option[Double] =
    attempt(label) {
      crashAfter(root, after)
      val t0 = System.nanoTime()
      val out = pipeline(docs, Some(new TableIO(spark, root.toString)))
      val wall = (System.nanoTime() - t0) / 1e9
      expectSame(label, Digest.of(out.triples))
      wall
    }

  /** Runs `f` at least `min` times, and more while another run of the
    * median length still fits in `budget` seconds; stops at a failed run. */
  private def repeat(min: Int, budget: Double)(f: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val xs = mutable.ArrayBuffer[Double]()
    var ok = true
    def more = xs.size < min ||
      (xs.size < MaxReps && (System.nanoTime() - t0) / 1e9 + median(xs.toSeq) <= budget)
    while (ok && more)
      f(xs.size) match { case Some(x) => xs += x; case None => ok = false }
    log(xs.map(x => f"$x%.3f").mkString("samples (s): ", " ", ""))
    xs.toSeq
  }

  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally log(f"$phase took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  // -- set-up and checks -------------------------------------------------------

  /** The golden slice: the first docs of the same seed and KB. */
  private def slice(seed: Long): Corpus.Config =
    cfg.copy(nDocs = math.min(GoldenDocs, cfg.nDocs), seed = seed)

  /** A pipeline run over a cached parquet slice, all three outputs to the
    * noop sink, as in the measured runs: it warms the code they execute.
    * Returns the outputs and their triple digest. */
  private def sliceRun(c: Corpus.Config): (KgPipeline.Outputs, String) = {
    val out = KgPipeline.run(spark, spark.read.parquet(ensureCorpus(c).toString),
      CorpusData.ment2entDF(spark, c), CorpusData.avpairDF(spark, c),
      shufflePartitions = ShufflePartitions, dimFastPaths = true)
    (out, sink(out))
  }

  /** Session start, corpus generation or cache check, KB dims, and the
    * untimed warm-up: a run over the golden slice, which the checks use.
    * Returns the seconds taken and the slice run. */
  private def setupOnce(): (Double, (KgPipeline.Outputs, String)) = {
    val t0 = System.nanoTime()
    startSession(o.cores)
    corpus = ensureCorpus(cfg)
    loadDims()
    val warm = sliceRun(slice(o.seed))
    ((System.nanoTime() - t0) / 1e9, warm)
  }

  /** Golden P/R of the slice against the reference oracle. With
    * `seedCheck`, also the seed check: the slice at seed+1 gives another
    * digest. */
  private def checks(warm: (KgPipeline.Outputs, String), seedCheck: Boolean): Unit =
    timed("checks") {
      attempt("golden") {
        val session = spark
        import session.implicits._
        val got = warm._1.triples.select("subj", "pred", "obj")
          .as[(String, String, String)].collect().toSet
        val gold = RefOracle.goldenTriples(slice(o.seed))
        val tp = got.intersect(gold).size.toDouble
        val (p, r) = (tp / got.size, tp / gold.size)
        log(f"golden slice: emitted=${got.size} golden=${gold.size} P=$p%.4f R=$r%.4f")
        check(p >= 0.95 && r >= 0.95, f"golden P/R $p%.4f/$r%.4f below 0.95")
      }
      if (seedCheck) attempt("seed") {
        val next = sliceRun(slice(o.seed + 1))._2
        log(s"slice digest seed ${o.seed}: ${warm._2}, seed ${o.seed + 1}: $next")
        check(next != warm._2, "seed+1 gave the same triple digest")
      }
    }

  /** The cross-run check: the corpus's triple digest equals the one
    * recorded when this seed's cached corpus was first used. */
  private def checkRecordedDigest(): Unit = digests.headOption.foreach { case (_, d) =>
    val rec = corpus.resolve("_kgbench_digest")
    if (!Files.exists(rec)) Files.writeString(rec, d)
    val recorded = Files.readString(rec).trim
    check(recorded == d, s"digest $d differs from the one recorded for this seed ($recorded)")
    log(s"triple digest (count:xor64:sum32) = $d")
  }

  // -- untraced run: end-to-end metrics ---------------------------------------

  private def endToEnd(): Unit = {
    val budget = o.seconds.toDouble
    var warm: (KgPipeline.Outputs, String) = null
    val setups = timed("setup") {
      (1 to SetupRounds).map { _ => val (t, w) = setupOnce(); warm = w; t }
    }
    put("setup_s", median(setups), "s")
    checks(warm, seedCheck = false)
    warm = null

    val p4 = timed("parallel runs") {
      repeat(MinReps, 0.3 * budget)(i => mainRun(s"p${o.cores}-$i", readHeap = i == 0))
    }
    put("wall_s", median(p4), "s")
    checkRecordedDigest()
    digests.headOption.foreach(d => put("triples_per_s", Digest.rows(d._2) / median(p4), "1/s"))
    put("driver_heap_peak_mb", heapMb, "MB")

    val root = scratch.resolve("io")
    val late = mutable.ArrayBuffer[Double]()
    val early = mutable.ArrayBuffer[Double]()
    timed("resume runs") {
      coldRun("cold-checkpoint", root)
      repeat(MinResumes, 0.3 * budget) { i =>
        for {
          a <- resumeRun(s"resume-late-$i", root, "triples")
          b <- resumeRun(s"resume-early-$i", root, "weibo_triples")
        } yield { late += a; early += b; a + b }
      }
    }
    put("resume_late_s", median(late.toSeq), "s")
    put("resume_early_s", median(early.toSeq), "s")

    val p1 = timed("serial runs") {
      startSession(1)
      loadDims()
      repeat(MinReps, 0.4 * budget)(i => mainRun(s"p1-$i"))
    }
    put("wall_p1_s", median(p1), "s")
    put("scaling_efficiency", median(p1) / (o.cores * median(p4)), "ratio")
  }

  // -- traced run: per-layer metrics --------------------------------------------

  private def perLayer(): Unit = {
    val budget = o.seconds.toDouble
    put("host.cpu_scaling", timed("calibration") { Host.cpuScaling(o.cores) }, "x")
    checks(timed("setup") { setupOnce()._2 }, seedCheck = true)
    val untraced = median(timed("untraced runs") {
      repeat(MinUntracedReps, 0.3 * budget)(i => mainRun(s"untraced-$i"))
    })
    checkRecordedDigest()

    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tr = new Tracer(spark.sparkContext, runId, listener)
    val session = spark
    import session.implicits._
    val counts = mutable.LinkedHashMap[String, Double]()
    val m2eRows = dims._1.select("mention", "entities").as[(String, Seq[String])].collect()
    val dict = m2eRows.map(_._1).toSeq.distinct

    attempt("traced") {
      tr("run") {
        val genDir = scratch.resolve("gen")
        tr("gen.corpus") { writeCorpus(cfg, genDir) }
        counts("gen.corpus_bytes") = treeBytes(genDir)
        val ck = tr("load") { docs.localCheckpoint() }

        val weibo = tr("normalize") {
          WeiboTriples.emit(Normalize.blogs(ck).localCheckpoint(),
            Normalize.comments(ck).localCheckpoint()).localCheckpoint()
        }
        val spans = KgPipeline.textSpans(ck).localCheckpoint()
        val found = tr("mentions") {
          tr("mentions.trie_build") { Mentions.buildTrie(dict) }
          tr("mentions.detect") { Mentions.detect(spark, spans, dict).localCheckpoint() }
        }
        val seeds = found.select("mention").distinct()
        val kb = tr("kbexpand") {
          KbExpand.expand(spark, seeds, dims._1, dims._2, Rules.recursivePreds,
            driverThreshold = DimBound, m2eCollected = Some(m2eRows.toMap)).localCheckpoint()
        }
        val cmap = tr("canon") {
          Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds,
            ccDriverThreshold = DimBound).localCheckpoint()
        }
        counts("normalize.rows_out") = weibo.count().toDouble
        counts("mentions.hit_ratio") =
          found.select("doc_id", "span_offset").distinct().count().toDouble / spans.count()
        counts("mentions.distinct") = seeds.count().toDouble
        counts("kbexpand.kb_triples") = kb.count().toDouble
        counts("canon.names") = Canon.nodeLabels(kb, Rules.categoryPred).count().toDouble
        counts("canon.pairs") = cmap.count().toDouble

        // the real pipeline, io = None, same parquet input as the untraced run
        tr("kg") {
          val out = tr("kg.dim") { pipeline(docs, None) }
          expectSame("traced", tr("dedup") { sinkTriples(out.triples) })
          tr("graphout.vertices") { noop(out.vertices) }
          tr("graphout.edges") { noop(out.edges) }
        }

        val root = scratch.resolve("io-traced")
        val io = new TableIO(spark, root.toString)
        tr("tableio") {
          tr("tableio.cold") { pipeline(docs, Some(io)) }
          var skipped = 0
          Seq("late" -> "triples", "early" -> "weibo_triples").foreach { case (tag, after) =>
            skipped += crashAfter(root, after)
            tr(s"tableio.resume_$tag") { pipeline(docs, Some(io)) }
          }
          counts("tableio.stages_skipped") = skipped
          tr("tableio.commit") { io.commit("bench_commit", io.read("triples"), Seq("triples")) }
          tr("tableio.read") { StageOrder.foreach(s => noop(io.read(s))) }
        }
        expectSame("traced-checkpoint", Digest.of(io.read("triples")))
        counts("tableio.bytes_written") = treeBytes(root)
        counts("dedup.rows_in") = counts("normalize.rows_out") + counts("kbexpand.kb_triples")
        counts("dedup.rows_out") = Digest.rows(digests("traced"))
      }
    }
    if (failed > 0) return
    tr.dump(o.work.resolve("spans").resolve(s"${w.name}-seed${o.seed}-$runId.jsonl"))
    def sec(n: String) = tr.span(n).seconds
    def cpu(n: String) = tr.totalsOf(n).cpuNs / 1e9

    put("gen.corpus_s", sec("gen.corpus"), "s")
    put("gen.corpus_bytes", counts("gen.corpus_bytes"), "bytes")
    put("normalize.wall_s", tr.selfSeconds("normalize"), "s")
    put("normalize.cpu_s", cpu("normalize"), "s")
    put("normalize.rows_out", counts("normalize.rows_out"), "rows")
    put("mentions.trie_build_s", sec("mentions.trie_build"), "s")
    put("mentions.detect_s", sec("mentions.detect"), "s")
    put("mentions.cpu_s", cpu("mentions"), "s")
    put("mentions.hit_ratio", counts("mentions.hit_ratio"), "ratio")
    put("mentions.distinct", counts("mentions.distinct"), "count")
    put("kbexpand.wall_s", sec("kbexpand"), "s")
    put("kbexpand.kb_triples", counts("kbexpand.kb_triples"), "rows")
    put("canon.map_s", sec("canon"), "s")
    put("canon.names", counts("canon.names"), "count")
    put("canon.pairs", counts("canon.pairs"), "count")
    put("canon.jobs", tr.jobsOf("canon").size, "count")
    val dd = tr.totalsOf("dedup")
    put("dedup.cpu_s", dd.cpuNs / 1e9, "s")
    put("dedup.shuffle_write_bytes", dd.shuffleWriteBytes, "bytes")
    put("dedup.shuffle_records", dd.shuffleWriteRecords, "count")
    put("dedup.spill_bytes", dd.spillBytes, "bytes")
    put("dedup.rows_in", counts("dedup.rows_in"), "rows")
    put("dedup.rows_out", counts("dedup.rows_out"), "rows")
    put("dedup.keep_ratio", counts("dedup.rows_out") / counts("dedup.rows_in"), "ratio")
    put("graphout.vertices_s", sec("graphout.vertices"), "s")
    put("graphout.edges_s", sec("graphout.edges"), "s")
    put("graphout.cpu_s", cpu("graphout.vertices") + cpu("graphout.edges"), "s")
    put("graphout.shuffle_bytes", tr.totalsOf("graphout.vertices").shuffleWriteBytes +
      tr.totalsOf("graphout.edges").shuffleWriteBytes, "bytes")
    put("kg.dim_phase_s", sec("kg.dim"), "s")
    put("kg.jobs", tr.jobsOf("kg").size, "count")
    put("kg.driver_idle_s", tr.idleSeconds("kg"), "s")
    put("tableio.cold_s", sec("tableio.cold"), "s")
    put("tableio.resume_late_s", sec("tableio.resume_late"), "s")
    put("tableio.resume_early_s", sec("tableio.resume_early"), "s")
    put("tableio.commit_s", sec("tableio.commit"), "s")
    put("tableio.read_s", sec("tableio.read"), "s")
    put("tableio.bytes_written", counts("tableio.bytes_written"), "bytes")
    put("tableio.jobs", tr.jobsOf("tableio").size, "count")
    put("tableio.stages_skipped", counts("tableio.stages_skipped"), "count")
    val all = tr.totalsOf("run")
    put("spark.cpu_s", all.cpuNs / 1e9, "s")
    put("spark.gc_s", all.gcMs / 1e3, "s")
    put("spark.shuffle_bytes", all.shuffleWriteBytes, "bytes")
    put("spark.spill_bytes", all.spillBytes, "bytes")
    put("spark.tasks", all.tasks, "count")
    put("spark.task_failures", all.failures, "count")
    put("trace.total_s", sec("run"), "s")
    put("trace.overhead_s", sec("kg") - untraced, "s")
  }

  /** Runs the invocation and prints the result line. True when every
    * operation succeeded and every check passed. */
  def run(): Boolean = {
    log(s"workload=${w.name} docs=${w.docs} entities=${w.entities} " +
      s"seed=${o.seed} seconds=${o.seconds} trace=${o.trace} cores=${o.cores} run=$runId")
    Files.createDirectories(scratch)
    try { if (o.trace) perLayer() else endToEnd() }
    catch { case NonFatal(e) => failed += 1; attempted += 1; log(s"FAILED: $e"); e.printStackTrace() }
    if (o.trace) put("error_rate", failed.toDouble / math.max(1, attempted), "ratio")
    val correct = failed == 0 && checkFailures.isEmpty
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    correct
  }
}

object Bench {
  val ShufflePartitions = 8
  val CorpusFiles = 8
  val DimBound = 2000000L // KgPipeline.run's default dimBound
  val SetupRounds = 3
  val MinReps = 3
  val MinResumes = 1
  val MinUntracedReps = 2
  val MaxReps = 25
  val GoldenDocs = 1500
  val StageOrder = Seq("weibo_triples", "kb_triples", "canon_map", "triples", "vertices", "edges")
  val CorpusCacheEntries = 40

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  def treeBytes(p: Path): Double = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally walk.close()
  }

  /** Keeps the newest `CorpusCacheEntries` cached corpora. */
  def evictCorpora(root: Path): Unit = {
    val listing = Files.list(root)
    val dirs = try listing.iterator().asScala.filter(d => Files.exists(d.resolve("_SUCCESS")))
      .toVector finally listing.close()
    dirs.sortBy(d => -Files.getLastModifiedTime(d).toMillis).drop(CorpusCacheEntries)
      .foreach(deleteTree)
  }
}
