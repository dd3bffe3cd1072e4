package graft

import graft.core.{Json, Sessions}
import graft.gen.{Corpus, CorpusData}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark harness (driver-run per round → BENCH_r{N}.json).
  *
  * 1. Headline queries from SparkEntry at `SPARK_GRAFT_SF_DIR` (local[cpus]).
  * 2. The KG pipeline end-to-end at TWO cluster sizes — local-cluster[1,2,…]
  *    vs local-cluster[4,2,…], i.e. 1 vs 4 SEPARATE executor JVMs with 2
  *    cores each: the faithful sandbox stand-in for N vs 4N executors
  *    (threads inside one JVM hit a shared allocation ceiling long before
  *    the CPUs do — measured; separate JVMs scale like separate executors).
  *    The measured job reads a pre-materialized parquet corpus (the real
  *    job reads a lake, not an in-flight generator).
  *
  * Statistic: `pairs` wall times are collected PER SIDE and the MEDIAN of
  * each side is used (eff = med_1exec / (4 × med_4exec)) — a single
  * VM-CPU-steal outlier on either side then cannot drag the result the way
  * a per-pair ratio can. All raw samples are reported alongside.
  *
  * Prints ONE JSON line; also refreshes BENCH_PROBE.md (never BENCH.md —
  * the curated evidence tables there must survive driver probe runs).
  */
object Bench {

  private val headline = Seq(
    "q_scan_filter_project", "q_agg_groupby", "q_join_broadcast",
    "q_union_dedup", "q_window_topk", "q_selfjoin_adjacent",
    "q_explode_tokens", "q_time_buckets", "q_dedup_exact", "q_minhash",
    "q_simhash", "q_quality_score", "q_jaccard_pairs", "q_embed_topk",
    "q_lsh_candidates", "q_embed_multiprobe", "q_sessionize",
    "q_event_windows", "q_repetition", "q_chunk_dedup", "q_ann_recall",
    // round-3 operators
    "q_dedup_clusters", "q_decontaminate", "q_corpus_scrub",
    "q_stratified_sample", "q_tfidf_keywords", "q_embed_ivf",
    // round-4 operators
    "q_embed_ivf_trained", "q_media_features",
    // round-5 operators
    "q_boilerplate_scrub", "q_quality_quantiles", "q_quality_topp",
    "q_dedup_keep_best", "q_mix_rebalance", "q_pack_index", "q_pack_stats",
    "q_shard_audit", "q_cdc_dedup", "q_lm_score", "q_dup_span_scrub",
    "q_lm_bigram", "q_train_shuffle", "q_hot_keys", "q_profile",
    "q_char_entropy",
    // round-6 operators
    "q_fuzzy_incremental", "q_kg_neo4j_csv", "q_profile_approx",
    "q_lm_score_store")

  private val corpusCache = "/tmp/graft-bench-corpus"

  private def ensureCorpus(s: SparkSession, nDocs: Int): String = {
    val path = s"$corpusCache-$nDocs.parquet"
    if (!Files.exists(Paths.get(path)))
      CorpusData.docsDF(s, Corpus.Config(nDocs = nDocs)).repartition(64)
        .write.mode("overwrite").parquet(path)
    path
  }

  /** Measured pipeline runs on `executors` × 2-core executor JVMs; returns
    * (min wall over `measuredRuns` back-to-back runs, triple count). VM
    * CPU-steal can only ADD wall time, so the min over repeats is the
    * consistent estimator of the true wall; callers apply the SAME
    * `measuredRuns` at both cluster sizes so the filter cannot bias the
    * efficiency ratio. */
  private def timeKg(executors: Int, nDocs: Int,
                     measuredRuns: Int = 1): (Double, Long) = {
    val canCluster = Files.exists(Paths.get("/opt/spark/jars"))
    val cores = 2
    val master =
      if (canCluster) s"local-cluster[$executors,$cores,6144]"
      else s"local[${executors * cores}]"
    // shuffle width is sized to the DATA (key count × row size), not the
    // core count, and is IDENTICAL at both cluster sizes: `cores` as the
    // width hands the small cluster multi-million-key agg partitions that
    // fall back to sort+spill — slower, and a dishonest efficiency boost
    // (it inflates the 1-exec numerator). AQE coalesces the excess.
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64").toInt
    val s = Sessions.local(master, shuffleParts, "graft-bench")
    try {
      val cfg = Corpus.Config(nDocs = nDocs)
      val path = ensureCorpus(s, nDocs)
      def run(): Long = {
        val out = KgPipeline.run(s, s.read.parquet(path),
          CorpusData.ment2entDF(s, cfg), CorpusData.avpairDF(s, cfg),
          shufflePartitions = shuffleParts, dimFastPaths = true)
        val n = out.triples.count()
        s.sharedState.cacheManager.clearCache()
        n
      }
      // untimed warmup for JIT/codegen — fresh executor JVMs per cluster
      // size, so each measured run would otherwise pay cold-JIT on its own
      // wall. Scaled BY cluster size: warmup tasks spread over all
      // executors, so a fixed-size warmup gives each of 4 JVMs a quarter
      // of the JIT coverage the single JVM gets — measured as a
      // consistently slow first 4-exec sample.
      val warmDocs = 20000 * executors
      val warmCfg = Corpus.Config(nDocs = warmDocs)
      val warmPath = ensureCorpus(s, warmDocs)
      KgPipeline.run(s, s.read.parquet(warmPath),
        CorpusData.ment2entDF(s, warmCfg), CorpusData.avpairDF(s, warmCfg),
        shufflePartitions = shuffleParts, dimFastPaths = true)
        .triples.count()
      s.sharedState.cacheManager.clearCache()
      var best = Double.MaxValue
      var n = 0L
      var r = 0
      while (r < measuredRuns) {
        val t0 = System.nanoTime()
        n = run()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        r += 1
      }
      (best, n)
    } finally s.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Wall seconds of one headline query into the noop sink — not count():
    * count() lets Catalyst PRUNE every projected column, so a
    * projection-heavy query would time an empty scan. A query that throws
    * is still timed (the statistic stays comparable), but its failure is
    * returned and reported, never swallowed. */
  private def timeQuery(s: SparkSession, name: String,
                        sfDir: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try {
        SparkEntry.queries(name)(s, sfDir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          Some(e.toString)
      }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** The failed queries of a timed batch as a JSON object, name → error. */
  private def errorsJson(timed: Seq[(String, (Double, Option[String]))]): String =
    Json.obj(timed.collect { case (k, (_, Some(e))) => k -> e })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val kgDocs = sys.env.getOrElse("SPARK_GRAFT_KG_DOCS", "4000000").toInt
    val pairs = sys.env.getOrElse("SPARK_GRAFT_KG_PAIRS", "2").toInt
    // SYMMETRIC repeat policy: BOTH sides take the min of the same number
    // of back-to-back runs. (The round-2 estimator min-of-3'd only the fast
    // 4-exec side; since VM CPU-steal can only ADD wall time, filtering
    // noise out of one side alone biases eff = sec1/(4·sec4) upward —
    // flagged in review. min over repeats remains the right estimator of
    // the true wall on a steal-exposed VM; it is now applied evenly.)
    // min-of-3 default: with the host's bimodal steal, the chance a side's
    // every draw lands in the slow mode is ~3× lower than at min-of-2; the
    // policy stays symmetric (same N both sides), so no upward bias.
    val runsPerSide = sys.env.getOrElse("SPARK_GRAFT_KG_RUNS", "3").toInt
    // 4M docs: the serial driver latency (~4 s of dim-phase jobs + AQE
    // planning gaps) is a fixed cost; at a 25 s wide-side wall it bounds
    // measurable efficiency near 0.75 no matter how well the parallel part
    // scales. A ~130 s / ~37 s job pair measures the PARALLEL fraction a
    // real multi-hour 100 TB run actually has. Wall budget under the
    // symmetric policy: each pair ≈ runs·(130 + 37) s of measured work, so
    // defaults (2 pairs × min-of-3) ≈ 17 min of samples plus warmups —
    // fine for the driver's uncapped run; builder-side probes under the
    // sandbox wall cap set SPARK_GRAFT_KG_RUNS=2 explicitly.

    // SPARK_GRAFT_HEADLINE=0 → scaling-only probe invocation (used to
    // collect extra builder-side efficiency samples inside a bounded wall;
    // the driver never sets it, so driver runs measure everything)
    val withHeadline = sys.env.getOrElse("SPARK_GRAFT_HEADLINE", "1") != "0"

    // prewarm the OS page cache for the measured corpus — the first
    // cluster-size sample otherwise reads the parquet cold from disk and
    // lands as a one-sided outlier
    locally {
      val warm = Sessions.local(s"local[$cpus]", cpus, "graft-bench")
      try {
        ensureCorpus(warm, kgDocs)
        warm.read.parquet(s"$corpusCache-$kgDocs.parquet")
          .write.format("noop").mode("overwrite").save()
      } finally warm.stop()
    }

    // SPARK_GRAFT_KG_PAIRS=0 → headline-only invocation (builder-side: the
    // full bench exceeds the sandbox's per-command wall cap, so headline and
    // scaling are collected by separate invocations and BENCH.md assembled
    // from all samples; the driver's own uncapped run measures everything)
    if (pairs == 0) {
      val s0 = Sessions.local(s"local[$cpus]", cpus, "graft-bench")
      val timed0 = headline.map(name => name -> timeQuery(s0, name, sfDir))
      s0.stop()
      val results0 = timed0.map { case (k, (sec, _)) => k -> sec }
      val qs0 = results0.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      println(f"""{"metric":"headline","value":${results0.map(_._2).sum}%.3f,"unit":"sec","queries":$qs0,"sf":"$sfDir","errors":${errorsJson(timed0)}}""")
      return
    }

    // SCALING FIRST, headline after: the scaling pair is the sensitive
    // measurement, and running it straight after ~6 minutes of 32-core
    // headline churn exposes it to whatever host contention that churn
    // provoked (round 3's driver probe measured every 4-exec wall above the
    // builder's entire quiet-machine range). Identical job + input at two
    // cluster sizes (1 vs 4 executor JVMs); the order of sides is MIRRORED
    // between consecutive pairs (4,1 then 1,4) so a drifting slow phase of
    // the VM lands on both sides alike rather than always on the same one.
    val samples = (1 to pairs).map { p =>
      val (a, b) = if (p % 2 == 1) (4, 1) else (1, 4)
      val (secA, nA) = timeKg(a, kgDocs, measuredRuns = runsPerSide)
      val (secB, nB) = timeKg(b, kgDocs, measuredRuns = runsPerSide)
      // identical job + input ⇒ identical output; a mismatch is a
      // correctness red flag the bench must not mask
      require(nA == nB, s"triple count diverged across cluster sizes: $nA vs $nB")
      val (sec1, sec4) = if (a == 4) (secB, secA) else (secA, secB)
      (sec1, sec4, nA)
    }

    val s1 = Sessions.local(s"local[$cpus]", cpus, "graft-bench")
    val timed = (if (withHeadline) headline else Seq.empty)
      .map(name => name -> timeQuery(s1, name, sfDir))
    s1.stop()
    val results = timed.map { case (k, (sec, _)) => k -> sec }
    val nT = samples.head._3
    val sec1 = median(samples.map(_._1))
    val sec4 = median(samples.map(_._2))
    // efficiency from per-side medians: (tput4 / tput1) / 4 = sec1/(4*sec4)
    val eff = sec1 / (4.0 * sec4)
    val tput1 = nT / sec1
    val tput4 = nT / sec4

    val qs = (results ++ Seq("kg_pipeline_1exec" -> sec1, "kg_pipeline_4exec" -> sec4))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum + samples.map(s => s._1 + s._2).sum
    val sampleJson = samples.map(s =>
      f"""{"sec_1exec":${s._1}%.2f,"sec_4exec":${s._2}%.2f}""")
      .mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","kg_docs":$kgDocs,"kg_triples":$nT,"kg_triples_per_sec_1exec":$tput1%.1f,"kg_triples_per_sec_4exec":$tput4%.1f,"scaling_efficiency":$eff%.3f,"scaling_samples":$sampleJson,"errors":${errorsJson(timed)}}""")

    // BENCH.md — assembled line-by-line (no stripMargin: generated table rows
    // begin with '|', which stripMargin would eat)
    val md = new StringBuilder
    def line(s: String): Unit = { md.append(s).append('\n') }
    line("# BENCH — measured (this sandbox, Firecracker VM, 32 vCPU)")
    line("")
    line("## KG pipeline scaling: N vs 4N executors")
    line("")
    line("Same job (full KG construction: parquet scan → normalize → mention")
    line("trie → KB expand → canonicalize → two-phase dedup), same input")
    line(s"($kgDocs interleaved docs → $nT triples), at two cluster sizes:")
    line("**1 vs 4 separate executor JVMs** (2 cores each) via")
    line("`local-cluster` — the faithful stand-in for N vs 4N executors.")
    line("(Threads inside one JVM share an allocation ceiling: a 32-thread")
    line("JVM string workload aggregates only ~3× one thread, while 8")
    line("separate JVMs aggregate ~8.7× — measured; so local[8] vs local[32]")
    line("understates real multi-executor scaling.)")
    line("")
    line("| cluster | wall (s, median) | triples/sec |")
    line("|---|---|---|")
    line(f"| 1 executor × 2 cores | $sec1%.1f | $tput1%.0f |")
    line(f"| 4 executors × 2 cores | $sec4%.1f | $tput4%.0f |")
    line("")
    line(f"Scaling efficiency (tput_4N / tput_N) / 4 = **$eff%.3f**, from the")
    line(s"per-side MEDIANS of ${samples.size} alternating samples each")
    line(s"(1-exec walls: ${samples.map(s => f"${s._1}%.1f").mkString(", ")} s;")
    line(s"4-exec walls: ${samples.map(s => f"${s._2}%.1f").mkString(", ")} s);")
    line("target ≥ 0.8 (BASELINE.md). Per-side medians rather than per-pair")
    line("ratios: a single VM CPU-steal outlier then cannot drag the result.")
    line(s"SYMMETRIC repeat policy: EACH side's sample is the MIN of $runsPerSide")
    line("back-to-back runs — steal can only ADD wall time, so min-of-repeats")
    line("is the consistent estimator, and applying it to one side only")
    line("(as an earlier revision did) would bias the ratio in our favor.")
    line("Shuffle width (64) and every other conf are IDENTICAL at both")
    line("cluster sizes — width follows the data, not the core count.")
    line("")
    line("Builder-side repetition evidence (more samples than one probe can")
    line("hold): BASELINE.md \"Measured\" table — the full per-round scaling")
    line("distribution with every sample published.")
    line("")
    line(s"## Headline query wall times (s) at local[$cpus], $sfDir")
    line("")
    line("| query | sec |")
    line("|---|---|")
    results.foreach { case (k, v) => line(f"| $k | $v%.2f |") }
    // NEVER write BENCH.md from here: the driver's post-round probe ran
    // with headline on and clobbered the committed multi-rep evidence
    // tables two rounds running. All machine-written output goes to
    // BENCH_PROBE.md; BENCH.md is curated by hand from published reps.
    try Files.writeString(Paths.get("BENCH_PROBE.md"), md.toString) catch { case _: Throwable => () }
  }
}
