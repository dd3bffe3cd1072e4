package graft

import graft.datapipe.{Dedup, LmScore, Multimodal, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data-pipeline operators: dedup family, ANN, text analysis,
  * multimodal plumbing. */
class DatapipeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog again and again yesterday"), // near dup
    (3L, "completely different words about spark catalyst tungsten codegen shuffles"),
    (4L, "the  quick brown fox jumps over the lazy dog again and again today")) // ws-normalized dup of 0
    .toDF("doc_id", "text")

  test("exact dedup groups by normalized fingerprint") {
    val g = Dedup.exactGroups(docs).as[(String, Long, Long)].collect()
    val dupGroup = g.filter(_._2 >= 2)
    assert(dupGroup.length === 1)
    assert(dupGroup.head._2 === 3) // docs 0, 1, 4 (whitespace-normalized)
    assert(dupGroup.head._3 === 0) // min doc_id survives
  }

  test("minhash LSH finds the planted near-dup pair, not the unrelated doc") {
    val cand = Dedup.lshCandidates(
      Dedup.lshBands(docs, "doc_id", "text", numHashes = 8, bands = 4, w = 3))
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((0L, 1L))) // identical → all bands collide
    assert(!cand.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc clean
    // verify step: exact jaccard over candidates
    val verified = Dedup.jaccardVerify(
      cand.toSeq.toDF("id1", "id2"), docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect()
    assert(verified.exists(v => v._1 == 0L && v._2 == 1L && v._3 == 1.0))
  }

  test("duplicate-ngram coverage: union of spans, overlaps not double-counted") {
    // "a b c d e" repeats at positions 1 and 7 → covered 1–5 ∪ 7–11 = 10 of
    // 11 token positions; the clean doc must score exactly 0
    val d = Seq(
      (0L, "a b c d e x a b c d e"),
      (1L, "p q r s t u v"),
      (2L, "w w w w w w w w")) // every 5-gram identical & overlapping → 1.0
      .toDF("doc_id", "text")
    val cov = TextStats.dupNgramCoverage(d, "doc_id", "text", n = 5)
      .as[(Long, Double)].collect().toMap
    assert(cov(0L) === BigDecimal(10.0 / 11)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(cov(1L) === 0.0)
    assert(cov(2L) === 1.0)
  }

  test("minhash-signature Jaccard estimate: exact on identical docs, ranks near-dups") {
    val sigs = Dedup.minhashSigsMd5(docs, "doc_id", "text", 8, 3)
    val est = Dedup.minhashEstimate(
        Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id1", "id2"), sigs)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est((0L, 1L)) === 1.0) // identical docs: every slot agrees
    assert(est((0L, 2L)) >= est((0L, 3L))) // near-dup ranks above unrelated
    assert(est.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("simhash: near-dups at small hamming distance, unrelated far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 32).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) === 0)
    assert(ham(sh(0L), sh(2L)) <= 6)
    assert(ham(sh(0L), sh(3L)) > 6)
  }

  test("brute-force cosine top-k: deterministic, self-excluded, k-bounded") {
    val embs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.9, 0.1, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)), (3L, Seq(0.0, 0.0, 1.0)))
      .toDF("vec_id", "v")
    val top = Similarity.bruteForceTopK(
      embs.filter(col("vec_id") === 0), embs, "vec_id", "v", 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(top.map(_._2).toSeq === Seq(1L, 2L)) // nearest then next
    assert(top.forall(_._2 != 0L))
  }

  test("LSH topk results are a subset-consistent ranking of brute force") {
    val r = new java.util.Random(7)
    val embs = (0L until 100L).map { i =>
      (i, Seq.fill(16)(r.nextGaussian()))
    }.toDF("vec_id", "v")
    val lsh = Similarity.lshTopK(embs.filter(col("vec_id") < 5), embs,
      "vec_id", "v", 3, planes = 4)
    // every LSH hit shares the query's sign bucket and is correctly ranked
    val rows = lsh.as[(Long, Long, Double, Int)].collect()
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._4).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("multi-probe LSH recovers recall lost to single-probe bucketing") {
    val r = new java.util.Random(11)
    val embs = (0L until 200L).map { i =>
      (i, Seq.fill(16)(r.nextGaussian()))
    }.toDF("vec_id", "v")
    val queries = embs.filter(col("vec_id") < 20)
    def hits(probes: Int) = Similarity.lshTopK(queries, embs, "vec_id", "v",
      3, planes = 6, probes = probes)
      .as[(Long, Long, Double, Int)].collect()
    val single = hits(0)
    val multi = hits(1)
    // multi-probe candidate set is a strict superset per query → at least as
    // many results, and per-query best cosine can only improve
    assert(multi.length >= single.length)
    val bestS = single.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val bestM = multi.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    bestS.foreach { case (q, s) => assert(bestM(q) >= s) }
    assert(multi.length > single.length) // with 6 planes / 200 vecs it must actually widen
  }

  test("IVF ANN: full probe ≡ brute force; partial probe is a subset ranking") {
    val r = new java.util.Random(5)
    val embs = (0L until 120L).map { i =>
      (i, Seq.fill(16)(r.nextGaussian()))
    }.toDF("vec_id", "v")
    val queries = embs.filter(col("vec_id") < 8)
    // probing EVERY cell makes the candidate set the whole corpus — must
    // reproduce brute force exactly (cells partition the corpus)
    val full = Similarity.ivfTopK(queries, embs, "vec_id", "v", 3,
      nCentroids = 8, nProbe = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, embs, "vec_id", "v", 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full === brute)
    // partial probe: k-bounded, self-excluded, ranks consistent
    val part = Similarity.ivfTopK(queries, embs, "vec_id", "v", 3,
      nCentroids = 8, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(part.forall(x => x._1 != x._2 && x._4 <= 3))
    part.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._4).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedding near-dup blocking finds planted duplicate vector") {
    val r = new java.util.Random(3)
    val base = Seq.fill(16)(r.nextGaussian())
    val embs = ((0L until 50L).map(i => (i, Seq.fill(16)(r.nextGaussian()))) :+
      (100L, base) :+ (101L, base.map(_ * 1.001)))
      .toDF("vec_id", "v")
    val dups = Dedup.embeddingNearDups(embs, "vec_id", "v", 0.99, planes = 4)
      .as[(Long, Long, Double)].collect()
    assert(dups.exists(d => d._1 == 100L && d._2 == 101L))
  }

  test("dedup clusters: transitive closure, numeric-min keeper") {
    // chain 2–5, 5–9 is ONE boilerplate family; 9–10 exercises the
    // zero-padding (lexicographic "10" < "9" must not pick keeper 10)
    val pairs = Seq((2L, 5L), (5L, 9L), (9L, 10L), (30L, 40L))
      .toDF("id1", "id2")
    val m = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(m === Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 10L -> 2L,
      30L -> 30L, 40L -> 30L))
    // negative ids: the offset encoding keeps numeric order (plain
    // zero-padding would map them to null / pick the wrong keeper)
    val neg = Dedup.dedupClusters(Seq((-9L, -5L), (-5L, 3L)).toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(neg === Map(-9L -> -9L, -5L -> -9L, 3L -> -9L))
  }

  test("tf-idf keywords: idf zeroes ubiquitous terms, tf boosts repeats") {
    val d = Seq(
      (0L, "apple apple banana common"),
      (1L, "banana cherry common"),
      (2L, "cherry cherry common common")).toDF("doc_id", "text")
    val top = TextStats.tfIdfTopK(d, "doc_id", "text", k = 1)
      .as[(Long, String, Double, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(top === Map(0L -> "apple", 1L -> "banana", 2L -> "cherry"))
    // 'common' appears in every doc → idf ln(1) = 0 everywhere
    val all = TextStats.tfIdfTopK(d, "doc_id", "text", k = 10)
      .as[(Long, String, Double, Int)].collect()
    assert(all.filter(_._2 == "common").forall(_._3 === 0.0))
  }

  test("hash-mod sampling: deterministic, repartition-invariant, rate-accurate") {
    import graft.datapipe.Sampling
    val docs = (0L until 4000L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "zh" else "de"))
      .toDF("doc_id", "lang")
    val fr = Map("en" -> 1.0, "zh" -> 0.5)
    val a = Sampling.stratified(docs, "doc_id", "lang", fr, default = 0.25)
      .as[(Long, String)].collect().toSet
    // invariant under physical layout — rand(seed) sampling is NOT
    val b = Sampling.stratified(docs.repartition(13), "doc_id", "lang", fr,
      default = 0.25).as[(Long, String)].collect().toSet
    assert(a === b)
    val byLang = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLang("en") === 1000) // fraction 1.0 keeps every row
    assert(math.abs(byLang("zh") - 500) < 100)
    assert(math.abs(byLang("de") - 500) < 100) // 2000 rows × 0.25
    // subset property: raising a fraction only ADDS rows (hash threshold)
    val smaller = Sampling.sampleFraction(docs, "doc_id", 0.2)
      .as[(Long, String)].collect().map(_._1).toSet
    val larger = Sampling.sampleFraction(docs, "doc_id", 0.4)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(smaller.subsetOf(larger))
  }

  test("dedup clusters ≡ brute-force union-find on randomized pair graphs") {
    val rnd = new scala.util.Random(23)
    (0 until 3).foreach { trial =>
      val n = 60
      val pairs = (0 until 80).map { _ =>
        val a = rnd.nextInt(n).toLong - 10 // includes negatives
        val b = rnd.nextInt(n).toLong - 10
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val got = Dedup.dedupClusters(pairs.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      // oracle: plain union-find over the same pairs
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val want = nodes.map(x => x -> find(x)).toMap
      assert(got === want, s"trial $trial diverged from union-find")
    }
  }

  test("decontamination ≡ brute-force n-gram intersection on random docs") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    def randText() =
      Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val corpusRows = (0L until 40L).map(i => (i, randText()))
    val benchRows = (100L until 104L).map(i => (i, randText()))
    val w = 3
    def gramsOf(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq
      if (toks.size >= w) toks.sliding(w).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val benchGrams = benchRows.flatMap(r => gramsOf(r._2)).toSet
    val want = corpusRows.flatMap { case (id, t) =>
      val hits = gramsOf(t).intersect(benchGrams)
      if (hits.isEmpty) None else Some(id -> (hits.size.toLong, hits.min))
    }.toMap
    val got = Dedup.decontaminate(corpusRows.toDF("doc_id", "text"),
        benchRows.toDF("doc_id", "text"), "doc_id", "text", n = w)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === want)
  }

  test("decontamination flags n-gram overlap with the benchmark, nothing else") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"), // contains bench gram
      (1L, "one two three four five six seven eight nine"),  // clean
      (2L, "x y alpha beta gamma delta epsilon pad pad"),    // shifted overlap
      (3L, "alpha beta gamma pad delta epsilon zeta"))       // broken gram — clean at n=5
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(hits.map(_._1).toSeq === Seq(0L, 2L))
    assert(hits.forall(_._3 === "alpha beta gamma delta epsilon"))
    assert(hits.forall(_._2 === 1L))
  }

  test("fused text counters ≡ the HOF formulations, field by field") {
    // adversarial edges: empty ("" splits to [""], count 1), whitespace-only,
    // non-space whitespace that Spark's space-only trim keeps (leading/
    // trailing empty tokens), CJK, punctuation runs, casing, fullwidth forms
    val edges = Seq("", " ", "   ", "\t", " \t ", "a", "the", "THE the In iS it",
      "word", "  leading sp", "trailing  ", "\ta\tb\n", "a  b", "多字 中文 test",
      "中文字符" * 25, "a.b,c;d:e!f?g", "!!!", ("longwordkeepsgoing " * 5).trim,
      "a\nb\nc\na", "İT IT it", "ＡＢＣ the", "of+and 10.0.0.1 a?b!c", "  ",
      "the the the a a of", "x   y") // NBSP is NOT \s: stays a token char
    val r = new java.util.Random(23)
    val vocab = Seq("the", "a", "of", "and", "to", "in", "is", "it", "fox",
      "catalyst", "多字", "中文", "x.y", "a,b", "??", "LongWordWithCase", "Ｘ")
    val random = (0 until 150).map { _ =>
      (0 until r.nextInt(25)).map(_ => vocab(r.nextInt(vocab.size)))
        .mkString(Seq(" ", "  ", "\t", "\n", " ")(r.nextInt(5)))
    }
    val df = (edges ++ random).zipWithIndex.map(_.swap).toDF("i", "text")
    val c = TextStats.textCounts(col("text"))
    val both = df.select(col("i"), col("text"),
      c.getField("char_count").as("n_char"), length(col("text")).as("h_char"),
      c.getField("token_count").as("n_tok"), ParityOracles.tokenCountHof(col("text")).as("h_tok"),
      c.getField("distinct_tokens").as("n_dis"), ParityOracles.distinctTokensHof(col("text")).as("h_dis"),
      c.getField("subword_count").as("n_sub"), ParityOracles.subwordCountHof(col("text")).as("h_sub"),
      c.getField("stopword_count").as("n_stop"), ParityOracles.stopwordCountHof(col("text")).as("h_stop"),
      c.getField("cjk_count").as("n_cjk"), ParityOracles.cjkCountHof(col("text")).as("h_cjk"),
      c.getField("punct_count").as("n_punct"), ParityOracles.punctCountHof(col("text")).as("h_punct"),
      c.getField("symbol_count").as("n_sym"), ParityOracles.symbolCountHof(col("text")).as("h_sym"))
    val bad = both.filter(
      col("n_char") =!= col("h_char") || col("n_tok") =!= col("h_tok") ||
      col("n_dis") =!= col("h_dis") || col("n_sub") =!= col("h_sub") ||
      col("n_stop") =!= col("h_stop") || col("n_cjk") =!= col("h_cjk") ||
      col("n_punct") =!= col("h_punct") || col("n_sym") =!= col("h_sym"))
      .collect()
    assert(bad.isEmpty, s"fused-counter divergence: ${bad.take(3).mkString("; ")}")
    // composite signals: pin the REBUILT quality/langid against the original
    // column formulations (the shape the DuckDB oracles mirror), including a
    // null row — least()/greatest() skip nulls, so quality(null) is 0.4 in
    // both formulations, not null
    def qualityHof(text: org.apache.spark.sql.Column) = {
      val n = length(text)
      val punctRatio = ParityOracles.punctCountHof(text).cast("double") /
        greatest(n, lit(1)).cast("double")
      val stopRatio = ParityOracles.stopwordCountHof(text).cast("double") /
        greatest(ParityOracles.tokenCountHof(text), lit(1)).cast("double")
      val lenScore = when(n.between(50, 2000), 1.0)
        .when(n.between(10, 5000), 0.5).otherwise(0.0)
      round(lenScore * 0.4 + least(stopRatio * lit(4.0), lit(1.0)) * 0.4 +
        (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * 0.2, 4)
    }
    def langIdHof(text: org.apache.spark.sql.Column) = {
      val n = greatest(length(text), lit(1))
      val stopRatio = ParityOracles.stopwordCountHof(text).cast("double") /
        greatest(ParityOracles.tokenCountHof(text), lit(1)).cast("double")
      when(ParityOracles.cjkCountHof(text).cast("double") / n.cast("double") > 0.3, "zh")
        .when(stopRatio > 0.02, "en")
        .otherwise("unk")
    }
    val withNull = df.unionByName(Seq((9999, null: String)).toDF("i", "text"))
    val badComposite = withNull.select(col("i"),
        TextStats.qualityScore(col("text")).as("q"), qualityHof(col("text")).as("hq"),
        TextStats.langId(col("text")).as("l"), langIdHof(col("text")).as("hl"))
      .filter(!(col("q") <=> col("hq")) || !(col("l") <=> col("hl")))
      .collect()
    assert(badComposite.isEmpty,
      s"composite divergence: ${badComposite.take(3).mkString("; ")}")
    // the struct itself null-propagates
    val nulls = Seq((0, null: String)).toDF("i", "text")
      .select(TextStats.textCounts(col("text")).as("c")).collect()(0)
    assert(nulls.isNullAt(0))
  }

  test("native sign bucket ≡ the HOF formulation, bit for bit") {
    val r = new java.util.Random(11)
    // row 300 is the EMPTY vector: the HOF null-propagates it to bucket 0
    // and the native loop must mirror that, not emit the all-ones bucket
    val embs = ((0L until 300L).map { i =>
      (i, Seq.fill(24)(r.nextGaussian()))
    } :+ (300L, Seq.empty[Double])).toDF("vec_id", "v")
    Seq(1, 4, 8, 16).foreach { planes =>
      val both = embs.select(col("vec_id"),
        Similarity.signBucket(col("v"), planes).as("native"),
        ParityOracles.signBucketHof(col("v"), planes).as("hof"))
      assert(both.filter(col("native") =!= col("hof")).count() === 0,
        s"sign-bucket divergence at planes=$planes")
    }
  }

  test("BestCell.round6 ≡ Spark round(_, 6), bit for bit") {
    val r = new java.util.Random(29)
    val xs = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.1234565, -0.1234565, 1.0000005, 0.9999995,
      0.12345649999999, -1.0, 1.0) ++
      Seq.fill(5000)(r.nextDouble() * 2 - 1) ++
      Seq.fill(1000)(r.nextGaussian() * 1e6) ++
      Seq.fill(1000)(r.nextGaussian() * 1e-6)
    xs.toDF("x").select(col("x"), round(col("x"), 6).as("r"))
      .collect().foreach { row =>
        val x = row.getDouble(0)
        val expect = row.getDouble(1)
        val got = graft.functions.BestCell.round6(x)
        assert(java.lang.Double.doubleToLongBits(expect) ==
          java.lang.Double.doubleToLongBits(got),
          s"round6($x): native $got vs Spark $expect")
      }
  }

  test("native best-cell assignment ≡ the max_by aggregate formulation") {
    val r = new java.util.Random(23)
    val embs = (0L until 200L).map(i => (i, Seq.fill(12)(r.nextGaussian())))
      .toDF("vec_id", "v")
    // duplicated centroid vectors under HIGHER cids force exact rounded
    // ties: the argmax must fall back to the min cid exactly as the
    // (csim, -cid) struct ordering did
    val cent0 = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val cent = cent0.unionAll(cent0.filter(col("cid") < 3)
      .select((col("cid") + 100).as("cid"), col("cv")))
    val corpus = embs.select(col("vec_id").as("id"), col("v"))
    val oldForm = corpus.join(broadcast(cent), lit(true))
      .select(col("id"), col("v"), col("cid"),
        round(Dedup.cosine(col("v"), col("cv")), 6).as("csim"))
      .groupBy("id")
      .agg(max_by(struct(col("v"), col("cid"), col("csim")),
        struct(col("csim"), (-col("cid")).as("nc"))).as("best"))
      .select(col("id"), col("best.cid").as("cid"), col("best.csim").as("csim"))
    val neu = Similarity.assignCells(corpus, cent).select("id", "cid", "csim")
    assert(neu.exceptAll(oldForm).count() === 0 &&
      oldForm.exceptAll(neu).count() === 0,
      "best-cell projection diverged from the max_by aggregate")
  }

  test("native vec-normalize ≡ the HOF chain, bit for bit") {
    val r = new java.util.Random(31)
    val embs = ((0L until 200L).map { i =>
      (i, Seq.fill(10)(r.nextGaussian() * math.pow(10, (i % 7).toInt - 3)))
    } :+ (200L, Seq.empty[Double]) :+ (201L, Seq(0.0, 0.0)))
      .toDF("vec_id", "v")
    val nrm = sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
    val both = embs.select(
      graft.functions.VecNormalize(col("v")).as("native"),
      transform(col("v"), x => x / greatest(nrm, lit(1e-12))).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() === 0,
      "vec-normalize divergence vs the HOF chain")
  }

  test("near-dup dense-bucket guard bounds the pair expansion") {
    // 400 copies of one direction land in ONE sign bucket — the quadratic
    // hazard class. With maxBucket below the clump the bucket is dropped
    // (pair count bounded); the sparse pair elsewhere still surfaces.
    val r = new java.util.Random(13)
    val dir = Seq.fill(16)(r.nextGaussian())
    val clump = (0L until 400L).map(i =>
      (i, dir.map(x => x * (1.0 + 0.0001 * i))))
    val other = Seq.fill(16)(r.nextGaussian())
    val pairDocs = Seq((900L, other), (901L, other.map(_ * 1.0001)))
    val embs = (clump ++ pairDocs).toDF("vec_id", "v")
    val guarded = Dedup.embeddingNearDups(embs, "vec_id", "v", 0.99,
      planes = 6, maxBucket = 64)
      .as[(Long, Long, Double)].collect()
    // the 400-member bucket would emit ~80k pairs unguarded
    assert(guarded.length < 2100, s"guard failed: ${guarded.length} pairs")
    assert(guarded.exists(d => d._1 == 900L && d._2 == 901L),
      "sparse-bucket pair lost to the guard")
    // and with the cap above the clump size the pairs come back
    val open = Dedup.embeddingNearDups(embs, "vec_id", "v", 0.99,
      planes = 6, maxBucket = 500)
      .as[(Long, Long, Double)].collect()
    assert(open.length > 70000, s"uncapped run should see the clump: ${open.length}")
  }

  test("planesFor sizes the bucket space to the corpus") {
    assert(Dedup.planesFor(1000, 64) === 4)
    assert(Dedup.planesFor(1000000, 64) === 14)
    assert(Dedup.planesFor(1000000000L, 64) === 24)
    assert(Dedup.planesFor(10, 64) === 4)   // floor
    assert(Dedup.planesFor(Long.MaxValue, 1) === 30) // ceiling
  }

  test("k-means centroid training: error descends, recall beats seed centroids") {
    // 4 planted clusters; ids 0..3 (the SEED centroids) all sit in cluster 0
    // so the seed layout starts degenerate and training must spread out
    val r = new java.util.Random(17)
    val centers = (0 until 4).map(c =>
      Seq.tabulate(12)(d => if (d % 4 == c) 5.0 else 0.0))
    val embs = (0L until 160L).map { i =>
      val c = if (i < 4) 0 else (i % 4).toInt
      (i, centers(c).map(x => x + 0.3 * r.nextGaussian()))
    }.toDF("vec_id", "v").localCheckpoint()
    val seed = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val trained = Similarity.trainCentroids(embs, "vec_id", "v", k = 4, iters = 6)
    val errSeed = Similarity.quantizationError(embs, seed, "vec_id", "v")
    val errTrained = Similarity.quantizationError(embs, trained, "vec_id", "v")
    assert(errTrained < errSeed,
      f"training did not descend: $errTrained%.4f vs seed $errSeed%.4f")
    val qs = embs.filter(col("vec_id") >= 150)
    val exact = Similarity.bruteForceTopK(qs, embs, "vec_id", "v", 10)
    def meanRecall(cent: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(
        Similarity.ivfTopK(qs, embs, "vec_id", "v", 10, nCentroids = 4,
          nProbe = 1, centroids = Some(cent)), exact, 10)
        .agg(avg("recall")).collect()(0).getDouble(0)
    val recallSeed = meanRecall(seed)
    val recallTrained = meanRecall(trained)
    assert(recallTrained > recallSeed,
      f"trained recall $recallTrained%.3f ≤ seed recall $recallSeed%.3f")
    assert(recallTrained > 0.9, f"trained recall too low: $recallTrained%.3f")
  }

  test("k-means refit tolerates ragged vectors: short dims keep the previous centroid") {
    // two 4-dim clusters plus a cluster of 2-dim vectors; seed 2 (ids 0..2
    // seed the layout) is itself short, so its cell has NO member with
    // dimensions 3 and 4 — their means are null and must fall back rather
    // than throw (element_at out of bounds under ANSI, or an NPE on the
    // null mean)
    val r = new java.util.Random(5)
    def noisy(v: Seq[Double]) = v.map(_ + 0.1 * r.nextGaussian())
    val embs = ((0L until 30L).map { i =>
      (i, i % 3 match {
        case 0 => noisy(Seq(5.0, 0.0, 1.0, 0.0))
        case 1 => noisy(Seq(0.0, 5.0, 0.0, 1.0))
        case _ => noisy(Seq(-3.0, -3.0))
      })
    }).toDF("vec_id", "v")
    val audit = Similarity.trainCentroidsAudited(embs, "vec_id", "v", k = 3, iters = 3)
    val cents = audit.centroids.as[(Long, Seq[Double])].collect().toMap
    assert(cents.size === 3)
    assert(cents.values.forall(cv => cv.size === 4 && cv.forall(x => !x.isNaN)),
      s"centroids: $cents")
    assert(cents(2L).drop(2) === Seq(0.0, 0.0), s"short cell: ${cents(2L)}")
    assert(audit.bestQe.compareTo(audit.seedQe) <= 0)
  }

  test("text stats / quality / langid expressions") {
    val row = docs.filter(col("doc_id") === 0).select(
      TextStats.tokenCount(col("text")).as("n"),
      TextStats.stopwordCount(col("text")).as("sw"),
      TextStats.langId(col("text")).as("lang"),
      TextStats.qualityScore(col("text")).as("q"))
      .collect()(0)
    assert(row.getInt(0) === 13)
    assert(row.getInt(1) === 3) // the, the, and
    assert(row.getString(2) === "en")
    assert(row.getDouble(3) > 0.5)
    val zh = Seq("这是一段完全中文的文本内容用来测试语言识别启发式规则").toDF("text")
      .select(TextStats.langId(col("text"))).collect()(0).getString(0)
    assert(zh === "zh")
  }

  test("repetition signals: dup-token/dup-line fractions and symbol ratio") {
    val rep = Seq(
      (0L, "spam spam spam spam"),                       // one distinct token
      (1L, "all words here are fully distinct tokens"),
      (2L, "head\nsame line\nsame line\ntail"),          // 1 of 4 lines repeated
      (3L, "a $$ b ## c %% d"))                          // 6 symbols / 7 tokens
      .toDF("doc_id", "text")
    val r = rep.select(col("doc_id"),
      TextStats.dupTokenFraction(col("text")).as("dt"),
      TextStats.dupLineFraction(col("text")).as("dl"),
      TextStats.symbolWordRatio(col("text")).as("sy"))
      .as[(Long, Double, Double, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(0L)._2 === 0.75)   // 1 - 1/4
    assert(r(1L)._2 === 0.0)
    assert(r(2L)._3 === 0.25)   // 1 - 3/4 lines
    assert(r(3L)._4 === 0.8571) // $$ ## %% = 6 symbol chars / 7 tokens, round 4
  }

  test("top-bigram fraction flags ngram-repetition boilerplate") {
    val rep = Seq(
      (0L, "buy now buy now buy now"),   // "buy now" 3× over 6 tokens → 1.0
      (1L, "each bigram here appears exactly once only"),
      (2L, "solo"))                      // <2 tokens → dropped
      .toDF("doc_id", "text")
    val r = TextStats.topBigramFraction(rep, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(r(0L) === 1.0)
    assert(r(1L) === 0.2857) // max bigram count 1, ×2 / 7 tokens, round 4
    assert(!r.contains(2L))
  }

  test("chunk dedup keeps only the first corpus-wide copy of a chunk") {
    val eight = "c1 c2 c3 c4 c5 c6 c7 c8"
    val rep = Seq(
      (0L, s"$eight unique0 tail0"),
      (1L, s"$eight unique1 tail1"),  // first 8-token chunk identical to doc 0's
      (2L, "totally fresh words with no shared chunk at all"))
      .toDF("doc_id", "text")
    val r = Dedup.chunkDedup(rep, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().map(x => x._1 -> x).toMap
    assert(r(0L)._2 === 2 && r(0L)._3 === 2)           // both chunks kept
    assert(r(1L)._2 === 2 && r(1L)._3 === 1)           // shared chunk dropped
    assert(r(1L)._4 === "unique1 tail1")               // reassembly skips it
    assert(r(0L)._4 === s"$eight unique0 tail0")
    assert(r(2L)._3 === 2)
  }

  test("boilerplate scrub removes >maxDocs chunks from EVERY doc, keeps the rest") {
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"   // in 3 docs > maxDocs=2 → dropped
    val pair = "p1 p2 p3 p4 p5 p6 p7 p8"     // in exactly 2 docs → kept
    val rep = Seq(
      (0L, s"$boiler own0 a"),
      (1L, s"$boiler $pair"),
      (2L, s"$boiler own2 c"),
      (3L, s"$pair solo3 d"),
      (4L, "fresh words only in this one document here ok"))
      .toDF("doc_id", "text")
    val r = Dedup.boilerplateScrub(rep, "doc_id", "text", maxDocs = 2)
      .as[(Long, Long, Long, String)].collect().map(x => x._1 -> x).toMap
    // boiler chunk dropped from ALL THREE docs — no first copy survives
    assert(r(0L) === ((0L, 2L, 1L, "own0 a")))
    assert(r(1L) === ((1L, 2L, 1L, pair)))   // pair chunk kept (2 docs ≤ max)
    assert(r(2L) === ((2L, 2L, 1L, "own2 c")))
    assert(r(3L) === ((3L, 2L, 0L, s"$pair solo3 d")))
    assert(r(4L)._3 === 0L)
    // a doc that is PURE boilerplate comes back empty, not missing
    val all = Seq((0L, boiler), (1L, boiler), (2L, boiler), (3L, boiler))
      .toDF("doc_id", "text")
    val e = Dedup.boilerplateScrub(all, "doc_id", "text", maxDocs = 2)
      .as[(Long, Long, Long, String)].collect()
    assert(e.length === 4 && e.forall(x => x._3 === 1L && x._4 === ""))
  }

  test("keepBest picks the highest-quality cluster member, ties to min id") {
    val clusters = Seq( // (id, cluster label) as dedupClusters emits
      (1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "keep_id")
    val quality = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9), (7L, 0.5), (8L, 0.2))
      .toDF("doc_id", "q")
    val r = Dedup.keepBest(clusters, quality, "doc_id", "q")
      .as[(Long, Long, Boolean)].collect().map(x => x._1 -> x).toMap
    // cluster {1,2,3}: 2 and 3 tie at 0.9 → min id 2 is the rep, NOT min-id 1
    assert(r(1L) === ((1L, 2L, false)))
    assert(r(2L) === ((2L, 2L, true)))
    assert(r(3L) === ((3L, 2L, false)))
    assert(r(7L) === ((7L, 7L, true)) && r(8L) === ((8L, 7L, false)))
    assert(r.size === 5)
  }

  test("mix rebalance: bottleneck stratum keeps all, rates hit target shares") {
    // en: 40 tokens, zh: 10 tokens; targets en .5 / zh .5 → X = min(40/.5,
    // 10/.5) = 20 → zh is the bottleneck (rate 1.0), en keeps .25 of tokens
    val d = Seq(
      (0L, "en", "w w w w w w w w w w"), (1L, "en", "w w w w w w w w w w"),
      (2L, "en", "w w w w w w w w w w"), (3L, "en", "w w w w w w w w w w"),
      (4L, "zh", "z z z z z z z z z z"),
      (5L, "xx", "dropped entirely no weight"))
      .toDF("doc_id", "lang", "text")
    val tc = size(split(trim(col("text")), "\\s+"))
    val rates = graft.datapipe.Sampling
      .rebalanceRates(d, "lang", tc, Map("en" -> 0.5, "zh" -> 0.5))
      .as[(String, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(rates("zh") === (("zh", 10L, 1.0)))
    assert(rates("en") === (("en", 40L, 0.25)))
    assert(!rates.contains("xx")) // unweighted stratum has no rate row
    val kept = graft.datapipe.Sampling
      .rebalance(d, "doc_id", "lang", tc, Map("en" -> 0.5, "zh" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(4L) && !kept.contains(5L)) // rate-1.0 row in, xx out
    // deterministic under repartitioning — the mix-manifest property
    val kept2 = graft.datapipe.Sampling
      .rebalance(d.repartition(7), "doc_id", "lang", tc,
        Map("en" -> 0.5, "zh" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === kept)
  }

  test("PII redaction scrubs emails, phones, IPv4 — order-safe") {
    val out = Seq("mail a.b+c@ex-ample.org then 555-0042-1234 via 10.0.0.7 done")
      .toDF("text").select(TextStats.redactPii(col("text"))).collect()(0).getString(0)
    assert(out === "mail <EMAIL> then <PHONE> via <IP> done")
    // an email containing dots must not be half-eaten by the IP pattern
    val tricky = Seq("x 1.2.3.4@host.com y").toDF("text")
      .select(TextStats.redactPii(col("text"))).collect()(0).getString(0)
    assert(tricky === "x <EMAIL> y")
  }

  test("ANN recall@k: multi-probe LSH ≥ single-probe, both ≤ brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val qs = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(qs, e, "vec_id", "v", 5)
    def avgRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, exact, 5)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
    val single = avgRecall(Similarity.lshTopK(qs, e, "vec_id", "v", 5, 8, 0))
    val multi = avgRecall(Similarity.lshTopK(qs, e, "vec_id", "v", 5, 8, 1))
    assert(multi >= single)
    assert(multi <= 1.0 + 1e-9)
    val brute = avgRecall(exact)
    assert(brute === 1.0) // recall of exact against itself is 1 by definition
  }

  test("multimodal: real ImageIO decode + stub features + frame sampling") {
    val media = Multimodal.mediaWithRealImages(spark, docs)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length === 5)
    // image rows (doc_id % 3 == 0): REAL PNG round-trip — the decoded dims
    // and channel means must equal the closed-form pixel function exactly
    val imgs = feats.filter(_.kind == "image")
    assert(imgs.nonEmpty)
    imgs.foreach { f =>
      val (w, h) = Multimodal.imgDims(f.doc_id)
      assert(f.img_w === Some(w) && f.img_h === Some(h),
        s"decoded dims diverge for doc ${f.doc_id}")
      val px = for (x <- 0 until w; y <- 0 until h)
        yield Multimodal.pixel(f.doc_id, x, y)
      def m(sel: ((Int, Int, Int)) => Int) =
        BigDecimal(px.map(sel).sum.toDouble / (w * h))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(f.mean_r === Some(m(_._1)) && f.mean_g === Some(m(_._2)) &&
        f.mean_b === Some(m(_._3)), s"decoded means diverge for doc ${f.doc_id}")
    }
    // audio/video rows: stub features, 8 strides, deterministic
    val avs = feats.filter(_.kind != "image")
    assert(avs.nonEmpty && avs.forall(_.feature.length === 8))
    assert(avs.forall(f => f.n_bytes > 0))
    // malformed image payload (not a PNG) → dead-letter None, no crash
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
    // with stand-in (non-WAV) audio payloads the audio rows dead-letter to
    // the stub leg: no audio fields, stride features intact
    assert(feats.filter(_.kind == "audio").forall(f =>
      f.audio_sr.isEmpty && f.feature.length == 8))
    val frames = Multimodal.sampleFrames(media)
    assert(frames.filter(col("frame_idx") === 0).count() ===
      media.filter(col("kind") === "video").count())
    assert(frames.filter(col("offset_ms") =!= col("frame_idx") * 1000).count() === 0)
  }

  test("multimodal: real AudioSystem WAV decode round-trips the sample function") {
    val media = Multimodal.mediaWithRealMedia(spark, docs)
    val audio = Multimodal.extractFeatures(spark, media).collect()
      .filter(_.kind == "audio")
    assert(audio.nonEmpty)
    audio.foreach { f =>
      val n = Multimodal.audioFrames(f.doc_id)
      assert(f.audio_sr === Some(8000) && f.audio_frames === Some(n.toLong),
        s"decoded rate/frames diverge for doc ${f.doc_id}")
      val ss = (0 until n).map { i =>
        val s = Multimodal.audioSample(f.doc_id, i) - 128; s.toLong * s
      }.sum
      val rms = BigDecimal(math.sqrt(ss.toDouble / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(f.audio_rms === Some(rms), s"decoded RMS diverges for doc ${f.doc_id}")
      // real decode leg → no stub features
      assert(f.feature.isEmpty)
    }
    // malformed audio payload (not a WAV) → dead-letter None, no crash
    assert(Multimodal.decodeAudio("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAudio(Array.emptyByteArray).isEmpty)
    // the WAV bytes are a REAL container: header magic present
    val wav = Multimodal.renderWav(7L)
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
  }

  test("committed-store incremental dedup: bucketed store grows, never re-shuffles, never re-admits") {
    import graft.core.Bucketing.BucketSpec
    val tbl = "dedup_committed_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val spec = BucketSpec("fp", 4)
    val day1 = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val s1 = Dedup.incrementalDedupCommit(day1, "doc_id", "text", tbl, spec)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 === Seq(1L, 3L)) // within-batch dup collapses to min id
    val day2 = Seq((10L, "alpha beta"), (11L, "delta")).toDF("doc_id", "text")
    val s2 = Dedup.incrementalDedupCommit(day2, "doc_id", "text", tbl, spec)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s2 === Seq(11L)) // committed key not re-admitted
    assert(spark.table(tbl).count() === 3) // store grew by the survivor only

    // plan pin: the committed side is read bucket-in-place — the ONLY
    // exchange in the anti-join is the batch side's fingerprint aggregate
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", spec.buckets)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val newKeys = day2
        .select(col("doc_id").as("id"),
          TextStats.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min(col("id")).as("id"))
      val j = newKeys.join(spark.table(tbl).select("fp"), Seq("fp"), "left_anti")
      j.collect()
      // AQE's toString echoes the pre-adaptive plan under "== Initial
      // Plan ==" — count exchanges in the FINAL plan section only
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val nExchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
      assert(nExchanges === 1,
        s"committed side must not shuffle (want 1 exchange, got $nExchanges):\n$plan")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("committed-store incremental FUZZY dedup: store screens near-dups, bucket-in-place reads") {
    import graft.core.Bucketing.BucketSpec
    val tbl = "fuzzy_committed_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val spec = BucketSpec("skey", 4)
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    val textC = "red orange yellow green blue indigo violet ultraviolet"
    val day1 = Seq((1L, textA), (2L, textA), (3L, textB)).toDF("doc_id", "text")
    val s1 = Dedup.incrementalFuzzyCommit(day1, "doc_id", "text", tbl, spec)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 === Seq(1L, 3L)) // within-batch near-dup collapses to min id
    assert(spark.table(tbl).count() === 8) // 2 survivors × 4 bands
    val day2 = Seq((10L, textA), (11L, textC), (12L, textC))
      .toDF("doc_id", "text")
    val s2 = Dedup.incrementalFuzzyCommit(day2, "doc_id", "text", tbl, spec)
      .select("id").as[Long].collect().sorted.toSeq
    // 10 hits the committed store (estimate 1.0 vs doc 1), 12 clusters
    // with 11 within the batch — only 11 survives
    assert(s2 === Seq(11L))
    assert(spark.table(tbl).count() === 12) // store grew by the survivor only

    // plan pins: the committed side is read bucket-in-place
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", spec.buckets)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // (a) the per-bucket count guard groups ON the bucketing key —
      // zero Exchange anywhere in the plan
      val okStore = spark.table(tbl).groupBy("skey")
        .agg(count(lit(1)).as("_n")).filter(col("_n") <= 64).select("skey")
      okStore.collect()
      val pAgg = okStore.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!pAgg.contains("Exchange"),
        s"store-side bucket-count guard must not shuffle the store:\n$pAgg")
      // (b) the candidate join shuffles ONLY the batch side: one Exchange
      val skeyed = Dedup.bandsOfSigs(
          Dedup.minhashSigsMd5(day2, "doc_id", "text", 8, 3))
        .select(col("id"),
          md5(concat_ws("|", col("band").cast("string"), col("key")))
            .as("skey"))
        .localCheckpoint()
      val j = skeyed.join(spark.table(tbl)
        .select(col("skey"), col("id").as("kept_id"), col("sig").as("kept_sig")),
        Seq("skey"))
      j.collect()
      val pJoin = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val nEx = pJoin.sliding("Exchange".length).count(_ == "Exchange")
      assert(nEx === 1,
        s"store side of the candidate join must not shuffle (want 1 exchange, got $nEx):\n$pJoin")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("fuzzy store replay: re-delivered batch reproduces survivors, no duplicate append") {
    import graft.core.Bucketing.BucketSpec
    val tbl = "fuzzy_replay_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val spec = BucketSpec("skey", 4)
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    val day1 = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    Dedup.incrementalFuzzyCommit(day1, "doc_id", "text", tbl, spec, batchId = 0L)
    val day2 = Seq((10L, textA), (11L, "totally fresh words here milk bread"))
      .toDF("doc_id", "text")
    val first = Dedup.incrementalFuzzyCommit(day2, "doc_id", "text", tbl, spec,
        batchId = 1L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(first === Seq(11L)) // 10 screened out by the committed store
    val rowsAfterFirst = spark.table(tbl).count()
    // simulate the crash seam: the store append happened, the epoch commit
    // did not, and the batch is re-delivered with the SAME batch id
    val replay = Dedup.incrementalFuzzyCommit(day2, "doc_id", "text", tbl, spec,
        batchId = 1L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(replay === first,
      "replayed batch must reproduce its original survivor set")
    assert(spark.table(tbl).count() === rowsAfterFirst,
      "replayed batch must not append its signatures twice")
  }

  test("bucketed LM-model store: scoring matches in-session model, model side never shuffles") {
    import graft.core.Bucketing.BucketSpec
    import graft.datapipe.LmScore
    val tbl = "lm_model_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "the cat and the dog sat")).toDF("doc_id", "text")
    val model = LmScore.train(docs, "text", minCount = 2L)
    LmScore.commitModel(model, tbl, BucketSpec("w", 4))
    val direct = LmScore.score(docs, model, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val stored = LmScore.scoreFromStore(docs, tbl, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(stored === direct)

    // plan pin: with aligned widths the model side reads bucket-in-place —
    // the scoring join's ONLY exchange is the document side's distinct-word
    // aggregate landing on the model's partitioning
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docSide = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val j = docSide.join(spark.table(tbl), Seq("w"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val nEx = p.sliding("Exchange".length).count(_ == "Exchange")
      assert(nEx === 1,
        s"model side of the scoring join must not shuffle (want 1 exchange, got $nEx):\n$p")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("duplicate-span scrub removes every occurrence but the first, keeps unique text intact") {
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val span = (1 to 4).map(i => s"dup$i").mkString(" ") // the repeated 4-gram
    val d1 = s"$span tail1 tail2"            // canonical (first) occurrence
    val d2 = s"head1 head2 $span end"        // later occurrence → scrubbed
    val d3 = "only unique words here now"    // untouched
    val got = TextStats.scrubDuplicateSpans(
        Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text"),
        "doc_id", "text", n = 4)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 6L, 0L, m(d1))))             // first occurrence kept whole
    assert(got(2L) === ((2L, 7L, 4L, m("head1 head2 end")))) // span excised, rest joined
    assert(got(3L) === ((3L, 5L, 0L, m(d3))))
  }

  test("duplicate-span scrub: within-doc repeat keeps only the first copy") {
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val span = (1 to 3).map(i => s"r$i").mkString(" ")
    val doc = s"$span mid $span" // 3-gram repeated within one doc
    val got = TextStats.scrubDuplicateSpans(
        Seq((7L, doc)).toDF("doc_id", "text"), "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect().head
    assert(got === ((7L, 7L, 3L, m(s"$span mid"))))
  }

  test("LM score matches a hand-computed unigram model with OOV floor") {
    // corpus: "a a a b b c" across two docs → counts a=3 b=2 c=1, total=6;
    // minCount=2 prunes c. logp(a)=ln(3/6), logp(b)=ln(2/6), OOV floor -12.
    val docs = Seq((1L, "a a b"), (2L, "a b c"), (3L, "z z")).toDF("doc_id", "text")
    val model = LmScore.train(docs.where($"doc_id" <= 2), "text", minCount = 2L)
    val m = model.as[(String, Double)].collect().toMap
    assert(m.keySet === Set("a", "b"))
    assert(math.abs(m("a") - math.log(3.0 / 6.0)) < 1e-12)
    assert(math.abs(m("b") - math.log(2.0 / 6.0)) < 1e-12)
    val got = LmScore.score(docs, model, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val la = math.log(0.5); val lb = math.log(2.0 / 6.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === ((3L, r6((2 * la + lb) / 3))))       // all in-vocab
    assert(got(2L) === ((3L, r6((la + lb - 12.0) / 3))))    // c → OOV floor
    assert(got(3L) === ((2L, -12.0)))                       // all-OOV doc
  }

  test("char entropy: uniform text = ln(alphabet), floods = 0, empty = no row") {
    val df = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "abcd"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextStats.charEntropy(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === ((4L, r6(math.log(2)))))  // two symbols, even split
    assert(got(2L) === ((4L, 0.0)))              // single-char flood
    assert(got(3L) === ((4L, r6(math.log(4))))) // uniform over 4 symbols
    assert(!got.contains(4L), "empty doc must produce no row")
  }

  test("hot-key report: exact counts, deterministic tie-break, top-k plan") {
    import graft.datapipe.Profile
    val df = (Seq.fill(5)(1L) ++ Seq.fill(3)(3L) ++ Seq.fill(3)(2L) ++ Seq(4L))
      .map(k => (k, "x")).toDF("k", "v")
    val got = Profile.hotKeys(df, "k", 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 5L, 0.416667), (2L, 3L, 0.25), (3L, 3L, 0.25)))
    // the public hotKeys localCheckpoints its k rows (cache lifecycle), so
    // the no-global-sort pin inspects the lazy report shape directly
    val counts = df.groupBy($"k".as("key")).agg(count(lit(1)).as("n"))
    val plan = Profile.hotKeysOf(counts, 12.0, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a full global sort:\n$plan")
  }

  test("column profile: null and distinct counts per column, long form") {
    import graft.datapipe.Profile
    val df = Seq((1L, Option("a")), (2L, None), (3L, Option("a")))
      .toDF("id", "s")
    val got = Profile.columnProfile(df, Seq("id", "s"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("id") === (("id", 3L, 0L, 3L)))
    assert(got("s") === (("s", 3L, 1L, 1L)))
  }

  test("interpolated bigram LM matches a hand-computed model") {
    // corpus "a b a b c": p1(a)=p1(b)=0.4, p1(c)=0.2;
    // pc(a,b)=1, pc(b,a)=0.5, pc(b,c)=0.5 (contexts a=2, b=2)
    val ref = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val uni = LmScore.trainProbs(ref, "text", minCount = 1L)
    val big = LmScore.trainBigram(ref, "text", minCount = 1L)
    assert(big.as[(String, String, Double)].collect().toSet ===
      Set(("a", "b", 1.0), ("b", "a", 0.5), ("b", "c", 0.5)))
    val docs = Seq((1L, "a b a b c"), (2L, "z a"), (3L, "a")).toDF("doc_id", "text")
    val got = LmScore.scoreInterpolated(docs, uni, big, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fl = LmScore.FloorProb
    // doc1: ln(.4) + ln(.75·1+.25·.4) + ln(.75·.5+.25·.4) + ln(.85) + ln(.75·.5+.25·.2)
    val d1 = (math.log(0.4) + 2 * math.log(0.85) + math.log(0.475) +
      math.log(0.425)) / 5
    assert(got(1L) === ((5L, r6(d1))))
    // doc2: first token OOV → floor; bigram (z,a) unseen → unigram leg only
    val d2 = (math.log(fl) + math.log(0.25 * 0.4)) / 2
    assert(got(2L) === ((2L, r6(d2))))
    // doc3: single token — no bigram positions at all
    assert(got(3L) === ((1L, r6(math.log(0.4)))))
  }

  test("LM score: all-whitespace doc yields no row; higher-quality doc scores higher") {
    val ref = Seq((1L, "the cat sat on the mat the cat")).toDF("doc_id", "text")
    val model = LmScore.train(ref, "text", minCount = 2L)
    val docs = Seq((10L, "the cat"), (11L, "zq xv"), (12L, "   ")).toDF("doc_id", "text")
    val got = LmScore.score(docs, model, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(!got.contains(12L), "whitespace-only doc must produce no row")
    assert(got(10L) > got(11L), "reference-like text must outscore gibberish")
  }

  private def md5Boundary(w: String, k: Int): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(d.substring(0, 8), 16) % k == 0
  }

  test("CDC chunking matches the sequential rolling-boundary reference") {
    val words = (0 until 220).map(i => s"w$i")
    val text = words.mkString(" ")
    val got = Dedup.cdcChunks(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", avgWords = 32)
      .orderBy("chunk_id").as[(Long, Long, String, Long)].collect().toSeq
    // sequential reference: boundary word starts a new chunk (never the 1st)
    val chunks = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer[String]())
    words.foreach { w =>
      if (md5Boundary(w, 32) && chunks.last.nonEmpty)
        chunks += scala.collection.mutable.ArrayBuffer[String]()
      chunks.last += w
    }
    assert(chunks.length >= 4, "fixture too short to exercise boundaries")
    val want = chunks.zipWithIndex.map { case (c, i) =>
      val s = c.mkString(" ")
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (1L, i.toLong, d, c.length.toLong)
    }.toSeq
    assert(got === want)
  }

  test("native CDC walk ≡ aggregate-HOF formulation (fuzz parity)") {
    val rnd = new scala.util.Random(7)
    val atoms = Seq("w1", "w2", "alpha", "beta", "名词", " ", "  ", "\t",
      "x", "") // whitespace atoms exercise empty-token handling
    val docs = (1 to 200).map(i => (i.toLong,
      (0 until rnd.nextInt(60)).map(_ => atoms(rnd.nextInt(atoms.size)))
        .mkString(" "))).toDF("doc_id", "text")
    val a = Dedup.cdcChunks(docs, "doc_id", "text", avgWords = 8)
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    val b = ParityOracles.cdcChunksHof(docs, "doc_id", "text", avgWords = 8)
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(a === b)
  }

  test("CDC chunks are shift-resistant where the fixed grid is not") {
    val words = (0 until 220).map(i => s"w$i")
    val base = words.mkString(" ")
    val shifted = "inserted " + base // one word prepended
    val df = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val byDoc = Dedup.cdcChunks(df, "doc_id", "text", avgWords = 32)
      .as[(Long, Long, String, Long)].collect().groupBy(_._1)
    val h1 = byDoc(1L).map(_._3).toSet
    val h2 = byDoc(2L).map(_._3).toSet
    // rolling boundaries re-sync after the first boundary word: every base
    // chunk except the head survives in the shifted doc
    assert((h1 intersect h2).size >= h1.size - 1)
    // the fixed 8-token grid shares nothing after a 1-word shift
    val fixedShared = Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 8)
      .where(col("n_kept") < col("n_chunks")).count()
    assert(h1.size >= 4 && fixedShared === 0,
      s"grid unexpectedly shift-tolerant (shared rows=$fixedShared)")
  }
}
