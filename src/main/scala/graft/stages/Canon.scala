package graft.stages

import graft.core.DriverBound
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 4 — entity canonicalization: alias edges → connected components.
  *
  * The reference merges entities through two mechanisms:
  *  1. alias predicates 别名/俗称/别称/又名 (ReligionGraph.kt:10, 24–29);
  *  2. the driver-side id cache that reuses an existing node whenever a
  *     CACHED name `contains` the new name and the cached labels ⊇ the query
  *     labels (Neo4jIdCache.kt:8–15) — order-dependent first-match.
  *
  * First-match insertion order is nondeterministic under parallelism, so the
  * rebuild defines the deterministic closure (SURVEY.md §7.4): build an
  * undirected alias graph from (1) alias-pred pairs and (2) containment pairs
  * {a, b : a ≠ b, a contains b, |b| ≥ 2, labels(b) ⊆ labels(a)}, then take
  * canonical(x) = lexicographically-smallest name in x's component. The P/R
  * gate (≥0.95) absorbs the divergence from the reference's order-dependent
  * behavior; the oracle implements this same deterministic rule.
  */
object Canon {

  /** Unified target-label rule — the union of the three crawl pipelines'
    * rules (GovernmentGraph.kt:7–10, CompanyGraph.kt:9–13,
    * ReligionGraph.kt:21–32): label(s) assigned to a triple's object. */
  def targetLabelExpr(pred: Column, subjIsReligion: Column): Column =
    when(pred.isin("机场", "火车站"), lit("交通设施"))
      .when(pred.isin("创办人", "创始人"), lit("经济人物"))
      .when(pred.isin("开发商", "发行商", "主办单位", "开发公司"), lit("公司"))
      .when(pred.isin("教派", "学派", "所属宗教", "隶属"), lit("宗教"))
      .when(pred === "主要人物", lit("宗教人物"))
      .when(pred.isin("别名", "俗称", "别称", "又名"),
        when(subjIsReligion, lit("宗教")).otherwise(lit("人物")))
      .otherwise(pred)

  /** The union rule as a stable function VALUE — the default `labelRule`
    * everywhere, and the identity the driver fast path checks (it only
    * mirrors the UNION semantics). */
  val unionLabelRule: (Column, Column) => Column = targetLabelExpr

  /** Same rule for the single-threaded oracle. */
  def targetLabel(pred: String, subjIsReligion: Boolean): String = pred match {
    case "机场" | "火车站" => "交通设施"
    case "创办人" | "创始人" => "经济人物"
    case "开发商" | "发行商" | "主办单位" | "开发公司" => "公司"
    case "教派" | "学派" | "所属宗教" | "隶属" => "宗教"
    case "主要人物" => "宗教人物"
    case "别名" | "俗称" | "别称" | "又名" => if (subjIsReligion) "宗教" else "人物"
    case p => p
  }

  /** name → sorted label set, from CATEGORY_ZH triples (subjects,
    * AbstractSubjectGraph.kt:19) + target-label rule (objects). The rule
    * defaults to the engine's union-of-pipelines expression; a
    * single-pipeline replay (CrawlMain) passes its own
    * `Rules.PipelineRules.labelCol`. */
  def nodeLabels(kbTriples: DataFrame, categoryPred: String,
                 labelRule: (Column, Column) => Column = unionLabelRule)
      : DataFrame = {
    val cat = kbTriples.filter(col("pred") === categoryPred)
      .select(col("subj").as("name"), col("obj").as("label"))
    val religious = cat.filter(col("label") === "宗教")
      .select(col("name").as("subj"), lit(true).as("subj_rel")).distinct()
    val objLabels = kbTriples
      .join(broadcast(religious), Seq("subj"), "left")
      .select(col("obj").as("name"),
        labelRule(col("pred"), coalesce(col("subj_rel"), lit(false))).as("label"))
    cat.unionByName(objLabels)
      .groupBy("name").agg(sort_array(collect_set(col("label"))).as("labels"))
  }

  /** Containment-alias candidate pairs via bigram blocking: if container `a`
    * contains `b`, then b's first bigram is one of a's bigrams — so the
    * quadratic theta-join becomes an equi-join on a bigram key (SURVEY.md
    * §4.2.3). Fan-out is O(len(name)) per name, independent of corpus size. */
  def containmentEdges(named: DataFrame): DataFrame = {
    val bigrams = transform(
      sequence(lit(1), length(col("name")) - 1),
      i => col("name").substr(i, lit(2)))
    val containers = named
      .filter(length(col("name")) >= 2)
      .select(col("name").as("a"), col("labels").as("a_labels"),
        explode(array_distinct(bigrams)).as("bigram"))
    val contained = named
      .filter(length(col("name")) >= 2)
      .select(col("name").as("b"), col("labels").as("b_labels"),
        substring(col("name"), 1, 2).as("bigram"))
    containers.join(contained, Seq("bigram"))
      .filter(col("a") =!= col("b") &&
        col("a").contains(col("b")) &&
        forall(col("b_labels"), l => array_contains(col("a_labels"), l)))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Iterative min-label propagation connected components over undirected
    * edges — the north-star CC kernel (SURVEY.md §2.6 G5). Hot components
    * (celebrity roots / hub aliases) are handled with an explicit two-phase
    * salted min-aggregate; lineage is truncated with localCheckpoint every
    * `checkpointEvery` rounds.
    *
    * @return (name, comp) where comp = lexicographically-min name reachable.
    */
  /** Last iterative-kernel round count — a test/diagnostic seam written by
    * [[connectedComponents]] and [[ccLogRounds]] (0 after a driver fast
    * path). */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Driver union-find over a symmetric edge frame when it fits under
    * `threshold` — ONE bounded collect job ([[DriverBound]]) instead of
    * O(rounds) shuffle rounds; shared by both iterative kernels. */
  private def driverCc(sym: DataFrame, threshold: Long): Option[DataFrame] = {
    val spark = sym.sparkSession
    import spark.implicits._
    DriverBound.collect(sym.as[(String, String)], threshold).map { pairs =>
      val parent = scala.collection.mutable.HashMap[String, String]()
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // sym is symmetric → every node occurs as src
      val nodes = pairs.iterator.map(_._1).toSet
      lastCcRounds = 0
      nodes.iterator.map(n => (n, find(n))).toSeq.toDF("name", "comp")
    }
  }

  def connectedComponents(edges: DataFrame, salt: Int = 16,
                          checkpointEvery: Int = 3,
                          driverThreshold: Long = 0L): DataFrame = {
    val e = edges.toDF("src", "dst")
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()

    // The alias graph is KB-bounded (it grows with the dictionary, not the
    // corpus), so it usually fits the driver: a collected union-find costs
    // one job instead of O(diameter) shuffle rounds. The iterative kernel
    // below remains the path for an unbounded alias graph.
    val fast = driverCc(sym, driverThreshold)
    if (fast.isDefined) return fast.get

    var comp = sym.select(col("src").as("name")).distinct()
      .withColumn("comp", col("name"))
      .localCheckpoint()

    var changed = 1L
    var iter = 0
    var prevCached: DataFrame = null
    while (changed > 0) {
      // min over neighbors' components; two-phase (salted) aggregate so a
      // hot node with 10^8 neighbors never lands on one reducer.
      val nbrMin = sym
        .join(comp.withColumnRenamed("name", "dst"), Seq("dst"))
        .groupBy(col("src"), pmod(xxhash64(col("dst")), lit(salt)).as("_salt"))
        .agg(min(col("comp")).as("c1"))
        .groupBy(col("src")).agg(min(col("c1")).as("nbr_comp"))

      val next = comp
        .join(nbrMin.withColumnRenamed("src", "name"), Seq("name"), "left")
        .select(col("name"), col("comp").as("old_comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))

      val materialized =
        if ((iter + 1) % checkpointEvery == 0) next.localCheckpoint()
        else next.cache()
      changed = materialized.filter(col("comp") =!= col("old_comp")).count()
      // the previous iteration's cache is superseded the moment the new one
      // is materialized — unpersist it, or a long CC run accumulates every
      // iteration in the MemoryStore
      if (prevCached != null) prevCached.unpersist()
      prevCached = if ((iter + 1) % checkpointEvery == 0) null else materialized
      comp = materialized.select("name", "comp")
      iter += 1
    }
    if (prevCached != null) {
      comp = comp.localCheckpoint() // detach the result from the cache...
      prevCached.unpersist()        // ...then release the final iteration
    }
    lastCcRounds = iter
    comp
  }

  /** Connected components in O(log n) shuffle rounds — the alternating
    * large-star/small-star kernel (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014). [[connectedComponents]]' min-propagation
    * pays one full shuffle round PER HOP of component diameter; the
    * corpus-scale dedup pair graph (Dedup.dedupClusters) carries near-dup
    * CHAINS from template drift whose diameter, at 100 TB, would make hop
    * count the wall-clock. Star rounds instead halve the tree height each
    * alternation, independent of diameter.
    *
    * Each round: large-star hangs every neighbor v > u of each center u
    * onto m = min(N(u) ∪ {u}); small-star then hangs the smaller neighbors
    * (and u itself) onto the local min. Both are ordinary two-phase min
    * aggregates + equi-joins — hub centers are absorbed by map-side partial
    * aggregation and the AQE skew join, no explicit salting needed.
    * Convergence = the oriented edge set reaches its fixed point (stars
    * pointing at component minima), detected by a (count, hash-sum)
    * signature; lineage is truncated every round (the round count is
    * logarithmic, so checkpoint cost is bounded).
    *
    * Same contract as [[connectedComponents]] (parity-tested on randomized
    * graphs in CcHygieneSpec): undirected (src, dst) edges in, (name,
    * comp = lexicographically-smallest reachable name) out, nodes with no
    * edges absent. */
  def ccLogRounds(edges: DataFrame, driverThreshold: Long = 0L,
                  maxRounds: Int = 64): DataFrame = {
    val e0 = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))

    if (driverThreshold > 0) {
      // lazy sym — the probe-only path: driverCc's limit-folded collect is
      // its single materialization (no checkpoint: on bail the iterative
      // kernel below re-derives its own oriented set from e0)
      val sym = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val fast = driverCc(sym, driverThreshold)
      if (fast.isDefined) return fast.get
    }

    def sig(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent, collision-safe enough next to
      // the count, and cannot overflow under ANSI arithmetic
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    // canonical orientation: src > dst (small-star's input contract, and a
    // stable representation for the convergence signature)
    var e = e0.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()
    var prev = e
    var prevSig = sig(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // large-star: m(u) = min over N(u) ∪ {u}; emit (v, m) for v > u.
      // Each undirected edge is emitted exactly once — from its smaller
      // endpoint's center (the larger endpoint sees a smaller neighbor).
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val lmins = sym.groupBy("src")
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = sym.join(lmins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct() // m ≤ u < v ⇒ already src > dst oriented, no self loops
      // small-star on the (src > dst)-oriented set: m(u) = min(N_small(u));
      // emit (v, m) for v ∈ N_small(u) \ {m}, plus (u, m)
      val smins = ls.groupBy("src").agg(min(col("dst")).as("m"))
      val ss = ls.join(smins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(smins.select(col("src"), col("m").as("dst")))
        .distinct()
      e = ss.localCheckpoint()
      val s = sig(e)
      rounds += 1
      if (s == prevSig) {
        // the signature is a (count, xor-hash) fingerprint — a collision
        // (or an xor-cancelling edge swap at equal count) would otherwise
        // terminate early and SILENTLY emit a non-star, wrong component
        // map. Confirm the one candidate round with a real set equality:
        // counts already match (part of the signature), so one-directional
        // except-emptiness proves the sets equal. Runs at most once per
        // true convergence plus once per (astronomically rare) collision.
        if (e.except(prev).isEmpty) converged = true
      } else prevSig = s
      prev = e
    }
    if (!converged)
      throw new IllegalStateException(
        s"ccLogRounds did not converge in $maxRounds star rounds")
    lastCcRounds = rounds
    // fixed point: every edge is (node, component-min); roots map to themselves
    e.select(col("src").as("name"), col("dst").as("comp"))
      .unionByName(e.select(col("dst").as("name"), col("dst").as("comp")).distinct())
  }

  /** The driver image of the canonical-map dataflow over an already-local
    * KB triple set — labels, containment+alias union-find, non-identity
    * pairs — [[canonicalMap]]'s fast path. Returns None when the name set
    * exceeds the quadratic containment loop's sane bound (the caller falls
    * back to the bigram-blocked dataflow). Semantics identical to the
    * dataflow path — parity-tested in KgParitySpec. */
  private def canonicalMapLocal(
      rows: Iterable[(String, String, String)], categoryPred: String,
      aliasPreds: Set[String]): Option[Seq[(String, String)]] = {
    val labelMap = scala.collection.mutable.HashMap[String, scala.collection.mutable.Set[String]]()
    def addLabel(n: String, l: String): Unit =
      labelMap.getOrElseUpdate(n, scala.collection.mutable.HashSet[String]()) += l
    val religious = rows.collect {
      case (s, p, o) if p == categoryPred && o == "宗教" => s }.toSet
    rows.foreach { case (s, p, o) =>
      if (p == categoryPred) addLabel(s, o)
      addLabel(o, targetLabel(p, religious.contains(s)))
    }
    val names = labelMap.keySet.toVector.sorted
    // the quadratic containment loop is only sane for small name sets;
    // larger dictionaries use the bigram-blocked dataflow
    if (names.size > 20000) return None
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    for (a <- names; b <- names)
      if (a != b && b.length >= 2 && a.contains(b) &&
        labelMap(b).subsetOf(labelMap(a))) union(a, b)
    rows.foreach { case (s, p, o) => if (aliasPreds.contains(p)) union(s, o) }
    Some(names.map(n => (n, find(n))).filter(x => x._1 != x._2))
  }

  /** Full canonical map for a KB triple set: name → canonical name (only
    * names whose canonical differs are returned — the join side stays small). */
  def canonicalMap(kbTriples: DataFrame, categoryPred: String,
                   aliasPreds: Set[String],
                   ccDriverThreshold: Long = 0L,
                   labelRule: (Column, Column) => Column = unionLabelRule,
                   precomputedLabels: Option[DataFrame] = None)
      : DataFrame = {
    // fast path: the whole alias graph derives from the KB triples, which
    // are dictionary-bounded — when they fit the driver, one collect
    // replaces the label/blocking/CC dataflow (which remains the unbounded
    // path and is parity-tested against this one in KgParitySpec)
    // the fast path recomputes labels from kbTriples, so it must also be
    // OFF when the caller supplies its own label frame — not just when the
    // rule differs (a supplied frame can diverge from the recomputation)
    if (ccDriverThreshold > 0 && (labelRule eq unionLabelRule) &&
        precomputedLabels.isEmpty) {
      val spark = kbTriples.sparkSession
      import spark.implicits._
      val fast = DriverBound.collect(
          kbTriples.select("subj", "pred", "obj").as[(String, String, String)],
          ccDriverThreshold)
        // None from canonicalMapLocal: name set too large for the quadratic
        // loop — dataflow
        .flatMap(canonicalMapLocal(_, categoryPred, aliasPreds))
      if (fast.isDefined) return fast.get.toDF("name", "comp")
    }

    val labels = precomputedLabels.getOrElse(
      nodeLabels(kbTriples, categoryPred, labelRule))
    val aliasEdges = kbTriples
      .filter(col("pred").isin(aliasPreds.toSeq: _*))
      .select(col("subj").as("a"), col("obj").as("b"))
    val edges = containmentEdges(labels).unionByName(aliasEdges).distinct()
    // log-rounds star kernel: the alias graph is usually shallow, but its
    // containment chains (nested names) give it diameter too, and the star
    // kernel costs no more on shallow graphs (2–3 rounds)
    ccLogRounds(edges, driverThreshold = ccDriverThreshold)
      .filter(col("comp") =!= col("name"))
  }

  /** Rewrite subj/obj through the canonical map (left joins — names outside
    * the map, e.g. the prefixed weibo ids, pass through untouched). */
  def canonicalize(triples: DataFrame, canonMap: DataFrame): DataFrame = {
    val m = broadcast(canonMap)
    triples
      .join(m.withColumnRenamed("name", "subj").withColumnRenamed("comp", "subj_c"),
        Seq("subj"), "left")
      .join(m.withColumnRenamed("name", "obj").withColumnRenamed("comp", "obj_c"),
        Seq("obj"), "left")
      .select(
        coalesce(col("subj_c"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("obj_c"), col("obj")).as("obj"),
        col("doc_id"), col("span_offset"))
  }
}
