package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact → MinHash/LSH → SimHash → n-gram Jaccard →
  * embedding-cosine. Each is shaped for 100 TB: candidate generation is
  * always an equi-join on a hash/band/bucket key (shuffle on a small key,
  * never an all-pairs product); exact similarity runs only inside buckets.
  */
object Dedup {

  // ---- exact ----------------------------------------------------------------

  /** Exact dedup via content hash: one row kept per normalized-text group
    * (two-phase hash aggregate; min doc_id is the deterministic survivor). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(count("*").as("n_dups"), min(col(idCol)).as("keep_id"))

  // ---- MinHash + LSH ---------------------------------------------------------

  /** w-shingles (word n-grams) of the token array. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextStats.tokens(text)
    when(size(toks) >= w,
      transform(sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** (id, sh) — one row per w-shingle, equivalent to
    * `explode(shingles(...))` but CODEGEN-SHAPED: the `transform` HOF is
    * interpreted and allocates the whole shingle-string array per row
    * before exploding; here only the (cheap) index sequence explodes and
    * each shingle string is built by codegen'd slice+concat_ws in the
    * post-explode projection — the dominant cost of every minhash/LSH and
    * decontamination pass. */
  private[datapipe] def shingleRows(docs: DataFrame, idCol: String,
                                    textCol: String, w: Int): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    docs.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"),
        explode(sequence(lit(1),
          greatest(size(col("toks")) - (w - 1), lit(1)))).as("i"))
      // slice clamps at the array end and the short-doc branch always has
      // i = 1, so one spelling covers both cases (no conditional needed)
      .select(col("id"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(w))).as("sh"))
  }

  /** MinHash signatures, (id, sig array<long>), xxhash64 family.
    *
    * SHAPE MATTERS: higher-order functions (transform/aggregate) are
    * INTERPRETED — no codegen, no common-subexpression elimination — so a
    * per-row `array(min(transform(shingles…)) × numHashes)` expression
    * re-builds the shingle array once per hash function per row (measured
    * 26 s for 5 000 docs). Instead: explode shingles ONCE, hash each with
    * codegen'd scalar functions, and min-reduce with a two-phase hash
    * aggregate — identical math, map-side-combined shuffle of one narrow
    * row per doc. */
  def minhashSigs(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int, w: Int = 3): DataFrame =
    shingleRows(docs, idCol, textCol, w)
      .groupBy("id")
      .agg(array((0 until numHashes).map(i =>
        min(xxhash64(lit(i), col("sh")))): _*).as("sig"))

  /** md5-family signatures, (id, sig array<string>) — every hash is
    * reproducible by an external engine (the DuckDB oracle recomputes the
    * chain verbatim).
    *
    * Hash family: the i-th function is an 8-hex-char (32-bit) WINDOW of
    * md5((i/4) + "|" + shingle) — ceil(numHashes/4) md5 evaluations per
    * shingle instead of numHashes (md5 dominates this pass; windows of a
    * cryptographic digest are independent, and 32 bits is ample for
    * per-document shingle-set minima). */
  def minhashSigsMd5(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int, w: Int = 3): DataFrame =
    shingleRows(docs, idCol, textCol, w)
      .groupBy("id")
      .agg(array((0 until numHashes).map(i =>
        min(substring(md5(concat(lit((i / 4).toString), lit("|"), col("sh"))),
          (i % 4) * 8 + 1, 8))): _*).as("sig"))

  /** LSH banding: split the signature into `bands` keys; docs sharing any
    * band key are near-dup candidates. Returns (id, band, key). */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               numHashes: Int = 8, bands: Int = 4, w: Int = 3): DataFrame = {
    val rows = numHashes / bands
    minhashSigs(docs, idCol, textCol, numHashes, w)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))
  }

  /** md5-family banding (same shape, string keys) — the band key is the md5
    * of the '|'-joined signature slice, so the whole chain is engine-portable. */
  def lshBandsMd5(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 8, bands: Int = 4, w: Int = 3): DataFrame =
    bandsOfSigs(minhashSigsMd5(docs, idCol, textCol, numHashes, w),
      numHashes, bands)

  /** Banding over already-computed (id, sig) md5-family signatures — the
    * seam the incremental store path uses so one signature pass feeds
    * banding, the cross-batch estimate, AND the store append. */
  def bandsOfSigs(sigs: DataFrame, numHashes: Int = 8,
                  bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    sigs
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat_ws("|", slice(col("sig"), b * rows + 1, lit(rows)))))))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))
  }

  /** Candidate near-dup pairs from LSH buckets (id1 < id2). `maxBucket`
    * guards the intra-bucket pair product: a boilerplate-heavy bucket (site
    * chrome, license headers, a degenerate shingle) otherwise goes
    * QUADRATIC — one hot band key becomes the job's straggler at 100 TB.
    * Buckets above the cap are dropped (their members collide on other,
    * more selective bands; an oversized bucket is boilerplate, not
    * near-duplication signal).
    *
    * Shape: the narrow (id, band, key) stream is materialized ONCE
    * (localCheckpoint — at lake scale this is the staging table you'd
    * bucket by key hash), the count guard is a two-phase aggregate, and
    * pairs are expanded IN PLACE from cap-bounded bucket arrays — one
    * shuffle on (band, key), no self-join, no recomputation of the
    * signature pipeline per join side.
    *
    * `materialize = false` skips the eager checkpoint — right when the
    * band stream already derives from a checkpointed signature frame (the
    * incremental-store path): the guard aggregate and the bucket join then
    * read the same cheap md5 projection twice instead of paying a
    * materialization job per micro-batch. */
  def lshCandidates(bandsDf: DataFrame, maxBucket: Int = 64,
                    materialize: Boolean = true): DataFrame = {
    val b = if (materialize) bandsDf.localCheckpoint() else bandsDf
    val ok = b.groupBy("band", "key")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket)
      .select("band", "key")
    // the post-guard groupBy reuses the join's (band, key) partitioning —
    // one exchange; collect_list is bounded by maxBucket
    val buckets = b.join(ok, Seq("band", "key"))
      .groupBy("band", "key").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(
          slice(col("ids"), i + 2, greatest(size(col("ids")) - i - 1, lit(0))),
          y => struct(least(x, y).as("id1"), greatest(x, y).as("id2"))))))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
  }

  /** Incremental exact dedup — the daily-crawl production shape: from a new
    * `batch`, keep only the first within-batch occurrence (min id) of each
    * normalized fingerprint that does NOT already appear in the accumulated
    * `kept` corpus. Both sides reduce to distinct fingerprints before the
    * anti-join, so the join is a narrow hash-keyed exchange of md5 values —
    * never of document text — and composes with the snapshot layer exactly
    * like Jdbc.ingestIncremental (dedup each delta against the committed
    * state, then snapshot-append the survivors). */
  def incrementalDedup(batch: DataFrame, kept: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    incrementalDedupFp(batch,
      kept.select(TextStats.fingerprint(col(textCol)).as("fp")),
      idCol, textCol)

  /** Fingerprint-keyed variant for callers that PERSIST the committed key
    * set (the streaming epoch-append path): the accumulated side is a
    * narrow `fp` column read from a snapshot — never re-fingerprinted
    * document text. `keptFps` must have an `fp` column. */
  def incrementalDedupFp(batch: DataFrame, keptFps: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    batch
      .select(col(idCol).as("id"), TextStats.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(col("id")).as("id"))
      .join(keptFps.select("fp").distinct(), Seq("fp"), "left_anti")
      .select("id", "fp")

  /** Committed-key-store form of the daily incremental dedup: the
    * accumulated fingerprint set lives as a table BUCKETED on `fp`
    * ([[graft.core.Bucketing]]), so the day's anti-join reads committed
    * buckets in place — at lake scale the committed side (every key ever
    * kept, growing daily) is orders of magnitude larger than one day's
    * batch, and this layout means it is NEVER re-shuffled: the only
    * exchange in the plan is the batch side's own fingerprint aggregate
    * (plan-pinned in DatapipeSpec). Survivors' keys are bucket-appended to
    * the same store, keeping the layout contract for tomorrow's run. Size
    * `spec.buckets` to the cluster parallelism (and run with
    * `spark.sql.shuffle.partitions == buckets` so the batch aggregate
    * lands partition-aligned with the store). The store holds DISTINCT
    * fps by construction (only anti-join survivors are ever appended), so
    * no distinct pass is spent on it. */
  def incrementalDedupCommit(batch: DataFrame, idCol: String, textCol: String,
                             keptTable: String,
                             spec: graft.core.Bucketing.BucketSpec)
      : DataFrame = {
    require(spec.key == "fp", s"committed store must bucket on fp, got ${spec.key}")
    val spark = batch.sparkSession
    val newKeys = batch
      .select(col(idCol).as("id"), TextStats.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(col("id")).as("id"))
    val survivors =
      (if (spark.catalog.tableExists(keptTable))
         newKeys.join(spark.table(keptTable).select("fp"), Seq("fp"), "left_anti")
       else newKeys)
        .select("id", "fp")
        .localCheckpoint() // pin results BEFORE the store grows below
    survivors.select("fp").write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(spec.buckets, spec.key).sortBy(spec.key)
      .format("parquet").saveAsTable(keptTable)
    survivors
  }

  /** Incremental FUZZY dedup over a committed signature store — the
    * [[incrementalDedupCommit]] discipline applied to the LSH near-dup
    * scrub, closing the last daily-crawl gap: without this, every day's
    * batch re-pays the FULL corpus-side shingle/minhash scan
    * ([[ScrubPipeline]]'s candidates stage); with it, signatures are
    * computed only for the day's documents and every previously-kept
    * document is represented by its already-committed (band, key, id, sig)
    * rows, bucketed on the band `key`.
    *
    * Keep rule (deterministic, estimate-based end to end so the store
    * never needs kept TEXT):
    *   1. a batch doc is dropped if its signature-agreement estimate vs
    *      ANY committed survivor sharing an LSH band bucket is ≥
    *      `threshold` (the [[minhashEstimate]] statistic: agreeing slots /
    *      numHashes — unbiased for true Jaccard, σ = sqrt(j(1−j)/H));
    *   2. the remaining docs near-dup-cluster WITHIN the batch (band
    *      candidates → estimate ≥ threshold → transitive closure) and only
    *      each cluster's min id survives;
    *   3. survivors' band/sig rows are bucket-appended to the store,
    *      keeping tomorrow's layout contract.
    *
    * Scale shape: the committed side — every signature ever kept, growing
    * daily, orders of magnitude wider than one batch — is NEVER
    * re-shuffled. Store rows are keyed by ONE column,
    * `skey = md5(band || '|' || band key)` (folding the band index into a
    * single join key so the bucket layout and the join key coincide
    * exactly — a two-column (band, key) join could legally re-shuffle the
    * bucketed side under subset co-partitioning rules), and the table is
    * bucketed on it: the per-bucket count guard AND the store's side of
    * the candidate join both plan with zero store-side Exchange
    * (plan-pinned in DatapipeSpec; run with `spark.sql.shuffle.partitions
    * == spec.buckets` so the batch side lands partition-aligned). EVERY
    * bucket is guarded per skey at `maxBucket` on BOTH sides — an
    * over-cap bucket is boilerplate, not near-dup signal, exactly as in
    * [[lshCandidates]] — so no hot band key can go quadratic against the
    * accumulated store. Estimates touch only numHashes-slot signature
    * arrays; document text never enters any exchange.
    *
    * Replay idempotence (`batchId` ≥ 0 — the streaming path): store rows
    * carry the batch id that appended them; the screen EXCLUDES own-batch
    * rows, and the append is skipped when the store already holds this
    * batch's rows. A batch re-delivered after a crash between the store
    * append and the caller's epoch commit therefore reproduces its
    * original survivor set instead of self-hitting the store at estimate
    * 1.0 and landing an empty epoch (survivors that would then exist only
    * in the signature store, never in any epoch snapshot). Batch callers
    * (`batchId` = −1, the default) keep the plain screen semantics —
    * every committed row participates. */
  def incrementalFuzzyCommit(batch: DataFrame, idCol: String, textCol: String,
                             sigTable: String,
                             spec: graft.core.Bucketing.BucketSpec,
                             numHashes: Int = 8, bands: Int = 4, w: Int = 3,
                             threshold: Double = 0.7,
                             maxBucket: Int = 64,
                             batchId: Long = -1L): DataFrame = {
    require(spec.key == "skey",
      s"signature store must bucket on skey, got ${spec.key}")
    val spark = batch.sparkSession
    val sigs = minhashSigsMd5(batch, idCol, textCol, numHashes, w)
      .localCheckpoint() // ONE signature pass feeds banding + both estimates
    // NOT checkpointed: re-deriving bands from the checkpointed sigs is
    // `bands` md5 calls per doc — cheaper than materializing another copy
    // and paying its eager job (the shingle scan behind it never re-runs)
    val bnd = bandsOfSigs(sigs, numHashes, bands)
    val skeyed = bnd.select(col("id"),
      md5(concat_ws("|", col("band").cast("string"), col("key"))).as("skey"))
    val slotAgreement = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).cast("double") / numHashes
    val storeExists = spark.catalog.tableExists(sigTable)
    // replay detection (streaming only): did a previous attempt of THIS
    // batch already append? One bounded probe — limit(1) on the batch tag.
    val alreadyAppended = batchId >= 0 && storeExists &&
      !spark.table(sigTable).filter(col("batch") === batchId).limit(1).isEmpty
    val fresh =
      if (storeExists) {
        val store0 = spark.table(sigTable)
        val store =
          if (batchId >= 0) store0.filter(col("batch") =!= batchId) else store0
        // both-side dense-bucket guards; the store-side count aggregate is
        // exchange-free (grouping key IS the bucketing key)
        val okStore = store.groupBy("skey")
          .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
          .select("skey")
        val okBatch = skeyed.groupBy("skey")
          .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
          .select("skey")
        val cand = skeyed.join(okBatch, Seq("skey"))
          .join(store.join(okStore, Seq("skey"))
            .select(col("skey"),
              col("id").as("kept_id"), col("sig").as("kept_sig")),
            Seq("skey"))
          .select(col("id"), col("kept_id"), col("kept_sig"))
          .distinct() // a pair colliding on several bands is one estimate
        val hits = cand.join(sigs, Seq("id"))
          .filter(slotAgreement(col("sig"), col("kept_sig")) >= threshold)
          .select("id").distinct()
        sigs.select("id").join(hits, Seq("id"), "left_anti")
      } else sigs.select("id")
    // within-batch closure among the store-clean docs
    val verified = minhashEstimate(
        lshCandidates(bnd.join(fresh, Seq("id"), "left_semi"), maxBucket,
          materialize = false),
        sigs)
      .filter(col("est_jaccard") >= threshold)
      .select("id1", "id2")
    // the within-batch cluster graph is DELTA-sized (one batch's verified
    // near-dup pairs, not the corpus's) — the guarded driver union-find
    // saves O(log n) shuffle rounds per batch and falls back to the star
    // kernel past 2M edges (the StreamingKg threshold)
    val dropped = dedupClusters(verified, driverThreshold = 2000000L)
      .filter(col("id") =!= col("keep_id")).select("id")
    val survivors = fresh.join(dropped, Seq("id"), "left_anti")
      .localCheckpoint() // pin BEFORE the store grows below
    // the append itself is job-atomic (commit-protocol rename), so the
    // replay guard above plus this skip make the whole batch idempotent
    if (!alreadyAppended)
      skeyed.join(survivors, Seq("id"), "left_semi")
        .join(sigs, Seq("id"))
        .select(col("skey"), col("id"), col("sig"),
          lit(batchId).as("batch"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(spec.buckets, spec.key).sortBy(spec.key)
        .format("parquet").saveAsTable(sigTable)
    survivors
  }

  /** Signature-based Jaccard ESTIMATE for candidate pairs — the cheap
    * verify at lake scale. Exact verification re-tokenizes BOTH documents
    * per pair (O(doc length) each); the minhash estimator touches only the
    * numHashes-slot signatures the banding pass already computed: the
    * fraction of agreeing slots is an unbiased estimator of the true
    * Jaccard (σ = sqrt(j(1−j)/numHashes)). Production shape: estimate
    * first, run [[jaccardVerify]] only on pairs whose estimate clears a
    * looser bound. `sigs` is (id, sig) from [[minhashSigsMd5]]/
    * [[minhashSigs]]; pairs are (id1, id2). */
  def minhashEstimate(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs
      .join(sigs.select(col("id").as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(sigs.select(col("id").as("id2"), col("sig").as("sig2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(
          aggregate(zip_with(col("sig1"), col("sig2"),
              (a, b) => when(a === b, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") /
            greatest(size(col("sig1")), lit(1)), 4).as("est_jaccard"))

  // ---- SimHash ----------------------------------------------------------------

  /** 32-bit SimHash over tokens: per bit, sum of ±1 votes from each token's
    * hash; bit set if the sum is positive. Token hash = first 8 md5 hex
    * chars (engine-reproducible). Pure column expressions. */
  def simhash(text: Column, bits: Int = 32): Column = {
    val tokHashes = transform(TextStats.tokens(text),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bitCols = (0 until bits).map { b =>
      val votes = aggregate(tokHashes, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash as a dataflow — same math as [[simhash]], but the per-token
    * vote loop runs as explode → codegen'd scalar hash → ONE two-phase hash
    * aggregate (the expression form is an interpreted HOF that re-walks the
    * token array once per bit per row; see [[minhashSigs]]). Returns
    * (id, simhash). */
  def simhashAgg(docs: DataFrame, idCol: String, textCol: String,
                 bits: Int = 32): DataFrame = {
    val h = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b")
    }
    docs.select(col(idCol).as("id"),
        explode(TextStats.tokens(col(textCol))).as("tok"))
      .select(col("id"), h.as("h"))
      .groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  // ---- n-gram Jaccard ----------------------------------------------------------

  /** Exact Jaccard over distinct token sets for a candidate pair set —
    * the verify step after LSH blocking. `pairs` = (id1, id2).
    *
    * The token side is semi-joined down to the ids that actually appear
    * in a candidate pair BEFORE tokenization: the candidate set is orders
    * of magnitude smaller than the corpus (that is the whole point of the
    * blocking step), so tokenizing every document to verify a few
    * thousand pairs re-reads the lake for nothing — the semi-join prunes
    * the tokenize/array_distinct work to candidate members only. `pairs`
    * is read twice (id set and join side). When the caller checkpoints it
    * (ScrubPipeline with io) the second read is a cheap local re-read;
    * q_jaccard_pairs and ScrubPipeline without io pass it lazy, so both
    * reads derive from its lineage (up to the planner's exchange reuse). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, threshold: Double): DataFrame = {
    val ids = pairs.select(col("id1").as("id"))
      .unionAll(pairs.select(col("id2").as("id"))).distinct()
    val toks = docs
      .join(ids, docs(idCol) === ids("id"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(TextStats.tokens(col(textCol))).as("toks"))
    pairs
      .join(toks.toDF("id1", "toks1"), Seq("id1"))
      .join(toks.toDF("id2", "toks2"), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(size(array_intersect(col("toks1"), col("toks2"))).cast("double") /
          size(array_union(col("toks1"), col("toks2"))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- chunk-level (paragraph) dedup ---------------------------------------

  /** Sub-document dedup: split each doc into fixed `chunkTokens`-token
    * chunks (the stand-in for paragraphs on corpora without newline
    * structure), hash each chunk, and keep only its FIRST occurrence
    * corpus-wide (ordered by doc id, then position). Returns one row per
    * doc: total chunks, surviving chunks, and the reassembled kept text —
    * the shape a pre-training scrub pass emits.
    *
    * Scale: first-occurrence selection is a TWO-PHASE `min(struct(doc,
    * idx, para))` aggregate on the chunk hash — NOT a window. A window
    * (`partitionBy(md5(para)).orderBy(doc, idx)`) puts ALL copies of one
    * chunk into a single sort group on one reducer, and AQE's skew
    * handling applies to joins, not window exchanges — a license-header
    * chunk repeated 10^8 times across a 100 TB corpus would be one
    * straggler task. The two-phase aggregate's map-side partial absorbs
    * the hot hash (each partition contributes ONE candidate row per hash),
    * and carrying `para` inside the min-struct means the kept chunks come
    * straight out of the aggregate — no join back on the skewed hash key
    * at all. `(doc, idx)` is unique per chunk row, so the struct min is
    * exactly the old window's rn = 1 row and `para` never influences the
    * ordering. The reassembly groupBy and the per-doc chunk count are
    * keyed by doc id — naturally balanced. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 8): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val nChunks = ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int")
    val idxSeq = sequence(lit(0), nChunks - 1)
    // explode the cheap INDEX sequence and build each chunk string with
    // codegen'd slice+concat_ws AFTER the Generate — the transform-HOF form
    // is interpreted and allocated the whole chunk array per row (the
    // shingleRows discipline)
    val chunks = docs.select(col(idCol), toks.as("toks"),
        explode(idxSeq).as("idx"))
      .select(col(idCol), col("idx"),
        concat_ws(" ",
          slice(col("toks"), col("idx") * chunkTokens + 1, lit(chunkTokens)))
          .as("para"))
    // n_chunks computed narrow from the doc row itself (= the exploded row
    // count by construction) — the doc-keyed side never re-explodes
    val perDoc = docs.select(col(idCol),
      size(idxSeq).cast("long").as("n_chunks"))
    val firstOcc = chunks
      .groupBy(md5(col("para")).as("h"))
      .agg(min(struct(col(idCol), col("idx"), col("para"))).as("f"))
      .select(col(s"f.$idCol").as(idCol), col("f.idx").as("idx"),
        col("f.para").as("para"))
    val keptPerDoc = firstOcc.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("para")))),
          s => s.getField("para")), " ").as("kept_text"))
    // left join: a doc whose every chunk first-occurred elsewhere keeps
    // n_kept = 0 / kept_text = "" (the old collect_list-ignores-null rows)
    perDoc.join(keptPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Cross-document boilerplate removal (the C4/RefinedWeb scrub, chunk
    * granularity): a chunk that appears in MORE THAN `maxDocs` distinct
    * documents is boilerplate (license headers, navigation, disclaimers)
    * and is removed from EVERY document — unlike [[chunkDedup]], no copy
    * survives, including the first. Returns one row per doc: total chunks,
    * dropped count, and the reassembled clean text.
    *
    * Scale shape: the corpus-wide doc-frequency pass exchanges
    * `(doc_id, md5)` only — never chunk text (the decontaminate discipline)
    * — through per-doc `distinct` + a two-phase count on the hash; the
    * boilerplate hit set (chunks above `maxDocs`) is a tiny fraction of
    * distinct chunks, and the removal is a LEFT ANTI join of chunk rows
    * against it on the hash key, where AQE's skew-join split covers the
    * hot boilerplate hashes (the anti-join is exactly the shape skew
    * handling applies to — contrast the window note on [[chunkDedup]]). */
  def boilerplateScrub(docs: DataFrame, idCol: String, textCol: String,
                       chunkTokens: Int = 8, maxDocs: Int = 2): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val nChunks = ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int")
    val idxSeq = sequence(lit(0), nChunks - 1)
    // index explode + post-Generate codegen chunk build (see chunkDedup)
    val chunks = docs.select(col(idCol), toks.as("toks"),
        explode(idxSeq).as("idx"))
      .select(col(idCol), col("idx"),
        concat_ws(" ",
          slice(col("toks"), col("idx") * chunkTokens + 1, lit(chunkTokens)))
          .as("para"))
      .withColumn("h", md5(col("para")))
    val boiler = chunks
      .select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxDocs)
      .select("h")
    val perDoc = docs.select(col(idCol),
      size(idxSeq).cast("long").as("n_chunks"))
    val keptPerDoc = chunks.join(boiler, Seq("h"), "left_anti")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("para")))),
          s => s.getField("para")), " ").as("clean_text"))
    perDoc.join(keptPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ---- transitive dedup clusters -------------------------------------------

  /** The scrub step after pair verification: near-duplication is transitive
    * in practice (A≈B, B≈C ⇒ the whole chain is one boilerplate family), so
    * the keep/drop decision runs connected components over the verified
    * pair graph — the O(log n)-round large-star/small-star kernel
    * (Canon.ccLogRounds): near-dup chains from template drift give this
    * graph a real diameter, and at 100 TB each extra diameter hop of the
    * min-propagation kernel would be a full shuffle round.
    * Input: (id1, id2) pairs; output: (id, keep_id) for every
    * clustered id, keep = MIN id of the cluster (keepers map to themselves;
    * callers drop rows with id ≠ keep_id). Ids pass through a monotone
    * fixed-width string encoding (offset by 2^63, zero-padded) before the
    * string CC, so lexicographic min = numeric min over the FULL long
    * range, negatives included.
    *
    * `driverThreshold > 0` enables the bounded driver union-find fast path
    * (the KbExpand/StreamingKg discipline: one guarded count, collect if it
    * fits, otherwise the distributed star kernel untouched) — right for
    * DELTA-sized cluster graphs like a daily batch's within-batch closure,
    * wrong as a default for the corpus-wide scrub, so it stays opt-in. */
  def dedupClusters(pairs: DataFrame, driverThreshold: Long = 0L): DataFrame = {
    // monotone Long → 20-char string: (id + 2^63) ∈ [0, 2^64) as decimal
    val off = lit(new java.math.BigDecimal("9223372036854775808"))
    def enc(c: Column) =
      lpad((c.cast("decimal(20,0)") + off).cast("decimal(20,0)").cast("string"),
        20, "0")
    def dec(c: Column) = (c.cast("decimal(20,0)") - off).cast("long")
    graft.stages.Canon.ccLogRounds(pairs.select(
        enc(col("id1")).as("a"), enc(col("id2")).as("b")),
        driverThreshold = driverThreshold)
      .select(dec(col("name")).as("id"), dec(col("comp")).as("keep_id"))
  }

  /** Quality-aware cluster-representative selection: instead of
    * [[dedupClusters]]' keep-the-min-id rule, keep the HIGHEST-QUALITY
    * member of each near-dup cluster (ties broken by min id) — the
    * curation-grade keep rule: when a template family contains one clean
    * article and nine ad-mangled mirrors, min-id keeps an arbitrary
    * mirror; this keeps the clean one. Input: `clusters` = (id, keep_id)
    * from [[dedupClusters]] (keep_id doubles as the cluster label),
    * `quality` = (idCol, qCol) per-doc scores. Output: (doc_id, rep_id,
    * kept) for every clustered doc.
    *
    * Scale shape: the argmax is a two-phase `min(struct(-q, id))` — the
    * lexicographic struct min IS (max quality, then min id), and partial
    * aggregation absorbs hot clusters map-side (no window, no sort group
    * on the cluster key); the reps table (one row per cluster) joins back
    * on the cluster key where AQE skew-split applies. */
  def keepBest(clusters: DataFrame, quality: DataFrame,
               idCol: String, qCol: String): DataFrame = {
    val member = clusters.join(quality, clusters("id") === quality(idCol))
      .select(clusters("id").as("id"), col("keep_id").as("cluster"),
        col(qCol).as("q"))
    val rep = member.groupBy("cluster")
      .agg(min(struct((-col("q")).as("nq"), col("id").as("i"))).as("m"))
      .select(col("cluster"), col("m").getField("i").as("rep_id"))
    member.join(rep, Seq("cluster"))
      .select(col("id").as("doc_id"), col("rep_id"),
        (col("id") === col("rep_id")).as("kept"))
  }

  // ---- benchmark decontamination ------------------------------------------

  /** Training-corpus decontamination against a benchmark/eval set: flag
    * every document sharing at least one word `n`-gram with any benchmark
    * text (the standard n-gram-overlap rule used for pre-training data
    * hygiene; n = 13 is the common choice, lowered here only when callers
    * test with short texts). Returns one row per CONTAMINATED doc:
    * (id, n_hits, first_gram) — n_hits = how many distinct contaminated
    * n-grams, first_gram = lexicographically-first overlapping gram (the
    * audit trail a scrub report needs).
    *
    * Scale shape: both sides explode to md5 n-gram keys; the benchmark side
    * is the SMALL side (an eval suite is a few thousand docs even when the
    * corpus is 10^12) and is distinct-reduced before the join, so Catalyst
    * broadcasts it and the corpus side streams through map-side. The
    * corpus-wide pass is HASH-ONLY: at the production n = 13 the gram
    * STRING (~13 tokens) dwarfs its 32-hex md5, so the per-doc hit
    * aggregate exchanges (id, gh) rows only — never gram text. The
    * `first_gram` audit string is recovered by a second gram pass
    * restricted (semi-join on id) to the CONTAMINATED docs — a set
    * bounded by the leak rate, orders of magnitude below the corpus. */
  /** Pass 1 of [[decontaminate]] — the corpus-wide hit count, exposed
    * pre-materialization so PlanSpec can pin its exchange width. */
  private[graft] def decontaminateHits(docs: DataFrame, bench: DataFrame,
                                       idCol: String, textCol: String,
                                       n: Int): DataFrame =
    shingleRows(docs, idCol, textCol, n)
      .select(col("id"), md5(col("sh")).as("gh"))
      .join(bench, Seq("gh"), "left_semi")
      .groupBy("id")
      .agg(count_distinct(col("gh")).as("n_hits"))

  private[graft] def benchGramHashes(benchmark: DataFrame, idCol: String,
                                     textCol: String, n: Int): DataFrame =
    broadcast(shingleRows(benchmark, idCol, textCol, n)
      .select(md5(col("sh")).as("gh")).distinct())

  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 13): DataFrame = {
    val bench = benchGramHashes(benchmark, idCol, textCol, n)
    // pass 1 — corpus-wide, hash-width exchange only (materialized once:
    // the stand-in for the staging table a production scrub would commit)
    val hits = decontaminateHits(docs, bench, idCol, textCol, n)
      .localCheckpoint()
    // pass 2 — re-shingle ONLY the contaminated docs to recover the
    // lexicographically-first overlapping gram (AQE broadcasts the hit-id
    // side while it fits; a skewed-leak corpus degrades to a balanced
    // doc-keyed shuffle, never a corpus-wide text exchange)
    val contaminated = docs.join(
      hits.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    val firstGram = shingleRows(contaminated, idCol, textCol, n)
      .select(col("id"), col("sh").as("g"), md5(col("sh")).as("gh"))
      .join(bench, Seq("gh"), "left_semi")
      .groupBy("id").agg(min(col("g")).as("first_gram"))
    hits.join(firstGram, Seq("id"))
      .select("id", "n_hits", "first_gram")
  }

  // ---- embedding cosine ----------------------------------------------------------

  /** Cosine similarity of two double-array columns — native codegen'd
    * expression (functions/VectorOps.CosineSim): one primitive loop per
    * pair instead of three interpreted higher-order folds. Left-to-right
    * accumulation, deterministic, bit-identical to the HOF formulation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** planes sized to the corpus: 2^planes buckets ≈ corpusSize /
    * targetBucket members each (under the random-projection uniformity
    * assumption), clamped to [4, 30]. A FIXED plane count is the scale
    * hazard: at 10^9 vectors and 8 planes every bucket averages 4M members
    * and the intra-bucket pair expansion goes quadratic. */
  def planesFor(corpusSize: Long, targetBucket: Int = 64): Int = {
    val want = math.ceil(math.log(
      math.max(corpusSize.toDouble / targetBucket, 2.0)) / math.log(2.0)).toInt
    math.min(math.max(want, 4), 30)
  }

  /** Embedding near-dup pairs above a cosine threshold, blocked by an LSH
    * sign-bucket (random-hyperplane sketch) so candidate generation is an
    * equi-join, not a cross product.
    *
    * `maxBucket` guards the intra-bucket pair product exactly as
    * [[lshCandidates]] does for text: real embedding corpora CLUSTER (they
    * are nowhere near the orthogonal ideal), so one dense sign bucket
    * otherwise goes quadratic on one reducer. Buckets above the cap are
    * dropped — a bucket that dense is a degenerate region (zero vectors,
    * template embeddings), not near-dup signal; raise `planes` (see
    * [[planesFor]]) to keep expected bucket size under the cap. Pairs are
    * expanded IN PLACE from cap-bounded bucket id-arrays (no self-join of
    * the vector-carrying side); vectors are re-attached to the (much
    * smaller) pair set by two equi-joins for the exact-cosine verify. */
  def embeddingNearDups(embs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, planes: Int = 8,
                        maxBucket: Int = 256): DataFrame = {
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.signBucket(col(vecCol), planes).as("bucket"))
      .localCheckpoint()
    val ok = bucketed.groupBy("bucket").agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket).select("bucket")
    // each id lives in exactly ONE bucket → pairs are already distinct
    val pairs = bucketed.select("id", "bucket").join(ok, Seq("bucket"))
      .groupBy("bucket").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(
          slice(col("ids"), i + 2, greatest(size(col("ids")) - i - 1, lit(0))),
          y => struct(least(x, y).as("id1"), greatest(x, y).as("id2"))))))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      // a duplicated id (non-unique id column) appears twice in one bucket
      // array and would expand to a (x, x) self-pair — the strict inequality
      // mirrors the oracle's a.id < b.id predicate
      .filter(col("id1") < col("id2"))
    val vecs = bucketed.select("id", "v")
    pairs
      .join(vecs.toDF("id1", "v1"), Seq("id1"))
      .join(vecs.toDF("id2", "v2"), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(cosine(col("v1"), col("v2")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Content-defined chunking: split each document at words whose hash is
    * ≡ 0 mod `avgWords` (expected chunk length `avgWords` words) — the
    * shift-RESISTANT complement of [[chunkDedup]]'s fixed-size grid. A word
    * inserted near the front of a mirror shifts every fixed-size chunk off
    * the grid (zero hash reuse); rolling boundaries re-synchronize at the
    * next boundary word, so all later chunks still dedup (DatapipeSpec
    * measures exactly this). The boundary hash is an md5 prefix, not
    * xxhash64, so the DuckDB oracle reproduces it bit-for-bit.
    *
    * Scale shape: the whole per-doc chunking runs inside ONE projection —
    * a NATIVE walk (functions/CdcChunks: tokenize, boundary-test, digest
    * per chunk with a reused thread-local buffer) — no per-word explode,
    * no per-word shuffle; only (id, chunk_id, md5, n_words) ever reaches
    * an exchange, and the chunk text never even materializes into the row.
    * The first word always opens chunk 0, so a leading boundary word does
    * not emit an empty chunk. The aggregate-HOF formulation it replaced
    * (interpreted, one immutable array copy per chunk per token) is the
    * test parity oracle.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                avgWords: Int = 32): DataFrame =
    docs
      .select(col(idCol), posexplode(
        graft.functions.CdcChunksExpr(col(textCol), avgWords)))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        col("col.h").as("h"), col("col.n_words").as("n_words"))

  /** First-occurrence dedup over the content-defined chunks: one row per
    * distinct chunk hash with its copy count and the (doc, chunk) that
    * keeps it — min over struct(doc, chunk) (lexicographic, same pattern
    * as chunkDedup/scrubDuplicateSpans; no arithmetic packing, so no
    * overflow however many chunks a pathological document produces), a
    * plain two-phase aggregate (partial agg absorbs hot boilerplate
    * hashes map-side; no window, no sort group). */
  def cdcDedup(docs: DataFrame, idCol: String, textCol: String,
               avgWords: Int = 32): DataFrame =
    cdcChunks(docs, idCol, textCol, avgWords)
      .groupBy("h")
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col(idCol), col("chunk_id"))).as("k"),
        min("n_words").as("n_words"))
      .select(col("h"), col("n_copies"),
        col("k").getField(idCol).as("keep_doc"),
        col("k").getField("chunk_id").as("keep_chunk"),
        col("n_words"))
}
