package graft

import graft.datapipe.TextStats
import graft.functions.TextExtract.firstMatch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The regex / interpreted-HOF formulations the native expressions
  * replaced, kept as the reference each native twin is pinned
  * bit-identical against (ExtractSpec, DatapipeSpec). Nothing in the engine
  * calls them. */
object ParityOracles {

  // ---- reference regexes (TextExtract's native scans) ---------------------
  /** All matches' group 1, in order (Kotlin findAll; extentFunctions.kt:151–153). */
  def extractValues(c: Column, pattern: String): Column =
    regexp_extract_all(c, lit(pattern), lit(1))

  /** First occurrence (Kotlin extractValues(...).first()) — '' when absent. */
  def extractFirst(c: Column, pattern: String): Column =
    regexp_extract(c, pattern, 1)

  // FromScrappyDump.kt:38 — anchored full-string, lazy prefix: string must
  // end at the digit run; "转发 17376x" yields no match (→ 0).
  val numberRegex = ".*?([0-9]+)"
  // FromScrappyDump.kt:39 / :42 / :43
  val timeFromXml     = "title=\"(.+?)\""
  val timeFromXmlText = ">(.+?)</"
  val quoteUserRegex  = "(@\\S+)[:\\s]*"
  val topicRegex      = "(#.+?#)"
  val nicknameRegex   = "nick-name=\"(.+?)\" "
  // MicroBlog.kt:6–7
  val blogUrlRegex  = "//weibo\\.com/(.+?)/([A-Za-z0-9]{9}).*"
  val userUrlIdRegex = "//weibo\\.com/([A-Za-z0-9/]*)"

  def intOrZeroRegex(c: Column): Column =
    coalesce(firstMatch(c, numberRegex).cast("int"), lit(0))

  def detectTagsRegex(content: Column): Column = {
    val top = substring_index(content, "//@", 1)
    concat(extractValues(top, quoteUserRegex), extractValues(top, topicRegex))
  }

  def titleAttrRegex(c: Column): Column =
    extractFirst(c, timeFromXml)
  def anchorTextRegex(c: Column): Column =
    trim(substring_index(extractFirst(c, timeFromXmlText), " 转赞人数", 1))
  def nickNameRegex(c: Column): Column =
    trim(extractFirst(c, nicknameRegex))

  def url2codedMidRegex(url: Column): Column =
    regexp_extract(url, blogUrlRegex, 2)
  def uidFromBlogUrlRegex(url: Column): Column =
    regexp_extract(url, blogUrlRegex, 1)
  def uidFromUserUrlRegex(url: Column): Column =
    regexp_replace(regexp_extract(url, userUrlIdRegex, 1), "u/", "")

  // ---- TextStats: whitespace split and the fused TextCounts signals -------
  def tokensRegex(text: Column): Column =
    split(trim(text), "\\s+")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def tokenCountHof(text: Column): Column = size(TextStats.tokens(text))
  def subwordCountHof(text: Column): Column =
    aggregate(TextStats.tokens(text), lit(0),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int"))
  def stopwordCountHof(text: Column): Column =
    size(filter(TextStats.tokens(text), w => lower(w).isin(stopwords: _*)))
  def distinctTokensHof(text: Column): Column =
    size(array_distinct(TextStats.tokens(text)))
  def cjkCountHof(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))
  def punctCountHof(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))
  def symbolCountHof(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))

  // ---- Similarity.signBucket -----------------------------------------------

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * maps md5 to ±1. */
  private def planeSign(p: Int, d: Column): Column =
    when(conv(substring(md5(concat(lit(p.toString), lit("_"), d.cast("string"))),
      1, 6), 16, 10).cast("long") % 2 === 0, 1.0).otherwise(-1.0)

  def signBucketHof(v: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeSign(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---- Dedup.cdcChunks -------------------------------------------------------

  /** The aggregate-HOF chunker (one immutable array copy per chunk per
    * token). */
  def cdcChunksHof(docs: DataFrame, idCol: String, textCol: String,
                   avgWords: Int = 32): DataFrame = {
    def boundary(w: Column) =
      (conv(substring(md5(w), 1, 8), 16, 10).cast("long") % avgWords) === 0
    val zero = struct(
      array().cast("array<string>").as("done"),
      lit(null).cast("string").as("cur"))
    def merge(acc: Column, w: Column) = {
      val cur = acc.getField("cur")
      val cut = boundary(w) && cur.isNotNull
      struct(
        when(cut, array_append(acc.getField("done"), cur))
          .otherwise(acc.getField("done")).as("done"),
        when(cut || cur.isNull, w)
          .otherwise(concat(cur, lit(" "), w)).as("cur"))
    }
    def finish(acc: Column) =
      when(acc.getField("cur").isNotNull,
        array_append(acc.getField("done"), acc.getField("cur")))
        .otherwise(acc.getField("done"))
    docs
      .select(col(idCol),
        aggregate(TextStats.tokens(col(textCol)), zero, merge, finish)
          .as("chunks"))
      .select(col(idCol), posexplode(col("chunks")))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        md5(col("col")).as("h"),
        size(split(col("col"), " ")).cast("long").as("n_words"))
  }
}
