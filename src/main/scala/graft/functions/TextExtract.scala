package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar extraction semantics of the reference, re-expressed as pure
  * Catalyst column expressions (whole-stage-codegen'd — no UDFs).
  *
  * Reference semantics (cited file:line into /root/reference):
  *  - firstMatch: anchored `matchEntire`, group 1 or null (extentFunctions.kt:142–149)
  *  - regex constants: weibo/FromScrappyDump.kt:112–117; weibo/MicroBlog.kt:4
  */
object TextExtract {

  /** F1 — anchored first-match: `matchEntire(regex).groupValues[1]` or null.
    * Caller supplies a pattern WITHOUT anchors; we add them. */
  def firstMatch(c: Column, pattern: String): Column =
    nullif(regexp_extract(c, "^" + pattern + "$", 1), lit(""))

  // MicroBlog.kt:4 (matches() = full match)
  val validTimeRegex = "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}$"

  /** F3 — `intOrZero` (FromScrappyDump.kt:74–85): first anchored integer of a
    * stat text like `转发 17376`; null / no-digit-suffix → 0. Native
    * digit-suffix scan (the regex allocated a Matcher + decoded the string
    * per row on the normalize hot path); the regex formulation is the test
    * parity oracle. */
  def intOrZero(c: Column): Column =
    coalesce(UrlParseExpr.digitSuffix(c).cast("int"), lit(0))

  /** F4 — `detectTags` (FromScrappyDump.kt:87–97): on the text before the
    * first `//@`, extract `@user` handles then `#topic#` topics, in order.
    * Native fused byte scan (functions/TagScan — the two regexp_extract_all
    * walks decoded + Matcher-allocated per blog row on the emission hot
    * path); the regex formulation is the test parity oracle. */
  def detectTags(content: Column): Column = DetectTagsExpr(content)

  /** F5 — HTML attribute/text pulls (FromScrappyDump.kt:186–191, 202–221).
    * Native literal-prefix/lazy-group/literal-suffix scans (LazyBetween)
    * on the normalize hot path; the regex formulations are test parity
    * oracles. */
  def titleAttr(c: Column): Column = LazyBetweenExpr(c, "title=\"", "\"")
  def anchorText(c: Column): Column =
    trim(substring_index(LazyBetweenExpr(c, ">", "</"), " 转赞人数", 1))
  def nickName(c: Column): Column =
    trim(LazyBetweenExpr(c, "nick-name=\"", "\" "))

  /** F7 — output-format validity `\d{4}-\d{2}-\d{2} \d{2}:\d{2}`
    * (FromScrappyDump.kt:116; MicroBlog.kt:4). */
  def isValidTime(c: Column): Column = c.rlike(validTimeRegex)

  /** F9 — URL parsers (MicroBlog.kt:42–79). "" on no-match — exactly the
    * reference's no-match return. Native byte scans (functions/UrlParse)
    * with java-regex semantics replicated; ExtractSpec pins them
    * bit-identical to the regex formulations. */
  def url2codedMid(url: Column): Column = UrlParseExpr.blogMid(url)
  def uidFromBlogUrl(url: Column): Column = UrlParseExpr.blogUid(url)
  def uidFromUserUrl(url: Column): Column = UrlParseExpr.userUid(url)

  /** F6 — `alignTime` (FromScrappyDump.kt:112–160): normalize relative CJK
    * times against the scrap time; branch ORDER is semantic. Pure
    * when/otherwise chain over timestamp arithmetic — no UDF.
    *
    * NOTE ExtractTest.kt:70–72 expects "2019-08-24 12:42" for the 月日 case,
    * which contradicts the cited implementation (withMonth/withDayOfMonth →
    * "2019-08-01 12:14"); we follow the implementation.
    */
  def alignTime(scrapTime: Column, time: Column): Column = {
    val fmt = "yyyy-MM-dd HH:mm"
    val scrapTs = to_timestamp(scrapTime, "yyyy-MM-dd HH:mm:ss")
    val out = (ts: Column) => date_format(ts, fmt)

    // FromScrappyDump.kt:112–115 — firstMatch is anchored; `.+?` needs ≥1
    // trailing char after the unit (e.g. 前).
    val mins  = firstMatch(time, "(\\d+)分钟.+?").cast("long")
    val hours = firstMatch(time, "(\\d+)小时.+?").cast("long")
    val todayHH = regexp_extract(time, "^今天\\s?(\\d{2}):(\\d{2}).*$", 1)
    val todayMM = regexp_extract(time, "^今天\\s?(\\d{2}):(\\d{2}).*$", 2)
    val mdPat = "^(\\d+)月(\\d+)日 (\\d{2}):(\\d{2}).*$"

    when(time.contains("刚刚"), out(scrapTs))
      .when(time.contains("秒"), out(scrapTs))
      .when(time.contains("分钟前"),
        out(scrapTs - make_dt_interval(lit(0), lit(0), mins, lit(0))))
      .when(time.contains("小时前"),
        out(scrapTs - make_dt_interval(lit(0), hours, lit(0), lit(0))))
      .when(time.contains("今天"),
        out(make_timestamp(year(scrapTs), month(scrapTs), dayofmonth(scrapTs),
          todayHH.cast("int"), todayMM.cast("int"), lit(0))))
      // 年 branch (FromScrappyDump.kt:146–149): pure string rewrite.
      .when(time.contains("年"), translate(time, "年月日", "--"))
      // 月日 branch (:150–158) — contains() = find-anywhere, then matchEntire.
      .when(time.rlike("(\\d+)月(\\d+)日 (\\d{2}):(\\d{2})"),
        out(make_timestamp(year(scrapTs),
          regexp_extract(time, mdPat, 1).cast("int"),
          regexp_extract(time, mdPat, 2).cast("int"),
          regexp_extract(time, mdPat, 3).cast("int"),
          regexp_extract(time, mdPat, 4).cast("int"), lit(0))))
      .otherwise(time)
  }

  /** F11 — NELL concept split (nell995/FromText.kt:11–21): `find` (not
    * anchored), fallback (raw, "gpslocation") when no match; relation via
    * `concept:(.+)`. Returns struct(label, entity). */
  def nellLabelEntity(c: Column): Column = {
    val label  = regexp_extract(c, "concept_(.+?)_(.+)", 1)
    val entity = regexp_extract(c, "concept_(.+?)_(.+)", 2)
    when(label === "", struct(c.as("label"), lit("gpslocation").as("entity")))
      .otherwise(struct(label.as("label"), entity.as("entity")))
  }

  def nellRelation(c: Column): Column = regexp_extract(c, "concept:(.+)", 1)
}
