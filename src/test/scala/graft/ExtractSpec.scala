package graft

import graft.functions.{Base62, TextExtract => TE}
import graft.{ParityOracles => PO}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden unit tests ported from the reference's only test class
  * (ExtractTest.kt:10–82) — proves F3–F6/F8 parity literally.
  * Note: ExtractTest.kt:70–72's 月日 expectation ("2019-08-24 12:42")
  * contradicts the reference implementation it tests (withMonth(8)/
  * withDayOfMonth(1) → "2019-08-01 12:14"); we assert the implementation's
  * value. */
class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eval1(input: String, f: Column => Column): Any =
    Seq(input).toDF("c").select(f(col("c"))).collect()(0).get(0)

  private def evalTags(input: String): Seq[String] =
    Seq(input).toDF("c").select(TE.detectTags(col("c")))
      .collect()(0).getSeq[String](0)

  test("extractNumbers (ExtractTest.kt:10–15)") {
    for (w <- Seq("转发", "点赞", "评论"))
      assert(eval1(s"$w 17376", TE.intOrZero) === 17376)
    assert(eval1("no digits", TE.intOrZero) === 0)
    assert(eval1("转发 17376x", TE.intOrZero) === 0) // anchored matchEntire
  }

  test("extractTags (ExtractTest.kt:17–29)") {
    assert(evalTags("@abc 一些内容 @def//@ghi: 另一些内容//@jkl: 还有一些内容")
      === Seq("@abc", "@def"))
    assert(evalTags("#this#and#that#//@someone: #another# thing")
      === Seq("#this#", "#that#"))
  }

  test("extractTime (ExtractTest.kt:31–48)") {
    assert(eval1("<div class=\"WB_from S_txt2\"><a title=\"2019-07-01 14:43\">7月1日 14:43</a></div>",
      TE.titleAttr) === "2019-07-01 14:43")
    val html = "<a href=\"//weibo.com/2803301701/I38U0qh0y?refer_flag=1001030103_\" " +
      "target=\"_blank\" suda-data=\"key=tblog_search_weibo&amp;value=seqid:156916441389001236229|" +
      "type:1|t:0|pos:1-0|q:%23%E8%BF%99%23|ext:cate:306,mpos:1,click:wb_time\">08月21日 22:40 转赞人数超过10万;</a>"
    assert(eval1(html, TE.anchorText) === "08月21日 22:40")
  }

  test("formatTime / alignTime (ExtractTest.kt:50–73 + impl semantics)") {
    def align(scrap: String, t: String): String =
      Seq((scrap, t)).toDF("s", "t")
        .select(TE.alignTime(col("s"), col("t"))).collect()(0).getString(0)
    assert(align("2019-09-15 04:05:06", "刚刚") === "2019-09-15 04:05")
    assert(align("2019-09-15 04:05:06", "6秒前") === "2019-09-15 04:05")
    assert(align("2019-09-15 04:05:06", "33分钟前 转赞人数超过10") === "2019-09-15 03:32")
    assert(align("2019-09-15 04:05:06", "2小时前") === "2019-09-15 02:05")
    assert(align("2019-09-15 04:05:06", "今天 14:38") === "2019-09-15 14:38")
    assert(align("2019-09-15 04:05:06", "今天14:38 转赞人数超过10") === "2019-09-15 14:38")
    // implementation-true value for the 月日 branch (see header note)
    assert(align("2019-09-15 04:05:06", "08月01日 12:14") === "2019-08-01 12:14")
    // 年 branch string rewrite + passthrough
    assert(align("2019-09-15 04:05:06", "2018年07月02日") === "2018-07-02")
    assert(align("2019-09-15 04:05:06", "2019-08-21 10:00") === "2019-08-21 10:00")
    // cross-midnight subtraction
    assert(align("2019-09-15 00:30:00", "2小时前") === "2019-09-14 22:30")
  }

  test("extractName (ExtractTest.kt:75–82)") {
    val html = "<a href=\"//weibo.com/1342829361?refer_flag=1001030103_\" class=\"name\" " +
      "target=\"_blank\" nick-name=\"加措上师-慈爱基金\" suda-data=\"key=tblog\">加措上师-慈爱基金</a>"
    assert(eval1(html, TE.nickName) === "加措上师-慈爱基金")
  }

  test("url parsers (MicroBlog.kt:42–79)") {
    assert(eval1("//weibo.com/2803301701/I38U0qh0y?refer_flag=1", TE.url2codedMid) === "I38U0qh0y")
    assert(eval1("//weibo.com/2803301701/I38U0qh0y?refer_flag=1", TE.uidFromBlogUrl) === "2803301701")
    assert(eval1("not a url", TE.url2codedMid) === "") // reference returns ""
    assert(eval1("//weibo.com/u/1342829361", TE.uidFromUserUrl) === "1342829361")
  }

  test("native url/digit parsers ≡ regex formulations (adversarial vectors)") {
    // the hot-path parsers are byte scans; these vectors exercise every
    // java-regex subtlety they must replicate: lazy groups, '.' excluding
    // the five line terminators, $ matching before a FINAL terminator,
    // find() occurrence order, empty/multibyte/overlapping inputs
    val urls = Seq(
      "//weibo.com/2803301701/I38U0qh0y?refer_flag=1",
      "//weibo.com/2803301701/I38U0qh0y",
      "//weibo.com/a/123456789", "//weibo.com/a/12345678",
      "//weibo.com//123456789", "//weibo.com/a//123456789x",
      "//weibo.com/αβγ/ABCdef123tail", "//weibo.com/a/ABC-ef123",
      "//weibo.com/x\n/123456789", "//weibo.com/x y/123456789",
      "pre //weibo.com/u1/短名/AbC123xYz!", "//weibo.com/",
      "//weibo.com/u/1342829361", "//weibo.com/uu/13428/abcdefghi",
      "https://weibo.com/11/aaaaaaaaa //weibo.com/22/bbbbbbbbb",
      "//weibo.com/x//weibo.com/yy/ccccccccc", "not a url", "",
      "//weibo.com/u/u/u/123", "//weibo.com/", "//weibo.com",
      "//weibo.com/᠀᠀/123456789")
    val stats = Seq("转发 17376", "转发 17376x", "no digits", "12345",
      "a12b34", "x99\n", "x99\r\n", "x\n99", "99 ", "x99 ",
      "转发\n12", " 7", "007", "", "\n", "9")
    def both(in: Seq[String], a: Column => Column, b: Column => Column) = {
      val df = in.toDF("c")
      val got = df.select(a(col("c")), b(col("c"))).collect()
      in.zip(got).foreach { case (s, r) =>
        assert(r.get(0) == r.get(1),
          s"native=${r.get(0)} regex=${r.get(1)} for input ${s.replace("\n", "\\n")}")
      }
    }
    both(urls, TE.url2codedMid, PO.url2codedMidRegex)
    both(urls, TE.uidFromBlogUrl, PO.uidFromBlogUrlRegex)
    both(urls, TE.uidFromUserUrl, PO.uidFromUserUrlRegex)
    both(stats, TE.intOrZero, PO.intOrZeroRegex)

    // seeded fuzz over a hostile alphabet (prefix fragments, separators,
    // digits, letters, multibyte, all five line terminators)
    val rnd = new scala.util.Random(42)
    val atoms = Seq("//weibo.com/", "/", "u", "u/", "weibo", ".com", "1",
      "23", "456789", "abcDEF", "名", "\n", "\r", "\u0085", "\u2028",
      "\u2029", " ", "ABCdef123", "x")
    val fuzz = (1 to 800).map(_ =>
      (0 until rnd.nextInt(8)).map(_ => atoms(rnd.nextInt(atoms.size))).mkString)
    both(fuzz, TE.url2codedMid, PO.url2codedMidRegex)
    both(fuzz, TE.uidFromBlogUrl, PO.uidFromBlogUrlRegex)
    both(fuzz, TE.uidFromUserUrl, PO.uidFromUserUrlRegex)
    // compare the raw suffix (pre-cast): a fuzzed 12-digit run would make
    // BOTH formulations throw the same ANSI int-overflow, aborting the
    // comparison rather than disproving parity
    both(fuzz, c => graft.functions.UrlParseExpr.digitSuffix(c),
      c => TE.firstMatch(c, PO.numberRegex))

    // detectTags: native fused scan vs the two-regex formulation — arrays
    // compared elementwise in match order
    def bothTags(in: Seq[String]): Unit = {
      val got = in.toDF("c")
        .select(TE.detectTags(col("c")), PO.detectTagsRegex(col("c"))).collect()
      in.zip(got).foreach { case (s, r) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"native=${r.getSeq[String](0)} regex=${r.getSeq[String](1)} for ${s.replace("\n", "\\n")}")
      }
    }
    bothTags(Seq(
      "@abc 一些内容 @def//@ghi: 另一些内容//@jkl: 还有一些内容",
      "#this#and#that#//@someone: #another# thing",
      "@a: @b", "@a:@b", "@a @@b", "@ x", "@", "#", "##", "###", "#a#b#",
      "#新闻# @用户 text #主题#", "#no close", "#a\nb#", "@tab\tnext",
      "plain text", "", "//@first @late", "a//@x#t#", "@e//@", "#t#//@x"))
    val tagAtoms = Seq("@", "#", "a", "名", " ", ":", "\t", "\n", "//@",
      "#t#", "@u", "x", "", " ")
    val tagFuzz = (1 to 800).map(_ =>
      (0 until rnd.nextInt(10)).map(_ => tagAtoms(rnd.nextInt(tagAtoms.size))).mkString)
    bothTags(tagFuzz)

    // the whitespace tokenizer under every shingle/LM/chunk operator:
    // native scan vs split(trim(text), "\\s+") — leading/trailing empties,
    // 0x20-only trim, ASCII-only \s, "" -> [""]
    def bothTok(in: Seq[String]): Unit = {
      import graft.datapipe.TextStats
      val got = in.toDF("c")
        .select(TextStats.tokens(col("c")), PO.tokensRegex(col("c")))
        .collect()
      in.zip(got).foreach { case (s, r) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"native=${r.getSeq[String](0)} regex=${r.getSeq[String](1)} for ${s.replace("\n", "\\n").replace("\t", "\\t")}")
      }
    }
    bothTok(Seq("", " ", "  ", "a", " a ", "a b", "\ta", "a\t", " \ta b\n ",
      "a  b", "\u540d \u8bcd", "\n", "\u000b\f\r", "a\u000bb", "  \t  "))
    val tokAtoms = Seq(" ", "\t", "\n", "\u000b", "\f", "\r", "a", "bc",
      "\u540d", "")
    val tokFuzz = (1 to 1000).map(_ =>
      (0 until rnd.nextInt(10)).map(_ => tokAtoms(rnd.nextInt(tokAtoms.size))).mkString)
    bothTok(tokFuzz)

    // the three HTML pulls (literal prefix + lazy group + literal suffix)
    val htmlCases = Seq(
      "<div class=\"x\"><a title=\"2019-07-01 14:43\">t</a></div>",
      "title=\"\"", "title=\"a\"", "title=\"a", "title=\"a\nb\"",
      "x title=\"one\" title=\"two\"", ">a</", "></", ">a<b</", ">\n</x",
      ">08\u670821\u65e5 22:40 \u8f6c\u8d5e\u4eba\u6570\u8d8510\u4e07;</a>",
      "nick-name=\"\u52a0\u63aa\" r", "nick-name=\"a\"x", "nick-name=\"a\" ",
      "", "plain", "title=\"\u540d \u79f0\" tail")
    both(htmlCases, TE.titleAttr, PO.titleAttrRegex)
    both(htmlCases, TE.anchorText, PO.anchorTextRegex)
    both(htmlCases, TE.nickName, PO.nickNameRegex)
    val htmlAtoms = Seq("title=\"", "\"", ">", "</", "nick-name=\"", "\" ",
      "a", " ", "\n", "<", "/", "\u540d", "x")
    val htmlFuzz = (1 to 800).map(_ =>
      (0 until rnd.nextInt(8)).map(_ => htmlAtoms(rnd.nextInt(htmlAtoms.size))).mkString)
    both(htmlFuzz, TE.titleAttr, PO.titleAttrRegex)
    both(htmlFuzz, TE.anchorText, PO.anchorTextRegex)
    both(htmlFuzz, TE.nickName, PO.nickNameRegex)
  }

  test("nell concept split (FromText.kt:11–21)") {
    val r = Seq("concept_athlete_michael_jordan").toDF("c")
      .select(TE.nellLabelEntity(col("c"))).collect()(0).getStruct(0)
    assert(r.getString(0) === "athlete")
    assert(r.getString(1) === "michael_jordan")
    val f = Seq("noconcept").toDF("c")
      .select(TE.nellLabelEntity(col("c"))).collect()(0).getStruct(0)
    assert(f.getString(0) === "noconcept")
    assert(f.getString(1) === "gpslocation")
    assert(eval1("concept:athletehomestadium", TE.nellRelation) === "athletehomestadium")
  }

  test("base62 mid codec roundtrip property (MicroBlog.kt:8–73)") {
    // mids whose segments encode to widths 1/4/4 and decode without losing
    // leading zeros (no-leading-zero 7-digit segments) — the reference's
    // implicit domain (property checked over a seeded sample)
    val r = new java.util.Random(42)
    (0 until 500).foreach { _ =>
      val dec = f"${10 + r.nextInt(52)}%02d${1000000 + r.nextInt(9000000)}%07d${1000000 + r.nextInt(9000000)}%07d"
      val coded = Base62.encodeMid(dec)
      assert(coded.length === 9, dec)
      assert(Base62.decodeCodedMid(coded) === dec)
    }
    // golden: a real-shaped mid
    assert(Base62.encodeMid("4419234098953795").length === 9)
    assert(Base62.decodeCodedMid(Base62.encodeMid("4419234098953795")) === "4419234098953795")
  }
}
