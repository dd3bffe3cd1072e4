package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Fail-loud contract of the correctness dump: a throwing query must leave
  * a visible artifact (errors.json) and never silently shrink the query
  * set (round-2 postmortem: q_bucketed_join vanished for a round because
  * its error was stderr-only). */
class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a throwing query lands in errors.json; healthy queries still dump") {
    val out = Files.createTempDirectory("verify-out").toString
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "good" -> ((s, _) => { import s.implicits._; Seq((1L, "a")).toDF("id", "x") }),
      "bad" -> ((_, _) => throw new RuntimeException("boom: deliberate")))
    val errs = Verify.runQueries(spark, "/tmp", out, qs)
    Verify.writeErrors(out, errs)
    assert(errs.keySet === Set("bad"))
    assert(errs("bad").contains("boom"))
    // the healthy query's parquet landed regardless
    assert(Files.exists(Paths.get(s"$out/good")))
    assert(spark.read.parquet(s"$out/good").count() === 1)
    // the artifact is valid JSON naming the failed query
    val json = Files.readString(Paths.get(s"$out/errors.json"))
    assert(json.contains("\"bad\"") && json.contains("boom"))
    assert(!json.contains("\"good\""))
  }

  test("errors.json is written (empty) on a fully green run") {
    val out = Files.createTempDirectory("verify-out2").toString
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "only" -> ((s, _) => { import s.implicits._; Seq(1L).toDF("id") }))
    val errs = Verify.runQueries(spark, "/tmp", out, qs)
    Verify.writeErrors(out, errs)
    assert(errs.isEmpty)
    assert(Files.readString(Paths.get(s"$out/errors.json")).trim === "{}")
  }

  test("SparkSession.builder appears in exactly one src/main file: core/Sessions.scala") {
    // every main shares one measured conf block; a copied builder drifts
    val root = Paths.get("src/main")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList
      finally walk.close()
    assert(builders === List("scala/graft/core/Sessions.scala"))
  }
}
