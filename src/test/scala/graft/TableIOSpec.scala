package graft

import graft.core.TableIO
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The snapshot manifest is real JSON: stage and counter names are
  * escaped, and counters read back from the `counters` object only — a
  * counter named like a lineage field (`rows`, `pid`, `snapshot`) must not
  * return the lineage value. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("manifest round-trips escaped counter names; counterOf reads only counters") {
    val io = new TableIO(spark, Files.createTempDirectory("graft-manifest").toString)
    val counters = Map("rows" -> 7L, "a\"b\\c" -> 3L)
    io.commit("s", spark.range(0, 10, 1, 2).toDF(), counters = counters)
    val m = new ObjectMapper().readTree(io.manifest("s"))
    assert(m.get("row_count").asLong === 10L)
    val parsed = m.get("counters").properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    assert(parsed === counters)
    assert(io.counterOf("s", "rows") === Some(7L))
  }
}
