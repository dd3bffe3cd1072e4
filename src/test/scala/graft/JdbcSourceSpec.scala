package graft

import graft.sources.Jdbc
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.DriverManager

/** S1 live JDBC source against embedded Derby (shipped in Spark's own
  * jars): partitioned parallel scan, completeness, and the high-water-mark
  * incremental read pushed into the database query. */
class JdbcSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val url: String = {
    val dir = Files.createTempDirectory("graft-derby").toString
    val u = s"jdbc:derby:$dir/db;create=true"
    Class.forName(Jdbc.derbyDriver)
    val c = DriverManager.getConnection(u)
    val st = c.createStatement()
    st.execute("CREATE TABLE blogs (id BIGINT NOT NULL, content VARCHAR(64))")
    val ps = c.prepareStatement("INSERT INTO blogs VALUES (?, ?)")
    (1 to 500).foreach { i =>
      ps.setLong(1, i.toLong); ps.setString(2, s"row $i"); ps.addBatch()
    }
    ps.executeBatch()
    c.close()
    u
  }

  test("partitioned JDBC scan: parallel range queries, complete result") {
    val df = Jdbc.read(spark, url, "blogs", "id",
      lowerBound = 1, upperBound = 500, numPartitions = 4)
    assert(df.rdd.getNumPartitions === 4, "scan did not partition")
    val rows = df.select("ID").as[Long].collect().sorted
    assert(rows.length === 500 && rows.head === 1L && rows.last === 500L)
  }

  test("high-water-mark incremental read pushes the predicate into the DB") {
    val df = Jdbc.readIncremental(spark, url, "blogs", "id", highWaterMark = 480)
    val rows = df.select("ID").as[Long].collect().sorted
    assert(rows.toSeq === (481L to 500L))
    // the HWM predicate is pushed into the database scan (quoted-identifier
    // dbtable read + Spark JDBC pushdown — no raw SQL interpolation)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"HWM predicate not pushed to the JDBC source:\n$plan")
    // and identifiers with SQL metacharacters are rejected, not spliced
    intercept[IllegalArgumentException] {
      Jdbc.readIncremental(spark, url, "blogs; DROP TABLE blogs", "id", 0)
    }
    intercept[IllegalArgumentException] {
      Jdbc.readIncremental(spark, url, "blogs", "id > 0 OR 1=1 --", 0)
    }
  }

  test("incremental ingest e2e: table grows between runs, no reprocessing") {
    // the reference's restart semantics (FromScrappyDump.kt:352–357) over
    // the snapshot layer: run → DB grows → second run fetches ONLY past the
    // committed high-water mark (proved by the snapshot manifest row count)
    val dir = Files.createTempDirectory("graft-derby-inc").toString
    val u = s"jdbc:derby:$dir/db;create=true"
    val c = DriverManager.getConnection(u)
    val st = c.createStatement()
    st.execute("CREATE TABLE grows (id BIGINT NOT NULL, content VARCHAR(64))")
    val ps = c.prepareStatement("INSERT INTO grows VALUES (?, ?)")
    def insert(r: Range): Unit = {
      r.foreach { i => ps.setLong(1, i.toLong); ps.setString(2, s"row $i"); ps.addBatch() }
      ps.executeBatch()
    }
    insert(1 to 500)
    val io = new graft.core.TableIO(spark, Files.createTempDirectory("graft-inc-io").toString)
    def rowCount(): Long =
      graft.core.Json.mapper.readTree(io.manifest("grows")).get("row_count").asLong

    assert(Jdbc.ingestIncremental(spark, io, "grows", u, "grows", "id") === 500L)
    assert(io.counterOf("grows", "high_water_mark") === Some(500L))
    assert(rowCount() === 500L)

    insert(501 to 600) // the table grows between pipeline runs
    assert(Jdbc.ingestIncremental(spark, io, "grows", u, "grows", "id") === 100L)
    // lineage manifest of the SECOND snapshot: exactly the delta, nothing re-read
    assert(rowCount() === 100L)
    assert(io.counterOf("grows", "high_water_mark") === Some(600L))
    assert(io.counterOf("grows", "rows_ingested") === Some(100L))

    // nothing new → nothing committed, mark unchanged
    assert(Jdbc.ingestIncremental(spark, io, "grows", u, "grows", "id") === 0L)
    assert(io.lastCommitted("grows") === 1)

    // the union of snapshots is the complete table, each id exactly once
    val all = io.readAll("grows").select("ID").as[Long].collect().sorted
    assert(all.toSeq === (1L to 600L))
    c.close()
  }

  test("engine filters push down to the JDBC scan") {
    val df = Jdbc.read(spark, url, "blogs", "id", 1, 500, 2)
      .filter($"ID" > 490)
    assert(df.count() === 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"predicate not pushed to the JDBC source:\n$plan")
  }
}
