package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; suites are
  * cheap smoke-level checks — the deep correctness gate is the driver's
  * DuckDB differential run over SparkEntry.oracleSql). */
object SparkTestSession {
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  sys.addShutdownHook(tempDirs.forEach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(d)))

  /** A fresh temp dir named `<prefix><random>`, deleted with its
    * contents when the test JVM exits (specs run forked, `Test / fork
    * := true`), so a suite run leaves the temp dir as it found it. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]").appName("graft-test")
      .config("spark.sql.warehouse.dir", tempDir("graft_wh")))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  def register(): Unit = graft.sources.Tables.registerAll(spark, sf)
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every registered query with an oracle has matching column names") {
    // The driver sorts columns by name before hashing; a query whose
    // DataFrame columns don't appear in its oracle text is a guaranteed
    // mismatch. Cheap static guard: every output column name must occur
    // as a token in the oracle SQL.
    val qs = SparkEntry.queries
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val cols = qs(name)(spark, sf).columns
      val lower = sql.toLowerCase
      cols.foreach { c =>
        assert(lower.contains(c.toLowerCase), s"$name: column $c not in oracle SQL")
      }
    }
  }

  test("q01 pricing summary: groups and invariants") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("sum_disc_price")) <=
        r.getDouble(r.fieldIndex("sum_base_price")))
      assert(r.getLong(r.fieldIndex("count_order")) > 0)
    }
  }

  test("q03 topk is sorted desc and bounded") {
    val rows = SparkEntry.queries("q03_topk_orders")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q10 full outer covers all nations present on either side") {
    val rows = SparkEntry.queries("q10_full_outer")(spark, sf).collect()
    assert(rows.length == 25)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
