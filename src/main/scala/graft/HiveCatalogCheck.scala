package graft

import org.apache.spark.sql.SparkSession

/** Hive-metastore-backed catalog integration check (SURVEY.md §1.1 /
  * §3.2: the reference IS a metastore service; Spark consumes that
  * surface via `enableHiveSupport` → `HiveExternalCatalog` → embedded
  * Derby here, a remote metastore in production with ZERO code change).
  *
  * Runs the same catalog surface CatalogSpec proves on the in-memory
  * session catalog — database/table DDL + insert, ANALYZE → CBO column
  * stats, SHOW PARTITIONS + partition pruning, persistent views — but
  * against a real Hive metastore (Derby + DataNucleus), which requires
  * its own JVM (Derby takes an exclusive lock; the test session owns a
  * non-hive catalog): `sbt "runMain graft.HiveCatalogCheck"` (run/fork
  * is on, so this is always a fresh JVM).
  *
  * Prints `[hive-catalog] PASS <name>` per check; exits 1 on any
  * failure.
  */
object HiveCatalogCheck {

  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try {
      body
      println(s"[hive-catalog] PASS $name")
    } catch {
      case e: Throwable =>
        failures += 1
        println(s"[hive-catalog] FAIL $name: $e")
    }

  /** The metastore and warehouse live in a fresh temp dir that is
    * deleted on every exit path, the failing one included. */
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_hive")
    try runChecks(sf, base)
    finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    if (failures > 0) {
      println(s"[hive-catalog] $failures FAILED")
      sys.exit(1)
    }
    println("[hive-catalog] all checks passed")
  }

  private def runChecks(sf: String, base: java.nio.file.Path): Unit = {
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[4]").appName("graft-hive-catalog")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.sql.catalogImplementation", "hive")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true"))
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    check("catalog implementation is hive") {
      assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
      val ext = spark.sessionState.catalog.externalCatalog
      val impl = ext match {
        case w: org.apache.spark.sql.catalyst.catalog.ExternalCatalogWithListener =>
          w.unwrapped.getClass.getName
        case other => other.getClass.getName
      }
      assert(impl.contains("HiveExternalCatalog"), s"catalog impl: $impl")
    }

    check("database + managed table DDL + insert") {
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_hcat")
      spark.sql("DROP TABLE IF EXISTS graft_hcat.nation_t")
      sources.Tables.nation(spark, sf).write
        .saveAsTable("graft_hcat.nation_t")
      assert(spark.catalog.tableExists("graft_hcat.nation_t"))
      val before = spark.table("graft_hcat.nation_t").count()
      spark.sql("INSERT INTO graft_hcat.nation_t VALUES (99, 'NATION_X', 0)")
      assert(spark.table("graft_hcat.nation_t").count() == before + 1)
      assert(spark.catalog.listTables("graft_hcat").collect()
        .exists(_.name == "nation_t"))
    }

    check("ANALYZE TABLE persists CBO statistics in the metastore") {
      spark.sql("DROP TABLE IF EXISTS graft_hcat.orders_t")
      sources.Tables.orders(spark, sf).write
        .saveAsTable("graft_hcat.orders_t")
      spark.sql("ANALYZE TABLE graft_hcat.orders_t COMPUTE STATISTICS " +
        "FOR COLUMNS o_orderkey, o_totalprice")
      val stats = spark.table("graft_hcat.orders_t")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1500)), s"stats: $stats")
      val desc = spark.sql(
        "DESCRIBE EXTENDED graft_hcat.orders_t o_totalprice").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc("distinct_count").toLong > 0)
    }

    check("partitioned table: SHOW PARTITIONS + pruning via metastore") {
      spark.sql("DROP TABLE IF EXISTS graft_hcat.orders_p")
      sources.Tables.orders(spark, sf).write
        .partitionBy("o_orderstatus")
        .saveAsTable("graft_hcat.orders_p")
      val parts = spark.sql("SHOW PARTITIONS graft_hcat.orders_p")
        .collect().map(_.getString(0)).toSet
      assert(parts == Set("o_orderstatus=F", "o_orderstatus=O",
        "o_orderstatus=P"), s"parts: $parts")
      val pruned = spark.table("graft_hcat.orders_p")
        .filter($"o_orderstatus" === "F")
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") &&
        scan.contains("o_orderstatus"), s"no partition pruning:\n$scan")
      // ALTER TABLE ... ADD/DROP PARTITION round-trips through the
      // metastore (Thrift add_partition/drop_partition surface)
      spark.sql("ALTER TABLE graft_hcat.orders_p " +
        "ADD PARTITION (o_orderstatus='X')")
      assert(spark.sql("SHOW PARTITIONS graft_hcat.orders_p").count() == 4)
      spark.sql("ALTER TABLE graft_hcat.orders_p " +
        "DROP PARTITION (o_orderstatus='X')")
      assert(spark.sql("SHOW PARTITIONS graft_hcat.orders_p").count() == 3)
    }

    check("persistent view stored in the metastore") {
      spark.sql("DROP VIEW IF EXISTS graft_hcat.big_orders_v")
      spark.sql(
        """CREATE VIEW graft_hcat.big_orders_v AS
          |SELECT o_orderkey, o_totalprice FROM graft_hcat.orders_t
          |WHERE o_totalprice > 300000""".stripMargin)
      val n = spark.table("graft_hcat.big_orders_v").count()
      assert(n > 0 && n < 1500)
      assert(spark.catalog.getTable("graft_hcat.big_orders_v")
        .tableType == "VIEW")
    }

    check("MSCK REPAIR discovers externally-added partitions") {
      // The reference's metastore partition-discovery surface (Thrift
      // add_partitions via `msck`): files land on storage OUTSIDE any
      // engine write path (an ingest job, a distcp), and MSCK REPAIR
      // reconciles the metastore with the directory layout.
      val loc = s"$base/nation_ext"
      val df = sources.Tables.nation(spark, sf)
      df.write.partitionBy("n_regionkey").mode("overwrite").parquet(loc)
      val dataCols = df.schema.fields.filter(_.name != "n_regionkey")
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      val partType = df.schema("n_regionkey").dataType.sql
      spark.sql("DROP TABLE IF EXISTS graft_hcat.nation_ext")
      spark.sql(s"""CREATE TABLE graft_hcat.nation_ext ($dataCols)
        |USING parquet PARTITIONED BY (n_regionkey $partType)
        |LOCATION '$loc'""".stripMargin)
      // the metastore knows the table but none of its partitions yet
      assert(spark.sql("SHOW PARTITIONS graft_hcat.nation_ext").count() == 0)
      spark.sql("MSCK REPAIR TABLE graft_hcat.nation_ext")
      val n0 = spark.sql("SHOW PARTITIONS graft_hcat.nation_ext").count()
      assert(n0 == 5, s"expected 5 discovered partitions, got $n0")
      val rows0 = spark.table("graft_hcat.nation_ext").count()
      assert(rows0 == df.count(), s"row count after repair: $rows0")
      // external ingest: clone a partition directory behind Spark's back
      val src = java.nio.file.Paths.get(loc, "n_regionkey=0")
      val dst = java.nio.file.Paths.get(loc, "n_regionkey=99")
      java.nio.file.Files.createDirectories(dst)
      java.nio.file.Files.list(src).forEach { p =>
        val name = p.getFileName.toString
        if (name.endsWith(".parquet"))
          java.nio.file.Files.copy(p, dst.resolve(name))
      }
      assert(spark.sql("SHOW PARTITIONS graft_hcat.nation_ext").count() == 5)
      spark.sql("MSCK REPAIR TABLE graft_hcat.nation_ext")
      assert(spark.sql("SHOW PARTITIONS graft_hcat.nation_ext").count() == 6)
      assert(spark.table("graft_hcat.nation_ext")
        .filter($"n_regionkey" === 99).count() > 0)
    }

    check("ALTER TABLE ADD COLUMNS: metastore schema evolves, old rows null") {
      // catalog-side twin of f07's file-level mergeSchema: the schema
      // of record lives in the metastore, old files surface NULL for
      // the added column, new writes carry it.
      spark.sql("DROP TABLE IF EXISTS graft_hcat.evolve_t")
      spark.sql(
        """CREATE TABLE graft_hcat.evolve_t (k BIGINT, v STRING)
          |USING parquet""".stripMargin)
      spark.sql("INSERT INTO graft_hcat.evolve_t VALUES (1, 'a'), (2, 'b')")
      spark.sql("ALTER TABLE graft_hcat.evolve_t ADD COLUMNS (extra BIGINT)")
      spark.sql("INSERT INTO graft_hcat.evolve_t VALUES (3, 'c', 30)")
      val t = spark.table("graft_hcat.evolve_t")
      assert(t.columns.toSeq == Seq("k", "v", "extra"))
      assert(t.filter($"extra".isNull).count() == 2)
      assert(t.filter($"extra" === 30).count() == 1)
    }

    check("existing Hive UDF/UDAF/UDTF classes load unchanged (§2.8)") {
      // The reference's user extension surface is compiled Hive UDF
      // classes; a migrating user's jars must keep working. Spark's
      // HiveSessionCatalog wraps all three evaluator shapes natively —
      // these are hive-exec's own classes, loaded by name exactly as
      // `CREATE TEMPORARY FUNCTION f AS 'com.corp.MyUdf'` would.
      spark.sql("""CREATE TEMPORARY FUNCTION hive_upper AS
        |'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'"""
        .stripMargin)
      assert(spark.sql("SELECT hive_upper('graft')")
        .collect()(0).getString(0) == "GRAFT")
      spark.sql("""CREATE TEMPORARY FUNCTION hive_percentile AS
        |'org.apache.hadoop.hive.ql.udf.UDAFPercentile'""".stripMargin)
      val med = spark.sql(
        """SELECT hive_percentile(CAST(o_orderkey AS BIGINT), 0.5)
          |FROM graft_hcat.orders_t""".stripMargin).collect()(0).getDouble(0)
      assert(med > 0, s"hive UDAF returned $med")
      spark.sql("""CREATE TEMPORARY FUNCTION hive_explode AS
        |'org.apache.hadoop.hive.ql.udf.generic.GenericUDTFExplode'"""
        .stripMargin)
      val n = spark.sql(
        "SELECT hive_explode(array(1, 2, 3))").count()
      assert(n == 3, s"hive UDTF exploded $n rows")
    }

    check("metadata survives a catalog-session restart") {
      // a fresh SparkSession over the SAME Derby metastore must still
      // see every object — the property an in-memory catalog lacks.
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark.stop()
      val spark2 = GraftSession.configure(SparkSession.builder()
        .master("local[4]").appName("graft-hive-catalog-2")
        .config("spark.sql.warehouse.dir", s"$base/warehouse")
        .config("spark.sql.catalogImplementation", "hive")
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$base/metastore_db;create=true"))
        .enableHiveSupport()
        .getOrCreate()
      try {
        assert(spark2.catalog.tableExists("graft_hcat.orders_t"))
        assert(spark2.catalog.tableExists("graft_hcat.orders_p"))
        assert(spark2.catalog.tableExists("graft_hcat.big_orders_v"))
        assert(spark2.table("graft_hcat.big_orders_v").count() > 0)
        val stats = spark2.table("graft_hcat.orders_t")
          .queryExecution.optimizedPlan.stats
        assert(stats.rowCount.contains(BigInt(1500)),
          s"persisted stats lost: $stats")
      } finally spark2.stop()
    }
  }
}
