package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source edge semantics the reference's serde layer defines: malformed
  * CSV row handling (PERMISSIVE null-fill + corrupt-record capture,
  * DROPMALFORMED, FAILFAST) and JSON null/missing-field treatment. */
class FormatEdgeSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val csvDir = {
    val dir = java.nio.file.Paths.get(tempDir("graft_badcsv"))
    java.nio.file.Files.write(dir.resolve("part.csv"),
      java.util.Arrays.asList(
        "1,alpha,10.5",
        "2,beta,not_a_number", // malformed double
        "3,gamma,30.25",
        "4,delta"),            // missing column
      java.nio.charset.StandardCharsets.UTF_8)
    dir.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType)))

  test("PERMISSIVE fills unparseable cells with null, keeps all rows") {
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").csv(csvDir)
    assert(df.count() == 4)
    assert(df.filter(col("v").isNull).count() == 2)
  }

  test("PERMISSIVE captures raw text in columnNameOfCorruptRecord") {
    // Spark disallows referencing ONLY the corrupt-record column over a
    // raw scan — cache first (the documented pattern)
    val withCorrupt = spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE").csv(csvDir).cache()
    try {
      val bad = withCorrupt.filter(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").collect().map(_.getString(0)).toSet
      assert(bad == Set("2,beta,not_a_number", "4,delta"))
    } finally withCorrupt.unpersist()
  }

  test("DROPMALFORMED keeps only clean rows") {
    val df = spark.read.schema(schema)
      .option("mode", "DROPMALFORMED").csv(csvDir)
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("FAILFAST throws on the first malformed row") {
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema)
        .option("mode", "FAILFAST").csv(csvDir).collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      e.getCondition != null)
  }

  test("JSON missing fields are null; extra fields are ignored") {
    val dir = java.nio.file.Paths.get(tempDir("graft_json"))
    java.nio.file.Files.write(dir.resolve("a.json"),
      java.util.Arrays.asList(
        """{"id": 1, "name": "a", "v": 1.5}""",
        """{"id": 2, "name": "b"}""",
        """{"id": 3, "name": "c", "v": 2.5, "extra": true}"""),
      java.nio.charset.StandardCharsets.UTF_8)
    val df = spark.read.schema(schema).json(dir.toString)
    assert(df.count() == 3)
    assert(df.filter(col("v").isNull).count() == 1)
    assert(!df.columns.contains("extra"))
  }

  test("avro: short name fails (no connector jar), FQCN round-trips") {
    // No spark-avro connector jar ships here, so the `avro` short name
    // must fail with Spark's documented external-module error — but
    // spark-sql 4.1.2 bundles the complete AvroFileFormat, so the
    // fully-qualified class name works and f10_avro_roundtrip
    // registers on it (see Formats.avroFqcn). Pin both facts so a
    // Spark upgrade that changes either surfaces loudly.
    val e = intercept[Exception] {
      spark.read.format("avro").load("/tmp/graft_no_such_avro")
    }
    assert(e.getMessage.toLowerCase.contains("avro"),
      s"unexpected error shape: ${e.getMessage}")
    assert(operators.Formats.avroAvailable, "bundled AvroFileFormat gone")
    assert(SparkEntry.queries.contains("f10_avro_roundtrip"))
    assert(SparkEntry.oracleSql.contains("f10_avro_roundtrip"))
    val rows = SparkEntry.queries("f10_avro_roundtrip")(spark, sf).collect()
    assert(rows.nonEmpty)
  }
}
