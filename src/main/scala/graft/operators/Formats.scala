package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.{Tables, Writers}

/** Source/sink format coverage (SURVEY.md §2.2): CSV, JSON, ORC, Avro
  * round-trips. Each query writes a slice of the fixture data in the
  * target format, reads it back, and aggregates — the oracle runs the
  * same aggregate on the original parquet, so the round-trip must be
  * lossless end-to-end (schema, values, nulls).
  *
  * Writes land in a per-scale temp dir (deterministic path, overwrite
  * mode); at production scale these are the same `df.write.format(...)`
  * calls pointed at distributed storage. */
object Formats {

  private def roundTrip(s: SparkSession, d: String, fmt: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val src = Tables.supplier(s, d)
    val dest = s"${Writers.scratchDir("fmt", d)}/$fmt"
    src.write.format(fmt).options(options).mode("overwrite").save(dest)
    val r = s.read.format(fmt).options(options)
    val back = (if (fmt == "csv" || fmt == "json" || fmt == "xml")
      r.schema(src.schema) else r).load(dest)
    back.groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n"), Exact.dsum($"s_acctbal").as("bal"),
        min($"s_name").as("first_name"))
  }

  private val oracleAgg =
    """SELECT s_nationkey, count(*) AS n,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal,
      |  min(s_name) AS first_name
      |FROM supplier GROUP BY s_nationkey""".stripMargin

  val f01Csv: Q = Q("f01_csv_roundtrip", oracleAgg) { (s, d) =>
    roundTrip(s, d, "csv", Map("header" -> "true"))
  }

  val f02Json: Q = Q("f02_json_roundtrip", oracleAgg) { (s, d) =>
    roundTrip(s, d, "json")
  }

  val f03Orc: Q = Q("f03_orc_roundtrip", oracleAgg) { (s, d) =>
    roundTrip(s, d, "orc")
  }

  /** f08: XML round-trip — the spark-xml connector was folded into
    * Spark 4 core (SPARK-44265), so the reference's XML SerDe surface
    * maps to a first-class built-in format here; schema is supplied on
    * read like csv/json (self-describing tags, not self-describing
    * types). */
  val f08Xml: Q = Q("f08_xml_roundtrip", oracleAgg) { (s, d) =>
    roundTrip(s, d, "xml",
      Map("rowTag" -> "supplier", "rootTag" -> "suppliers"))
  }

  /** f04: binaryFile source — whole-file opaque-bytes ingestion (the
    * entry path for multimodal payloads; SURVEY.md §2.2). For the Avro
    * gap see [[avroAvailable]]/[[f10Avro]] below. Oracle-checked since
    * round 14 via DuckDB's `read_blob` (file count + byte sum are the
    * listing-independent invariants); like v01, the static oracle text
    * pins the driver's verify fixture path (TESTDATA.md). */
  val f04BinaryFile: Q = Q(
    "f04_binaryfile",
    """SELECT CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(size) AS BIGINT) AS total_bytes
      |FROM read_blob('/root/testdata/sf0.01/documents.parquet')""".stripMargin) { (s, d) =>
    import s.implicits._
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet")
      .load(s"$d/documents.parquet")
      .agg(count(lit(1)).as("n_files"),
        sum(octet_length($"content")).as("total_bytes"))
  }

  /** f06: parquet compression codecs (reference table-property codec
    * surface, SURVEY.md §2.2): write gzip/snappy/zstd, read each back,
    * and prove via input_file_name that the codec actually landed in
    * the file names — content identical across codecs per the oracle. */
  val f06ParquetCodecs: Q = Q(
    "f06_parquet_codecs",
    """SELECT codec, count(*) AS n,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal,
      |  true AS ext_ok
      |FROM supplier
      |CROSS JOIN (SELECT unnest(['gzip', 'snappy', 'zstd']) AS codec)
      |GROUP BY codec""".stripMargin) { (s, d) =>
    import s.implicits._
    val ext = Map("gzip" -> ".gz.parquet", "snappy" -> ".snappy.parquet",
      "zstd" -> ".zstd.parquet")
    Seq("gzip", "snappy", "zstd").map { c =>
      val dest = s"${Writers.scratchDir("fmt", d)}/parquet_$c"
      Tables.supplier(s, d).write.option("compression", c)
        .mode("overwrite").parquet(dest)
      s.read.parquet(dest)
        .select($"s_acctbal", lit(c).as("codec"),
          input_file_name().endsWith(ext(c)).as("has_ext"))
    }.reduce(_ unionByName _)
      .groupBy($"codec")
      .agg(count(lit(1)).as("n"), Exact.dsum($"s_acctbal").as("bal"),
        min($"has_ext").as("ext_ok"))
  }

  /** f09: RegexSerDe path — the reference parses arbitrary text lines
    * into typed columns with a per-table regex; Spark-first that is
    * spark.read.text + regexp_extract per capture group + cast (all
    * codegen'd, no serde object churn). Doubles survive the text
    * round-trip exactly because Java's shortest-repr double→string
    * parses back to the identical bits, so the read-back aggregate
    * hash-matches the oracle computed on the ORIGINAL table. */
  val f09RegexSerde: Q = Q(
    "f09_regex_serde",
    """SELECT o_orderstatus AS status, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      |    AS total,
      |  min(o_orderkey) AS min_key
      |FROM orders WHERE o_orderkey < 1000
      |GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
    import s.implicits._
    val dest = s"${Writers.scratchDir("fmt", d)}/regex_serde"
    Tables.orders(s, d).filter($"o_orderkey" < 1000)
      .select(concat(lit("key="), $"o_orderkey", lit(" status="),
        $"o_orderstatus", lit(" total="), $"o_totalprice".cast("string"))
        .as("value"))
      .write.mode("overwrite").text(dest)
    val re = "^key=([0-9]+) status=(\\S+) total=(\\S+)$"
    s.read.text(dest)
      .select(
        regexp_extract($"value", re, 1).cast("long").as("o_orderkey"),
        regexp_extract($"value", re, 2).as("status"),
        regexp_extract($"value", re, 3).cast("double").as("total_d"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), Exact.dsum($"total_d").as("total"),
        min($"o_orderkey").as("min_key"))
  }

  /** f05: text-format read (the reference's LazySimpleSerDe delimited
    * path): write lineitem keys as delimited text lines, read with
    * spark.read.text + split. */
  val f05Text: Q = Q(
    "f05_text_lines",
    """SELECT count(*) AS n, min(line) AS first_line FROM (
      |  SELECT l_orderkey || '|' || l_linenumber AS line
      |  FROM lineitem WHERE l_orderkey < 100)""".stripMargin) { (s, d) =>
    import s.implicits._
    val dest = s"${Writers.scratchDir("fmt", d)}/text"
    Tables.lineitem(s, d).filter($"l_orderkey" < 100)
      .select(concat($"l_orderkey", lit("|"), $"l_linenumber").as("value"))
      .write.mode("overwrite").text(dest)
    s.read.text(dest)
      .agg(count(lit(1)).as("n"), min($"value").as("first_line"))
  }

  /** f07: parquet schema evolution — two writer generations under one
    * table path (generation 2 adds a column), read back with
    * `mergeSchema`: the union schema applies, old files surface NULL
    * for the added column (the reference's ALTER TABLE ADD COLUMNS +
    * schema-on-read contract). The oracle reproduces the same union
    * from the source table. Footer merging is distributed (one task
    * per footer) — safe at 100 TB file counts; production would pin
    * the merged schema in the catalog instead of re-merging per read. */
  val f07SchemaEvolution: Q = Q(
    "f07_schema_evolution",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CASE WHEN has_priority THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_priority
      |FROM (
      |  SELECT o_orderstatus, false AS has_priority FROM orders
      |  WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, true AS has_priority FROM orders
      |  WHERE o_orderkey % 2 = 1)
      |GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
    import s.implicits._
    val dest = s"${Writers.scratchDir("fmt", d)}/evolve"
    val o = Tables.orders(s, d)
    o.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_orderstatus")
      .write.mode("overwrite").parquet(dest)
    o.filter($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
      .write.mode("append").parquet(dest)
    s.read.option("mergeSchema", "true").parquet(dest)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(when($"o_orderpriority".isNotNull, 1L).otherwise(0L))
          .as("n_with_priority"))
  }

  /** The Avro data source, addressed by fully-qualified class name.
    *
    * The short name `avro` is special-cased by Spark's
    * `DataSource.lookupDataSource` to fail with "deploy the external
    * spark-avro module" unless a connector jar service-registers it —
    * and this offline environment ships no spark-avro jar. BUT
    * spark-sql 4.1.2 itself bundles the COMPLETE Avro FileFormat
    * implementation (AvroFileFormat + serializer/deserializer/
    * SchemaConverters — verified in the jar), it is merely absent from
    * META-INF/services/...DataSourceRegister. Addressing the class
    * directly bypasses the alias lookup, so the full Avro scan/sink
    * surface (SURVEY §2.2's last open item) works with zero new
    * dependencies. FormatEdgeSpec pins both facts: the short name
    * fails with the documented error, the FQCN round-trips. */
  val avroFqcn = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Whether [[avroFqcn]] resolves (always true on bundled spark-sql
    * 4.1.2; guards against a future jar slim-down). */
  val avroAvailable: Boolean =
    try { Class.forName(avroFqcn); true }
    catch { case _: ClassNotFoundException => false }

  /** f10: Avro round-trip — same lossless write/read/aggregate contract
    * as f01-f03/f08, via [[avroFqcn]]. */
  val f10Avro: Q = Q("f10_avro_roundtrip", oracleAgg) { (s, d) =>
    roundTrip(s, d, avroFqcn)
  }

  val all: Seq[Q] = Seq(f01Csv, f02Json, f03Orc, f04BinaryFile, f05Text,
    f06ParquetCodecs, f07SchemaEvolution, f08Xml, f09RegexSerde) ++
    (if (avroAvailable) Seq(f10Avro) else Nil)
}
