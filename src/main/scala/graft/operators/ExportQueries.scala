package graft.operators

import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.{Exporters, Tables, Writers}

/** Driver-checkable EXPORT/IMPORT round trips (reference EXPORT TABLE /
  * IMPORT surface — SURVEY.md §2.2): data leaves through
  * [[graft.sources.Exporters]], comes back as a catalog table, and the
  * re-aggregate must match the oracle over the ORIGINAL table —
  * proving schema + content + partition fidelity end-to-end. */
object ExportQueries {

  /** e01: flat export/import of the supplier table. */
  val e01ExportImport: Q = Q(
    "e01_export_import",
    """SELECT s_nationkey, count(*) AS n,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal,
      |  min(s_name) AS first_name
      |FROM supplier GROUP BY s_nationkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val dir = s"${Writers.scratchDir("exp", d)}/supplier"
    Exporters.exportTable(Tables.supplier(s, d), dir)
    Exporters.importTable(s, dir, "supplier_imp")
    s.table("supplier_imp")
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n"), Exact.dsum($"s_acctbal").as("bal"),
        min($"s_name").as("first_name"))
  }

  /** e02: partitioned export/import of documents (per-lang layout
    * preserved; import keeps partition pruning usable). */
  val e02ExportPartitioned: Q = Q(
    "e02_export_partitioned",
    """SELECT lang, count(*) AS n,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val dir = s"${Writers.scratchDir("exp", d)}/documents"
    Exporters.exportTable(
      Tables.documents(s, d).select($"doc_id", $"text", $"lang"),
      dir, partitionCols = Seq("lang"))
    Exporters.importTable(s, dir, "documents_imp")
    s.table("documents_imp")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(length($"text")).cast("long").as("total_chars"))
  }

  val all: Seq[Q] = Seq(e01ExportImport, e02ExportPartitioned)
}
