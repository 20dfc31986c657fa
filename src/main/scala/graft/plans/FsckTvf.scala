package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `table_fsck(<chain dir>)` — dq08's manifest-consistency audit
  * pointed at ANY SCD2 chain directory from a SQL prompt: one row per
  * check (check_name, n_violations), all zeros on a healthy chain.
  * The operational surface the audit family was missing: dq08/st25
  * run the audit inside fixture-bound builders (they construct their
  * own corrupted chains so the driver oracle sees real violations),
  * while an operator mid-incident wants `SELECT * FROM
  * table_fsck('/warehouse/dim_customer')` against the table that just
  * paged them. Returns
  * [[graft.operators.Audit.manifestAuditChecks]]'s plan verbatim —
  * the exact arithmetic dq08's DuckDB oracle hash-verifies —
  * so the SQL surface cannot drift from the audited checks;
  * SqlParitySpec pins clean-chain zeros AND a corruption flip through
  * a real chain build. */
object TableFsckTvf {

  val identifier: FunctionIdentifier = FunctionIdentifier("table_fsck")

  val info: ExpressionInfo = new ExpressionInfo(
    TableFsckTvf.getClass.getName, "table_fsck")

  def build(args: Seq[Expression]): LogicalPlan = {
    val (names, k) = RetrievalTvfs.parse("table_fsck", args, nTables = 1)
    require(k.isEmpty, "usage: table_fsck(<scd2 chain dir>)")
    graft.operators.Audit
      .manifestAuditChecks(SparkSession.active, names.head)
      .queryExecution.logical
  }
}

/** `index_fsck(<index dir>, <corpus view>)` — the [[TableFsckTvf]]
  * move applied to the INDEX legs (round-15 verdict ask #2): dq06's
  * lexical checks and dq07's IVF checks ran only inside their
  * fixture-bound builders, so an operator could not point them at the
  * serving index that just paged them. One TVF covers both stored
  * layouts — the dir's own structure says which index family it is
  * (w12 writes `postings/` + `sizes/`, w07 writes `centroids/` +
  * `lists/`; the layouts share no subdir name), so the caller never
  * declares a type that could mislabel the artifact:
  *
  * {{{
  *   -- lexical: corpus view carries (doc_id, text)
  *   SELECT * FROM index_fsck('/idx/lex', 'documents')
  *   -- IVF: corpus view carries (vec_id, embedding)
  *   SELECT * FROM index_fsck('/idx/ivf', 'embeddings')
  * }}}
  *
  * Returns one row per check (check_name, n_violations), all zeros on
  * a healthy index — [[graft.operators.Audit.lexIndexAuditChecks]]
  * (five checks on a stamped v2 index, the four base checks through
  * the full read on the one unstamped layout, st22's routed chain) /
  * [[graft.operators.Audit.ivfAuditChecks]]'s plans verbatim, the
  * exact arithmetic dq06/dq07's DuckDB oracles hash-verify, so the
  * SQL surface cannot drift from the audited checks. SqlParitySpec
  * pins clean-index zeros AND corruption flips through real
  * write/corrupt cycles on both layouts. */
object IndexFsckTvf {

  val identifier: FunctionIdentifier = FunctionIdentifier("index_fsck")

  val info: ExpressionInfo = new ExpressionInfo(
    IndexFsckTvf.getClass.getName, "index_fsck")

  def build(args: Seq[Expression]): LogicalPlan = {
    val (names, k) = RetrievalTvfs.parse("index_fsck", args, nTables = 2)
    require(k.isEmpty, "usage: index_fsck(<index dir>, <corpus view>)")
    val s = SparkSession.active
    val dir = names.head
    val corpus = s.table(names(1))
    val (fs, _) = graft.sources.Writers.fsOf(s, dir)
    val isLex = fs.exists(new org.apache.hadoop.fs.Path(dir, "postings"))
    val isIvf = fs.exists(new org.apache.hadoop.fs.Path(dir, "centroids"))
    require(isLex != isIvf,
      s"index_fsck: $dir is not a stored index — expected a w12 " +
        "lexical layout (postings/ + sizes/) or a w07 IVF layout " +
        "(centroids/ + lists/)")
    val checks = if (isLex) {
      // four base checks + the v2 bucket-integrity check when stamped —
      // ONE dispatch definition shared with st28's per-commit gate
      // (a misbucketed posting is invisible to every pruned serve that
      // should have scored it); an unstamped dir is st22's routed
      // chain, audited through the full read with the four checks
      graft.operators.Audit.lexIndexAuditChecks(s, dir, corpus)
    } else {
      import org.apache.spark.sql.functions.col
      val (cents, lists) = graft.sources.Writers.readIvfIndex(s, dir)
      val cur = corpus.select(col("vec_id"), col("embedding"),
        graft.operators.Similarity.norm(col("embedding")).as("nrm"))
      graft.operators.Audit.ivfAuditChecks(cur, lists, cents)
    }
    checks.queryExecution.logical
  }
}
