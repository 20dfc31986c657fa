package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Index compaction ([[graft.sources.Writers.compactIndex]]) — the
  * w03/w09 OPTIMIZE pass applied to the stored-index families. The
  * w14/w15 registry queries put the rewrite under the driver's DuckDB
  * hash; these specs pin what the oracle cannot see: the file-count
  * reduction actually happened, the layout stamp rode along, the
  * compacted artifact audits clean under the SAME stamp-dispatched
  * checks the per-commit gates run, and the refusal path for routed
  * legs is loud. */
class CompactionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("lexical v2: compaction reduces files, carries the stamp, " +
      "serves identically, and audits clean under all five checks") {
    val s = spark
    import s.implicits._
    val sq = operators.StreamingQueries
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_lex"
    sources.Writers.freshScratch(spark, base)
    val src = s"$base/src"; val dest = s"$base/dst"
    val B = 16
    val docs = sources.Tables.documents(spark, sf)
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    // st28's admission shape batch-side: three v2 legs under one B
    Seq(0L, 1L, 2L).foreach { k =>
      sq.lexAdmitV2(vocab, docs.filter($"doc_id" % 3 === k), src,
        k.toString, B)
    }
    val qs = docs.filter($"doc_id" % 50 === 0)
    val before = operators.Similarity.bm25ServeQueries(spark, src, qs)
      .collect().toSet
    val report = sources.Writers.compactIndex(spark, src, dest).head()
    assert(report.getString(0) == "lexical")
    val (filesBefore, filesAfter) = (report.getLong(2), report.getLong(3))
    assert(filesAfter < filesBefore,
      s"compaction did not reduce files: $filesBefore -> $filesAfter")
    // the stamp (and with it the pruning modulus) must ride along —
    // a compacted v2 index that lost its stamp would silently serve
    // full-scan forever after
    assert(sources.Writers.lexLayoutOf(spark, dest).contains(B),
      "compacted dir lost (or drifted) the _graft_layout stamp")
    // row-identical serve through the PRUNED stamped path
    val after = operators.Similarity.bm25ServeQueries(spark, dest, qs)
      .collect().toSet
    assert(after == before, "compacted serve differs from legged serve")
    // the compacted artifact audits clean under the exact
    // stamp-dispatched five-check plan st28's gate and index_fsck run
    val checks = operators.Audit.lexIndexAuditChecks(spark, dest, docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(checks.size == 5 && checks.values.forall(_ == 0L),
      s"compacted index audited non-zero: $checks")
  }

  test("ivf: compacted lists audit clean and the report counts the " +
      "rewrite exactly") {
    val s = spark
    import s.implicits._
    val sim = operators.Similarity
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_ivf"
    sources.Writers.freshScratch(spark, base)
    val src = s"$base/src"; val dest = s"$base/dst"
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", sim.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" % sim.centModulusFor(spark, sf) === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm"))
      .localCheckpoint()
    cents.write.parquet(s"$src/centroids")
    val assigned = sim.ivfAssignment(emb, cents)
      .select($"vec_id", $"c_id").localCheckpoint()
    Seq(0L, 1L, 2L).foreach { k =>
      sources.Writers.appendIvfListsLeg(
        assigned.filter($"vec_id" % 3 === k), src, k.toString)
    }
    val report = sources.Writers.compactIndex(spark, src, dest).head()
    assert(report.getString(0) == "ivf")
    assert(report.getLong(1) == emb.count(),
      "compacted lists row count != corpus count — rewrite lost or " +
        "duplicated vectors")
    assert(report.getLong(3) < report.getLong(2),
      s"compaction did not reduce files: ${report.getLong(2)} -> " +
        s"${report.getLong(3)}")
    val (rc, rl) = sources.Writers.readIvfIndex(spark, dest)
    val checks = operators.Audit.ivfAuditChecks(emb, rl, rc)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(checks.values.forall(_ == 0L),
      s"compacted IVF index audited non-zero: $checks")
  }

  test("routed v1 legs are refused loudly — the inqg flag belongs to " +
      "the admission harness's reindex artifact, not the index dir") {
    val s = spark
    import s.implicits._
    val sq = operators.StreamingQueries
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_routed"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    val docs = sources.Tables.documents(spark, sf)
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    val qg = sq.lexFreezeProbeSet(spark, docs, vocab, base)
    sq.lexAdmit(vocab, qg, docs.filter($"doc_id" % 3 === 0), idx, "base")
    val e = intercept[IllegalArgumentException] {
      sources.Writers.compactIndex(spark, idx, s"$base/dst")
    }
    assert(e.getMessage.contains("ROUTED"),
      s"refusal message does not name the cause: ${e.getMessage}")
  }

  test("v2 layout exclusion: flat-into-legged, legged-into-flat, and " +
      "unstamped-tree adoption are all refused at the write") {
    // the IVF twin has requireListLayout (round-14 advice: mixed
    // partition depths break discovery at READ time, far from the
    // write that caused it); the v2 lexical writers enforce the same
    // class — plus the adoption hole unique to the stamp dispatch: an
    // unstamped (st22 routed) tree stamped v2 would route every pruned
    // serve onto a layout with no gb dirs — and the routed writer
    // refuses the reverse, legs into a stamped tree
    val s = spark
    import s.implicits._
    val sq = operators.StreamingQueries
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_v2_mix"
    sources.Writers.freshScratch(spark, base)
    val p = Seq(("a b c", 1L), ("b c d", 2L)).toDF("g", "doc_id")
    val sz = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "n")
    // flat tree, then a leg into it
    sources.Writers.writeLexIndexV2(p, sz, s"$base/flat", buckets = 4)
    val e1 = intercept[IllegalArgumentException] {
      sources.Writers.writeLexIndexV2Leg(p, sz, s"$base/flat", "0", 4)
    }
    assert(e1.getMessage.contains("cannot mix"), e1.getMessage)
    // legged tree, then a flat append into it
    sources.Writers.writeLexIndexV2Leg(p, sz, s"$base/legged", "0", 4)
    val e2 = intercept[IllegalArgumentException] {
      sources.Writers.writeLexIndexV2(p, sz, s"$base/legged", 4,
        org.apache.spark.sql.SaveMode.Append)
    }
    assert(e2.getMessage.contains("cannot mix"), e2.getMessage)
    // an existing UNSTAMPED (st22 routed) tree cannot be adopted by
    // either v2 writer
    val docs = sources.Tables.documents(spark, sf)
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    val qg = sq.lexFreezeProbeSet(spark, docs, vocab, base)
    val slice = docs.filter($"doc_id" % 3 === 0)
    sq.lexAdmit(vocab, qg, slice, s"$base/routed", "base")
    val e3 = intercept[IllegalArgumentException] {
      sources.Writers.writeLexIndexV2Leg(p, sz, s"$base/routed", "0", 4)
    }
    assert(e3.getMessage.contains("unstamped"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      sources.Writers.writeLexIndexV2(p, sz, s"$base/routed", 4,
        org.apache.spark.sql.SaveMode.Append)
    }
    assert(e4.getMessage.contains("unstamped"), e4.getMessage)
    // ... and a routed leg cannot land in a STAMPED tree, flat or
    // legged: its leg=/inqg= dirs would break partition discovery of
    // the gb= layout at the next read
    Seq("flat", "legged").foreach { tree =>
      val e5 = intercept[IllegalArgumentException] {
        sq.lexAdmit(vocab, qg, slice, s"$base/$tree", "1")
      }
      assert(e5.getMessage.contains("cannot mix"), e5.getMessage)
    }
    // the refused legs left nothing behind: the stamped trees still read
    Seq("flat", "legged").foreach { tree =>
      assert(sources.Writers.readLexIndex(spark, s"$base/$tree")._1.count()
        == 2L, s"$tree tree no longer reads after the refused leg")
    }
  }

  test("a non-index dir is refused before any read") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_none"
    sources.Writers.freshScratch(spark, base)
    val e = intercept[IllegalArgumentException] {
      sources.Writers.compactIndex(spark, base, s"$base/dst")
    }
    assert(e.getMessage.contains("not a stored index"))
  }
}
