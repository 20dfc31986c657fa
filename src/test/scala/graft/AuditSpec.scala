package graft

import org.scalatest.funsuite.AnyFunSuite

class AuditSpec extends AnyFunSuite {
  import SparkTestSession._

  test("dq01: all seven checks report, and the fixture passes the hard ones") {
    val rows = SparkEntry.queries("dq01_quality_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("orders_null_custkey", "orders_dup_orderkey",
      "lineitem_orphan_orderkey", "lineitem_discount_domain",
      "lineitem_nonpositive_qty", "orders_nonpositive_total",
      "ship_before_order"))
    // the generator emits a clean star schema: keys non-null, unique,
    // referentially intact, discounts in [0,1]
    assert(rows("orders_null_custkey") == 0L)
    assert(rows("orders_dup_orderkey") == 0L)
    assert(rows("lineitem_orphan_orderkey") == 0L)
    assert(rows("lineitem_discount_domain") == 0L)
  }

  test("st25's gate admits its three chunks through ONE streaming query") {
    // chunk k is batch k of one long-running query (atomic publish), so
    // a gate pays stream start-up once, not once per chunk
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val rows =
      try SparkEntry.queries("st25_manifest_audit_gate")(spark, sf).collect()
      finally spark.streams.removeListener(listener)
    assert(started.get == 1, s"st25 started ${started.get} streaming queries")
    val streamMax = rows.filter(_.getString(0) == "stream_max")
    assert(streamMax.length == 4 && streamMax.forall(_.getLong(2) == 0L),
      s"healthy commits audited non-zero: ${streamMax.mkString(", ")}")
  }

  test("st26's gate is not vacuous: a half-landed commit (postings " +
      "without sizes) fires at the next audit") {
    // st26's stream_max rows pin all-zeros on healthy commits; this is
    // the ENGAGEMENT probe proving those zeros are earned — the same
    // audit over a chain where one leg's sizes vanished (a crash
    // between the two layout writes) must flip missing_docs, because
    // the leg's docs still have stored postings (so they recount
    // against the stored vocabulary) but no length rows to serve with.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val sq = operators.StreamingQueries
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_st26_probe"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    val docs = sources.Tables.documents(spark, sf)
    // st26's own admission path: v2 legs under the shared B
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    val B = operators.Similarity.LexBuckets
    sq.lexAdmitV2(vocab, docs.filter($"doc_id" % 3 === 0), idx, "base", B)
    sq.lexAdmitV2(vocab, docs.filter($"doc_id" % 3 === 1), idx, "0", B)
    def gate(): Map[String, Long] = {
      val (pr, szr) = sources.Writers.readLexIndex(spark, idx)
      operators.Audit.lexAuditChecks(
          docs.filter(($"doc_id" % 3).isin(0L, 1L)), pr, szr)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val healthy = gate()
    assert(healthy.values.forall(_ == 0L),
      s"healthy two-leg chain audited non-zero: $healthy")
    // the crash: leg 0's sizes never landed
    sources.Writers.freshScratch(spark, s"$idx/sizes/leg=0")
    val fired = gate()
    assert(fired("missing_docs") > 0L,
      s"gate did not fire on the half-landed commit: $fired")
    assert(fired("orphaned_docs") == 0L &&
      fired("orphaned_postings") == 0L,
      s"corruption leaked into unrelated checks: $fired")
  }

  test("st27's gate is not vacuous: a vanished admission leg fires " +
      "missing_vecs at the next audit") {
    // st27's stream_max rows pin all-zeros on healthy commits; this is
    // the ENGAGEMENT probe proving those zeros are earned (st26's
    // probe, vector side) — the same audit over an index where one
    // admission leg's list dir vanished must flip missing_vecs (the
    // leg's vectors are current corpus with no stored list row) and
    // ONLY missing_vecs.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val sq = operators.StreamingQueries
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_st27_probe"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val cents = sq.ivfReindexAndSeed(spark, sf, emb, idx)
    sq.ivfAdmit(cents, emb.filter($"vec_id" % 3 === 1), idx, "0")
    def gate(): Map[String, Long] = {
      val (rc, rl) = sources.Writers.readIvfIndex(spark, idx)
      operators.Audit.ivfAuditChecks(
          emb.filter(($"vec_id" % 3).isin(0L, 1L)), rl, rc)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val healthy = gate()
    assert(healthy.values.forall(_ == 0L),
      s"healthy two-leg index audited non-zero: $healthy")
    // the crash: leg 0's lists never landed
    sources.Writers.freshScratch(spark, s"$idx/lists/leg=0")
    val fired = gate()
    assert(fired("missing_vecs") > 0L,
      s"gate did not fire on the vanished leg: $fired")
    assert(fired("orphaned_vecs") == 0L &&
      fired("assignment_drift") == 0L,
      s"corruption leaked into unrelated checks: $fired")
  }

  test("st28's gate is not vacuous: a rogue producer's leg bucketed " +
      "by the WRONG modulus fires misbucketed_postings and ONLY it") {
    // st28's stream_max rows pin all five checks at zero on healthy
    // commits; this is the ENGAGEMENT probe proving the v2-specific
    // zero is earned. The failure mode is exactly the one
    // writeLexIndexV2Leg's require refuses at the API: a second
    // producer bucketing by a different modulus scatters shingles
    // across buckets. A producer that BYPASSES the API (raw parquet
    // into the index tree) can still land that leg — the audit must
    // catch what the write-path guard cannot. The rogue leg carries
    // correct postings AND sizes for its slice, so the four corpus
    // checks stay zero: only the bucket-integrity check can see the
    // drift, which is why the v2 layout needs a fifth check at all.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val sq = operators.StreamingQueries
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_st28_probe"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    val B = 16
    val docs = sources.Tables.documents(spark, sf)
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    sq.lexAdmitV2(vocab, docs.filter($"doc_id" % 3 === 0), idx, "base", B)
    sq.lexAdmitV2(vocab, docs.filter($"doc_id" % 3 === 1), idx, "0", B)
    def gate(cur: org.apache.spark.sql.DataFrame): Map[String, Long] =
      operators.Audit.lexIndexAuditChecks(spark, idx, cur)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val healthy = gate(docs.filter(($"doc_id" % 3).isin(0L, 1L)))
    assert(healthy.keySet.contains("misbucketed_postings"),
      s"the stamp did not dispatch the v2 check: ${healthy.keySet}")
    assert(healthy.size == 5 && healthy.values.forall(_ == 0L),
      s"healthy two-leg v2 index audited non-zero: $healthy")
    // the rogue leg: slice 2's postings bucketed by pmod(hash(g), 8)
    // under a buckets=16 stamp, with its sizes landed correctly
    val rogue = docs.filter($"doc_id" % 3 === 2)
      .select($"doc_id",
        explode(operators.Dedup.shingles(
          operators.Dedup.toks($"text"))).as("g"))
      .join(vocab, "g")
      .select($"g", $"doc_id", pmod(hash($"g"), lit(8)).as("gb"))
      .localCheckpoint()
    rogue.write.partitionBy("gb").parquet(s"$idx/postings/leg=rogue")
    rogue.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .select($"doc_id", $"n")
      .write.parquet(s"$idx/sizes/leg=rogue")
    val expected = rogue.filter(pmod(hash($"g"), lit(B)) =!= $"gb").count()
    assert(expected > 0L, "fixture too small to exhibit modulus drift")
    val fired = gate(docs) // all three slices are now "current"
    assert(fired("misbucketed_postings") == expected,
      s"expected $expected misbucketed rows, audit saw: $fired")
    assert(fired("missing_docs") == 0L && fired("orphaned_docs") == 0L &&
      fired("orphaned_postings") == 0L && fired("size_drift") == 0L,
      s"corruption leaked into unrelated checks: $fired")
  }

  test("dq02: per-source verdicts agree with independently computed fractions") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val out = SparkEntry.queries("dq02_source_quality")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, dup, tok, short) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dup"), r.getAs[Long]("total_tokens"),
        r.getAs[Long]("n_short"))
      val expectKeep = 5 * dup <= n && 10 * short <= 3 * n && tok >= 15 * n
      assert(r.getAs[Boolean]("keep") == expectKeep, s"source ${r.get(0)}")
      assert(dup >= 0 && dup < n && short <= n)
    }
    // exact-dup count cross-checked for one source against a direct query
    val src = out.head.getString(0)
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"source" === src)
      .agg((count(lit(1)) - countDistinct(md5($"text"))).as("d"))
      .head().getLong(0)
    assert(out.head.getAs[Long]("n_dup") == direct)
  }

  test("dq03: embedding audit reports all five checks, fixture is clean") {
    val rows = SparkEntry.queries("dq03_embedding_audit")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("null_embedding", "wrong_dim", "non_finite",
      "zero_norm", "dup_vec_id"))
    assert(rows.values.forall(_ == 0L), s"fixture should be clean: $rows")
  }

  test("p07: every packed bin fills to the token budget, one straddler each") {
    val rows = SparkEntry.queries("p07_sequence_pack")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val toks = r.getAs[Long]("total_tokens")
      // concat-and-chunk leaves no padding gap beyond one doc's tail
      assert(toks >= 1900 && toks <= 2400, s"bin fill $toks")
      assert(r.getAs[Long]("n_straddle") <= 1)
      assert(r.getAs[Long]("n_docs") > 0)
    }
  }

  test("w04: merge actions partition the keys by their %7 branch") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val byAction = SparkEntry.queries("w04_merge_upsert")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mods = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(($"o_orderkey" % 7).as("m")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = mods.values.sum
    assert(byAction("updated") == mods.getOrElse(0L, 0L))
    assert(byAction("inserted") == mods.getOrElse(5L, 0L))
    // kept = everything except the updated and deleted branches
    assert(byAction("kept") ==
      total - mods.getOrElse(0L, 0L) - mods.getOrElse(3L, 0L))
  }

  test("w08: the merged SCD2 dimension holds the history invariants") {
    import spark.implicits._
    // the oracle already proves merge-maintained == rebuilt-from-
    // scratch; these pin the SHAPE invariants a consumer relies on,
    // independent of the oracle's window formulation: exactly one
    // current row per key, closed intervals chain seamlessly
    // (valid_to == the key's next valid_from — no gaps, no overlaps),
    // and the cutoff seam produced genuinely closed-out rows
    val rows = SparkEntry.queries("w08_scd2_history")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3)))
    val byKey = rows.groupBy(_._1)
    byKey.foreach { case (k, h) =>
      assert(h.count(_._4) == 1, s"key $k: ${h.count(_._4)} current rows")
      val sorted = h.sortBy(_._2.getTime)
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        val (_, _, to, _) = pair(0)
        val (_, from2, _, _) = pair(1)
        assert(to.contains(from2),
          s"key $k: interval chain broken at $from2 (valid_to=$to)")
      }
      assert(sorted.last._3.isEmpty, s"key $k: current row has valid_to")
    }
    // the seam was exercised: some keys have history on both sides of
    // the 1997-01-01 cutoff, so the merge really closed stored rows
    val cut = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val straddling = byKey.count { case (_, h) =>
      h.exists(_._2.before(cut)) && h.exists(r => !r._2.before(cut)) }
    assert(straddling > 0, "no key straddles the cutoff — merge vacuous")
  }

  test("w10: version-as-of reads resolve every horizon of the chain," +
      " not just the latest") {
    import spark.implicits._
    // the registered w10 oracle pins AS-OF v1; here the OTHER horizons:
    // as-of v0 must equal the pre-cutoff build even though v1/v2 exist,
    // and as-of latest must equal w08's full rebuild — i.e. version
    // resolution never leaks later buckets backwards or loses carried
    // buckets forwards
    val wq = operators.WriterQueries
    val dim = tempDir("graft_w10_asof")
    val cutoff = "1997-01-01"; val horizon = "1997-07-01"
    val orders = sources.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dim, 0L)
    wq.scd2MergeStep(dim, 0L, orders.filter(
      $"o_orderdate" >= cutoff && $"o_orderdate" < horizon))
    wq.scd2MergeStep(dim, 1L, orders.filter($"o_orderdate" >= horizon))
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3), r.getString(4),
        r.getDouble(5))).toSet
    val cols = wq.Scd2Schema.fieldNames.map(org.apache.spark.sql.functions.col)
    assert(rowSet(wq.scd2State(spark, dim, 0L).select(cols: _*)) ==
      rowSet(wq.scd2History(wq.scd2Changes(
        orders.filter($"o_orderdate" < cutoff))).select(cols: _*)),
      "as-of v0 diverges from the pre-cutoff build")
    assert(wq.scd2LatestVersion(spark, dim) == 2L)
    assert(rowSet(wq.scd2State(spark, dim, 2L).select(cols: _*)) ==
      rowSet(SparkEntry.queries("w08_scd2_history")(spark, sf)
        .select(cols: _*)),
      "as-of latest diverges from the from-scratch rebuild")
  }

  test("w11: vacuum expires below-horizon versions without moving a" +
      " served row") {
    import spark.implicits._
    val wq = operators.WriterQueries
    val dim = tempDir("graft_w11_vac")
    val cutoff = "1997-01-01"; val horizon = "1997-07-01"
    val orders = sources.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dim, 0L)
    wq.scd2MergeStep(dim, 0L, orders.filter(
      $"o_orderdate" >= cutoff && $"o_orderdate" < horizon))
    wq.scd2MergeStep(dim, 1L, orders.filter($"o_orderdate" >= horizon))
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3), r.getString(4),
        r.getDouble(5))).toSet
    val cols = wq.Scd2Schema.fieldNames.map(org.apache.spark.sql.functions.col)
    val preV1 = rowSet(wq.scd2State(spark, dim, 1L).select(cols: _*))
    val preV2 = rowSet(wq.scd2State(spark, dim, 2L).select(cols: _*))
    assert(wq.scd2Vacuum(spark, dim, keepFrom = 1L) == Seq(0L))
    // served state is untouched at every retained horizon
    assert(rowSet(wq.scd2State(spark, dim, 1L).select(cols: _*)) == preV1,
      "vacuum moved rows at the retention horizon")
    assert(rowSet(wq.scd2State(spark, dim, 2L).select(cols: _*)) == preV2,
      "vacuum moved rows at the latest horizon")
    assert(wq.scd2LatestVersion(spark, dim) == 2L)
    // the expired horizon fails loudly, not silently-empty
    intercept[IllegalStateException](wq.scd2State(spark, dim, 0L))
    // and v1 is now a COMPLETE base: it alone covers every bucket the
    // v2 read resolves below v2 (no dangling reference to deleted v0)
    val (fs, root) = sources.Writers.fsOf(spark, dim)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v0")))
    val v1Buckets = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, "v1"))
      .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSet
    val v2Buckets = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, "v2"))
      .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSet
    val needed = preV2.map(r => s"bucket=${(r._1 % wq.Scd2Buckets +
      wq.Scd2Buckets) % wq.Scd2Buckets}")
    assert(needed.subsetOf(v1Buckets ++ v2Buckets),
      "post-vacuum chain no longer covers every served bucket")
  }

  test("dq05: leakage table equals the manual d03-pairs x p01-split join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the audit must be EXACTLY the composition of its two shipped
    // stages — recompute it from the operators' own outputs and
    // compare, so a refactor of either stage can't silently drift the
    // report; also pin the ordered-pair convention (split_a <= split_b)
    val got = SparkEntry.queries("dq05_split_leakage")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val splits = operators.Splits
      .splitAssignment(sources.Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = operators.Dedup
      .minhashPairs(spark, sf, numHashes = 64, bands = 16)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // per-side doc attribution: each pair's docs re-keyed to the
    // ordered split pair, so the distinct counts are per SPLIT side
    // (not the id-order doc_b, which belongs to neither side)
    val want = pairs
      .map { case (a, b) => (splits(a), splits(b), a, b) }
      .filter { case (sa, sb, _, _) => sa != sb }
      .map { case (sa, sb, a, b) =>
        if (sa <= sb) (sa, sb, a, b) else (sb, sa, b, a) }
      .groupBy { case (sa, sb, _, _) => (sa, sb) }
      .map { case (k, vs) => k -> (vs.size.toLong,
        vs.map(_._3).distinct.size.toLong,
        vs.map(_._4).distinct.size.toLong) }
    assert(got == want, s"leakage diverges: $got vs $want")
    got.keys.foreach { case (a, b) => assert(a <= b) }
    assert(got.values.map(_._1).sum > 0, "fixture has no cross-split" +
      " near-dups — the audit would be vacuous")
  }

  test("p11 repairs dq05's leaks: zero cross-split near-dup pairs," +
      " singletons keep p01's split") {
    import spark.implicits._
    // the audit→repair loop closed end-to-end: the SAME pair set dq05
    // scores must find ZERO boundary crossings under p11's group
    // split (leak-free by construction), while every doc with no
    // near-dup — rep == doc_id — keeps p01's assignment bit-for-bit
    // (the repair must not churn the unaffected 95%+ of the corpus)
    val p11 = SparkEntry.queries("p11_leakfree_split")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val pairs = operators.Dedup
      .minhashPairs(spark, sf, numHashes = 64, bands = 16)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture has no near-dup pairs")
    val crossing = pairs.filter { case (a, b) => p11(a)._2 != p11(b)._2 }
    assert(crossing.isEmpty,
      s"p11 left cross-split near-dup pairs: ${crossing.take(5)}")
    // and dq05's fixture premise holds: p01 DID leak on this pair set,
    // so the zero above is a repair, not a vacuous pass
    val p01 = operators.Splits
      .splitAssignment(sources.Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairs.exists { case (a, b) => p01(a) != p01(b) },
      "p01 has no leaks on this fixture — the repair test is vacuous")
    val singletons = p11.filter { case (id, (rep, _)) => rep == id }
    assert(singletons.nonEmpty)
    singletons.foreach { case (id, (_, split)) =>
      assert(split == p01(id),
        s"singleton $id churned: p11=$split p01=${p01(id)}")
    }
    // rates stay recognizably 90/5/5 after cluster moves
    val train = p11.values.count(_._2 == "train").toDouble / p11.size
    assert(train > 0.8 && train < 0.97, s"train rate drifted: $train")
  }

  test("dq07: a CLEAN IVF index audits to all-zeros (negative path)") {
    // The driver oracle only ever sees dq07's staleness-injected
    // positive path (65/39/31 at sf0.01) — this pins the converse: an
    // index freshly built over the CURRENT corpus, through the same
    // write/read-back layout, reports zero violations on every check.
    // A false positive here (e.g. recompute arithmetic drifting from
    // the stored assignment's) would page an operator on a healthy
    // serving index.
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val cents = emb
      .filter($"vec_id" % operators.Similarity.centModulusFor(spark, sf)
        === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm"))
    val idx = tempDir("graft_dq07clean")
    sources.Writers.freshScratch(spark, idx)
    sources.Writers.writeIvfIndex(cents,
      operators.Similarity.ivfAssignment(emb, cents), idx)
    val (rc, rl) = sources.Writers.readIvfIndex(spark, idx)
    val got = operators.Audit
      .ivfAuditChecks(emb, rl.localCheckpoint(), rc.localCheckpoint())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("missing_vecs", "orphaned_vecs",
      "assignment_drift"))
    got.foreach { case (k, n) =>
      assert(n == 0L, s"clean index flagged $k=$n")
    }
  }

  test("dq08: a CLEAN chain audits to all-zeros, and a SANCTIONED " +
      "vacuum stays clean (negative path)") {
    // The driver oracle only ever sees dq08's corruption-injected
    // positive path — this pins the converse twice over: (1) a freshly
    // built chain with every manifest committed reports zero on all
    // four checks; (2) the engine's OWN retention protocol (scd2Vacuum:
    // compact, re-point manifests, stamp horizon, delete) must stay
    // clean — the audit exists to catch EXTERNAL deletion, and a false
    // positive after every sanctioned vacuum would page an operator on
    // every healthy table.
    import spark.implicits._
    val dest = tempDir("graft_dq08clean")
    sources.Writers.freshScratch(spark, dest)
    val cutoff = "1997-01-01"; val horizon = "1997-07-01"
    val orders = sources.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    operators.WriterQueries.scd2WriteVersion(
      operators.WriterQueries.scd2History(operators.WriterQueries
        .scd2Changes(orders.filter($"o_orderdate" < cutoff))), dest, 0L)
    operators.WriterQueries.scd2MergeStep(dest, 0L, orders.filter(
      $"o_orderdate" >= cutoff && $"o_orderdate" < horizon))
    operators.WriterQueries.scd2MergeStep(dest, 1L,
      orders.filter($"o_orderdate" >= horizon))
    def zeros(label: String): Unit = {
      val got = operators.Audit.manifestAuditChecks(spark, dest)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.keySet == Set("dangling_claims", "misrouted_rows",
        "stale_claims", "unmanifested_buckets"))
      got.foreach { case (k, n) => assert(n == 0L, s"$label flagged $k=$n") }
    }
    zeros("clean chain")
    operators.WriterQueries.scd2Vacuum(spark, dest, keepFrom = 1L)
    zeros("post-vacuum chain")
  }

}
