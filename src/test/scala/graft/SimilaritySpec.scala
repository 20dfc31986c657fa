package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._
  import operators.Similarity

  test("brute-force knn: k results per query, sims in [-1,1], ranked") {
    val rows = SparkEntry.queries("s01_knn_brute")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { g =>
      assert(g.length == 5)
      val sims = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      sims.foreach(x => assert(x >= -1.0 && x <= 1.0))
    }
  }

  test("LSH knn prunes the candidate space and stays a subset-ranked list") {
    val lsh = SparkEntry.queries("s02_knn_lsh")(spark, sf).collect()
    assert(lsh.nonEmpty)
    // every query returns at most k, correctly ranked
    lsh.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.length <= 5)
      val sims = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH recall on clustered vectors (synthetic planted neighbors)") {
    import spark.implicits._
    // plant 20 clusters of 10 near-identical vectors; LSH must bucket
    // clustered vectors together (fixture embeddings are near-random,
    // so recall there is data-limited — this pins the operator itself).
    val dim = 64
    def base(c: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(c * 31 + j * 7).toFloat)
    val vecs = for {
      c <- 0 until 20; m <- 0 until 10
    } yield (c.toLong * 10 + m, base(c).zipWithIndex.map { case (x, j) =>
      x + (if (m == 0) 0f else 0.01f * ((j + m) % 3 - 1))
    }.toSeq)
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val sk = df.select($"vec_id",
      Similarity.hyperplaneSketch($"embedding", 16, dim).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // same-cluster vectors should share (nearly) all sign bits
    val agree = (0 until 20).flatMap { c =>
      (1 until 10).map { m =>
        sk(c * 10L).zip(sk(c * 10L + m)).count { case (a, b) => a == b }
      }
    }
    assert(agree.forall(_ >= 14), s"cluster bit agreement too low: ${agree.min}/16")
  }

  test("IVF knn: bounded candidates, ranked, and k-capped per query") {
    val ivf = SparkEntry.queries("s04_knn_ivf")(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.length <= 5)
      val sims = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cosine is exact against a hand-computed value") {
    import spark.implicits._
    val df = Seq((Seq(1f, 0f, 1f), Seq(1f, 1f, 0f))).toDF("a", "b")
    val sim = df.select(Similarity.cosine($"a", $"b").as("s"))
      .collect()(0).getDouble(0)
    assert(math.abs(sim - 0.5) < 1e-12)
  }

  test("dvec_dot (double kernel) is exact and SQL-registered") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    // integer-valued doubles: products and sum must be EXACT (m03's
    // oracle-parity requirement), not merely close
    val df = Seq((Seq(3.0, 1e8, 7.0), Seq(2.0, 1e8, 11.0))).toDF("a", "b")
    df.createOrReplaceTempView("dv")
    val viaSql = spark.sql("SELECT dvec_dot(a, b) AS d FROM dv")
      .collect()(0).getDouble(0)
    assert(viaSql == 3.0 * 2.0 + 1e8 * 1e8 + 7.0 * 11.0)
  }

  test("lvec_dot throws on ragged arrays instead of silently truncating") {
    // round-15 advice: d07b's oracle hardcodes 64 dims, so a
    // short/ragged embedding must ERROR on the Spark side, not change
    // the dot silently (the old behavior truncated to min length)
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(column(graft.functions.LongVecDot(
        expression($"a"), expression($"b"))).as("d")).collect()
    }
    assert(e.getMessage.contains("length mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("length mismatch")))
    // equal lengths still exact
    val ok = Seq((Seq(3L, 1000000L), Seq(2L, 1000000L))).toDF("a", "b")
      .select(column(graft.functions.LongVecDot(
        expression($"a"), expression($"b"))).as("d"))
      .collect()(0).getLong(0)
    assert(ok == 6L + 1000000L * 1000000L)
  }

  test("sqdist/dot kernels propagate a null ELEMENT to a NULL result") {
    // round-18 advice: the HOF forms these kernels replaced
    // (aggregate(zip_with(...))) return NULL when any slot is null —
    // the kernels must match, not silently read the slot as 0.
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val lv = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)))
      .toDF("a", "b")
      .select(column(graft.functions.LongVecSqDist(
        expression($"a"), expression($"b"))).as("d")).collect()(0)
    assert(lv.isNullAt(0), "lvec_sqdist must be NULL on a null element")
    val dv = Seq((Seq[java.lang.Double](1.0, null, 3.0),
        Seq[java.lang.Double](1.0, 2.0, 3.0))).toDF("a", "b")
      .select(column(graft.functions.DoubleVecDot(
        expression($"a"), expression($"b"))).as("d")).collect()(0)
    assert(dv.isNullAt(0), "dvec_dot must be NULL on a null element")
    // null-free inputs keep the exact values
    val clean = Seq((Seq(1L, 5L), Seq(4L, 2L))).toDF("a", "b")
      .select(column(graft.functions.LongVecSqDist(
        expression($"a"), expression($"b"))).as("d"))
      .collect()(0).getLong(0)
    assert(clean == 9L + 9L)
  }

  test("k-means: k clusters survive, SSE drops, assignments reproducible") {
    val (assign, sses) = operators.Similarity.kmeans(spark, sf)
    val rows = assign.collect()
    val byCluster = rows.groupBy(_.getInt(1))
    assert(byCluster.keySet.size == 8,
      s"expected 8 live clusters, got ${byCluster.keySet}")
    val Seq(s1, s2, s3) = sses.map(_.collect()(0).getDouble(0))
    assert(s2 < s1, s"round-1 SSE must strictly drop: $s1 -> $s2")
    assert(s3 <= s2 * 1.000001, s"SSE must be non-increasing: $s2 -> $s3")
    // deterministic: an independent build lands every point identically
    val again = operators.Similarity.kmeans(spark, sf)._1.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getInt(1)))
  }

  test("PQ knn: self at rank 1, exact re-rank distances, high recall@3") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("s07_knn_pq")(spark, sf).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 4)
    byQuery.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
      // the query vector is in the corpus: PQ candidates must recover it
      assert(sorted.head.getLong(2) == q && sorted.head.getLong(3) == 0L)
      // re-ranked distances are nondecreasing in rank
      assert(sorted.map(_.getLong(3)).toSeq == sorted.map(_.getLong(3)).sorted.toSeq)
    }
    // recall@3 vs the exact integer-grid scan (ADC candidates are
    // approximate; the 16-candidate pool must still capture the true
    // top-3 almost always on this fixture)
    val q0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 200.0 + 0.5).cast("long")).as("qx"))
    val grid = q0.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val hits = byQuery.keys.toSeq.map { q =>
      val qv = grid(q)
      val exact3 = grid.toSeq.map { case (id, v) =>
        id -> v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sortBy { case (id, d2) => (d2, id) }.take(3).map(_._1).toSet
      byQuery(q).map(_.getLong(2)).count(exact3.contains)
    }.sum
    assert(hits >= 10, s"recall@3 too low: $hits/12")
  }

  test("s07b: IVF-restricted ADC prunes the scan and tracks exhaustive s07") {
    val p = Similarity.pqParts(spark, sf)
    // the scale claim, counted on the real pipeline: ADC code rows
    // scanned per query drop to the probed cells' share (nprobe 4 of
    // the 5 sampled coarse cells at this fixture — the claim is the
    // restriction mechanism; the fraction grows with the cell count)
    val nQueries = p.qs.count()
    val fullRows = p.codes.count() * nQueries
    val ivfRows = Similarity.ivfPqCandidateCodes(p).count()
    info(s"s07b ADC scan rows: $ivfRows vs exhaustive $fullRows")
    assert(ivfRows < fullRows,
      s"IVF restriction scanned no fewer code rows: $ivfRows vs $fullRows")
    // answer quality: self still at rank 1 (the query's own cell is by
    // definition its nearest — always probed), and the top-3 sets
    // agree with the exhaustive scan on most slots (losses can only
    // come from true neighbors in unprobed cells)
    val full = SparkEntry.queries("s07_knn_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ivf = SparkEntry.queries("s07b_knn_ivfpq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(ivf.map(_._1).distinct.length == 4,
      s"a query vanished from s07b: ${ivf.map(_._1).distinct.toSeq}")
    ivf.filter(_._2 == 1).foreach { case (q, _, v) =>
      assert(v == q, s"query $q lost itself under IVF restriction") }
    val overlap = (ivf.map(t => (t._1, t._3)).toSet &
      full.map(t => (t._1, t._3)).toSet).size.toDouble / full.length
    info(f"s07b-vs-s07 top-3 id agreement: $overlap%.3f")
    assert(overlap >= 0.5,
      f"IVF-ADC diverged too far from exhaustive ADC: $overlap%.3f")
  }

  test("w07: stored ANN index answers true verdicts and its cell layout" +
      " partition-prunes") {
    import spark.implicits._
    // at the oracle fixture (sf0.01): the 0.55 recall floor is stated
    // for that scale — the 500-vector smoke fixture undershoots it
    // (k=16 cells over 500 points leaves ~31-point cells; nprobe 4
    // covers too little of the true top-5 mass there)
    val d01 = "/root/testdata/sf0.01"
    // the verdict row is the oracle's contract — assert it here too so
    // a divergence fails fast with the booleans named, not as a hash
    val row = SparkEntry.queries("w07_ann_index")(spark, d01).collect()(0)
    assert(row.getAs[Boolean]("all_answered"), "stored index left a query" +
      " unanswered")
    assert(row.getAs[Boolean]("recall_ok"), "stored-index recall floor")
    assert(row.getAs[Boolean]("stored_equals_inline"),
      "stored-index kNN diverges from the inline-trained answer")
    // the serving claim: the inverted lists are laid out by cell, so a
    // probe that touches cells {1,3} reads ONLY those partitions —
    // PartitionFilters on c_id in the scan, no full-index read
    val lists = spark.read.parquet(
      s"${operators.WriterQueries.annIndexDir(d01)}/lists")
      .filter($"c_id".isin(1, 3))
    val scan = lists.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("c_id"),
      s"cell filter not pushed to partition pruning:\n$scan")
  }

  test("s09: diverse retrieval is s04's top-5 with the cluster policy" +
      " applied exactly") {
    import spark.implicits._
    // the oracle proves the whole composition against DuckDB; these
    // pin the POLICY semantics a consumer relies on, recomputed from
    // the shipped stages' own outputs
    val d = "/root/testdata/sf0.01"
    val diverse = SparkEntry.queries("s09_diverse_knn")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(diverse.nonEmpty)
    val clusterOf = SparkEntry.queries("d06b_dup_clusters_lsh")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topk = SparkEntry.queries("s04_knn_ivf")(spark, d)
      .select($"q_id", $"vec_id", $"sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def cl(id: Long) = clusterOf.getOrElse(id, id)
    // (a) nothing in the query's own near-dup cluster; (b) at most one
    // result per cluster; (c) every result came from s04's top-5
    diverse.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.forall(r => cl(r._2) != cl(q)),
        s"query $q returned its own near-dup")
      val cls = rows.map(r => cl(r._2))
      assert(cls.length == cls.distinct.length,
        s"query $q returned two members of one cluster")
      assert(rows.length <= 3 && rows.map(_._4).sorted.sameElements(
        1 to rows.length), s"query $q rk not a dense 1..n prefix")
    }
    val topkSet = topk.map(t => (t._1, t._2)).toSet
    assert(diverse.forall(r => topkSet((r._1, r._2))),
      "s09 invented a neighbor s04's top-5 does not contain")
    // (d) per surviving cluster, s09 kept the BEST-sim candidate
    val bestPerCluster = topk.groupBy(t => (t._1, cl(t._2)))
      .map { case (k, ts) => k -> ts.map(t => (t._3, -t._2)).max }
    diverse.foreach { case (q, v, sim, _) =>
      val best = bestPerCluster((q, cl(v)))
      assert(best == ((sim, -v)),
        s"query $q kept a non-best member of cluster ${cl(v)}")
    }
  }

  test("s10: filtered ANN returns only label-matching neighbors and" +
      " beats post-filtering") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val labelOf = spark.read.parquet(s"$d/embeddings.parquet")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filtered = SparkEntry.queries("s10_filtered_knn")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(filtered.nonEmpty)
    // (a) the predicate holds on every row; (b) rk is a dense 1..n<=3
    filtered.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.forall(r => labelOf(r._2) == labelOf(q)),
        s"query $q got a neighbor outside its label")
      assert(rows.length <= 3 && rows.map(_._3).sorted.sameElements(
        1 to rows.length), s"query $q rk not a dense 1..n prefix")
    }
    // (c) the design point: post-filtering s04's blind top-5 by the
    // same predicate under-fills k — pre-filtering must strictly
    // dominate the total result mass on this fixture (1-in-10 labels)
    val postFiltered = SparkEntry.queries("s04_knn_ivf")(spark, d)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (q, v) => labelOf(v) == labelOf(q) }
    assert(filtered.length > postFiltered.length,
      s"pre-filter (${filtered.length}) did not beat post-filter " +
        s"(${postFiltered.length})")
  }

  test("s11: hybrid RRF fuses exactly the two legs' top-5 lists") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val fused = SparkEntry.queries("s11_hybrid_rrf")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(fused.nonEmpty)
    val lex = operators.Similarity.lexTopK(
        sources.Tables.documents(spark, d))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val vec = SparkEntry.queries("s04_knn_ivf")(spark, d)
      .select($"q_id", $"vec_id", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // every fused row comes from a leg, and its rrf is EXACTLY the
    // recomputed reciprocal-rank sum of its leg ranks
    fused.foreach { case (q, id, rrf, _) =>
      val l = lex.get((q, id)); val v = vec.get((q, id))
      assert(l.isDefined || v.isDefined,
        s"($q,$id) in neither leg's top-5")
      val expect = l.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        v.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 1e-6,
        s"($q,$id) rrf $rrf != recomputed $expect")
    }
    // rk dense, and both legs actually contribute somewhere (the fusion
    // is not vacuously one-legged on this fixture)
    fused.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.sameElements(1 to rows.length),
        s"query $q rk not dense")
    }
    assert(fused.exists(f => lex.contains((f._1, f._2)) &&
      !vec.contains((f._1, f._2))), "no lexical-only contribution")
    assert(fused.exists(f => vec.contains((f._1, f._2)) &&
      !lex.contains((f._1, f._2))), "no vector-only contribution")
  }

  test("s11 served from the w12 stored lexical index reproduces its" +
      " answer; a bogus index dir fails") {
    // w12's oracle (s11's SQL verbatim) already proves stored≡inline
    // differentially; this pins the same claim in-suite AND proves the
    // stored path is LIVE — the round-10 lesson: equality alone is
    // vacuous (stored == inline by design), engagement needs the
    // negative probe.
    val dest = s"${System.getProperty("java.io.tmpdir")}/graft_s11idx_test"
    graft.sources.Writers.freshScratch(spark, dest)
    val (postings, sizes) = operators.Similarity.lexIndex(
      sources.Tables.documents(spark, sf))
    graft.sources.Writers.writeLexIndexV2(postings, sizes, dest,
      operators.Similarity.LexBuckets)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val inline = rows(operators.Similarity.s11Build(spark, sf, None))
    val stored = rows(operators.Similarity.s11Build(spark, sf, Some(dest)))
    assert(inline.nonEmpty)
    assert(stored == inline,
      s"stored-index s11 diverges: extra=${(stored -- inline).take(5)}, " +
        s"missing=${(inline -- stored).take(5)}")
    // negative probe: a bogus dir must FAIL, not silently run inline —
    // and it must fail on the STORED-INDEX READ specifically (a broad
    // catch would also pass on an unrelated s11 failure, weakening the
    // "stored path is live" proof; round-13 advice)
    val failure =
      try {
        operators.Similarity.s11Build(spark, sf,
          Some(s"$dest-definitely-missing")).collect()
        None
      } catch { case e: Exception => Some(e) }
    assert(failure.isDefined,
      "s11Build pointed at a missing index dir did not fail — the " +
        "stored path ignored its parameter")
    val msg = failure.get.getMessage
    assert(msg != null && msg.contains("definitely-missing"),
      s"s11 failed for a reason unrelated to the bogus index dir: $msg")
  }

  test("s12: BM25 serves from the stored w12 index with zero extra" +
      " artifacts, and idf genuinely reorders vs Jaccard") {
    import spark.implicits._
    // the claim that makes s12 production-shaped: every BM25 statistic
    // (df, |d|, avgdl, N) is DERIVABLE from the stored postings+sizes,
    // so the same w12 artifact serves Jaccard, RRF, and BM25. Written
    // then read back through the real layout — row-identical.
    val dest = s"${System.getProperty("java.io.tmpdir")}/graft_s12idx_test"
    graft.sources.Writers.freshScratch(spark, dest)
    val (postings, sizes) = operators.Similarity.lexIndex(
      sources.Tables.documents(spark, sf))
    graft.sources.Writers.writeLexIndexV2(postings, sizes, dest,
      operators.Similarity.LexBuckets)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inline = rows(operators.Similarity.bm25FromIndex(postings, sizes))
    val (sp, ss) = graft.sources.Writers.readLexIndex(spark, dest)
    val stored = rows(operators.Similarity.bm25FromIndex(sp, ss))
    assert(inline.nonEmpty)
    assert(stored == inline,
      s"stored-index BM25 diverges: extra=${(stored -- inline).take(5)}, " +
        s"missing=${(inline -- stored).take(5)}")
    // BM25 must be a genuinely different RANKING, not Jaccard renamed —
    // idf weighting and length normalization have to reorder at least
    // one query's top-5 membership-or-order on this fixture (if they
    // never did, the operator would be dead weight)
    val jac = operators.Similarity.lexTopKFrom(postings, sizes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inline != jac,
      "BM25 top-5 identical to Jaccard top-5 across every query — " +
        "the idf/length weighting is not engaging")
  }
}
