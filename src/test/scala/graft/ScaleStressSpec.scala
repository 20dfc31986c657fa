package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-stress proof for the documented sub-quadratic scale paths
  * (round-4 verdict ask #4): inflate documents/embeddings 10× with
  * graded near-duplicate structure, then measure that the banded/
  * bucketed operators HOLD RECALL against their quadratic ground
  * truths at a size where those ground truths visibly blow up
  * (the exact pair set grows ~250×; brute-force kNN scores 10×
  * the corpus per query).
  *
  * Inflation is deterministic:
  *  - documents: copy c∈[0,10) of each doc replaces tokens at
  *    positions p with p%10 < c by position-class markers shared
  *    ACROSS copies — adjacent copies overlap heavily (high
  *    Jaccard), distant copies diverge, so true pairs populate a
  *    band around the 0.5 threshold instead of trivially sitting
  *    at 1.0 (identical copies would make LSH recall a tautology).
  *  - embeddings: copy c adds per-(copy, dim) md5-derived noise, so
  *    copies are strong-but-not-identical cosine neighbors (the
  *    regime where sketch bits actually flip).
  *
  * Measured recall numbers are recorded in BASELINE.md §round-5. */
class ScaleStressSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._

  private val Copies = 10
  private val Dim = 64

  /** The round's committed artifact. A run writes its copy under
    * `target/`, so a test run never rewrites a tracked file; the
    * committed one changes only when someone copies a run's file over
    * it on purpose. */
  private val ArtifactFile = "SCALE_r16.json"
  private val RunArtifactFile = s"target/$ArtifactFile"
  private val PrevArtifactFile = "SCALE_r15.json"

  /** The COMPLETE set of metric names any test in this suite can
    * `record()` — the artifact's tamper-evidence (round-8 verdict
    * ask #1): a hand-typed row with no record() call site (the orphan
    * m03b_clear_pair_recall of SCALE_r08) would otherwise survive the
    * merge-with-existing-rows carry-forward indefinitely and tell a
    * reader a floor is failing that no assertion checks. record()
    * rejects names outside this registry, and an on-disk row whose
    * name is unknown FAILS the suite instead of propagating. */
  private val KnownMetrics: Set[String] = Set(
    "q17a_quartile_agreement",
    "d03_minhash_lsh_recall", "d03_clear_pair_recall",
    "s02_lsh_ann_recall", "s04b_trained_ivf_recall",
    "s04_untrained_ivf_recall", "d07_capped_semantic_recall",
    "d11_span_pair_recall", "d11_span_winnow_efficiency",
    "d11b_span_position_recall", "d11b_flagged_doc_recall",
    "st13_10x_state_headroom", "st13_10x_batch_parity",
    "st14_10x_state_headroom", "st14_10x_batch_parity",
    "m03b_media_topk_recall", "m03b_uncapped_bucket_recall",
    "m03b_probe_2x4_recall", "m03b_probe_4x2_recall",
    "m03b_probe_4x2_cand_ratio",
    "m03b_multiprobe_recall", "m03b_multiprobe_cand_ratio",
    "d05_capped_pair_recall", "d05_close_pair_recall",
    "d13_answer_agreement", "d13_join_work_reduction",
    "s08_range_recall", "s08_trained_range_recall",
    "d15_answer_agreement", "d15_join_work_reduction",
    "d15_capped_agreement", "d15_capped_work_reduction",
    "st17_touched_bucket_fraction", "st17_rewrite_savings",
    "s10_prefilter_recall", "s10_postfilter_recall",
    "s11_lex_cap_agreement", "s11_lex_cap_work_reduction",
    "scd2_manifest_metadata_savings", "scd2_manifest_ops_per_read",
    "dq08_audit_listings_100v",
    "scd2_manifest_ops_per_read_100v",
    "scd2_premanifest_listings_per_read_100v",
    "scd2_manifest_metadata_savings_100v",
    "scd2_manifest_ops_per_read_100v_sf10",
    "scd2_premanifest_listings_per_read_100v_sf10",
    "scd2_manifest_metadata_savings_100v_sf10",
    "lex100leg_serve_read_fraction_10legs",
    "lex100leg_serve_read_fraction_100legs",
    "lex100leg_sizes_read_fraction_100legs",
    "lex100leg_admit_cost_ratio",
    "lex100leg_replay_stable",
    "ivf100leg_serve_read_fraction_10legs",
    "ivf100leg_serve_read_fraction_100legs",
    "ivf100leg_admit_cost_ratio",
    "ivf100leg_replay_stable",
    "lexv2_serve_partition_fraction",
    "lexv2_serve_row_fraction",
    "lexv2_serve_parity",
    "lexv2_compact_file_ratio",
    "lexv2_compact_serve_parity")

  /** Each measured (metric, value, floor) row, dumped to the round's
    * SCALE artifact after the suite so the recall evidence is a
    * driver-readable artifact (round-6 verdict ask #5), not just
    * test-log `info` lines. Referenced from BASELINE.md. */
  private val metrics =
    collection.mutable.LinkedHashMap.empty[String, (Double, Double)]

  private def record(name: String, value: Double, floor: Double): Unit = {
    assert(KnownMetrics(name),
      s"metric '$name' is not in KnownMetrics — register it so the " +
        "artifact stays record()-backed")
    metrics.put(name, (value, floor))
  }

  /** The sf1 documents corpus for the index-chain tests: tmp/sf1's
    * when present, else a documents-only 10x marker-token inflation
    * (the sf10-orders self-provision pattern) into `out` — ONE
    * definition for every chain test (the builder was restated per
    * test before the round-18 review), written in OVERWRITE mode so a
    * fixture half-written by a killed run self-heals on the next one
    * instead of failing ErrorIfExists forever. */
  private def sf1DocsPath(out: String): String =
    if (new java.io.File("tmp/sf1/documents.parquet").exists)
      "tmp/sf1/documents.parquet"
    else {
      import spark.implicits._
      if (!new java.io.File(s"$out/_SUCCESS").exists) {
        val d01 = spark.read
          .parquet("/root/testdata/sf0.1/documents.parquet")
        (0 until 10).map { c =>
          val t =
            if (c == 0) $"text"
            else concat_ws(" ", transform(split($"text", " "),
              (tok, i) => when(i % 10 < c,
                concat(lit("mrk"), (i % 10).cast("string")))
                .otherwise(tok)))
          d01.select(($"doc_id" + c * 100000L).as("doc_id"),
            t.as("text"))
        }.reduce(_ unionByName _).write.mode("overwrite").parquet(out)
      }
      out
    }

  /** Rows already present in the artifact on disk — this checkout's
    * run copy, else the committed artifact, else (the first time) the
    * previous round's file — so a partial run
    * (e.g. `testOnly -- -z q17a`) updates its own metrics without
    * clobbering the rest of the table. Every on-disk row must name a
    * KNOWN metric — an unknown name means the artifact was hand-edited
    * (or a metric was retired without pruning), and silently carrying
    * it forward is exactly the integrity hole the round-8 verdict
    * flagged, so the suite fails loudly instead.
    *
    * Returns the rows plus the set of names whose values were INHERITED
    * from the previous round's file rather than measured by any run
    * against the current artifact — those are stamped into a top-level
    * `carried_forward` list (round-9 advice: deleting the round file to
    * re-measure must not silently re-present last round's numbers as
    * fresh), and a name leaves the list the moment a run re-records it. */
  private def existingRows()
      : (Seq[(String, (Double, Double))], Set[String]) = {
    val cur = Seq(RunArtifactFile, ArtifactFile)
      .map(java.nio.file.Paths.get(_)).find(java.nio.file.Files.exists(_))
    val fromPrev = cur.isEmpty
    val p = cur.getOrElse(java.nio.file.Paths.get(PrevArtifactFile))
    if (!java.nio.file.Files.exists(p)) return (Nil, Set.empty)
    if (fromPrev)
      println(s"[ScaleStressSpec] $ArtifactFile absent — carrying rows " +
        s"forward from $PrevArtifactFile; they stay marked " +
        "carried_forward until a run re-measures them")
    val text = java.nio.file.Files.readString(p)
    val Row =
      """"([^"]+)":\s*\{"value":\s*([-0-9.eE]+),\s*"floor":\s*([-0-9.eE]+)\}""".r
    val rows = Row.findAllMatchIn(text).map { m =>
      m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble)
    }.toSeq
    val unknown = rows.map(_._1).filterNot(KnownMetrics)
    assert(unknown.isEmpty,
      s"artifact $p carries rows with no record() source: " +
        s"${unknown.mkString(", ")} — delete them (hand-added rows are " +
        "not evidence)")
    val carried =
      if (fromPrev) rows.map(_._1).toSet
      else {
        val C = """"carried_forward":\s*\[([^\]]*)\]""".r
        C.findFirstMatchIn(text).map(_.group(1)).toSeq
          .flatMap(_.split(","))
          .map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSet
      }
    (rows, carried)
  }

  override def afterAll(): Unit = {
    if (metrics.nonEmpty) {
      val (onDisk, carriedIn) = existingRows()
      val merged = collection.mutable.LinkedHashMap(onDisk: _*)
      metrics.foreach { case (n, vf) => merged.put(n, vf) }
      val carried = (carriedIn -- metrics.keys).filter(merged.contains)
        .toSeq.sorted
      val rows = merged.map { case (n, (v, f)) =>
        f"""    "$n": {"value": $v%.4f, "floor": $f%.2f}"""
      }.mkString(",\n")
      val carriedLine =
        if (carried.isEmpty) ""
        else carried.mkString(
          "  \"carried_forward\": [\"", "\", \"", "\"],\n")
      val json =
        s"""{
           |  "suite": "ScaleStressSpec",
           |  "fixture": "10x graded-near-duplicate inflation of sf0.01",
           |$carriedLine  "metrics": {
           |$rows
           |  }
           |}
           |""".stripMargin
      val out = java.nio.file.Paths.get(RunArtifactFile)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json)
    }
    super.afterAll()
  }

  /** md5-derived deterministic noise in [-0.05, 0.05] — the same
    * portable pseudo-random construction as s02's hyperplane family. */
  private def noiseW(c: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"stress:$c:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000).toDouble / 1000.0 * 0.05
  }

  /** The 10×-inflated fixture dir, built once per JVM — a FIXED path
    * cleared on entry (the st*-twin freshScratch pattern): the previous
    * createTempDirectory leaked one full fixture copy per test JVM
    * (round-6 verdict hygiene #4). */
  private lazy val dir: String = {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stress_fixture"
    sources.Writers.freshScratch(spark, base)
    val docs = sources.Tables.documents(spark, sf)
    (0 until Copies).map { c =>
      val t =
        if (c == 0) $"text"
        else concat_ws(" ", transform(split($"text", " "),
          (tok, i) => when(i % 10 < c,
            concat(lit("mrk"), (i % 10).cast("string"))).otherwise(tok)))
      docs.select(($"doc_id" + c * 100000L).as("doc_id"), t.as("text"),
        $"lang", $"source", length(t).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
      .write.parquet(s"$base/documents.parquet")
    val emb = sources.Tables.embeddings(spark, sf)
    (0 until Copies).map { c =>
      val noise = array((0 until Dim).map(i => lit(noiseW(c, i))): _*)
      emb.select(($"vec_id" + c * 100000L).as("vec_id"),
        zip_with($"embedding", noise,
          (x, n) => (x.cast("double") + n).cast("float")).as("embedding"),
        $"label")
    }.reduce(_ unionByName _)
      .write.parquet(s"$base/embeddings.parquet")
    base
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def knnSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("10x corpus: MinHash-LSH (d03) holds recall vs exact Jaccard (d04)") {
    import spark.implicits._
    val exactDf = SparkEntry.queries("d04_ngram_jaccard")(spark, dir)
      .select($"doc_a", $"doc_b", $"jaccard").localCheckpoint()
    val exact = pairSet(exactDf)
    val lsh = pairSet(SparkEntry.queries("d03_minhash_lsh")(spark, dir))
    // the ground truth has visibly blown up: thousands of true pairs
    // where the base fixture has a handful
    assert(exact.size >= 500, s"inflation too weak: ${exact.size} pairs")
    // d03 exact-verifies its candidates, so it can only MISS, never
    // invent — recall is the single number that matters
    assert(lsh.subsetOf(exact),
      s"LSH invented pairs: ${(lsh -- exact).take(5)}")
    val recall = lsh.size.toDouble / exact.size
    info(f"d03-vs-d04 recall at 10x: $recall%.4f (${lsh.size}/${exact.size})")
    record("d03_minhash_lsh_recall", recall, 0.65)
    // 16 bands x 4 rows puts the S-curve midpoint AT the 0.5
    // threshold — pairs sitting exactly on it detect at ~50% by
    // design, so overall recall is distribution-dependent; 0.65 is
    // the analytic worst case when ALL mass sits on the threshold
    assert(recall >= 0.65, f"LSH recall collapsed: $recall%.4f")
    // the guarantee that must NOT depend on the distribution: pairs
    // clearly above threshold (j >= 0.7 -> per-band hit 0.24,
    // P(any of 16) ~ 0.99) are caught essentially always
    val clear = exactDf.filter($"jaccard" >= 0.7)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clear.size >= 100, s"no clear-pair mass: ${clear.size}")
    val clearRecall = (lsh & clear).size.toDouble / clear.size
    info(f"d03 clear-pair (j>=0.7) recall at 10x: $clearRecall%.4f " +
      f"(${(lsh & clear).size}/${clear.size})")
    record("d03_clear_pair_recall", clearRecall, 0.95)
    assert(clearRecall >= 0.95, f"clear-pair recall: $clearRecall%.4f")
  }

  test("10x corpus: prefix-filtered d13 EQUALS exact d04 on a fraction of the join work") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    // d13's claim is categorically stronger than the sketches': not
    // "recall holds" but "the answer is IDENTICAL to the quadratic
    // ground truth" — assert full-row equality at 10x, where the true
    // pair set has grown ~250x, then measure how much of the inverted-
    // index join work the prefix filter actually removed (the quantity
    // that decides whether d13 survives 100 TB)
    def fullRows(name: String) = SparkEntry.queries(name)(spark, dir)
      .select($"doc_a", $"doc_b", $"inter", $"uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val exact = fullRows("d04_ngram_jaccard")
    val pf = fullRows("d13_prefix_jaccard")
    assert(exact.size >= 500, s"inflation too weak: ${exact.size} pairs")
    val agreement =
      (pf & exact).size.toDouble / math.max(1, (pf | exact).size)
    info(f"d13-vs-d04 answer agreement at 10x: $agreement%.4f " +
      f"(${pf.size} vs ${exact.size} rows)")
    record("d13_answer_agreement", agreement, 1.0)
    assert(pf == exact,
      s"d13 diverges from d04 at 10x: missing=${(exact -- pf).take(5)}, " +
        s"extra=${(pf -- exact).take(5)}")
    // join work = Σ_g c_g·(c_g−1)/2 candidate generations over posting
    // lists: the FULL inverted index (what d04 pays) vs the PREFIX
    // rows (what d13 pays) — both computed as plain linear aggregates
    val docs = sources.Tables.documents(spark, dir)
    def work(rows: org.apache.spark.sql.DataFrame): Double =
      rows.groupBy($"g").agg(fcount(flit(1)).as("c"))
        .agg(sum($"c" * ($"c" - 1) / 2).cast("double").as("w"))
        .collect()(0).getDouble(0)
    val fullWork = work(docs.select($"doc_id",
      explode(operators.Dedup.shingles(operators.Dedup.toks($"text")))
        .as("g")))
    val prefWork = work(operators.Dedup.prefixRows(docs))
    val reduction = 1.0 - prefWork / fullWork
    info(f"d13 join-work reduction at 10x: $reduction%.4f " +
      f"(${prefWork}%.0f of ${fullWork}%.0f candidate generations)")
    // measured 0.9793 at 10x (511k of 24.7M candidate generations) —
    // floor at 0.9 with honest headroom
    record("d13_join_work_reduction", reduction, 0.9)
    assert(reduction >= 0.9,
      f"prefix filter prunes too little at 10x: $reduction%.4f")
  }

  test("10x corpus: IVF range search (s08) holds recall vs the brute radius truth") {
    import spark.implicits._
    // the range form can only MISS (its sims are exact, so every
    // emitted pair clears the radius) — recall against the brute
    // radius truth is the single number, same framing as d03/s02
    val probed = SparkEntry.queries("s08_range_search")(spark, dir)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val qs = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"nrm".as("qn"))
    val truth = qs.crossJoin(emb).filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id",
        round(operators.Similarity.dot($"qv", $"embedding") /
          ($"qn" * $"nrm"), 6).as("sim"))
      .filter($"sim" >= 0.35)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 100, s"radius truth too thin: ${truth.size}")
    assert(probed.subsetOf(truth),
      s"range search invented pairs: ${(probed -- truth).take(5)}")
    val recall = probed.size.toDouble / truth.size
    info(f"s08 range recall at 10x: $recall%.4f " +
      f"(${probed.size}/${truth.size})")
    // the registered (hash-oracled) form uses s04's SAMPLED centroids,
    // whose cell count grows with the corpus at fixed nprobe — the
    // same documented erosion s04's top-5 shows (0.386 at 10x). The
    // honest floor reflects that; the PRODUCTION swap is the trained
    // fixed-k coarse layer below.
    record("s08_range_recall", recall, 0.15)
    assert(recall >= 0.15, f"range recall collapsed: $recall%.4f")
    // production form: s04b's Lloyd-trained k=16 centroids (fixed
    // probed fraction nprobe/k = 1/4 regardless of corpus size) fed
    // through the SAME ivfRangeQueries machinery — the one-argument
    // swap the scaladoc directs at scale
    val cents = operators.Similarity.trainedCentroids(spark, dir)
    val probedTrained = operators.Similarity.ivfRangeQueries(
        qs.select($"q_id", $"qv".as("q_vec"), $"qn".as("q_nrm")),
        cents, operators.Similarity.ivfAssignment(emb, cents),
        nprobe = 4, tau = 0.35)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probedTrained.subsetOf(truth))
    val recallT = probedTrained.size.toDouble / truth.size
    info(f"s08 trained-centroid range recall at 10x: $recallT%.4f " +
      f"(${probedTrained.size}/${truth.size})")
    record("s08_trained_range_recall", recallT, 0.5)
    assert(recallT >= 0.5,
      f"trained range recall collapsed: $recallT%.4f")
    assert(recallT > recall,
      "trained coarse layer did not beat the sampled one at 10x")
  }

  test("10x corpus: s10's pre-filtered probe holds label recall where" +
      " post-filtering under-fills") {
    import spark.implicits._
    // brute label-restricted truth (declared ground-truth cross join,
    // s01's class): per query, exact top-3 among SAME-LABEL vectors
    val emb = sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"), $"label")
    val qs = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"nrm".as("qn"), $"label".as("q_label"))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
    val truth = qs.crossJoin(emb)
      .filter($"q_id" =!= $"vec_id" && $"label" === $"q_label")
      .select($"q_id", $"vec_id",
        (operators.Similarity.dot($"qv", $"embedding") /
          ($"qn" * $"nrm")).as("sim"))
      .withColumn("rk", row_number().over(wT))
      .filter($"rk" <= 3)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 100, s"label truth too thin: ${truth.size}")
    val pre = knnSet(SparkEntry.queries("s10_filtered_knn")(spark, dir))
    val preRecall = (pre & truth).size.toDouble / truth.size
    info(f"s10 pre-filter recall at 10x: $preRecall%.4f " +
      f"(${(pre & truth).size}/${truth.size})")
    // post-filtering the blind top-5 (s04's plan, then WHERE label):
    // with ~1-in-10 labels, most of the 5 slots are spent on
    // wrong-label neighbors before the filter even looks
    val labelOf = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val post = knnSet(SparkEntry.queries("s04_knn_ivf")(spark, dir))
      .filter { case (q, v) => labelOf(v) == labelOf(q) }
    val postRecall = (post & truth).size.toDouble / truth.size
    info(f"s10 post-filter recall at 10x: $postRecall%.4f " +
      f"(${(post & truth).size}/${truth.size})")
    // measured 0.7167 vs 0.4267 at 10x: the gap is structural (5 blind
    // slots at ~1-in-10 selectivity cannot cover a top-3 label truth)
    // but bounded here because the inflation copies SHARE labels — a
    // query's strongest neighbors are its own copies, which post-
    // filtering keeps. The honest claim is a solid margin, not a 2x.
    record("s10_prefilter_recall", preRecall, 0.55)
    record("s10_postfilter_recall", postRecall, 0.0)
    assert(preRecall >= 0.55, f"pre-filter recall collapsed: $preRecall%.4f")
    assert(preRecall > postRecall + 0.15,
      f"pre-filtering ($preRecall%.4f) lost its margin over " +
        f"post-filtering ($postRecall%.4f)")
  }

  test("10x corpus: s11's df cap trades bounded lexical agreement for" +
      " bounded join work") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, dir)
    def pairs(cap: Int) = operators.Similarity.lexTopK(docs, cap = cap)
      .select($"q_id", $"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(operators.Similarity.S11LexDfCap)
    val uncapped = pairs(Int.MaxValue)
    assert(uncapped.size >= 100, s"lexical truth too thin: ${uncapped.size}")
    val agree = (capped & uncapped).size.toDouble / uncapped.size
    info(f"s11 capped-vs-uncapped lexical top-5 agreement at 10x: " +
      f"$agree%.4f (${(capped & uncapped).size}/${uncapped.size})")
    // join work = posting pairs actually fed to the intersection
    // aggregate, the Σ_g df_q(g)·df(g) the cap exists to bound
    val sh = docs.select($"doc_id",
      explode(operators.Dedup.shingles(
        operators.Dedup.toks($"text"))).as("g"))
    val dfs = sh.groupBy($"g").agg(count(lit(1)).as("df"))
    def work(cap: Long): Long = {
      val shc = sh.join(dfs.filter($"df" <= cap).select($"g"), "g")
      shc.filter($"doc_id" % 50 === 0).select($"doc_id".as("q_id"), $"g")
        .join(shc, "g").filter($"doc_id" =!= $"q_id").count()
    }
    val wCap = work(operators.Similarity.S11LexDfCap)
    val wFull = work(Long.MaxValue)
    val reduction = 1.0 - wCap.toDouble / wFull
    info(f"s11 df-cap join-work reduction at 10x: $reduction%.4f " +
      f"($wCap vs $wFull posting pairs)")
    // measured 0.782 agreement at 0.9745 work reduction (23k vs 915k
    // posting pairs): the disagreements are rankings re-ordered among
    // marker-heavy inflation copies once their shared hot shingles
    // stop matching — exactly the stopword semantics the cap declares
    // floors raised to just under the round-11 measurement (0.782 /
    // 0.9745) so a silent recall regression trips the gate instead of
    // coasting on the original 0.5 smoke floor (round-11 advice #6)
    record("s11_lex_cap_agreement", agree, 0.75)
    record("s11_lex_cap_work_reduction", reduction, 0.5)
    assert(agree >= 0.75, f"cap destroyed the lexical ranking: $agree%.4f")
    assert(reduction >= 0.5, f"cap bound no work: $reduction%.4f")
  }

  test("10x corpus: containment join (d15) equals the inverted-index truth" +
      " on one-sided prefix work") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    // same framing as d13's stress row: exact answer, measured pruning.
    // The truth here is the FULL ordered shared-shingle join (the d04
    // cost class) — d15 must reproduce it from A-prefix × full-index
    // candidates only.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"inter", $"na").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    // the EXACTNESS claim belongs to the uncapped one-sided prefix
    // bound (the mathematical statement DedupSpec property-tests);
    // the registered query layers D15Cap's stop-shingle guard on top
    // and pays a measured price below
    val docs = sources.Tables.documents(spark, dir)
    val got = rows(operators.Dedup.containmentPairsOf(docs))
    val sh = docs.select($"doc_id",
      explode(operators.Dedup.shingles(operators.Dedup.toks($"text")))
        .as("g"))
    val sizes = sh.groupBy($"doc_id").agg(fcount(flit(1)).as("n"))
    val want = rows(sh.as("a")
      .join(sh.as("b"), $"a.g" === $"b.g" && $"a.doc_id" =!= $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(fcount(flit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .filter($"na" >= 5 && flit(5) * $"inter" >= flit(4) * $"na"))
    assert(want.size >= 500, s"containment truth too thin: ${want.size}")
    val agreement =
      (got & want).size.toDouble / math.max(1, (got | want).size)
    info(f"d15-vs-truth agreement at 10x: $agreement%.4f " +
      f"(${got.size} vs ${want.size} rows)")
    record("d15_answer_agreement", agreement, 1.0)
    assert(got == want,
      s"d15 diverges at 10x: missing=${(want -- got).take(5)}, " +
        s"extra=${(got -- want).take(5)}")
    // join work: Σ_g prefCount_g · df_g (A-prefix against the full
    // index) vs Σ_g df_g² (the full ordered inverted-index join)
    val dfTab = sh.groupBy($"g").agg(fcount(flit(1)).as("df"))
    val fullWork = dfTab.agg(sum($"df" * $"df").cast("double").as("w"))
      .collect()(0).getDouble(0)
    val prefWork = operators.Dedup.prefixRows(docs, tau = 0.8)
      .filter($"n" >= 5)
      .groupBy($"g").agg(fcount(flit(1)).as("pc"))
      .join(dfTab, "g")
      .agg(sum($"pc" * $"df").cast("double").as("w"))
      .collect()(0).getDouble(0)
    val reduction = 1.0 - prefWork / fullWork
    info(f"d15 join-work reduction at 10x: $reduction%.4f " +
      f"($prefWork%.0f of $fullWork%.0f candidate generations)")
    // measured 0.9926 at 10x (368k of 49.6M candidate generations) —
    // floor at 0.9 with honest headroom
    record("d15_join_work_reduction", reduction, 0.9)
    assert(reduction >= 0.9,
      f"one-sided prefix prunes too little at 10x: $reduction%.4f")
    // The REGISTERED d15 additionally caps the B-side index at D15Cap
    // (stop-shingle removal, candidate side only — emitted values stay
    // exact; capping can only MISS). Its price at this fixture is
    // adversarial BY DESIGN: the inflation's high-copy docs are ~90%
    // shared marker tokens, so whole rare-first prefixes sit above the
    // cap — the degenerate all-boilerplate regime the scaladoc calls
    // out (real corpora hand those docs to d01/d03; a containment
    // sweep is not their detector). Record the trade: agreement vs the
    // uncapped answer, and the extra candidate work removed on top of
    // the one-sided prefix (Σ_g prefCount_g·df_g over stop shingles).
    val capped =
      rows(SparkEntry.queries("d15_containment_join")(spark, dir))
    val cagree =
      (capped & got).size.toDouble / math.max(1, (capped | got).size)
    info(f"d15 capped-vs-uncapped agreement at 10x: $cagree%.4f " +
      f"(${capped.size} of ${got.size} rows; misses are marker-only" +
      " high-copy docs)")
    assert(capped.subsetOf(got),
      s"df cap INVENTED pairs: ${(capped -- got).take(5)}")
    val cappedWork = operators.Dedup.prefixRows(docs, tau = 0.8)
      .filter($"n" >= 5)
      .groupBy($"g").agg(fcount(flit(1)).as("pc"))
      .join(dfTab.filter($"df" <= operators.Dedup.D15Cap), "g")
      .agg(sum($"pc" * $"df").cast("double").as("w"))
      .collect()(0).getDouble(0)
    val capReduction = 1.0 - cappedWork / prefWork
    info(f"d15 df-cap extra work reduction at 10x: $capReduction%.4f " +
      f"($cappedWork%.0f of $prefWork%.0f prefix-join generations)")
    // measured 0.8467 agreement / 0.068 extra reduction: at THIS
    // fixture the prefix side already dodges most stop shingles, so
    // the cap buys little and costs the marker-only docs — the floors
    // record that honestly (the cap's real payoff is corpora where
    // boilerplate df reaches millions and uncapped posting lists are
    // the difference between feasible and not)
    // agreement floor raised to just under the round-11 measurement
    // (0.8467) — the evidence-tracking discipline of 533ac72
    record("d15_capped_agreement", cagree, 0.80)
    record("d15_capped_work_reduction", capReduction, 0.05)
    assert(cagree >= 0.80, f"df cap costs too much here: $cagree%.4f")
  }

  test("10x corpus: winnowed span fingerprints (d11) find clear near-dup pairs") {
    import spark.implicits._
    // d11's driver query reports flagged SPANS; its dedup use is pair
    // ATTRIBUTION — docs sharing a flagged fingerprint. Measure that
    // use at 10x: pair-level recall against the same clear (j >= 0.7)
    // exact-Jaccard truth d03 is held to. High-document-frequency
    // spans (> 32 docs) are dropped as boilerplate before pairing —
    // the t09 move, and what bounds the bucket join at scale: pair
    // cost per fingerprint is then <= 32²/2 regardless of skew.
    val exactDf = SparkEntry.queries("d04_ngram_jaccard")(spark, dir)
      .select($"doc_a", $"doc_b", $"jaccard").localCheckpoint()
    val clear = exactDf.filter($"jaccard" >= 0.7)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clear.size >= 100, s"no clear-pair mass: ${clear.size}")
    val spansAll = sources.Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= 8)
      .select($"doc_id", $"ws",
        explode(sequence(lit(0), size($"ws") - 8)).as("p"))
      .select($"doc_id",
        md5(concat_ws(" ", slice($"ws", $"p" + 1, lit(8)))).as("h"))
      .distinct()
      .localCheckpoint()
    def pairRecall(winnow: String): Double = {
      val spans = spansAll.filter(substring($"h", 1, 2) < winnow)
      val rare = spans.groupBy($"h")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2 && $"nd" <= 32)
        .select($"h")
      val flagged = spans.join(rare, "h")
      val found = flagged.as("a")
        .join(flagged.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (found & clear).size.toDouble / clear.size
    }
    // This fixture is ADVERSARIAL for exact-span detection: the graded
    // marker substitutions hit most 8-token windows, so many clear-j
    // pairs share few (or zero) identical spans — a granularity limit
    // of k=8 spans themselves, NOT of the winnow. The honest metric is
    // therefore two-part: absolute recall at the shipped 1/8 density,
    // and the winnow's EFFICIENCY — the fraction of the full-density
    // (every span) detection set the 1/8 sample retains. Efficiency is
    // the operator's own promise (sampling loses little because true
    // near-dup pairs share MANY spans when they share any); absolute
    // recall is fixture-shaped.
    val sparse = pairRecall("20")
    val ceiling = pairRecall("zz") // hex < 'zz' keeps every span
    info(f"d11 span-pair recall at 10x: density 1/8 = $sparse%.4f, " +
      f"full = $ceiling%.4f (clear pairs: ${clear.size})")
    record("d11_span_pair_recall", sparse, 0.30)
    record("d11_span_winnow_efficiency", sparse / ceiling, 0.80)
    assert(sparse >= 0.30, f"span-pair recall collapsed: $sparse%.4f")
    assert(sparse / ceiling >= 0.80,
      f"winnow loses too much: $sparse%.4f of ceiling $ceiling%.4f")
  }

  test("10x corpus: merged spans (d11b) hold position recall vs the" +
      " no-screen exact truth") {
    import spark.implicits._
    // d11b's two-phase funnel (winnowed screen -> full-density merge on
    // flagged docs) can only lose whole DOCUMENTS at the screen; inside
    // a flagged doc the merge is unwinnowed. Measure both properties at
    // 10x: (a) soundness — every reported span position is a truly
    // repeated position (found ⊆ truth, no invention); (b) recall — the
    // fraction of exactly-repeated positions the funnel retains, where
    // the exact truth is the SAME merge run with no screen at all.
    val spans = operators.Dedup.spanFingerprints(spark, dir)
      .localCheckpoint()
    val repAll = spans.groupBy($"span_hash")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"span_hash")
    val truthPos = spans.join(repAll, Seq("span_hash"), "left_semi")
      .select($"doc_id", $"p").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truthPos.size >= 1000,
      s"inflation too weak for spans: ${truthPos.size} repeated positions")
    val found = SparkEntry.queries("d11b_merged_spans")(spark, dir)
      .select($"doc_id", $"span_start", $"n_grams").collect()
    val foundPos = found.flatMap { r =>
      (0L until r.getLong(2)).map(i => (r.getLong(0), r.getLong(1) + i))
    }.toSet
    assert(foundPos.subsetOf(truthPos),
      s"d11b invented positions: ${(foundPos -- truthPos).take(5)}")
    val recall = (foundPos & truthPos).size.toDouble / truthPos.size
    val truthDocs = truthPos.map(_._1)
    val foundDocs = foundPos.map(_._1)
    val docRecall = (foundDocs & truthDocs).size.toDouble / truthDocs.size
    info(f"d11b span-position recall at 10x: $recall%.4f " +
      f"(${foundPos.size}/${truthPos.size}); doc recall $docRecall%.4f")
    record("d11b_span_position_recall", recall, 0.70)
    record("d11b_flagged_doc_recall", docRecall, 0.70)
    assert(recall >= 0.70, f"span-position recall collapsed: $recall%.4f")
    assert(docRecall >= 0.70, f"flagged-doc recall collapsed: $docRecall%.4f")
  }

  test("10x orders: st17's bucketed CDC merge step rewrites only the" +
      " touched buckets' rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod => fpmod, lit => flit}
    // 10x the oracle fixture (sf0.1 orders) and a SPARSE change batch —
    // the realistic CDC regime the registered st17's full-table chunks
    // can't exhibit: ~1/4999 of customers change, so the merge step
    // must read and rewrite only their buckets' rows, not the
    // dimension.
    val dir01 = "/root/testdata/sf0.1"
    val dimDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_stress_scd2"
    sources.Writers.freshScratch(spark, dimDir)
    val cutoff = "1997-01-01"
    val orders = sources.Tables.orders(spark, dir01)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    val wq = operators.WriterQueries
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dimDir, 0L)
    val total = wq.scd2State(spark, dimDir, 0L).count()
    val batch = orders.filter($"o_orderdate" >= cutoff &&
      fpmod($"o_custkey", flit(4999L)) === 7L)
    assert(batch.count() > 0, "sparse CDC batch came up empty")
    val touched = wq.scd2MergeStep(dimDir, 0L, batch)
    val storedRead =
      wq.scd2State(spark, dimDir, 0L, Some(touched.toSet)).count()
    val fraction = storedRead.toDouble / total
    val savings = 1.0 - fraction
    info(f"st17 touched buckets: ${touched.size}/${wq.Scd2Buckets}; " +
      f"stored rows read+rewritten: $storedRead/$total " +
      f"(fraction $fraction%.4f)")
    // correctness of the bound: the bucket-resolved post-merge state
    // must equal the UNBOUNDED merge over the full stored dimension
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"cust_key", $"valid_from", $"valid_to", $"is_current",
        $"status", $"price").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)), r.getBoolean(3), r.getString(4),
          r.getDouble(5))).toSet
    val got = rowSet(wq.scd2State(spark, dimDir, 1L))
    val want = rowSet(wq.scd2Apply(wq.scd2State(spark, dimDir, 0L),
      wq.scd2History(wq.scd2Changes(batch))))
    assert(got == want,
      s"bucketed merge diverges from the full merge: " +
        s"extra=${(got -- want).take(3)}, missing=${(want -- got).take(3)}")
    record("st17_touched_bucket_fraction", fraction, 0.0)
    // floor raised to just under the round-11 measurement (0.9069)
    record("st17_rewrite_savings", savings, 0.88)
    assert(savings >= 0.88,
      f"per-batch rewrite not bounded: fraction $fraction%.4f")
  }

  test("10x orders: the version manifest makes as-of resolution O(1)" +
      " metadata per read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod => fpmod, lit => flit}
    // the round-11 verdict ask #4's evidence row: build a LONG version
    // chain (v0 + 7 sparse CDC merges at the 10x fixture), then count
    // the resolution path's metadata ops with the manifests present vs
    // deleted (the pre-manifest listing scan). The manifest must hold
    // the per-read bill at ONE small file however long the chain gets;
    // the fallback pays one listStatus per version — the unbounded
    // growth the manifest exists to stop.
    val dir01 = "/root/testdata/sf0.1"
    val dimDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_stress_manifest"
    sources.Writers.freshScratch(spark, dimDir)
    val cutoff = "1997-01-01"
    val orders = sources.Tables.orders(spark, dir01)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    val wq = operators.WriterQueries
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dimDir, 0L)
    val post = orders.filter($"o_orderdate" >= cutoff)
    (0 until 7).foreach { k =>
      wq.scd2MergeStep(dimDir, k.toLong,
        post.filter(fpmod($"o_custkey", flit(997L)) === k.toLong))
    }
    val maxV = 7L
    def ops(body: => Unit): (Long, Long) = {
      wq.scd2ListingCalls.set(0); wq.scd2ManifestReads.set(0)
      body
      (wq.scd2ListingCalls.get, wq.scd2ManifestReads.get)
    }
    def stateRows() = wq.scd2State(spark, dimDir, maxV)
      .select($"cust_key", $"valid_from", $"valid_to", $"is_current")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3))).toSet
    var withManifest: Set[(Long, java.sql.Timestamp,
      Option[java.sql.Timestamp], Boolean)] = null
    val (mLists, mReads) = ops { withManifest = stateRows() }
    assert(withManifest.nonEmpty)
    // delete every manifest -> the resolution degrades to the listing
    // scan, and must still land on the SAME state (the top-up path is
    // the manifest path's correctness oracle)
    val (fs, root) = sources.Writers.fsOf(spark, dimDir)
    val manifests = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v"))
    assert(manifests.length == 8,
      s"expected 8 stamped manifests, found ${manifests.toSeq}")
    manifests.foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(root, m), false))
    var fallback: Set[(Long, java.sql.Timestamp,
      Option[java.sql.Timestamp], Boolean)] = null
    val (fLists, fReads) = ops { fallback = stateRows() }
    info(s"manifest read: $mLists listings + $mReads manifest reads; " +
      s"fallback read: $fLists listings + $fReads manifest reads " +
      s"over ${maxV + 1} versions")
    assert(fallback == withManifest,
      "manifest resolution diverges from the listing scan: " +
        s"extra=${(withManifest -- fallback).take(3)}, " +
        s"missing=${(fallback -- withManifest).take(3)}")
    assert(mLists == 0 && mReads == 1,
      s"manifest read not O(1): $mLists listings, $mReads manifest reads")
    assert(fLists == maxV + 1,
      s"fallback should list every version dir: $fLists")
    val savings = 1.0 - (mLists + mReads).toDouble / (fLists + fReads)
    record("scd2_manifest_ops_per_read", (mLists + mReads).toDouble, 0.0)
    record("scd2_manifest_metadata_savings", savings, 0.8)
    assert(savings >= 0.8,
      f"manifest saves too little metadata at 8 versions: $savings%.4f")
  }

  test("100-version chain: manifest metadata stays ONE read where the" +
      " pre-manifest design pays ~100 listings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod => fpmod, lit => flit}
    // round-13 verdict ask #3: the 8-version measurement above pins the
    // manifest's O(1) constant at short chains; this pins it where the
    // pre-manifest design degraded LINEARLY. 100 sparse CDC merges on
    // top of v0 (custkey % 100 slices, sf0.01 orders — metadata ops are
    // data-size-independent, so the small fixture keeps the 100 writes
    // cheap), then the same present-vs-deleted manifest ops count.
    val dir001 = "/root/testdata/sf0.01"
    val dimDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_stress_manifest100"
    sources.Writers.freshScratch(spark, dimDir)
    val cutoff = "1997-01-01"
    val orders = sources.Tables.orders(spark, dir001)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    val wq = operators.WriterQueries
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dimDir, 0L)
    val post = orders.filter($"o_orderdate" >= cutoff).localCheckpoint()
    (0 until 100).foreach { k =>
      wq.scd2MergeStep(dimDir, k.toLong,
        post.filter(fpmod($"o_custkey", flit(100L)) === k.toLong))
    }
    val maxV = 100L
    def ops(body: => Unit): (Long, Long) = {
      wq.scd2ListingCalls.set(0); wq.scd2ManifestReads.set(0)
      body
      (wq.scd2ListingCalls.get, wq.scd2ManifestReads.get)
    }
    def stateCount() = wq.scd2State(spark, dimDir, maxV).count()
    var withManifest = 0L
    val (mLists, mReads) = ops { withManifest = stateCount() }
    assert(withManifest > 0)
    // the manifest AUDIT at longevity (dq08's negative path composed
    // with the 100-version chain): a clean century-old chain audits to
    // all-zeros, and the audit's metadata bill is exactly the
    // documented O(versions) pure-listing scan (one listStatus per
    // version dir + ONE manifest read) — the deliberate price of not
    // resolving through the artifact it audits, paid once per audit
    // run while interactive reads stay at the O(1) pinned above.
    val (aLists, aReads) = ops {
      val audit = operators.Audit.manifestAuditChecks(spark, dimDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit.keySet == Set("dangling_claims", "misrouted_rows",
        "stale_claims", "unmanifested_buckets"))
      audit.foreach { case (k, n) =>
        assert(n == 0L, s"clean 100v chain flagged $k=$n") }
    }
    assert(aReads == 1,
      s"audit should read ONE manifest (the latest claims): $aReads")
    assert(aLists == maxV + 1,
      s"audit's listing scan should touch all ${maxV + 1} version dirs: " +
        s"$aLists")
    record("dq08_audit_listings_100v", aLists.toDouble, 0.0)
    val (fs, root) = sources.Writers.fsOf(spark, dimDir)
    val manifests = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v"))
    assert(manifests.length == 101,
      s"expected 101 stamped manifests, found ${manifests.length}")
    manifests.foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(root, m), false))
    var fallback = 0L
    val (fLists, fReads) = ops { fallback = stateCount() }
    info(s"100v chain — manifest read: $mLists listings + $mReads " +
      s"manifest reads; pre-manifest read: $fLists listings + $fReads " +
      s"manifest reads")
    assert(fallback == withManifest,
      s"listing-scan state diverges at 100 versions: $fallback vs " +
        s"$withManifest rows")
    assert(mLists == 0 && mReads == 1,
      s"manifest read not O(1) at 100 versions: $mLists listings, " +
        s"$mReads manifest reads")
    assert(fLists == maxV + 1,
      s"pre-manifest read should list all ${maxV + 1} version dirs: $fLists")
    val savings = 1.0 - (mLists + mReads).toDouble / (fLists + fReads)
    record("scd2_manifest_ops_per_read_100v",
      (mLists + mReads).toDouble, 0.0)
    record("scd2_premanifest_listings_per_read_100v", fLists.toDouble, 0.0)
    record("scd2_manifest_metadata_savings_100v", savings, 0.95)
    assert(savings >= 0.95,
      f"manifest saves too little metadata at 100 versions: $savings%.4f")
  }

  test("100-version SCD2 chain AT sf10: longevity x scale composed —" +
      " manifest metadata stays ONE read") {
    // round-14 verdict stretch #8: the two SCD2 longevity/scale proofs
    // existed only SEPARATELY (100 versions at unit scale above; a
    // 14-version chain at sf10 in BENCH_SF10) — this composes them.
    // 100 sparse CDC merges over the 100x orders table (15M rows;
    // custkey % 3200 slices, so each merge touches exactly ONE of the
    // 32 buckets and each version dir holds an sf10-scale bucket
    // rewrite), then the same present-vs-deleted manifest ops count.
    // Self-provisions the 100x orders when tmp/sf10 is absent
    // (ScaleData.inflateOrders — orders only; the documents/embeddings
    // inflation this test doesn't need stays unpaid).
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod => fpmod, lit => flit}
    val base =
      if (new java.io.File("tmp/sf10/orders.parquet").exists) "tmp/sf10"
      else {
        val out = "tmp/sf10_orders_scd2"
        if (!new java.io.File(s"$out/orders.parquet/_SUCCESS").exists)
          ScaleData.inflateOrders(spark, "/root/testdata/sf0.1", out, 100)
        out
      }
    val dimDir = s"${System.getProperty("java.io.tmpdir")}" +
      "/graft_stress_manifest100_sf10"
    sources.Writers.freshScratch(spark, dimDir)
    val cutoff = "1997-01-01"
    // The okStep copies share (custkey, orderdate) — SCD2's change
    // extractor (latest per (cust, date)) collapses all 100 copies to
    // ONE change, so the raw inflated table yields a unit-scale STATE
    // (~49k rows — the first run of this test proved it by failing
    // the scale assertion below). Give each copy its own change day
    // deterministically: shift by o_orderkey % 41 days (41 is coprime
    // to okStep=150000, so the 100 copies of a base order cycle
    // through 41 distinct shifts — okStep % 100 = 0 is exactly why a
    // %100 shift would NOT differentiate). State becomes ~1.75M rows
    // pre-cutoff: the version dirs now hold sf10-scale bucket
    // rewrites, which is the scale half this composition exists to
    // exercise.
    val orders = spark.read.parquet(s"$base/orders.parquet")
      .select($"o_orderkey", $"o_custkey",
        expr("timestampadd(DAY, CAST(o_orderkey % 41 AS INT), o_orderdate)")
          .as("o_orderdate"),
        $"o_orderstatus", $"o_totalprice")
    val wq = operators.WriterQueries
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dimDir, 0L)
    // the 100 sparse slices, pre-verified nonempty on the docKeyed
    // fixture (min 2000 rows per slice at factor 100)
    val post = orders.filter($"o_orderdate" >= cutoff)
      .filter(fpmod($"o_custkey", flit(3200L)) < 100L)
      .localCheckpoint()
    (0 until 100).foreach { k =>
      val touched = wq.scd2MergeStep(dimDir, k.toLong,
        post.filter(fpmod($"o_custkey", flit(3200L)) === k.toLong))
      assert(touched == Seq(k % operators.WriterQueries.Scd2Buckets),
        s"merge $k touched $touched — the %3200 slicing should hit " +
          "exactly one bucket")
    }
    val maxV = 100L
    def ops(body: => Unit): (Long, Long) = {
      wq.scd2ListingCalls.set(0); wq.scd2ManifestReads.set(0)
      body
      (wq.scd2ListingCalls.get, wq.scd2ManifestReads.get)
    }
    def stateCount() = wq.scd2State(spark, dimDir, maxV).count()
    var withManifest = 0L
    val (mLists, mReads) = ops { withManifest = stateCount() }
    assert(withManifest > 1000000L,
      s"sf10 chain state suspiciously small: $withManifest rows — " +
        "the scale half of the composition is missing")
    val (fs, root) = sources.Writers.fsOf(spark, dimDir)
    val manifests = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v"))
    assert(manifests.length == 101,
      s"expected 101 stamped manifests, found ${manifests.length}")
    manifests.foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(root, m), false))
    var fallback = 0L
    val (fLists, fReads) = ops { fallback = stateCount() }
    info(s"100v x sf10 chain — manifest read: $mLists listings + " +
      s"$mReads manifest reads over $withManifest state rows; " +
      s"pre-manifest read: $fLists listings + $fReads manifest reads")
    assert(fallback == withManifest,
      s"listing-scan state diverges at 100v x sf10: $fallback vs " +
        s"$withManifest rows")
    assert(mLists == 0 && mReads == 1,
      s"manifest read not O(1) at 100v x sf10: $mLists listings, " +
        s"$mReads manifest reads")
    assert(fLists == maxV + 1,
      s"pre-manifest read should list all ${maxV + 1} version dirs: $fLists")
    val savings = 1.0 - (mLists + mReads).toDouble / (fLists + fReads)
    record("scd2_manifest_ops_per_read_100v_sf10",
      (mLists + mReads).toDouble, 0.0)
    record("scd2_premanifest_listings_per_read_100v_sf10",
      fLists.toDouble, 0.0)
    record("scd2_manifest_metadata_savings_100v_sf10", savings, 0.95)
    assert(savings >= 0.95,
      f"manifest saves too little metadata at 100v x sf10: $savings%.4f")
  }

  test("100-leg lexical admission chain AT sf1: replay-idempotent, " +
      "serve read fraction flat in leg count, admission cost per leg flat") {
    // round-15 verdict ask #4: longevity x scale is proven for the
    // SCD2 chain (100 versions at sf10 above) but the index legs
    // stopped at 3-4 admission legs (st22/st23). This composes the
    // same two axes on the index lifecycle: ONE frozen reindex
    // (vocabulary + probe-reachable g-set over the full sf1 corpus),
    // then 100 st22-style admission legs (1% of the corpus each)
    // through the exact lexAdmit/writeLexIndexLeg path the streaming
    // query ships. Three claims, each the 100 TB failure mode it
    // guards against:
    //  - serve read FRACTION flat in leg count (at 10 legs and at 100
    //    legs the probed read touches the same ~share of stored rows —
    //    a serve bill proportional to CORPUS reach, never to chain
    //    length);
    //  - admission cost per leg flat (a leg tokenizes its own batch
    //    and joins the frozen artifacts — it never reads the
    //    accumulated index, so leg 95 costs what leg 5 cost; the
    //    failure mode is ~10x growth, the noise band is ~1x);
    //  - replay idempotence at depth (re-running a mid-chain leg
    //    byte-preserves the stored index — the writeLexIndexLeg
    //    overwrite contract holding after 100 legs, not just st22's
    //    3).
    import spark.implicits._
    val sq = operators.StreamingQueries
    val docsPath = sf1DocsPath("tmp/sf1_docs_lex100")
    val docs = spark.read.parquet(docsPath).select($"doc_id", $"text")
    val nDocs = docs.count()
    assert(nDocs >= 50000L, s"sf1 docs fixture too small: $nDocs")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stress_lex100"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    // ONE reindex: frozen vocabulary + frozen probe-reachable g-set
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    val qg = sq.lexFreezeProbeSet(spark, docs, vocab, base)
    val Legs = 100
    val legSecs = Array.ofDim[Double](Legs)
    def servedFractions(): (Double, Double) = {
      val (pr, szr) = sources.Writers.readLexIndexProbed(spark, idx)
      val (pa, sza) = sources.Writers.readLexIndex(spark, idx)
      (pr.count().toDouble / pa.count(),
        szr.count().toDouble / sza.count())
    }
    var fraction10 = 0.0
    (0 until Legs).foreach { k =>
      val t0 = System.nanoTime
      sq.lexAdmit(vocab, qg, docs.filter($"doc_id" % Legs === k),
        idx, f"$k%03d")
      legSecs(k) = (System.nanoTime - t0) / 1e9
      if (k == 9) fraction10 = servedFractions()._1
    }
    val (fraction100, szFraction100) = servedFractions()
    info(f"serve read fraction: $fraction10%.4f at 10 legs, " +
      f"$fraction100%.4f at 100 legs (sizes $szFraction100%.4f)")
    // flat in leg count: the share of stored postings a serve reads
    // must not grow with the chain (a corpus property, not a chain
    // property); generous 1.5x band for composition drift
    assert(fraction100 <= fraction10 * 1.5 + 0.01,
      f"serve read fraction grew with leg count: $fraction10%.4f -> " +
        f"$fraction100%.4f")
    assert(fraction100 < 0.25,
      f"serve reads too much of the stored index: $fraction100%.4f")
    // admission cost flat: medians over early/late leg windows (leg 0
    // excluded — JIT/first-write warmup); the failure mode this
    // guards (admission reading the accumulated index) would read
    // ~9x here, far outside the 3x host-noise band
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val early = median(legSecs.slice(5, 15).toSeq)
    val late = median(legSecs.slice(90, 100).toSeq)
    val costRatio = late / early
    info(f"admission s/leg: early median $early%.3f, late median " +
      f"$late%.3f, ratio $costRatio%.3f")
    assert(costRatio < 3.0,
      f"admission cost grew with chain length: $costRatio%.3fx")
    // replay idempotence at depth: re-admit leg 050's batch verbatim;
    // the stored index must be row-identical (count + content hash on
    // both legs of the layout)
    // content signature = count + order-independent bit_xor of row
    // hashes (a SUM of xxhash64 overflows Long under ANSI)
    def indexSig(): (Long, Long, Long, Long) = {
      val p = spark.read.parquet(s"$idx/postings")
        .withColumn("h", xxhash64($"g", $"doc_id", $"inqg"))
      val sz = spark.read.parquet(s"$idx/sizes")
        .withColumn("h", xxhash64($"doc_id", $"n", $"insz"))
      (p.count(), p.selectExpr("bit_xor(h)").head.getLong(0),
        sz.count(), sz.selectExpr("bit_xor(h)").head.getLong(0))
    }
    val before = indexSig()
    sq.lexAdmit(vocab, qg, docs.filter($"doc_id" % Legs === 50),
      idx, f"${50}%03d")
    val after = indexSig()
    assert(after == before,
      s"replayed leg 050 changed the stored index: $before -> $after")
    record("lex100leg_serve_read_fraction_10legs", fraction10, 0.0)
    record("lex100leg_serve_read_fraction_100legs", fraction100, 0.0)
    record("lex100leg_sizes_read_fraction_100legs", szFraction100, 0.0)
    record("lex100leg_admit_cost_ratio", costRatio, 0.0)
    record("lex100leg_replay_stable",
      if (after == before) 1.0 else 0.0, 1.0)
  }

  test("v2 lexical index AT sf1: an arbitrary SHORT-query serve reads " +
      "the probed-bucket decade, row-identical to the full read") {
    // round-17 verdict ask #1's measurement leg: the v2 layout's
    // whole point is that an ARBITRARY query's shingles name their
    // buckets, so the serve bill is |distinct query shingles| / B of
    // the stored postings instead of all of them. Measured here at
    // sf1 with the realistic serve shape — 20 SHORT queries (first 10
    // tokens each: search phrases, not documents) against B = 4096
    // (the ~128 MB-rule bucket count a 1 TB posting set would carry,
    // so the fraction lands in the IVF leg's measured decade) — and
    // asserted on the EXECUTED scan's partition metrics, never the
    // plan string (the knn_serve lesson). Parity rides along: the
    // pruned serve must be row-identical to the full-read serve at
    // this scale too, not just at fixture scale.
    import spark.implicits._
    val docsPath = sf1DocsPath("tmp/sf1_docs_lexv2")
    val docs = spark.read.parquet(docsPath).select($"doc_id", $"text")
    val nDocs = docs.count()
    assert(nDocs >= 50000L, s"sf1 docs fixture too small: $nDocs")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stress_lexv2"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    val B = 4096
    val postings = operators.Similarity.lexIndex(docs)._1.localCheckpoint()
    val sizes = postings.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    sources.Writers.writeLexIndexV2(postings, sizes, idx, B)
    // 20 short queries, arbitrary ids (outside any frozen set)
    val qmod = math.max(nDocs / 20L, 1L)
    val qdocs = docs.filter($"doc_id" % qmod === 7)
      .select($"doc_id",
        concat_ws(" ", slice(split($"text", " "), 1, 10)).as("text"))
      .localCheckpoint()
    val nQueries = qdocs.count()
    val qsh = operators.Similarity.lexQueryShingles(qdocs)
    val nShingles = qsh.select($"g").distinct().count()
    assert(nQueries >= 10 && nShingles * 5 < B,
      s"fixture drift: $nQueries queries / $nShingles shingles vs B=$B " +
        "— the probed set could cover too many buckets to measure")
    val served = operators.Similarity.bm25ServeQueries(spark, idx, qdocs)
    val rows = served.collect()
    assert(rows.nonEmpty, "short queries matched nothing at sf1")
    // executed partition metrics (the PlanSpec walk)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    var partsRead = -1L
    def walk(pl: org.apache.spark.sql.execution.SparkPlan): Unit =
      pl.foreach {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(s"$idx/postings")) =>
          partsRead = math.max(partsRead,
            f.metrics.get("numPartitions").map(_.value).getOrElse(-1L))
        case _ =>
      }
    walk(served.queryExecution.executedPlan)
    val (fs, root) = sources.Writers.fsOf(spark, s"$idx/postings")
    val dirCount = fs.listStatus(root)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("gb="))
    assert(partsRead >= 0, "no executed postings scan found")
    val partFraction = partsRead.toDouble / dirCount
    // row fraction: the share of stored posting ROWS the pruned read
    // can touch (the serve-bill quantity the 100-leg chains track)
    val bucketIds = operators.Similarity.lexBucketsOf(qsh, B)
    val total = spark.read.parquet(s"$idx/postings").count()
    val pruned = spark.read.parquet(s"$idx/postings")
      .filter($"gb".isin(bucketIds: _*)).count()
    val rowFraction = pruned.toDouble / total
    info(f"v2 serve: $partsRead of $dirCount bucket partitions " +
      f"($partFraction%.4f), $pruned of $total posting rows " +
      f"($rowFraction%.4f) for $nQueries queries / $nShingles shingles")
    // the decade floor: |shingles|/B ≈ 0.04 here; generous 2x band
    assert(partFraction < 0.10,
      f"v2 serve read $partFraction%.4f of bucket partitions — " +
        "the g-hash prune is not landing in the probed decade")
    assert(partsRead <= nShingles,
      s"$partsRead partitions read for $nShingles distinct shingles — " +
        "the bucket filter did not reach the executed scan")
    // parity at scale: pruned == full-read serve, row-identical
    val (pAll, szAll) = sources.Writers.readLexIndex(spark, idx)
    val full = operators.Similarity.bm25Queries(qsh, pAll, szAll)
      .collect()
    val parity = rows.map(_.toString).sorted.toSeq ==
      full.map(_.toString).sorted.toSeq
    assert(parity, "pruned v2 serve diverged from the full read at sf1")
    record("lexv2_serve_partition_fraction", partFraction, 0.0)
    record("lexv2_serve_row_fraction", rowFraction, 0.0)
    record("lexv2_serve_parity", if (parity) 1.0 else 0.0, 1.0)
    sources.Writers.freshScratch(spark, base)
  }

  test("v2 admission chain COMPACTED at sf1: the file count collapses " +
      "and the stamped pruned serve is row-identical pre/post") {
    // compaction's 100 TB claim, measured instead of asserted
    // (PLANS.md round-18 update 3): admission legs trade file count
    // for replay-idempotent commits — each leg's task-local bucketed
    // write lands its own small files, so a long chain's serve pays a
    // chain-length listing — and Writers.compactIndex re-lands the
    // artifact in the reindex shape (~B posting files). Here: 20
    // st28-style v2 admission legs over the sf1 corpus, then ONE
    // compaction, with (a) the
    // file-count ratio measured from the compaction report, (b) the
    // PRUNED arbitrary-short-query serve (the test above's shape)
    // row-identical on the legged source and the compacted dest, and
    // (c) the stamp (and with it B) carried — a compacted index that
    // lost its stamp would silently serve full-scan forever after.
    // The legs are written with writeTasks=2 (lexAdmitV2's post-join
    // coalesce — an upstream repartition cannot bound the write, the
    // vocab join re-shuffles) so the legged file product stays
    // harness-sized; the RATIO claim is unaffected, it measures
    // legged-vs-reindex shape, not an absolute count.
    import spark.implicits._
    val sq = operators.StreamingQueries
    val docsPath = sf1DocsPath("tmp/sf1_docs_lexv2")
    val docs = spark.read.parquet(docsPath).select($"doc_id", $"text")
    val nDocs = docs.count()
    assert(nDocs >= 50000L, s"sf1 docs fixture too small: $nDocs")
    val base =
      s"${System.getProperty("java.io.tmpdir")}/graft_stress_lexv2c"
    sources.Writers.freshScratch(spark, base)
    val src = s"$base/src"; val dest = s"$base/dst"
    val B = 64
    val Legs = 20
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    (0 until Legs).foreach { k =>
      sq.lexAdmitV2(vocab, docs.filter($"doc_id" % Legs === k), src,
        f"$k%03d", B, writeTasks = Some(2))
    }
    // the arbitrary-short-query serve shape from the v2 test above
    val qmod = math.max(nDocs / 20L, 1L)
    val qdocs = docs.filter($"doc_id" % qmod === 7)
      .select($"doc_id",
        concat_ws(" ", slice(split($"text", " "), 1, 10)).as("text"))
      .localCheckpoint()
    val before = operators.Similarity.bm25ServeQueries(spark, src, qdocs)
      .collect().map(_.toString).sorted.toSeq
    assert(before.nonEmpty, "short queries matched nothing at sf1")
    val report = sources.Writers.compactIndex(spark, src, dest).head()
    val (filesBefore, filesAfter) = (report.getLong(2), report.getLong(3))
    val fileRatio = filesAfter.toDouble / filesBefore
    info(f"compaction: $filesBefore -> $filesAfter files " +
      f"(ratio $fileRatio%.4f) for $Legs legs at B=$B")
    // the reindex shape is ~B posting files + a handful of sizes
    // files; the legged tree carries ≥ Legs × (tasks-per-leg-ish)
    // more — anything under a 3x collapse means the pass did not
    // actually re-land the artifact
    assert(filesAfter.toDouble * 3 < filesBefore,
      s"compaction did not collapse the file count: " +
        s"$filesBefore -> $filesAfter")
    assert(sources.Writers.lexLayoutOf(spark, dest).contains(B),
      "compacted dir lost (or drifted) the _graft_layout stamp")
    val after = operators.Similarity.bm25ServeQueries(spark, dest, qdocs)
      .collect().map(_.toString).sorted.toSeq
    val parity = before == after
    assert(parity, "compacted serve diverged from the legged serve at sf1")
    record("lexv2_compact_file_ratio", fileRatio, 0.0)
    record("lexv2_compact_serve_parity", if (parity) 1.0 else 0.0, 1.0)
    sources.Writers.freshScratch(spark, base)
  }

  test("100-leg IVF admission chain AT sf1: replay-idempotent, probed-" +
      "cell serve read fraction flat in leg count, admission cost flat") {
    // the vector-side twin of the 100-leg lexical proof above (same
    // round-15 ask #4): one frozen reindex (sampled quantizer over the
    // full sf1 embedding corpus), then 100 st23-style admission legs
    // through the shipped ivfAdmit/appendIvfListsLeg path, serving a
    // FIXED standing query set with the list scan pruned to its
    // probed cells (st23's serve contract — queries and quantizer are
    // frozen, so the probed-cell set is a constant of the run).
    import spark.implicits._
    val sq = operators.StreamingQueries
    val embPath =
      if (new java.io.File("tmp/sf1/embeddings.parquet").exists)
        "tmp/sf1/embeddings.parquet"
      else {
        // embeddings-only self-provision: 10x from sf0.1 with the
        // suite's per-(copy, dim) noise scheme
        val out = "tmp/sf1_emb_ivf100"
        if (!new java.io.File(s"$out/_SUCCESS").exists) {
          val e01 = spark.read
            .parquet("/root/testdata/sf0.1/embeddings.parquet")
          (0 until 10).map { c =>
            val noise = array((0 until Dim).map(i => lit(noiseW(c, i))): _*)
            e01.select(($"vec_id" + c * 100000L).as("vec_id"),
              zip_with($"embedding", noise,
                (x, n) => (x.cast("double") + n).cast("float"))
                .as("embedding"))
          }.reduce(_ unionByName _).write.mode("overwrite").parquet(out)
        }
        out
      }
    val emb = spark.read.parquet(embPath)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val nVecs = emb.count()
    assert(nVecs >= 20000L, s"sf1 embeddings fixture too small: $nVecs")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stress_ivf100"
    sources.Writers.freshScratch(spark, base)
    val idx = s"$base/index"
    // ONE reindex: frozen sampled quantizer, persisted under the index
    val cents = emb
      .filter($"vec_id" % operators.Similarity.centModulus(nVecs) === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm"))
    cents.write.parquet(s"$idx/centroids")
    val centsCk = spark.read.parquet(s"$idx/centroids")
      .select($"c_id", $"c_vec", $"c_nrm").localCheckpoint()
    // the standing query set a serve endpoint owns (small and FROZEN
    // — the st23 contract; a 10-query set keeps its probed-cell reach
    // well under the quantizer's cell count, so the prune has teeth)
    val qs = emb.filter($"vec_id" % 5000 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"nrm".as("q_nrm")).localCheckpoint()
    val probedCells = operators.Similarity
      .probeCellsOf(qs, centsCk, nprobe = 2)
    assert(probedCells.nonEmpty)
    val Legs = 100
    val legSecs = Array.ofDim[Double](Legs)
    def serveFraction(): Double = {
      val (_, lists) = sources.Writers.readIvfIndex(spark, idx)
      lists.filter($"c_id".isin(probedCells: _*)).count().toDouble /
        lists.count()
    }
    var fraction10 = 0.0
    (0 until Legs).foreach { k =>
      val t0 = System.nanoTime
      sq.ivfAdmit(centsCk, emb.filter($"vec_id" % Legs === k), idx,
        f"$k%03d")
      legSecs(k) = (System.nanoTime - t0) / 1e9
      if (k == 9) fraction10 = serveFraction()
    }
    val fraction100 = serveFraction()
    info(f"probed-cell serve read fraction: $fraction10%.4f at 10 " +
      f"legs, $fraction100%.4f at 100 legs " +
      f"(${probedCells.size} cells probed)")
    assert(fraction100 <= fraction10 * 1.5 + 0.01,
      f"probed read fraction grew with leg count: $fraction10%.4f -> " +
        f"$fraction100%.4f")
    assert(fraction100 < 0.25,
      f"serve reads too much of the stored lists: $fraction100%.4f")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val early = median(legSecs.slice(5, 15).toSeq)
    val late = median(legSecs.slice(90, 100).toSeq)
    val costRatio = late / early
    info(f"admission s/leg: early median $early%.3f, late median " +
      f"$late%.3f, ratio $costRatio%.3f")
    assert(costRatio < 3.0,
      f"admission cost grew with chain length: $costRatio%.3fx")
    // replay idempotence at depth (count + order-independent xor)
    def listsSig(): (Long, Long) = {
      val l = spark.read.parquet(s"$idx/lists")
        .withColumn("h", xxhash64($"vec_id", $"c_id"))
      (l.count(), l.selectExpr("bit_xor(h)").head.getLong(0))
    }
    val before = listsSig()
    sq.ivfAdmit(centsCk, emb.filter($"vec_id" % Legs === 50), idx,
      f"${50}%03d")
    val after = listsSig()
    assert(after == before,
      s"replayed leg 050 changed the stored lists: $before -> $after")
    // and the serve itself still answers from the chained index
    val served = sq.ivfServeStored(spark, idx, emb, centsCk, qs,
      probedCells)
    assert(served.count() > 0, "serve over the 100-leg index is empty")
    record("ivf100leg_serve_read_fraction_10legs", fraction10, 0.0)
    record("ivf100leg_serve_read_fraction_100legs", fraction100, 0.0)
    record("ivf100leg_admit_cost_ratio", costRatio, 0.0)
    record("ivf100leg_replay_stable",
      if (after == before) 1.0 else 0.0, 1.0)
  }

  test("10x corpus: LSH (s02) and IVF (s04) ANN hold top-5 recall vs brute (s01)") {
    val truth = knnSet(SparkEntry.queries("s01_knn_brute")(spark, dir))
    assert(truth.size >= 400, s"ground truth too small: ${truth.size}")
    val lsh = knnSet(SparkEntry.queries("s02_knn_lsh")(spark, dir))
    val ivf = knnSet(SparkEntry.queries("s04_knn_ivf")(spark, dir))
    val rLsh = (lsh & truth).size.toDouble / truth.size
    val rIvf = (ivf & truth).size.toDouble / truth.size
    info(f"s02-vs-s01 top-5 recall at 10x: $rLsh%.4f")
    info(f"s04-vs-s01 top-5 recall at 10x: $rIvf%.4f")
    record("s02_lsh_ann_recall", rLsh, 0.75)
    assert(rLsh >= 0.75, f"LSH ANN recall collapsed: $rLsh%.4f")
    // s04's SAMPLED (untrained) centroids are the oracle-checkable
    // twin, and their cell count grows with the corpus at fixed
    // nprobe — recall erodes by construction (measured 0.386 at 10x
    // in round 6). The PRODUCTION path is s04b: Lloyd-trained
    // centroids fix the cell count at k, so the probed fraction —
    // and recall — holds with scale. That is the asserted claim now
    // (round-6 verdict ask #3: floor 0.55 at 10x); the untrained
    // twin keeps only its collapse sanity floor.
    val ivfTrained = knnSet(operators.Similarity.ivfTopK(spark, dir,
      operators.Similarity.trainedCentroids(spark, dir), nprobe = 4))
    val rTrained = (ivfTrained & truth).size.toDouble / truth.size
    info(f"s04b trained-IVF top-5 recall at 10x: $rTrained%.4f")
    record("s04b_trained_ivf_recall", rTrained, 0.55)
    assert(rTrained >= 0.55,
      f"trained IVF recall below the scale floor: $rTrained%.4f")
    record("s04_untrained_ivf_recall", rIvf, 0.25)
    assert(rIvf >= 0.25, f"IVF ANN recall collapsed: $rIvf%.4f")
  }

  test("q17a scale twin: quartiles with NO window, agreeing with exact ntile") {
    import spark.implicits._
    // q17's global ntile serializes the table through one reducer —
    // the registry's single window-invariant exemption; q17a is its
    // documented scale path. The scale claim, asserted structurally:
    // the bucketed plan contains NO window operator at all (one
    // approx_percentile aggregate + broadcast comparisons), at any
    // data size. And the cheap plan must still be RIGHT: bucketed
    // quartile assignment agrees with the exact global ntile on all
    // but the sketch-boundary sliver of rows.
    val dir01 = "/root/testdata/sf0.1" // largest local fixture
    val d = if (new java.io.File(s"$dir01/customer.parquet").exists()) dir01
      else sf
    val q17a = SparkEntry.queries("q17a_quartile_bucketed")(spark, d)
    assert(!q17a.queryExecution.executedPlan.toString.contains("Window"),
      "q17a's scale path must not contain any window operator")
    assert(q17a.collect().forall(_.getAs[Boolean]("size_ok")))
    val cust = sources.Tables.customer(spark, d)
    val bounds = cust.agg(percentile_approx($"c_acctbal",
      array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("b"))
    val bucketed = cust.crossJoin(broadcast(bounds))
      .select($"c_custkey",
        (lit(1) + ($"c_acctbal" > element_at($"b", 1)).cast("int")
          + ($"c_acctbal" > element_at($"b", 2)).cast("int")
          + ($"c_acctbal" > element_at($"b", 3)).cast("int"))
          .as("qb"))
    val exact = cust.select($"c_custkey", ntile(4).over(
      org.apache.spark.sql.expressions.Window.orderBy($"c_acctbal",
        $"c_custkey")).as("qe"))
    val n = cust.count()
    val agree = bucketed.join(exact, "c_custkey")
      .filter($"qb" === $"qe").count()
    val frac = agree.toDouble / n
    info(f"q17a bucketed-vs-exact quartile agreement: $frac%.4f ($agree/$n)")
    record("q17a_quartile_agreement", frac, 0.95)
    assert(frac >= 0.95, f"bucketed quartiles diverge from exact: $frac%.4f")
  }

  test("10x corpus: d07 cluster-size cap binds and sacrifices bounded recall") {
    import spark.implicits._
    val (assignRaw, _) = operators.Similarity.kmeans(spark, dir)
    val assign = assignRaw.select($"vec_id", $"c_id").localCheckpoint()
    val emb = sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    // the cap must actually BIND at this size: k=8 over 10x vectors
    // leaves every cluster far above maxClusterSize=100
    val maxCluster = assign.groupBy($"c_id").count()
      .agg(max($"count")).collect()(0).getLong(0)
    assert(maxCluster > 100, s"cap would not bind: max cluster $maxCluster")
    val capped = pairSet(operators.Dedup
      .semanticPairs(emb, assign, threshold = 0.42, maxClusterSize = 100))
    val uncapped = pairSet(operators.Dedup
      .semanticPairs(emb, assign, threshold = 0.42,
        maxClusterSize = Int.MaxValue))
    assert(uncapped.size >= 500,
      s"inflation produced too few semantic pairs: ${uncapped.size}")
    // salting only ever DROPS cross-cell pairs — never invents
    assert(capped.subsetOf(uncapped),
      s"cap invented pairs: ${(capped -- uncapped).take(5)}")
    val recall = capped.size.toDouble / uncapped.size
    info(f"d07 capped-vs-uncapped recall at 10x (cap=100): $recall%.4f " +
      f"(${capped.size}/${uncapped.size})")
    record("d07_capped_semantic_recall", recall, 0.05)
    // with ~625-vector clusters salted into ~7 cells, surviving
    // within-cell fraction is ~1/cells — the documented trade; what
    // must NOT happen is collapse to (near) zero or quadratic blowup
    assert(recall >= 0.05 && capped.nonEmpty,
      f"capped recall out of range: $recall%.4f")
  }

  test("10x corpus: m03b capped-bucket media similarity holds recall vs m03") {
    // at 10x the inflated copies make feature directions cluster even
    // harder (copies of one doc are near-identical byte distributions),
    // so this drives BOTH m03b mechanisms at once: mean-centered bands
    // must still split the corpus, and the fat-bucket salt must bind
    // without collapsing recall
    val exact = knnSetM(SparkEntry.queries("m03_media_similarity")(spark, dir))
    val lsh = knnSetM(
      SparkEntry.queries("m03b_media_similarity_lsh")(spark, dir))
    assert(exact.nonEmpty)
    val recall = (lsh & exact).size.toDouble / exact.size
    info(f"m03b-vs-m03 top-3 recall at 10x: $recall%.4f " +
      f"(${(lsh & exact).size}/${exact.size})")
    // 0.26 measured: the 256-doc salting cap BINDS here (copies make
    // one residual direction hold ~40% of the corpus), and inside a
    // fat bucket recall decays by the documented ~1/cells — the same
    // bounded-recall trade d07 records (its capped floor is 0.05).
    // What must NOT happen is collapse to near zero (bands broken) or
    // silent all-pairs work (cap not binding; the sf1 step timed that
    // failure mode at 437s vs 18.5s capped).
    record("m03b_media_topk_recall", recall, 0.15)
    assert(recall >= 0.15, f"m03b recall collapsed at 10x: $recall%.4f")
    // the two-part report (the d03/d11 house pattern): ATTRIBUTE the
    // loss — restricted to docs whose every bucket is under the cap
    // (no salting), recall isolates the pure banding quality; the
    // gap between the two numbers is the cap's documented price, now
    // measured instead of asserted
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    val bandRows = operators.Multimodal.mediaFeatSigs(spark, dir)
    val sizes = bandRows.groupBy("band", "sig")
      .agg(fcount(flit(1)).as("n"))
    val uncapped = bandRows.join(sizes, Seq("band", "sig"))
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.max("n").as("mx"))
      .filter(org.apache.spark.sql.functions.col("mx") <= 256)
      .collect().map(_.getLong(0)).toSet
    val freePairs = exact.filter { case (a, b) =>
      uncapped(a) && uncapped(b) }
    if (freePairs.nonEmpty) {
      val freeRecall = (lsh & freePairs).size.toDouble / freePairs.size
      info(f"m03b uncapped-bucket recall at 10x: $freeRecall%.4f " +
        f"(${(lsh & freePairs).size}/${freePairs.size}; " +
        f"${uncapped.size} uncapped docs)")
      record("m03b_uncapped_bucket_recall", freeRecall, 0.35)
      assert(freeRecall >= 0.35,
        f"banding itself is broken (cap not involved): $freeRecall%.4f")
    }
  }

  test("10x corpus: d05's fat-bucket cap binds and its recall price is bounded") {
    import spark.implicits._
    // The round-9 sf1 sweep caught d05 super-linear (14x on 10x data —
    // mutated near-copies collapse into shared simhash band buckets)
    // and the fix was the house salting cap. House rule: every capped
    // operator gets its recall price MEASURED at 10x, not asserted.
    // Uncapped here is the exact same pipeline with cap = MaxValue —
    // the ~27s quadratic-grade run the cap exists to avoid; capped can
    // only DROP pairs, never invent.
    val capped = pairSet(operators.Dedup.simhashPairs(spark, dir, 256))
    val uncappedDf = operators.Dedup
      .simhashPairs(spark, dir, Int.MaxValue).localCheckpoint()
    val uncapped = pairSet(uncappedDf)
    assert(uncapped.size >= 1000,
      s"inflation produced too few simhash pairs: ${uncapped.size}")
    assert(capped.subsetOf(uncapped),
      s"cap invented pairs: ${(capped -- uncapped).take(5)}")
    val recall = capped.size.toDouble / uncapped.size
    // hamming <= 3 is simhash's own promise (4 bands x 15 bits: <= 3
    // flipped bits leave at least one band intact by pigeonhole, so
    // UNCAPPED recall there is 1.0 by construction) — what the cap
    // gives up on exactly those pairs is the honest price
    val close = uncappedDf.filter($"hamming" <= 3)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(close.nonEmpty, "no hamming<=3 mass at 10x")
    val closeRecall = (capped & close).size.toDouble / close.size
    info(f"d05 capped-vs-uncapped recall at 10x (cap=256): $recall%.4f " +
      f"(${capped.size}/${uncapped.size}); hamming<=3 recall " +
      f"$closeRecall%.4f (${(capped & close).size}/${close.size})")
    record("d05_capped_pair_recall", recall, 0.40)
    record("d05_close_pair_recall", closeRecall, 0.50)
    assert(recall >= 0.40 && capped.nonEmpty,
      f"capped recall collapsed: $recall%.4f")
    assert(closeRecall >= 0.50,
      f"close-pair recall collapsed: $closeRecall%.4f")
  }

  test("10x corpus: m03b band-shape probe — 2x4 vs 4x2 recall and cost") {
    // Round-8 verdict ask #6: is the cap-bound 0.26 recall cheap to
    // lift? The candidate knob is the band shape at fixed 8 planes:
    // the shipped 2 bands x 4 bits (few, precise probes) vs 4 bands x
    // 2 bits (more, coarser probes — each band matches 1/4 of sign
    // space instead of 1/16, so buckets are fatter and the salting cap
    // binds HARDER, but a doc gets 4 chances to collide). Measured
    // head-to-head on the 10x fixture: top-3 recall vs the m03 exact
    // truth, plus the candidate-pair cost ratio. The production config
    // in Multimodal.mediaFeatSigs is whichever this table favors.
    val exact = knnSetM(SparkEntry.queries("m03_media_similarity")(spark, dir))
    assert(exact.nonEmpty)
    def run(nBands: Int, bits: Int): (Double, Long) = {
      val banded = operators.Multimodal
        .mediaFeatSigsCfg(spark, dir, nBands, bits).localCheckpoint()
      val nCands = operators.Multimodal.mediaCandidates(banded).count()
      val topk = knnSetM(operators.Multimodal.mediaTopKFromSigs(banded))
      ((topk & exact).size.toDouble / exact.size, nCands)
    }
    val (r24, c24) = run(2, 4)
    val (r42, c42) = run(4, 2)
    val candRatio = c42.toDouble / math.max(1L, c24)
    info(f"m03b band-shape at 10x: 2x4 recall $r24%.4f ($c24 cands), " +
      f"4x2 recall $r42%.4f ($c42 cands, ${candRatio}%.2fx cost)")
    record("m03b_probe_2x4_recall", r24, 0.15)
    record("m03b_probe_4x2_recall", r42, 0.0)
    record("m03b_probe_4x2_cand_ratio", candRatio, 0.0)
    // round-10 advice #6: the cheaper lever at the SHIPPED 2x4 shape —
    // multi-probe (also query each band's one-bit-flip neighbor cells)
    // — measured through the same rerank stages
    val banded24 = operators.Multimodal
      .mediaFeatSigsCfg(spark, dir, 2, 4).localCheckpoint()
    val mpCands = operators.Multimodal
      .mediaCandidatesMultiProbe(banded24).localCheckpoint()
    val cMp = mpCands.count()
    val rMp = (knnSetM(operators.Multimodal
      .mediaTopKOverCandidates(banded24, mpCands)) & exact).size
      .toDouble / exact.size
    val mpRatio = cMp.toDouble / math.max(1L, c24)
    info(f"m03b multi-probe at 2x4: recall $rMp%.4f " +
      f"($cMp cands, ${mpRatio}%.2fx cost vs single-probe)")
    record("m03b_multiprobe_recall", rMp, 0.0)
    record("m03b_multiprobe_cand_ratio", mpRatio, 0.0)
    // the shipped config must not be strictly dominated: if 4x2 both
    // recalls MORE and costs LESS, the production shape is wrong and
    // this assertion forces the flip
    assert(!(r42 > r24 * 1.1 && candRatio < 1.0),
      f"4x2 dominates the shipped 2x4 (recall $r42%.4f vs $r24%.4f at " +
        f"$candRatio%.2fx cost) — flip Multimodal.mediaFeatSigs")
  }

  private def knnSetM(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long)] =
    df.select("doc_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---- streaming state-bound stress (round-7 verdict ask #2):
  // st13/st14's O(out-of-order window) state claims are scaladoc
  // arguments — here they are MEASURED on a 10x per-key replay. ----

  private def usecOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def tsOfUsec(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private val NChunks = 12

  /** 10x per-KEY inflation of the events fixture: every copy keeps its
    * user_id (the state key) and jitters within ±15s of the original
    * row, so per-user event density grows 10x while the month-long
    * span — and with it the finalization cadence — is unchanged. The
    * copies interleave with neighboring originals, so run extents and
    * match sets genuinely differ from the base fixture (the batch twin
    * recomputes the truth). Chunks are time-ordered (cross-chunk
    * disorder would change what counts as late); delivery scrambles
    * within each chunk. */
  private lazy val streamChunks: Vector[Vector[streaming.Event]] = {
    import spark.implicits._
    val base = sources.Tables.events(spark, sf).as[Ev].collect().toVector
    val inflated = for {
      e <- base
      c <- 0 until Copies
    } yield {
      val jit = ((e.event_id * 2654435761L + c * 1000003L) & 0x7fffffffL) %
        30000000L - 15000000L
      val us = if (c == 0) usecOf(e.ts) else usecOf(e.ts) + jit
      streaming.Event(e.event_id + c * 10000000L, tsOfUsec(us),
        e.user_id, e.event_type, e.value, e.props)
    }
    val sorted = inflated.sortBy(e => (usecOf(e.ts), e.event_id))
    sorted.grouped(math.max(1, sorted.size / NChunks)).toVector
      .map(_.toVector)
  }

  private lazy val inflatedEventsDf: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    streamChunks.flatten.toDS().toDF().localCheckpoint()
  }

  /** Independent per-key state bound from the fixture + replay
    * schedule alone (no engine internals): at any timer firing while
    * chunks 1..B are delivered, the engine's watermark has at least
    * the value computed from chunks 1..B-2 (watermark lags one batch;
    * the extra chunk of slack covers rows buffered since the last
    * firing), so buffered rows per key ⊆ {delivered rows of that key
    * with usec(ts) >= wm(B-2)}. The max over B and keys is the bound
    * the measured state must respect. */
  private lazy val streamStateBound: Int = {
    val maxUs = streamChunks.map(_.map(e => usecOf(e.ts)).max)
    val runMax = maxUs.scanLeft(Long.MinValue)(math.max).tail
    (for (b <- streamChunks.indices) yield {
      val wm = if (b < 2) Long.MinValue
        else (runMax(b - 2) / 1000L - 3600L * 1000L) * 1000L
      streamChunks.take(b + 1).flatten.filter(e => usecOf(e.ts) >= wm)
        .groupBy(_.user_id).map(_._2.size).max
    }).max
  }

  private lazy val maxRowsPerKey: Int =
    streamChunks.flatten.groupBy(_.user_id).map(_._2.size).max

  /** Replays the inflated chunks (scrambled within chunk) through
    * `pipe` on the RocksDB provider; two far-future sentinels finalize
    * every real-key row. */
  private def replayStressed[T](name: String,
      pipe: org.apache.spark.sql.Dataset[streaming.Event] =>
        org.apache.spark.sql.Dataset[T])
      : Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftSession.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming" +
            ".state.RocksDBStateStoreProvider")) {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[streaming.Event]
      val q = pipe(mem.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_sstress"))
        .start()
      try {
        streamChunks.foreach { chunk =>
          mem.addData(chunk.sortBy(e => (e.event_id * 0x9e3779b9L) & 0xffffffffL))
          q.processAllAvailable()
        }
        val maxMs = streamChunks.last.map(e => usecOf(e.ts)).max / 1000L
        mem.addData(Seq(streaming.Event(-1L,
          new java.sql.Timestamp(maxMs + 36L * 3600 * 1000), -1L,
          "__sentinel", 0.0, "{}")))
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-2L,
          new java.sql.Timestamp(maxMs + 36L * 3600 * 1000 + 60000L), -1L,
          "__sentinel", 0.0, "{}")))
        q.processAllAvailable()
        spark.table(name).collect().toSeq
      } finally q.stop()
    }
  }

  test("10x out-of-order replay: st13 state holds the o-o-o window bound" +
      " and output equals batch matchPathQuant") {
    import spark.implicits._
    StreamStateProbe.clear("st13")
    val tokens = Seq("view", "click*", "purchase")
    val got = replayStressed("stress_st13",
      (ds: org.apache.spark.sql.Dataset[streaming.Event]) =>
        ds.withWatermark("ts", "1 hour").groupByKey(_.user_id)
          .transformWithState(new ProbedQuantFunnel(tokens),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append()))
      .filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getLong(1), usecOf(r.getTimestamp(2)),
        r.getLong(3), usecOf(r.getTimestamp(4)))).toSet
    val want = operators.Windows.matchPathQuant(inflatedEventsDf, tokens)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), usecOf(r.getTimestamp(2)),
        r.getLong(3), usecOf(r.getTimestamp(4)))).toSet
    assert(want.nonEmpty, "inflated fixture produced no matches")
    assert(got == want,
      s"st13 diverges at 10x: extra=${(got -- want).take(5)}, " +
        s"missing=${(want -- got).take(5)}")
    // state bound: buffered rows at any firing <= the independent
    // schedule bound, plus the open-prefix allowance (a scan that is
    // still OPEN at the boundary reaches back at most one maximal
    // click-run + the literal count)
    val maxRun = streamChunks.flatten.groupBy(_.user_id).values.map { evs =>
      var best = 0; var cur = 0
      evs.sortBy(e => (usecOf(e.ts), e.event_id)).foreach { e =>
        if (e.event_type == "click") { cur += 1; best = math.max(best, cur) }
        else cur = 0
      }
      best
    }.max
    val allowance = maxRun + tokens.size
    val mk = StreamStateProbe.maxOf(StreamStateProbe.maxBuffered, "st13")
    assert(mk > 0, "probe recorded nothing — hook not wired")
    info(s"st13 max buffered/key at 10x: $mk (schedule bound " +
      s"$streamStateBound + open-prefix $allowance; $maxRowsPerKey" +
      " rows/key total)")
    assert(mk <= streamStateBound + allowance,
      s"st13 state $mk exceeds bound $streamStateBound + $allowance")
    // after finalization only the open tail may survive per key
    val lastMax = StreamStateProbe.maxOf(StreamStateProbe.lastKept, "st13")
    assert(lastMax <= allowance,
      s"st13 final state $lastMax exceeds open-tail allowance $allowance")
    val headroom = 1.0 - mk.toDouble / maxRowsPerKey
    record("st13_10x_state_headroom", headroom, 0.5)
    assert(headroom >= 0.5, f"st13 state headroom collapsed: $headroom%.3f")
    record("st13_10x_batch_parity", 1.0, 1.0)
  }

  test("10x out-of-order replay: st14 state holds the o-o-o window bound," +
      " output equals batch asofJoin, final state is one carry") {
    import spark.implicits._
    StreamStateProbe.clear("st14")
    val got = replayStressed("stress_st14",
      (ds: org.apache.spark.sql.Dataset[streaming.Event]) =>
        ds.withWatermark("ts", "1 hour").groupByKey(_.user_id)
          .transformWithState(new ProbedAsof("view", "purchase"),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append()))
      .filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getLong(1), usecOf(r.getTimestamp(2)),
        usecOf(r.getTimestamp(3)), r.getLong(4))).toSet
    val right = inflatedEventsDf.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("right_event"))
    val left = inflatedEventsDf.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val want = operators.AsofJoin.asofJoin(left, right,
      key = "user_id", leftTs = "ts", rightTs = "ts")
      .select($"user_id", $"event_id", $"ts",
        $"_carried.ts".as("right_ts"),
        $"_carried.right_event".as("right_event"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), usecOf(r.getTimestamp(2)),
        usecOf(r.getTimestamp(3)), r.getLong(4))).toSet
    assert(want.nonEmpty, "inflated fixture produced no as-of matches")
    assert(got == want,
      s"st14 diverges at 10x: extra=${(got -- want).take(5)}, " +
        s"missing=${(want -- got).take(5)}")
    val mk = StreamStateProbe.maxOf(StreamStateProbe.maxBuffered, "st14")
    assert(mk > 0, "probe recorded nothing — hook not wired")
    info(s"st14 max buffered/key at 10x: $mk (schedule bound " +
      s"$streamStateBound; $maxRowsPerKey rows/key total)")
    assert(mk <= streamStateBound,
      s"st14 state $mk exceeds schedule bound $streamStateBound")
    // the documented O(unfinalized + 1): after the sentinels finalize
    // everything, every real key's BUFFER is empty (only the one-row
    // carry ValueState survives)
    val lastMax = StreamStateProbe.maxOf(StreamStateProbe.lastKept, "st14")
    assert(lastMax == 0,
      s"st14 final buffer not empty: $lastMax rows survived finalization")
    val headroom = 1.0 - mk.toDouble / maxRowsPerKey
    record("st14_10x_state_headroom", headroom, 0.5)
    assert(headroom >= 0.5, f"st14 state headroom collapsed: $headroom%.3f")
    record("st14_10x_batch_parity", 1.0, 1.0)
  }
}

/** JVM-local recorder behind the streaming processors' onFinalize
  * observation hook (local-mode executors share the driver JVM, so
  * statics see every state partition). Keyed by (operator, uid). */
object StreamStateProbe {
  private type K = (String, Long)
  val maxBuffered = new java.util.concurrent.ConcurrentHashMap[K, Int]()
  val maxKept = new java.util.concurrent.ConcurrentHashMap[K, Int]()
  val lastKept = new java.util.concurrent.ConcurrentHashMap[K, Int]()

  def rec(op: String, uid: Long, buffered: Int, kept: Int): Unit = {
    maxBuffered.merge((op, uid), buffered, (a: Int, b: Int) => math.max(a, b))
    maxKept.merge((op, uid), kept, (a: Int, b: Int) => math.max(a, b))
    lastKept.put((op, uid), kept)
    ()
  }

  def clear(op: String): Unit =
    Seq(maxBuffered, maxKept, lastKept).foreach(_.keySet.removeIf(_._1 == op))

  /** Max recorded value for `op` over REAL keys (sentinel uid -1 and
    * its kin are excluded — their rows are replay plumbing). */
  def maxOf(m: java.util.concurrent.ConcurrentHashMap[K, Int],
      op: String): Int = {
    var mx = 0
    m.forEach((k, v) => if (k._1 == op && k._2 >= 0 && v > mx) mx = v)
    mx
  }
}

/** The production st13 processor with the observation hook wired to
  * [[StreamStateProbe]] — top-level so serialization never drags the
  * Spec in. */
class ProbedQuantFunnel(tokens: Seq[String])
    extends streaming.Streams.QuantFunnelProcessor(tokens, Map.empty) {
  override protected def onFinalize(uid: Long, buffered: Int,
      kept: Int): Unit = StreamStateProbe.rec("st13", uid, buffered, kept)
}

/** The production st14 processor with the observation hook wired. */
class ProbedAsof(rightType: String, leftType: String)
    extends streaming.Streams.AsofProcessor(rightType, leftType) {
  override protected def onFinalize(uid: Long, buffered: Int,
      kept: Int): Unit = StreamStateProbe.rec("st14", uid, buffered, kept)
}
