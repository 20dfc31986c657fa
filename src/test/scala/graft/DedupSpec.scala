package graft

import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  test("mergeSpans folds consecutive positions into exact islands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1: runs {0,1,2}, {5}, {9,10}; doc 2: single {4} — island
    // breaks exactly at gaps > 1, span_len = run + 7 extra tokens
    val flagged = Seq((1L, 0L), (1L, 1L), (1L, 2L), (1L, 5L), (1L, 9L),
      (1L, 10L), (2L, 4L)).toDF("doc_id", "p")
    val got = operators.Dedup.mergeSpans(flagged)
      .select($"doc_id", $"span_start", $"span_len", $"n_grams")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 0L, 10L, 3L), (1L, 5L, 8L, 1L),
      (1L, 9L, 9L, 2L), (2L, 4L, 8L, 1L)))
  }

  test("minhash-LSH candidates recall the exact jaccard>=0.5 pairs") {
    val exact = SparkEntry.queries("d04_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("d03_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // d03 verifies candidates with the same exact-jaccard filter, so it
    // can only miss pairs LSH never bucketed together: require >=80%
    // recall (16 bands x 4 rows at J>=0.5 -> P(catch) ~ 1-(1-0.5^4)^16 ~ 0.65
    // per-band theory, but near-dup pairs in the fixture are far above
    // threshold so empirical recall is high).
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (${lsh.size} vs ${exact.size})")
    // and zero false positives: d03's exact-jaccard verification uses the
    // same shingle definition as d04, so every emitted pair must be there
    assert(lsh.forall(exact.contains),
      "d03 emitted a pair that fails exact verification")
  }

  test("d10 signature estimate tracks the exact jaccard on shared pairs") {
    val exact = SparkEntry.queries("d03_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = SparkEntry.queries("d10_minhash_estimate")(spark, sf)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = exact.keySet.intersect(est.keySet)
    assert(shared.nonEmpty, "no common pairs to compare")
    // 64-hash minhash: stderr of the estimate is sqrt(J(1-J)/64) <= 0.0625;
    // allow 4 sigma per pair and a tight mean
    val errs = shared.toSeq.map(k => math.abs(exact(k) - est(k)))
    assert(errs.max <= 0.25, s"worst estimate error ${errs.max}")
    assert(errs.sum / errs.size <= 0.08,
      s"mean estimate error ${errs.sum / errs.size}")
    // both gates are J>=0.5 on the same candidates: sets mostly agree
    val overlap = shared.size.toDouble / math.max(exact.size, est.size)
    assert(overlap >= 0.6, s"pair-set overlap $overlap too low")
  }

  test("simhash pairs are symmetric-free and hamming-bounded") {
    val rows = SparkEntry.queries("d05_simhash")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 8 || r.get(2).asInstanceOf[Number].intValue() <= 8)
    }
  }

  test("d13 prefix-filtered join reproduces d04's exact answer row-for-row") {
    // the whole point of d13: the prefix filter (AllPairs/PPJoin bound)
    // may prune CANDIDATES but never ANSWERS — any missing row means
    // the bound was mis-derived (e.g. an off-by-one in the prefix
    // length) and the driver's shared-oracle check would only catch it
    // at sf0.01; this pins it at the unit fixture too, both directions
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val exact = rows("d04_ngram_jaccard")
    val pf = rows("d13_prefix_jaccard")
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    assert(pf == exact,
      s"d13 diverges from d04: missing=${(exact -- pf).take(5)}, " +
        s"extra=${(pf -- exact).take(5)}")
    // J >= 0.5 forces set sizes within 2x — the size filter the
    // candidate join prunes on must hold on every emitted pair
    // (|A| = uni - (|B| - inter) etc.; check via inter/uni bounds)
    pf.foreach { case (a, b, inter, uni, _) =>
      assert(2 * inter >= uni, s"pair ($a,$b) below threshold")
      assert(inter <= uni, s"pair ($a,$b) inter > uni")
    }
  }

  test("d14 keeps the max-quality member of every d06b cluster") {
    import spark.implicits._
    // recompute the policy from the two composed operators' own
    // outputs: for every cluster, the keeper must be the best-quality
    // member (ties to the smallest doc_id), and the member accounting
    // must match d06b exactly
    val clusters = SparkEntry.queries("d06b_dup_clusters_lsh")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val quality = SparkEntry.queries("t02_quality_score")(spark, sf)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = clusters.groupBy(_._2)
    val got = SparkEntry.queries("d14_canonical_docs")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty, "no clusters — vacuous")
    assert(got.keySet == byCluster.keySet,
      "d14 clusters diverge from d06b")
    got.foreach { case (cid, (keeper, bq, nm, nr)) =>
      val members = byCluster(cid).map(_._1)
      val want = members.minBy(id => (-quality(id), id))
      assert(keeper == want,
        s"cluster $cid: keeper $keeper, expected $want " +
          s"(q=${quality(want)} vs ${quality(keeper)})")
      assert(bq == quality(keeper))
      assert(nm == members.length.toLong && nr == nm - 1)
    }
    // the policy is not vacuously min-id: the fixture must contain at
    // least one cluster where quality-max picks a DIFFERENT doc
    assert(got.exists { case (cid, (keeper, _, _, _)) =>
      keeper != byCluster(cid).map(_._1).min },
      "quality-max coincides with min-id on every cluster — the" +
        " policy distinction is untested at this fixture")
  }

  test("property: d13's prefix bound loses NO pair on randomized corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // The AllPairs bound is a THEOREM, and a fixture only witnesses the
    // shingle distributions it happens to contain — drive randomized
    // corpora (small alphabet so shingle collisions and threshold-edge
    // pairs are common; mutated copies so true near-dups exist) and
    // require exact equality with a driver-side brute force that never
    // heard of prefixes. Any off-by-one in the prefix length, the
    // rare-first ordering, or the 2x size filter loses a pair here.
    val words = Vector("a", "b", "c", "d", "e")
    val genDoc = for {
      len <- Gen.choose(1, 14)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
    } yield ws
    val genCorpus = for {
      n <- Gen.choose(2, 12)
      docs <- Gen.listOfN(n, genDoc)
      // mutated copies: flip one token of a prior doc -> pairs cluster
      // around the threshold instead of only at the random background
      copies <- Gen.listOfN(n / 2, for {
        src <- Gen.choose(0, n - 1)
        pos <- Gen.choose(0, 20)
        w <- Gen.oneOf(words)
      } yield {
        val d = docs(src)
        if (d.isEmpty) d else d.updated(pos % d.length, w)
      })
    } yield (docs ++ copies).map(_.mkString(" "))
    def shingleSet(t: String): Set[String] = {
      val ts = t.split(" ").toSeq
      if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
      else Set(ts.mkString(" "))
    }
    val prop = Prop.forAllNoShrink(genCorpus) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = operators.Dedup.prefixJaccardPairsOf(docs)
        .select($"doc_a", $"doc_b", $"inter", $"uni").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val sets = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> shingleSet(t) }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size.toLong
        uni = (sa | sb).size.toLong if 2 * inter >= uni
      } yield (a, b, inter, uni)).toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: d15's one-sided prefix bound finds every containment," +
      " including Jaccard-blind embeddings") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // The fixture's near-dups are all SYMMETRIC (d15's sf0.01 answer
    // is exactly d04's pairs, both directions), so the operator's
    // distinctive case — a short doc embedded in a much longer one,
    // invisible to Jaccard's size filter — must be manufactured:
    // every random corpus gets 'quoting' docs built as (some doc's
    // tokens ++ fresh padding), then d15 must equal a driver-side
    // brute force over ALL ordered pairs.
    val words = Vector("a", "b", "c", "d", "e", "f", "g")
    val genDoc = for {
      len <- Gen.choose(5, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
    } yield ws
    val genCorpus = for {
      n <- Gen.choose(2, 8)
      docs <- Gen.listOfN(n, genDoc)
      quotes <- Gen.listOfN(n / 2 + 1, for {
        src <- Gen.choose(0, n - 1)
        padLen <- Gen.choose(8, 20)
        pad <- Gen.listOfN(padLen, Gen.oneOf(words))
      } yield docs(src) ++ pad)
    } yield (docs ++ quotes).map(_.mkString(" "))
    def shingleSet(t: String): Set[String] = {
      val ts = t.split(" ").toSeq
      if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
      else Set(ts.mkString(" "))
    }
    val prop = Prop.forAllNoShrink(genCorpus) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // the SHIPPED stages via the shared frame-based entry point —
      // certifying the registered operator, not an inline copy
      val got = operators.Dedup.containmentPairsOf(docs)
        .select($"doc_a", $"doc_b", $"inter", $"na").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val sets2 = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> shingleSet(t) }
      val want = (for {
        (a, sa) <- sets2; (b, sb) <- sets2
        if a != b && sa.size >= 5
        inter = (sa & sb).size.toLong
        if 5 * inter >= 4 * sa.size
      } yield (a, b, inter, sa.size.toLong)).toSet
      // the REGISTERED (capped) form against the brute-forced iff
      // characterization its oracle encodes: a qualifying pair is
      // found ⟺ the docs share at least one sub-cap shingle. A tiny
      // cap (3) makes the condition bind hard on these 2-19 doc
      // corpora, certifying both directions of D15Cap's scaladoc claim
      val gotCapped = operators.Dedup.containmentPairsOf(docs, 3L)
        .select($"doc_a", $"doc_b", $"inter", $"na").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val df = sets2.flatMap(_._2).groupBy(identity)
        .map { case (g, os) => g -> os.size }
      val wantCapped = want.filter { case (a, b, _, _) =>
        val (sa, sb) = (sets2(a.toInt)._2, sets2(b.toInt)._2)
        (sa & sb).exists(g => df(g) <= 3)
      }
      got == want && gotCapped == wantCapped
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("frequency-capped jaccard pairs are a subset of the uncapped pairs") {
    val capped = operators.Dedup.ngramJaccardPairs(spark, sf, maxDocFreq = 20)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = SparkEntry.queries("d04_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // capping drops stop-shingles from numerator AND denominator; pairs
    // that survive are still near-dups under the reduced shingle set,
    // and heavily-overlapping pairs survive capping
    assert(capped.nonEmpty)
    assert(capped.intersect(full).size >= capped.size / 2)
  }

  test("connected components: chain, triangle, isolated edge, two comps") {
    import spark.implicits._
    // components: {1,2,3,4} (chain 1-2-3-4), {10,11,12} (triangle),
    // {20,21} (single edge), {30,31,32} (star)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 31L), (30L, 32L))
      .toDF("doc_a", "doc_b")
    val got = operators.Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("star-contraction CC matches min-label CC on every graph shape") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 31L), (30L, 32L))
      .toDF("doc_a", "doc_b")
    val stars = operators.Dedup.connectedComponentsStars(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = operators.Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == prop)
  }

  test("star-contraction CC solves a 200-deep chain past label-prop's cap") {
    import spark.implicits._
    // A near-dup CHAIN (each doc similar only to its neighbor): min-label
    // propagation moves the min ONE hop per round, so a 200-edge path
    // needs 200 rounds — far past its 25-round cap. Star contraction's
    // round count is O(log² n) regardless of diameter.
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = operators.Dedup.connectedComponentsStars(path).collect()
    assert(got.length == 201)
    assert(got.forall(_.getLong(1) == 0L),
      "every node of the path must land in component 0")
  }

  test("star-contraction CC on the real d04 pair graph equals min-label CC") {
    val pairs = operators.Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b")
    val stars = operators.Dedup.connectedComponentsStars(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val prop = operators.Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(stars.nonEmpty)
    assert(stars == prop)
  }

  test("semantic dedup pairs are threshold-true, cluster-local, in ground truth") {
    val truth = SparkEntry.queries("s03_cosine_dedup")(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val assign = operators.Similarity.kmeans(spark, sf)._1.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SparkEntry.queries("d07_semantic_dedup")(spark, sf).collect()
    assert(got.nonEmpty, "fixture should contain semantic near-dups")
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(3) >= 0.42)
      assert(assign(a) == assign(b), s"pair ($a,$b) crosses clusters")
      assert(truth.contains((a, b)),
        s"pair ($a,$b) not in the all-pairs ground truth")
    }
    // the SemDeDup trade-off: only cluster-split pairs may be missed
    val missed = truth.filterNot(p => got.exists(r =>
      r.getLong(0) == p._1 && r.getLong(1) == p._2))
    missed.foreach { case (a, b) =>
      assert(assign(a) != assign(b),
        s"pair ($a,$b) shares a cluster but was not emitted")
    }
  }

  test("d07 cluster-size cap bounds the pair join under a skewed assignment") {
    import org.apache.spark.sql.functions._
    // adversarial assignment: EVERY vector in one cluster — without the
    // cap this is the corpus-quadratic blowup on a single shuffle
    // partition that a collapsed k-means would produce
    val emb = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val oneCluster = emb.select(col("vec_id"), lit(1).as("c_id"))
    val cap = 50
    val capped = operators.Dedup
      .semanticPairs(emb, oneCluster, threshold = 0.42, maxClusterSize = cap)
      .collect()
    val uncapped = operators.Dedup
      .semanticPairs(emb, oneCluster, threshold = 0.42,
        maxClusterSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped pairs are a threshold-true SUBSET of the uncapped truth
    assert(capped.nonEmpty, "salted cells should retain some near-dups")
    capped.foreach { r =>
      assert(r.getDouble(3) >= 0.42)
      assert(uncapped.contains((r.getLong(0), r.getLong(1))))
    }
    // the salt actually bounds the cells: max cell population stays
    // near the cap (hash balance), so no cell re-grows the quadratic
    val n = emb.count()
    val nCells = math.ceil(n.toDouble / cap).toLong
    val cellSizes = emb
      .groupBy(pmod(xxhash64(col("vec_id"), lit(7)), lit(nCells)))
      .count().collect().map(_.getLong(1))
    assert(cellSizes.length == nCells)
    assert(cellSizes.max <= 3L * cap,
      s"hash salt left a cell of ${cellSizes.max} > 3x cap")
    // determinism: the salt is a pure function of vec_id
    val again = operators.Dedup
      .semanticPairs(emb, oneCluster, threshold = 0.42, maxClusterSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == capped.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("d07b's n2 guard fails loudly past the grid bound, passes under it") {
    // round-15 advice: Spark's 2500·dot² gate runs in Long while
    // DuckDB's runs in HUGEINT — beyond the documented grid bound the
    // engines would diverge silently. The guard converts that into a
    // per-row error carrying the bound.
    import spark.implicits._
    val over = Seq(operators.Dedup.D07bMaxN2 + 1).toDF("n2")
      .select(operators.Dedup.d07bN2Guard($"n2").as("g"))
    val e = intercept[Exception](over.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("grid bound")), s"wrong error: $e")
    val under = Seq(operators.Dedup.D07bMaxN2).toDF("n2")
      .select(operators.Dedup.d07bN2Guard($"n2").as("g"))
      .collect()(0).getLong(0)
    assert(under == operators.Dedup.D07bMaxN2)
  }

  test("d07b's grid guard fires on BOTH saturation ends, per element") {
    // self-review round 2: an abs()-based bound would wrap on a
    // negatively-saturated cast and pass; the two-sided compare must
    // fire on large-positive AND large-negative coordinates, and pass
    // exact in-range quantization through unchanged
    import spark.implicits._
    import org.apache.spark.sql.functions.transform
    def grid(x: Float): () => Long = () =>
      Seq(Seq(x)).toDF("v")
        .select(transform($"v", operators.Dedup.d07bGridCell(_)).as("q"))
        .collect()(0).getSeq[Long](0).head
    assert(grid(1.0f)() == 200L)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val pos = intercept[Exception](grid(3.0e6f)())
    assert(msgs(pos).exists(_.contains("grid coordinate")), s"wrong: $pos")
    val neg = intercept[Exception](grid(-3.0e6f)())
    assert(msgs(neg).exists(_.contains("grid coordinate")), s"wrong: $neg")
  }

  test("d07b's grid guard fires on NaN coordinates and on " +
      "over-dimensioned vectors") {
    // round-16 advice: floor(NaN) = NaN and the non-ANSI double→long
    // cast lands 0 — INSIDE the two-sided range guard, a silent
    // miscount. And the wrap-free proof (64·(3e8)² < 2⁶³) is stated
    // for d ≤ 64: a 103-dim vector at the same per-coordinate bound
    // could wrap the squared-norm sum back into the accepted range and
    // slip the n2 gate. Both preconditions must be runtime errors.
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val nan = intercept[Exception](Seq(Seq(Float.NaN)).toDF("v")
      .select(operators.Dedup.d07bGrid($"v").as("q")).collect())
    assert(msgs(nan).exists(_.contains("NaN")), s"wrong error: $nan")
    val wide = intercept[Exception](Seq(Seq.fill(65)(1.0f)).toDF("v")
      .select(operators.Dedup.d07bGrid($"v").as("q")).collect())
    assert(msgs(wide).exists(_.contains("dimensionality")),
      s"wrong error: $wide")
    // a NULL array must name ITSELF, not masquerade as a
    // dimensionality violation (size(NULL) is NULL — the three-valued
    // compare would otherwise route it to the dims branch)
    val nul = intercept[Exception](
      Seq(Some(Seq(1.0f)), None).toDF("v")
        .select(operators.Dedup.d07bGrid($"v").as("q")).collect())
    assert(msgs(nul).exists(_.contains("NULL embedding")),
      s"wrong error: $nul")
    // in-range vectors pass the SAME entry point unchanged
    val ok = Seq(Seq.fill(operators.Dedup.D07bMaxDims)(1.0f)).toDF("v")
      .select(operators.Dedup.d07bGrid($"v").as("q"))
      .collect()(0).getSeq[Long](0)
    assert(ok == Seq.fill(operators.Dedup.D07bMaxDims)(200L))
  }

  test("d07b's fixed-point sims track the float cosine they stand in for") {
    // The grid (x -> floor(x*200+0.5)) quantizes each coordinate by at
    // most 1/400, so a d07b pair's emitted integer-arithmetic sim must
    // sit within the quantization error of the TRUE float cosine —
    // pinning that the fixed-point twin measures the same quantity d07
    // does, not a lookalike. Also pins the gate: every emitted pair
    // clears the 0.42 threshold in the exact arithmetic.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = SparkEntry.queries("d07b_semantic_dedup_fixed")(spark, sf)
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val checked = out
      .join(emb.select($"vec_id".as("doc_a"), $"embedding".as("va"),
        $"nrm".as("na")), "doc_a")
      .join(emb.select($"vec_id".as("doc_b"), $"embedding".as("vb"),
        $"nrm".as("nb")), "doc_b")
      .select($"sim",
        (operators.Similarity.dot($"va", $"vb") / ($"na" * $"nb"))
          .as("fsim"))
      .collect()
    assert(checked.nonEmpty, "d07b emitted no pairs on the fixture")
    checked.foreach { r =>
      val (sim, fsim) = (r.getDouble(0), r.getDouble(1))
      assert(sim >= 0.42, s"gate leaked a below-threshold pair: $sim")
      // 64 dims x 1/400-per-coordinate quantization + normalization -> a
      // loose but sufficient envelope; the fixture's measured max gap is
      // ~100x smaller
      assert(math.abs(sim - fsim) < 0.05,
        s"fixed-point sim $sim drifted from float cosine $fsim")
    }
  }

  test("exact dedup counts are consistent") {
    val r = SparkEntry.queries("d01_dedup_exact")(spark, sf).collect()
    val total = r.map(_.getLong(1)).sum
    assert(total == 500)
    r.foreach(row => assert(row.getLong(2) <= row.getLong(1)))
  }

  test("segment dedup conserves segments and drops exactly the non-canonical occurrences") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("d09_line_dedup")(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    // kept + dropped must equal the segment count recomputed from text
    val nSegs = docs.select($"doc_id",
      (floor(greatest(size(split($"text", " ")) - 1, lit(0)) / 10) + 1)
        .cast("long").as("n_segs"))
    val joined = out.join(nSegs, "doc_id").collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      assert(r.getAs[Long]("kept_segs") + r.getAs[Long]("dropped_segs") ==
        r.getAs[Long]("n_segs"), s"doc ${r.getAs[Long]("doc_id")}")
    }
    // total drops must equal the corpus-wide count of beyond-canonical
    // segment occurrences, recomputed here by grouping on segment TEXT
    // (not its md5 — an independent path around the query's hashing)
    val extra = docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .select(explode(sequence(lit(0),
        greatest(size($"ws") - 1, lit(0)), lit(10))).as("start"), $"ws")
      .select(concat_ws(" ", slice($"ws", $"start" + 1, lit(10))).as("seg"))
      .groupBy($"seg").agg(count(lit(1)).as("n"))
      .agg(sum(when($"n" > 1, $"n" - 1).otherwise(0L))).collect()(0).getLong(0)
    assert(extra > 0, "fixture should contain cross-doc duplicate segments")
    assert(joined.map(_.getAs[Long]("dropped_segs")).sum == extra)
    // untouched docs re-assemble to exactly their original text
    val untouched = out.filter($"dropped_segs" === 0)
      .join(docs, "doc_id")
      .filter($"clean_hash" =!= md5($"text")).count()
    assert(untouched == 0L, "a zero-drop doc failed to round-trip its text")
  }

  test("d12: perturbed batch docs are near-dups the exact hash cannot see") {
    val rows = SparkEntry.queries("d12_incremental_neardup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // every suffix-perturbed copy (ids shifted by 1e6) must be flagged
    // with a jaccard in the TRUE near-dup band — below 1.0 (so d08's
    // exact-normalized hash provably cannot have caught it: an exact
    // dup has identical shingle sets) and above the 0.5 threshold
    val perturbed = rows.filter(_._1 >= 1000000L)
    assert(perturbed.nonEmpty)
    perturbed.foreach { case (id, dup, j) =>
      assert(dup, s"perturbed $id not flagged against the corpus")
      assert(j.exists(v => v >= 0.5 && v < 1.0),
        s"perturbed $id jaccard $j outside the near-dup band")
    }
    // and the report is not vacuously positive: most odd batch docs
    // have no corpus near-dup
    val odd = rows.filter(_._1 < 1000000L)
    assert(odd.count(!_._2) > odd.length / 2,
      "odd batch mostly flagged — fixture should not be that dup-heavy")
  }

  test("d12 re-pointed at the w06 stored band index reproduces its answer") {
    // the round-8 verdict's ask #3 closure: d12Build's index parameter
    // swaps d12's inline corpus signing for the parquet index the w06
    // writer maintains (write half, append half — the incremental
    // admission cycle); the stored run must be row-identical to the
    // inline run, or the stored index lost/duplicated/drifted rows.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dest = s"${System.getProperty("java.io.tmpdir")}/graft_d12idx_test"
    graft.sources.Writers.freshScratch(spark, dest)
    val corpus = operators.Dedup.d12Corpus(spark, sf)
    operators.Dedup.writeNearDupIndex(
      corpus.filter($"doc_id" % 4 === 0), dest, "overwrite")
    operators.Dedup.writeNearDupIndex(
      corpus.filter($"doc_id" % 4 === 2), dest, "append")
    def rows(indexDir: Option[String]) =
      operators.Dedup.d12Build(spark, sf, indexDir)
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    val inline = rows(None)
    val stored = rows(Some(dest))
    // equality alone can't prove ENGAGEMENT (stored == inline by the
    // main assertion) — a bogus dir must make the stored run FAIL; a
    // build that ignored its parameter would silently run inline
    val failed =
      try { rows(Some(s"$dest-definitely-missing")); false }
      catch { case _: Exception => true }
    assert(failed, "d12Build pointed at a missing index dir did not " +
      "fail — the stored path ignored its parameter")
    assert(inline.nonEmpty)
    assert(stored == inline,
      s"stored-index run diverges: extra=${(stored -- inline).take(5)}, " +
        s"missing=${(inline -- stored).take(5)}")
  }
}
