package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the rows-only (no-oracle) queries the driver
  * can't differential-test. */
class MiscSpec extends AnyFunSuite {
  import SparkTestSession._

  test("v01 virtual columns: row counts reconcile with the table") {
    val rows = SparkEntry.queries("v01_virtual_cols")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == 500)
    rows.foreach { r =>
      assert(r.getString(0).contains("documents.parquet"))
      assert(r.getLong(1) > 0) // file_size
    }
  }

  test("v02 histogram bins cover all rows per group") {
    // exploded shape: (l_returnflag, n, bin, bin_center, bin_count)
    val rows = SparkEntry.queries("v02_histogram")(spark, sf).collect()
    val byFlag = rows.groupBy(_.getString(0))
    byFlag.foreach { case (_, bins) =>
      assert(bins.length == 5)
      assert(math.round(bins.map(_.getDouble(4)).sum) == bins.head.getLong(1))
    }
  }

  test("t04 langid confusion counts cover the held-out split") {
    val rows = SparkEntry.queries("t04_langid")(spark, sf).collect()
    // odd doc_ids form the held-out half; every held-out doc gets
    // exactly one prediction
    assert(rows.map(_.getLong(2)).sum == 250)
    val langs = Set("de", "en", "es", "fr", "zh")
    rows.foreach { r =>
      assert(langs.contains(r.getString(0)))
      assert(langs.contains(r.getString(1)))
    }
  }

  test("q35b digest rollup: every year's rank verdict holds TRUE") {
    // the verdict booleans ride the hash oracle, but hash parity alone
    // can't catch a bound REGRESSION — DuckDB would agree on a false
    // verdict too. Pin truth here: the merged-digest estimate's rank
    // error stays inside the analytical n/9 + months bound, and the
    // estimates bracket sanely (p50 < p90, both within the year's
    // value range witnessed by the exact columns)
    val rows = SparkEntry.queries("q35b_quantile_rollup")(spark, sf)
      .collect()
    assert(rows.length >= 3, "too few years — fixture drift")
    rows.foreach { r =>
      assert(r.getBoolean(5), s"p50 rank bound failed for yr ${r.get(0)}")
      assert(r.getBoolean(6), s"p90 rank bound failed for yr ${r.get(0)}")
      assert(r.getDouble(1) < r.getDouble(3),
        s"est_p50 >= est_p90 for yr ${r.get(0)}")
    }
  }

  test("q33 sample is ~10% and deterministic per seed") {
    val a = SparkEntry.queries("q33_sample")(spark, sf).collect()(0)
    val b = SparkEntry.queries("q33_sample")(spark, sf).collect()(0)
    assert(a.getLong(0) == b.getLong(0))
    assert(a.getLong(0) > 300 && a.getLong(0) < 900) // 6000 rows * 0.1
  }

  test("f04 binaryFile reads whole parquet files as bytes") {
    val r = SparkEntry.queries("f04_binaryfile")(spark, sf).collect()(0)
    assert(r.getLong(0) >= 1)
    assert(r.getLong(1) > 1000)
  }

  test("q44 ngrams returns top bigrams per language") {
    // flattened shape: (lang, bigram, freq), descending freq per lang
    val rows = SparkEntry.queries("q44_ngrams_docs")(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(0))
    assert(byLang.size == 5)
    byLang.foreach { case (_, grams) =>
      assert(grams.nonEmpty && grams.length <= 5)
      grams.foreach(g => assert(g.getString(1).split(" ").length == 2))
      assert(grams.map(_.getDouble(2)).min > 0)
    }
  }

  test("t12 lm score flags held-out docs only, 3 per language, stably") {
    val rows = SparkEntry.queries("t12_lm_score")(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(0))
    assert(byLang.size == 5)
    byLang.foreach { case (_, hits) =>
      assert(hits.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
      // the scored split is the held-out half (odd doc_ids)
      hits.foreach(h => assert(h.getLong(2) % 2 == 1))
    }
    // rank stability: an independent build returns the identical set
    // (the cross-engine margin claim, checked engine-vs-itself across
    // different plan instantiations)
    val again = SparkEntry.queries("t12_lm_score")(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("w05 z-order: both dimensions bounded per file, beats single-dim sort") {
    val rows = SparkEntry.queries("w05_zorder_stats")(spark, sf).collect()
    assert(rows.length == 8)
    // every file's bounding box is constrained in BOTH dims: pa spans
    // at most 4 octiles, pb at most 2 (the 8-files Morton split)
    rows.foreach { r =>
      assert(r.getAs[Int]("max_pa") - r.getAs[Int]("min_pa") <= 3)
      assert(r.getAs[Int]("max_pb") - r.getAs[Int]("min_pb") <= 1)
    }
    // data skipping: a suppkey-octile filter (pb=5) touches 2 of 8
    // files; a partkey-octile filter (pa=5) touches 4 of 8. The
    // partkey-SORTED baseline would touch 8 of 8 for the pb filter.
    def touching(dim: String, v: Int) = rows.count(r =>
      r.getAs[Int](s"min_$dim") <= v && v <= r.getAs[Int](s"max_$dim"))
    assert(touching("pb", 5) == 2, s"pb filter files: ${touching("pb", 5)}")
    assert(touching("pa", 5) == 4, s"pa filter files: ${touching("pa", 5)}")
    // file sizes balanced: largest within 2x of smallest
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.max <= 2 * ns.min, s"unbalanced files: ${ns.toSeq}")
  }

  test("p06 epoch shuffle: three decorrelated deterministic prefixes") {
    val rows = SparkEntry.queries("p06_epoch_shuffle")(spark, sf).collect()
    val byEpoch = rows.groupBy(_.getInt(0))
    assert(byEpoch.keySet == Set(0, 1, 2))
    val prefixes = byEpoch.map { case (e, rs) =>
      e -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    }
    // each epoch is a 4-doc prefix of a DIFFERENT permutation
    assert(prefixes.values.toSeq.distinct.size == 3)
    // the shuffle key is the md5 the scaladoc promises (spot-check one)
    val r0 = rows.head
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${r0.getLong(2)}:e${r0.getInt(0)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r0.getString(3) == expect)
  }

  test("q81: the CMS bound holds over the top-100 probes, not just the" +
      " registered top-10") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // same sketch parameters as the registered query, wider probe set:
    // CMS must never undercount anywhere, and the eps*N overcount bound
    // must hold across all 100 heavy hitters (the registered verdict
    // samples only the top 10)
    val sh = sources.Tables.documents(spark, sf)
      .select(explode(operators.Dedup.shinglesMulti(
        operators.Dedup.toks($"text"))).as("g"))
    val sketch = sh.agg(
      expr("count_min_sketch(g, 0.001d, 0.99d, 42)").as("cms"))
    val nTotal = sh.count()
    val est = column(graft.functions.CmsEstimate(
      expression($"cms"), expression($"g")))
    val probes = sh.groupBy($"g").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"g").limit(100)
      .crossJoin(broadcast(sketch))
      .select($"g", $"n", est.as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(probes.length == 100)
    probes.foreach { case (g, n, e) =>
      assert(e >= n, s"CMS undercounted '$g': $e < $n") }
    val bound = math.ceil(nTotal * 0.001).toLong
    val worst = probes.map { case (_, n, e) => e - n }.max
    info(s"q81 worst CMS overcount across top-100: $worst (bound $bound," +
      s" N=$nTotal)")
    assert(worst <= bound,
      s"CMS overcount $worst exceeds eps*N bound $bound")
  }

  test("scd2 manifest: a version whose manifest stamp was lost is" +
      " re-absorbed by the next commit") {
    // the round-13 review finding: scd2WriteVersion must build its
    // cumulative map through the SAME manifest-first + listing-top-up
    // resolver reads use — reading only the latest prior manifest
    // would drop a stamp-lost version from every later cumulative map
    // the moment the next commit lands (a silent stale read the
    // pre-manifest listing scan never had).
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod => fpmod, lit => flit}
    val wq = operators.WriterQueries
    val dim = tempDir("graft_manifest_lost") + "/dim"
    val cutoff = "1997-01-01"
    val orders = sources.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dim, 0L)
    val post = orders.filter($"o_orderdate" >= cutoff)
    wq.scd2MergeStep(dim, 0L,
      post.filter(fpmod($"o_custkey", flit(997L)) === 1L))
    // simulate the crash window: v1's data landed, its stamp did not
    val (fs, root) = sources.Writers.fsOf(spark, dim)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(root, "_manifest_v1"), false))
    // the NEXT commit must absorb v1's buckets into its cumulative map
    wq.scd2MergeStep(dim, 1L,
      post.filter(fpmod($"o_custkey", flit(997L)) === 2L))
    def rows(maxV: Long) = wq.scd2State(spark, dim, maxV)
      .select($"cust_key", $"valid_from", $"valid_to", $"is_current")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3))).toSet
    val viaManifest = rows(2L)
    // ground truth: the pure listing scan (every manifest removed)
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v")).foreach(m =>
        fs.delete(new org.apache.hadoop.fs.Path(root, m), false))
    val viaListing = rows(2L)
    assert(viaManifest == viaListing,
      "manifest_v2 dropped the stamp-lost v1's buckets: " +
        s"missing=${(viaListing -- viaManifest).take(3)}, " +
        s"extra=${(viaManifest -- viaListing).take(3)}")
  }

  private def scd2Fixture(tag: String): (String,
      org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod => fpmod, lit => flit}
    val wq = operators.WriterQueries
    val dim = tempDir(s"graft_$tag") + "/dim"
    val cutoff = "1997-01-01"
    val orders = sources.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderstatus", $"o_totalprice")
    wq.scd2WriteVersion(wq.scd2History(
      wq.scd2Changes(orders.filter($"o_orderdate" < cutoff))), dim, 0L)
    val post = orders.filter($"o_orderdate" >= cutoff)
    wq.scd2MergeStep(dim, 0L,
      post.filter(fpmod($"o_custkey", flit(997L)) === 1L))
    wq.scd2MergeStep(dim, 1L,
      post.filter(fpmod($"o_custkey", flit(997L)) === 2L))
    val (fs, root) = sources.Writers.fsOf(spark, dim)
    (dim, fs, root)
  }

  test("scd2 layout stamp: a chain written under a different bucket" +
      " constant fails loudly on read AND write") {
    // round-13 verdict ask #2: Scd2Buckets/bucket_col are compile-time
    // constants, so a reader built at a different constant would
    // resolve pmod against dirs written under another N and return
    // wrong rows SILENTLY. The _table_meta name-stamp must turn that
    // into a loud refusal. Simulated by re-stamping the chain as
    // b16/o_custkey — byte-identical to "this build compiled b32 but
    // the chain was written by a b16 build".
    import org.apache.hadoop.fs.Path
    val wq = operators.WriterQueries
    val (dim, fs, root) = scd2Fixture("scd2_meta")
    val stamped = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_table_meta."))
    assert(stamped.toSeq == Seq(s"_table_meta.b${wq.Scd2Buckets}.cust_key"),
      s"chain not stamped as expected: ${stamped.toSeq}")
    assert(fs.rename(new Path(root, stamped.head),
      new Path(root, "_table_meta.b16.o_custkey")))
    val readEx = intercept[IllegalStateException] {
      wq.scd2State(spark, dim, 2L).count()
    }
    assert(readEx.getMessage.contains("b16") &&
      readEx.getMessage.contains(s"buckets=${wq.Scd2Buckets}"),
      s"mismatch error is not self-explanatory: ${readEx.getMessage}")
    // the WRITER path must refuse too: resolve the state under the true
    // stamp (scd2State's own guard would otherwise fire first), then
    // tamper and attempt the write
    assert(fs.rename(new Path(root, "_table_meta.b16.o_custkey"),
      new Path(root, stamped.head)))
    val state = wq.scd2State(spark, dim, 2L)
    assert(fs.rename(new Path(root, stamped.head),
      new Path(root, "_table_meta.b16.o_custkey")))
    val writeEx = intercept[IllegalStateException] {
      wq.scd2WriteVersion(state, dim, 3L)
    }
    assert(writeEx.getMessage.contains("b16"),
      s"writer accepted a mismatched chain: ${writeEx.getMessage}")
    // restore the true stamp -> the chain reads again
    assert(fs.rename(new Path(root, "_table_meta.b16.o_custkey"),
      new Path(root, stamped.head)))
    assert(wq.scd2State(spark, dim, 2L).count() > 0)
  }

  test("scd2 vacuum sweeps orphaned below-horizon manifests whose" +
      " v-dir is already gone") {
    // round-13 advice #1: expired-manifest cleanup keyed to surviving
    // v-dir names left a crash-orphaned below-horizon _manifest_v on
    // disk forever. The sweep must derive expired manifests from the
    // manifest names themselves.
    import org.apache.hadoop.fs.Path
    val wq = operators.WriterQueries
    val (dim, fs, root) = scd2Fixture("scd2_orphan")
    wq.scd2Vacuum(spark, dim, 1L)
    // simulate a prior vacuum that crashed between fs.delete(v0 dir)
    // and fs.delete(manifest_v0): the orphan manifest reappears with
    // no matching v-dir
    val orphan = new Path(root, "_manifest_v0")
    val out = fs.create(orphan, true)
    try out.write("0 0".getBytes("UTF-8")) finally out.close()
    wq.scd2Vacuum(spark, dim, 2L)
    val leftover = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v"))
      .filter(_.stripPrefix("_manifest_v").toLong < 2L)
    assert(leftover.isEmpty,
      s"below-horizon manifests survived the vacuum: ${leftover.toSeq}")
    assert(wq.scd2State(spark, dim, 2L).count() > 0)
  }

  test("scd2 resolution degrades to the pure listing scan when the" +
      " selected manifest vanishes between listing and open") {
    // round-13 advice #2: the delete-then-rename window of a concurrent
    // vacuum re-point can remove a manifest AFTER the root listing saw
    // it; the read must fall back instead of throwing
    // FileNotFoundException. The fallback is the PURE listing scan (not
    // the next-older manifest, whose unclamped entries could point
    // below a concurrent vacuum's new horizon at dirs mid-delete — the
    // round-14 review's race). Simulated with a stale listing: capture
    // rootEntries, then delete the latest manifest, then resolve
    // through the stale entries.
    import org.apache.hadoop.fs.Path
    val wq = operators.WriterQueries
    val (dim, fs, root) = scd2Fixture("scd2_vanish")
    val stale = fs.listStatus(root)
    val latest = stale.map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v"))
      .maxBy(_.stripPrefix("_manifest_v").toLong)
    assert(fs.delete(new Path(root, latest), false))
    val viaFallback = wq.scd2BucketVersions(fs, root, stale, 2L)
    // ground truth: a fresh listing (the vanished manifest absent) —
    // next-older manifest + v2's dir top-up
    val viaFresh = wq.scd2BucketVersions(fs, root, fs.listStatus(root), 2L)
    assert(viaFallback == viaFresh,
      s"stale-listing fallback diverged: $viaFallback vs $viaFresh")
    assert(viaFallback.nonEmpty)
  }

  test("inFlight: the leg sees the caller's local properties, a leg " +
      "failure rethrows at the join, a caller failure waits for the leg") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.prop", "caller")
    try {
      val seen = sources.Writers.inFlight {
        spark.range(10).count()
        sc.getLocalProperty("graft.test.prop")
      }(join => join())
      assert(seen == "caller")
    } finally sc.setLocalProperty("graft.test.prop", null)

    val legErr = intercept[IllegalStateException] {
      sources.Writers.inFlight[Unit, Int](
        throw new IllegalStateException("leg"))(_ => 1)
    }
    assert(legErr.getMessage == "leg")

    @volatile var legDone = false
    val callerErr = intercept[IllegalArgumentException] {
      sources.Writers.inFlight { Thread.sleep(300); legDone = true } { _ =>
        throw new IllegalArgumentException("caller")
      }
    }
    assert(callerErr.getMessage == "caller")
    assert(legDone, "the caller's failure propagated before the leg ended")
  }

  test("withConf restores a previously set key and unsets an unset one") {
    val setKey = "spark.graft.test.withConfSet"
    val unsetKey = "spark.graft.test.withConfUnset"
    spark.conf.set(setKey, "before")
    try {
      intercept[RuntimeException] {
        GraftSession.withConf(spark, setKey -> "inside",
            unsetKey -> "inside") {
          assert(spark.conf.get(setKey) == "inside")
          assert(spark.conf.get(unsetKey) == "inside")
          throw new RuntimeException("body")
        }
      }
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(unsetKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("a new session and a stream's cloned session share the executor " +
      "classloader, so re-running a query compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // The task threads' context classloaders, then the number of classes
    // a 4-partition aggregate (a whole-stage pipeline on each side of
    // its shuffle, both compiled in executor tasks) compiles.
    def runIn(s: org.apache.spark.sql.SparkSession): (Set[Int], Long) = {
      val loaders = s.range(0, 4, 1, 4).mapPartitions(_ =>
        Iterator(System.identityHashCode(
          Thread.currentThread.getContextClassLoader)))(
        org.apache.spark.sql.Encoders.scalaInt).collect().toSet
      val before = compiles
      s.range(0, 4000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .write.format("noop").mode("overwrite").save()
      (loaders, compiles - before)
    }
    val (base, _) = runIn(spark)
    val (fresh, freshCompiles) = runIn(spark.newSession())

    val dir = sources.Writers.scratchDir("misc", "sessionLoader")
    sources.Writers.freshScratch(spark, dir, "src")
    @volatile var inStream: Option[(Set[Int], Long)] = None
    streaming.Streams.feedChunks(s"$dir/src", Seq(spark.range(1).toDF())) {
      streaming.Streams.startStream(spark, s"$dir/src",
          spark.range(1).schema, s"$dir/ckpt") { (b, _) =>
        inStream = Some(runIn(b.sparkSession))
      }
    }
    val (streamed, streamCompiles) =
      inStream.getOrElse(fail("the stream ran no batch"))

    assert(base.size == 1, s"task threads disagree on their loader: $base")
    assert(fresh == base, "newSession() tasks run under their own classloader")
    assert(streamed == base,
      "a stream's cloned session runs its tasks under its own classloader")
    assert(freshCompiles == 0, s"newSession() re-compiled $freshCompiles classes")
    assert(streamCompiles == 0,
      s"the stream's cloned session re-compiled $streamCompiles classes")
  }
}
