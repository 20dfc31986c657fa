package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write-path operators (reference `FileSinkOperator`, SURVEY.md §2.1-2.2):
  * dynamic-partitioned writes, bucketed+sorted tables, and the
  * shuffle-free sort-merge-bucket join they enable (reference
  * `SMBMapJoinOperator`).
  *
  * 100 TB notes:
  *   - Dynamic partition writes sort within partitions by the partition
  *     key first (the reference's `SortedDynPartitionOptimizer`) so each
  *     task writes each partition file once instead of keeping one open
  *     writer per key.
  *   - Bucketed tables co-locate join keys at write time; a join of two
  *     tables bucketed by the same key into the same bucket count plans
  *     as SortMergeJoin with ZERO Exchange — the shuffle is paid once at
  *     write, amortized over every subsequent join.
  */
object Writers {

  /** The per-fixture scratch directory of the query or artifact `tag`:
    * `<JVM temp dir>/graft_<tag>_<d with non-alphanumerics as _>` —
    * the one place the formula lives, so every builder's scratch path
    * is derived identically from its fixture dir. */
  def scratchDir(tag: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      d.replaceAll("[^A-Za-z0-9]", "_")

  /** Scheme-agnostic scratch-tree reset for the streaming harness
    * cycles (the round-11 review's last `java.io.File` holdout): delete
    * `base` and recreate it plus the named subdirs through the Hadoop
    * [[org.apache.hadoop.fs.FileSystem]] API, so the serve/CDC cycles
    * can run against any scheme the maintenance ops they exercise
    * already support (`file:`, HDFS, object stores). */
  def freshScratch(spark: SparkSession, base: String,
      subdirs: String*): Unit = {
    val (fs, p) = fsOf(spark, base)
    fs.delete(p, true)
    fs.mkdirs(p)
    subdirs.foreach(sd => fs.mkdirs(new org.apache.hadoop.fs.Path(p, sd)))
  }

  /** Dynamic-partitioned parquet write, partition-sorted. */
  def writePartitioned(df: DataFrame, partCol: String, dest: String): Unit =
    df.sortWithinPartitions(partCol)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .parquet(dest)

  /** Bucketed + sorted managed table (bucket pruning + SMB joins).
    * Drops any prior table AND its orphaned warehouse directory first:
    * with the in-memory session catalog, a previous JVM's managed-table
    * directory survives while its metadata doesn't, and saveAsTable
    * refuses to reuse the location. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int,
      table: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Small-file compaction — the reference's `ALTER TABLE …
    * CONCATENATE` (`OrcFileMergeOperator`/`RCFileMergeOperator`,
    * SURVEY.md §2.1): rewrite a directory of many small parquet files
    * into `targetFiles` larger ones. Data-preserving (same rows, new
    * layout); at scale run per-partition-directory so each compaction
    * task is bounded. */
  def compact(spark: SparkSession, src: String, dest: String,
      targetFiles: Int): Unit =
    spark.read.parquet(src)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(dest)

  /** Run `leg` (a chain of Spark actions) in flight on a NEW thread
    * while `body` runs on the caller's, handing `body` the leg's join
    * (guide §2.6 — actions are only sequential because driver code
    * calls them sequentially; a second in-flight job back-fills the
    * executors freed by the first one's tail, turning two independent
    * chains' wall from sum into max; two jobs in flight is the guide's
    * recommended back-fill depth). A new thread rather than a pooled
    * executor: a thread inherits the creating thread's Spark local
    * properties and active session at construction, so the leg's jobs
    * carry the caller's job group and description, which a reused
    * pool worker would not pick up. The join rethrows the leg's
    * failure, and the leg never outlives the call: if `body` fails,
    * the leg is joined before the failure propagates, and a leg that
    * `body` never joined is joined (and its failure rethrown) on the
    * way out. */
  private[graft] def inFlight[A, B](leg: => A)(body: (() => A) => B): B = {
    @volatile var out: Either[Throwable, A] = null
    val t = new Thread(() =>
      out = try Right(leg) catch { case e: Throwable => Left(e) })
    t.setName("graft-leg")
    t.setDaemon(true)
    t.start()
    def join(): A = {
      t.join()
      out.fold(e => throw e, identity)
    }
    val r = try body(join _) catch { case e: Throwable => t.join(); throw e }
    join()
    r
  }

  /** The Hadoop filesystem owning `path` — every maintenance op's
    * listing/rename/delete goes through this, NOT `java.io.File`, so
    * the same code runs against `file:`, HDFS, or an object-store
    * connector (rename atomicity then being the CONNECTOR's documented
    * contract rather than a silent local-FS assumption). */
  def fsOf(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Commit one small driver-written file at `dest` (a commit record,
    * a sketch version): `write` fills a staging sibling, which then
    * replaces `dest` by delete-then-rename (HDFS rename refuses an
    * existing destination). A crash leaves `dest` either absent or
    * whole, never truncated. The staging name `_staging.<name>` puts
    * `<name>` behind a prefix of its own, so [[versionsNamed]] never
    * parses a stranded one. */
  def commitSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path)(
      write: java.io.OutputStream => Unit): Unit = {
    val tmpP = new org.apache.hadoop.fs.Path(dest.getParent,
      s"_staging.${dest.getName}")
    val out = fs.create(tmpP, true)
    try write(out) finally out.close()
    fs.delete(dest, false)
    require(fs.rename(tmpP, dest),
      s"commitSmallFile: rename $tmpP -> $dest failed; the content " +
        "is in the staging file")
  }

  /** The versions `n` among `names` of the form `<prefix><n>`, digits
    * only, so a staging or foreign file never parses as a version. */
  def versionsNamed(names: Iterable[String], prefix: String): Seq[Long] =
    names.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).toSeq

  /** INCREMENTAL optimize over a partitioned table root (w09, the
    * `OPTIMIZE ... WHERE` shape of modern table formats): list each
    * `key=value` partition directory's file count and rewrite ONLY the
    * directories over `threshold` files into one file each — healthy
    * partitions are never read, never rewritten, their files never
    * touched (the caller asserts file-list identity). Returns the
    * compacted partition dir names. Listing is driver-side METADATA
    * work (same class as compact's directory read) through the Hadoop
    * [[FileSystem]] API — `root` may carry any scheme (`file:`, HDFS,
    * object store); at 100 TB the per-partition rewrite is one bounded
    * task each, and partitions below threshold cost one `listStatus` —
    * which is exactly why the job is incremental instead of a
    * full-table rewrite. */
  def optimizePartitions(spark: SparkSession, root: String,
      threshold: Int): Seq[String] = {
    val (fs, rootPath) = fsOf(spark, root)
    val dirs =
      (if (fs.exists(rootPath)) fs.listStatus(rootPath)
       else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .sortBy(_.getPath.getName)
    dirs.toSeq.flatMap { st =>
      val dir = st.getPath
      val parts = fs.listStatus(dir)
        .filter(_.getPath.getName.endsWith(".parquet"))
      if (parts.length > threshold) {
        val tmpd = new org.apache.hadoop.fs.Path(
          dir.getParent, dir.getName + "._opt")
        fs.delete(tmpd, true)
        spark.read.parquet(dir.toString).coalesce(1)
          .write.parquet(tmpd.toString)
        fs.delete(dir, true)
        // the original is already gone: a silently failed rename would
        // strand the data in the ._opt dir AND partition-discover it
        // under a bogus key on the next read — fail loudly instead
        require(fs.rename(tmpd, dir),
          s"optimizePartitions: rename $tmpd -> $dir failed after the " +
            "original was removed; compacted data is in the ._opt dir")
        Some(dir.getName)
      } else None
    }
  }

  /** The persisted IVF-ANN index layout — `dest/centroids` holds the
    * k-row (c_id, c_vec, c_nrm) coarse-quantizer table, `dest/lists`
    * the (vec_id, c_id) inverted lists, CELL-partitioned (partition
    * pruning on c_id at probe time) and sorted within partitions. The
    * ONE write path shared by every producer (w07's trained index,
    * st16's serving index) so the two layouts cannot drift — the
    * round-10 review found st16 re-implementing this dance inline. */
  def writeIvfIndex(centroids: DataFrame, lists: DataFrame,
      dest: String): Unit = {
    inFlight(appendIvfLists(lists, dest, SaveMode.ErrorIfExists)) { _ =>
      centroids.write.parquet(s"$dest/centroids")
    }
  }

  /** The two list layouts — flat `lists/c_id=` ([[appendIvfLists]])
    * and legged `lists/leg=<id>/c_id=` ([[appendIvfListsLeg]]) — are
    * MUTUALLY EXCLUSIVE per index dir: mixing them puts partition
    * dirs of different depths under one root and breaks Spark's
    * partition discovery (conflicting directory structures) at read
    * time, far from the write that caused it. Both append paths call
    * this to fail fast at the write instead (round-14 advice). */
  private def requireListLayout(spark: SparkSession, dest: String,
      legged: Boolean): Unit = {
    val (fs, p) = fsOf(spark, s"$dest/lists")
    if (fs.exists(p)) {
      val offending = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith(if (legged) "c_id=" else "leg="))
      require(offending.isEmpty,
        s"$dest/lists already holds ${if (legged) "flat c_id=" else "leg="}" +
          s" dirs (e.g. ${offending.head}); flat appendIvfLists and " +
          "legged appendIvfListsLeg layouts cannot mix under one index")
    }
  }

  /** The ingest-admission leg: land a batch's (vec_id, c_id) rows in
    * the stored lists — frozen centroids, nothing already stored is
    * touched or re-bucketed (append adds files to the cell dirs). */
  def appendIvfLists(lists: DataFrame, dest: String,
      mode: SaveMode = SaveMode.Append): Unit = {
    requireListLayout(lists.sparkSession, dest, legged = false)
    lists.select("vec_id", "c_id")
      .sortWithinPartitions("c_id")
      .write.mode(mode).partitionBy("c_id").parquet(s"$dest/lists")
  }

  /** One ADMISSION leg of the IVF lists (st23's streaming admission —
    * the vector-side twin of [[writeLexIndexLeg]]): the batch's
    * (vec_id, c_id) rows land under `lists/leg=<id>`, cell-partitioned
    * INSIDE the leg so probe-time partition pruning on c_id still
    * holds, and OVERWRITTEN per leg — a replayed micro-batch rewrites
    * its own leg deterministically instead of double-appending (a bare
    * [[appendIvfLists]] on replay would duplicate the batch's vectors
    * in their cells and corrupt every top-k that ranks past a
    * duplicate). [[readIvfIndex]] reads the whole tree unchanged — the
    * `leg` partition column is projected away by its explicit select. */
  def appendIvfListsLeg(lists: DataFrame, dest: String,
      leg: String): Unit = {
    requireListLayout(lists.sparkSession, dest, legged = true)
    lists.select("vec_id", "c_id")
      .sortWithinPartitions("c_id")
      .write.mode(SaveMode.Overwrite).partitionBy("c_id")
      .parquet(s"$dest/lists/leg=$leg")
  }

  /** Read the stored index back: (centroids, lists) in the probe-side
    * shapes ([[writeIvfIndex]]'s layout contract, one reader for it).
    * Also reads an [[appendIvfListsLeg]] tree unchanged — but the two
    * layouts are mutually exclusive per index dir (the append paths
    * enforce it; mixed depths break partition discovery). */
  def readIvfIndex(spark: SparkSession, dest: String)
      : (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dest/centroids").select("c_id", "c_vec", "c_nrm"),
    spark.read.parquet(s"$dest/lists").select("vec_id", "c_id"))

  /** Read a stored lexical index back in the probe-side shapes —
    * (g, doc_id) postings and (doc_id, n) sizes — whole. Reads every
    * lexical tree unchanged: the `leg`, `gb` and `inqg`/`insz`
    * partition columns are projected away by the explicit selects, so
    * full-read consumers never dispatch on the layout; only pruning
    * readers consult the stamp ([[lexLayoutOf]]). */
  def readLexIndex(spark: SparkSession, dest: String)
      : (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dest/postings").select("g", "doc_id"),
    spark.read.parquet(s"$dest/sizes").select("doc_id", "n"))

  /** The v2 lexical layout's stamp file name — lives directly in the
    * index dir (a sibling of `postings/` and `sizes/`), carrying the
    * layout version and the bucket count B. Every lexical index is
    * stamped except st22's probe-routed chain ([[writeLexIndexLeg]]),
    * so its ABSENCE names that chain: readers serve it through the
    * full read ([[readLexIndex]]), while a stamped index's readers
    * consult the stamp for B so a serve can prune buckets. */
  private val LexLayoutFile = "_graft_layout"

  /** Write (or overwrite) the v2 layout stamp. */
  private def stampLexLayout(spark: SparkSession, dest: String,
      buckets: Int): Unit = {
    val (fs, p) = fsOf(spark, dest)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, LexLayoutFile), true)
    out.write(s"layout=2\nbuckets=$buckets\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** The stored lexical index's bucket count, if it declares the v2
    * g-hash-bucketed layout (None = st22's unstamped routed chain,
    * [[writeLexIndexLeg]]). Loud on a stamp this code doesn't
    * understand — serving a future layout through v2 pruning rules
    * could silently drop rows. */
  def lexLayoutOf(spark: SparkSession, dest: String): Option[Int] = {
    val (fs, p) = fsOf(spark, dest)
    val f = new org.apache.hadoop.fs.Path(p, LexLayoutFile)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val kv = txt.linesIterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k.trim -> v.trim }.toMap
      require(kv.get("layout").contains("2"),
        s"$dest/$LexLayoutFile declares layout " +
          s"'${kv.getOrElse("layout", "?")}' — this reader understands " +
          "v2 (g-hash-bucketed postings) only")
      Some(kv("buckets").toInt)
    }
  }

  /** The flat `postings/gb=` ([[writeLexIndexV2]]) and legged
    * `postings/leg=<id>/gb=` ([[writeLexIndexV2Leg]]) v2 layouts are
    * MUTUALLY EXCLUSIVE per index dir — mixed partition depths break
    * Spark's partition discovery at read time, far from the write
    * that caused it — and an EXISTING UNSTAMPED tree must never be
    * adopted by stamping over it (st22's routed tree stamped v2
    * would dispatch every pruned serve onto a layout with no gb
    * dirs). [[requireListLayout]]'s fail-fast-at-the-write
    * discipline, lexical side (round-18 review finding). */
  private def requireLexV2Layout(spark: SparkSession, dest: String,
      legged: Boolean): Unit = {
    val (fs, p) = fsOf(spark, s"$dest/postings")
    if (fs.exists(p)) {
      require(lexLayoutOf(spark, dest).isDefined,
        s"$dest/postings exists without a _graft_layout stamp — an " +
          "unstamped (routed) tree cannot be adopted as v2 by writing " +
          "into it; rebuild it through the v2 writers instead")
      val offending = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith(if (legged) "gb=" else "leg="))
      require(offending.isEmpty,
        s"$dest/postings already holds " +
          s"${if (legged) "flat gb=" else "leg="} dirs " +
          s"(e.g. ${offending.head}); flat writeLexIndexV2 and legged " +
          "writeLexIndexV2Leg layouts cannot mix under one index")
    }
  }

  /** The V2 persisted lexical layout (round-17 verdict ask #1): the
    * (g, doc_id) postings + (doc_id, n) sizes of every stored lexical
    * index but st22's routed chain, with the postings HASH-BUCKETED by
    * shingle — directory-partitioned on `gb = pmod(hash(g), B)` — so an
    * ARBITRARY query's shingles name their buckets at plan build and
    * a serve reads ≤ min(B, |distinct query shingles|) partitions
    * instead of the whole posting set (the knn_serve probed-cell
    * prune, lexical side). Every posting row of a given shingle lands
    * in exactly ONE bucket, so the per-shingle df regroup stays exact
    * over a pruned read — BM25's statics never need the pruned-away
    * buckets (df rides the postings; N/avgdl ride the un-bucketed
    * sizes leg).
    *
    * Layout contract: rows are shuffled ONCE on gb (each bucket lands
    * in one task — without this, every task holds rows of every
    * bucket and a 1000-task reindex at B ≈ 8000 writes tasks × B tiny
    * files; with it the file count is ~B, each ~one target partition)
    * then sorted (gb, g) within tasks — hash collisions can co-locate
    * buckets in one task, and the sort keeps the w02 one-open-writer
    * discipline plus g-order within buckets. The shuffle is a
    * REINDEX-time cost, amortized over every serve. The dir is stamped
    * `_graft_layout` (layout=2, buckets=B); appends under an existing
    * stamp must carry the SAME B — a second producer bucketing by a
    * different modulus would scatter a shingle across buckets and
    * silently break both pruning and df. [[readLexIndex]] reads a v2
    * tree unchanged (`gb` is a partition column its explicit select
    * projects away); only pruning readers consult B.
    *
    * Sizing B: the target partition count at the index's scale (the
    * usual ~128 MB rule — a 1 TB posting set wants B ≈ 8000, so a
    * 100-shingle query reads ~1.2 % of it). B too small prunes
    * nothing; too large makes tiny files. */
  def writeLexIndexV2(postings: DataFrame, sizes: DataFrame,
      dest: String, buckets: Int,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit = {
    require(buckets > 0, s"writeLexIndexV2: buckets must be > 0, got $buckets")
    val s = postings.sparkSession
    requireLexV2Layout(s, dest, legged = false)
    lexLayoutOf(s, dest).foreach(b => require(b == buckets,
      s"$dest is stamped buckets=$b; appending with buckets=$buckets " +
        "would scatter shingles across buckets and break pruning/df"))
    inFlight(
        sizes.select("doc_id", "n").write.mode(mode).parquet(s"$dest/sizes")) {
      _ => postings.select(col("g"), col("doc_id"),
          pmod(hash(col("g")), lit(buckets)).as("gb"))
        .repartition(buckets, col("gb"))
        .sortWithinPartitions("gb", "g")
        .write.mode(mode).partitionBy("gb").parquet(s"$dest/postings")
    }
    stampLexLayout(s, dest, buckets)
  }

  /** One ADMISSION leg of a V2 lexical index — [[writeLexIndexLeg]]'s
    * streaming-admission shape (st22) composed with the v2 bucket
    * layout, so the layout revision joins the index lifecycle instead
    * of being rebuild-only: the batch's capped posting rows land
    * under `postings/leg=<id>/gb=<b>` (bucketed INSIDE the leg, so a
    * pruned serve's `gb` partition filter prunes dirs across every
    * leg), OVERWRITTEN per leg (replay-idempotent — the scd2
    * version-dir discipline all admission legs share). All legs must
    * carry the index's stamped B — enforced here exactly like
    * [[writeLexIndexV2]]'s append path — and v2 legs are mutually
    * exclusive with st22's `inqg`-routed legs per index dir (mixed
    * partition depths break discovery). The per-leg write is
    * task-local (a batch is admission-sized; the reindex-scale
    * gb shuffle would cost more than the leg), so legs produce more,
    * smaller bucket files than a reindex — the usual compaction
    * trade every admission leg family makes. [[readLexIndex]] and
    * [[readLexIndexBuckets]] read the legged tree unchanged (`leg`
    * and `gb` are partition columns the explicit selects project
    * away; the bucket filter still dir-prunes at the second level). */
  def writeLexIndexV2Leg(postings: DataFrame, sizes: DataFrame,
      dest: String, leg: String, buckets: Int): Unit = {
    val s = postings.sparkSession
    requireLexV2Layout(s, dest, legged = true)
    lexLayoutOf(s, dest) match {
      case Some(b) => require(b == buckets,
        s"$dest is stamped buckets=$b; a leg with buckets=$buckets " +
          "would scatter shingles across buckets and break pruning/df")
      case None => stampLexLayout(s, dest, buckets)
    }
    inFlight(sizes.select("doc_id", "n")
        .write.mode(SaveMode.Overwrite).parquet(s"$dest/sizes/leg=$leg")) {
      _ => postings.select(col("g"), col("doc_id"),
          pmod(hash(col("g")), lit(buckets)).as("gb"))
        .sortWithinPartitions("gb", "g")
        .write.mode(SaveMode.Overwrite).partitionBy("gb")
        .parquet(s"$dest/postings/leg=$leg")
    }
  }

  /** Read a v2 index PRUNED to the named buckets — the partition
    * filter is a directory-level prune (PlanSpec asserts the executed
    * scan's partition metrics), so a serve's posting read is bounded
    * by the query's own shingle set. Sizes are never bucketed (one
    * short row per doc — the statics and the final length-norm join
    * read them whole, which is the layout sketch's documented bill). */
  def readLexIndexBuckets(spark: SparkSession, dest: String,
      bucketIds: Seq[Int]): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dest/postings")
      .filter(col("gb").isin(bucketIds: _*))
      .select("g", "doc_id"),
    spark.read.parquet(s"$dest/sizes").select("doc_id", "n"))

  /** COMPACT a stored index's admission legs into the reindex-shaped
    * flat layout at `dest` — the OPTIMIZE pass (w03/w09's maintenance
    * family) applied to the index artifacts: admission legs
    * deliberately trade file count for replay-idempotent commits
    * ([[writeLexIndexV2Leg]] / [[appendIvfListsLeg]] each land a
    * batch's rows as that leg's own files, so a 100-leg chain's serve
    * pays a 100-leg listing — the
    * documented trade), and this pass re-lands the whole artifact in
    * the one-writer-per-partition shape the reindex writers produce.
    *
    * Dispatch mirrors `index_fsck`'s: the dir's own structure names
    * the family (postings/ + sizes/ vs centroids/ + lists/), and a
    * lexical tree must carry the `_graft_layout` stamp: it
    * re-compacts through [[writeLexIndexV2]] under its STAMPED B (the
    * pruning modulus is data, not layout freedom: changing B at
    * compaction would orphan every bucket id a serve derives from the
    * stamp). Compacts into a NEW dir (the w03 src→dest shape): an
    * in-place rewrite would torn-read a concurrent serve; the caller
    * swaps directories on its own cadence. The one unstamped lexical
    * tree is st22's ROUTED chain ([[writeLexIndexLeg]]), and it is
    * REFUSED loudly — the routing flag rides the reindex-time frozen
    * probe set, an artifact of the admission harness, not of the
    * index dir, so that tree recompacts at the reindex cadence that
    * owns the probe set.
    *
    * Deliberately NOT a SQL TVF: the repo's TVF side-effect
    * convention is "harmless at plan build" (graft_refresh's eviction
    * costs one rebuild), and a compaction's side effect is a full
    * artifact rewrite — an EXPLAIN that rewrites terabytes is an
    * operational hazard, so the verb stays a maintenance API the
    * operator calls deliberately (w14/w15 exercise it end-to-end).
    *
    * Returns a one-row report (family, rows, files_before,
    * files_after); file counts come from the relation's own resolved
    * listing (`inputFiles` — the driver map the scan already built to
    * plan itself), so they cost zero Spark jobs, and the rows count
    * is parquet-metadata-only — the pass's data bill stays exactly
    * one full read + one write.
    *
    * 100 TB: one full read + one re-shuffled write of the artifact —
    * the standard OPTIMIZE bill, run on the retention cadence next to
    * the audits (st21's argument), never per commit. */
  def compactIndex(spark: SparkSession, src: String, dest: String)
      : DataFrame = {
    val (fs, _) = fsOf(spark, src)
    val isLex = fs.exists(new org.apache.hadoop.fs.Path(src, "postings"))
    val isIvf = fs.exists(new org.apache.hadoop.fs.Path(src, "centroids"))
    require(isLex != isIvf,
      s"compactIndex: $src is not a stored index — expected a lexical " +
        "layout (postings/ + sizes/) or an IVF layout (centroids/ + lists/)")
    def filesOf(dir: String): Long =
      spark.read.parquet(dir).inputFiles.length.toLong
    if (isLex) {
      val b = lexLayoutOf(spark, src)
      require(b.isDefined,
        s"compactIndex: $src has no _graft_layout stamp, so it holds " +
          "st22's ROUTED legs (the frozen-probe-set admission shape); " +
          "the routing flag is the admission harness's reindex " +
          "artifact, not the index dir's, so routed trees recompact at " +
          "the reindex cadence")
      val filesBefore = filesOf(s"$src/postings") + filesOf(s"$src/sizes")
      val (p, sz) = readLexIndex(spark, src)
      // writeLexIndexV2's own gb shuffle is the compaction (~B files)
      writeLexIndexV2(p, sz.repartition(col("doc_id")), dest, b.get)
      val filesAfter = filesOf(s"$dest/postings") + filesOf(s"$dest/sizes")
      val rows = spark.read.parquet(s"$dest/postings").count()
      spark.createDataFrame(Seq(("lexical", rows, filesBefore, filesAfter)))
        .toDF("family", "rows", "files_before", "files_after")
    } else {
      val filesBefore = filesOf(s"$src/lists")
      val (cents, lists) = readIvfIndex(spark, src)
      // one shuffle on c_id: each cell lands in exactly one task, so
      // the flat layout carries ~one file per cell (the reindex shape)
      writeIvfIndex(cents, lists.repartition(col("c_id")), dest)
      val filesAfter = filesOf(s"$dest/lists")
      val rows = spark.read.parquet(s"$dest/lists").count()
      spark.createDataFrame(Seq(("ivf", rows, filesBefore, filesAfter)))
        .toDF("family", "rows", "files_before", "files_after")
    }
  }

  /** One ADMISSION leg of st22's PROBE-ROUTED lexical chain — the
    * only lexical layout without the v2 stamp: the batch's capped
    * (g, doc_id, inqg) posting rows and (doc_id, n, insz) size rows
    * land as `leg=<id>` partition dirs, OVERWRITTEN per leg — a
    * replayed micro-batch rewrites its own leg deterministically
    * instead of double-appending (the scd2 version-dir discipline
    * applied to index admission; a bare SaveMode.Append would double
    * the batch's postings on replay). [[readLexIndex]] reads the
    * whole tree unchanged.
    *
    * Inside each leg the rows are ADDITIONALLY partitioned by their
    * routing flags — `inqg` (is the shingle in the frozen
    * probe-reachable g-set) and `insz` (has the doc ≥1 such posting;
    * after the postings prune, an unpruned sizes read would DOMINATE
    * the serve bill) — so a serve reads only the `=1` dirs
    * ([[readLexIndexProbed]]), the lexical twin of the IVF probed-cell
    * partition pruning. Routed legs and the stamped v2 layout are
    * mutually exclusive per index dir (mixed partition depths break
    * discovery at read time), so a stamped dir is refused here, at
    * the write — [[requireLexV2Layout]] guards the reverse. */
  def writeLexIndexLeg(postings: DataFrame, sizes: DataFrame,
      dest: String, leg: String): Unit = {
    require(lexLayoutOf(postings.sparkSession, dest).isEmpty,
      s"$dest is stamped _graft_layout=2; routed writeLexIndexLeg legs " +
        "and the v2 bucketed layout cannot mix under one index")
    // distinct dirs, independent chains off the caller's checkpointed
    // batch — overlapped like every other index writer (guide §2.6)
    inFlight(sizes.select("doc_id", "n", "insz")
        .write.mode(SaveMode.Overwrite).partitionBy("insz")
        .parquet(s"$dest/sizes/leg=$leg")) { _ =>
      postings.select("g", "doc_id", "inqg")
        .sortWithinPartitions("g")
        .write.mode(SaveMode.Overwrite).partitionBy("inqg")
        .parquet(s"$dest/postings/leg=$leg")
    }
  }

  /** Read a ROUTED lexical index ([[writeLexIndexLeg]] with `inqg`/
    * `insz`) back pruned to the probe-reachable rows on BOTH legs:
    * the partition filters are directory-level prunes, so a serve's
    * posting read is bounded by the frozen query set's reach (≤ cap ×
    * query postings) instead of the whole index — the bill st23's
    * probed-cell pruning pays on the vector side — and the sizes
    * read is bounded by the docs that can ever appear as a query or
    * candidate (insz=1: ≥1 probe-reachable posting; the Jaccard
    * length terms never touch any other doc). */
  def readLexIndexProbed(spark: SparkSession, dest: String)
      : (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dest/postings")
      .filter(org.apache.spark.sql.functions.col("inqg") === 1)
      .select("g", "doc_id"),
    spark.read.parquet(s"$dest/sizes")
      .filter(org.apache.spark.sql.functions.col("insz") === 1)
      .select("doc_id", "n"))

  /** Bucket both join sides once, then join shuffle-free. The `merge`
    * hint pins SortMergeJoin (at fixture scale the size estimator would
    * otherwise broadcast, hiding the property under test); at 100 TB
    * fact-fact scale SMJ is what the planner picks anyway. PlanSpec
    * asserts the executed plan contains zero exchanges. */
  def smbJoin(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    import spark.implicits._
    writeBucketed(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey",
      $"o_totalprice"), "o_orderkey", buckets, "orders_b")
    writeBucketed(Tables.lineitem(spark, dir).select($"l_orderkey",
      $"l_quantity", $"l_extendedprice"), "l_orderkey", buckets, "lineitem_b")
    spark.table("lineitem_b").hint("merge")
      .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey", $"l_quantity", $"l_extendedprice",
        $"o_totalprice")
  }
}
