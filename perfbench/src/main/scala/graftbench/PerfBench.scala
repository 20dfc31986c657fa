package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables
import graft.functions.{GraftFunctions, LongVecSqDist, ShingleGrams}

/** The benchmark's JVM side: one closed-loop client over registered
  * queries (`SparkEntry.queries`), one query in flight.
  *
  * Set-up builds the session, reads every fixture schema, runs the check
  * pass, which fingerprints each query's collected result, and `warm`
  * untimed warm passes. Then the timed phase runs `passes` passes over the
  * query list; each pass starts in a fresh `newSession()`, so
  * per-session memos and temp views start empty while the JVM and JIT
  * stay warm. With `trace=1` one traced pass follows, with the listener
  * set of [[Tracer]] registered, and then the row-kernel timings.
  *
  * Arguments are `key=value` pairs; `run.py` supplies them and turns the
  * raw measurements this writes to `out` into the benchmark's metrics. */
object PerfBench {
  final case class Pass(wallS: Double, cpuS: Double, gcS: Double, jitS: Double,
      latencies: Seq[(String, Double)], errors: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val originNs = System.nanoTime()
    val originEpochMs = System.currentTimeMillis()
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val fixtures = conf("fixtures")
    val names = conf("queries").split(",").toSeq
    val passCount = conf("passes").toInt
    val warmCount = conf("warm").toInt
    val trace = conf.get("trace").contains("1")
    val checkOnly = conf.get("mode").contains("check")
    val cores = conf("cores")
    val launchMs = conf("launch_ms").toDouble
    def sinceLaunchS(): Double =
      (originEpochMs + (System.nanoTime() - originNs) / 1e6 - launchMs) / 1e3

    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")

    val builder = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", conf("local_dir"))
      .config("spark.sql.warehouse.dir", conf("local_dir") + "/warehouse")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    Tables.all.foreach(t => Tables.table(spark, fixtures, t).schema)

    def freshSession(): SparkSession = {
      val s = spark.newSession()
      GraftFunctions.registerAll(s)
      SparkSession.setActiveSession(s)
      SparkSession.setDefaultSession(s)
      s
    }
    def build(s: SparkSession, n: String): DataFrame = registry(n)(s, fixtures)

    val sessionS = sinceLaunchS()
    // Check pass: untimed, counted in set-up.
    val checkSession = freshSession()
    val check = names.map { n =>
      n -> (try Right(Fingerprint.of(build(checkSession, n).collect().iterator))
      catch { case e: Throwable => Left(errorText(e)) })
    }
    // Warm passes: untimed passes as the timed ones run them, so the JIT
    // has compiled the materialize path too before timing starts.
    if (!checkOnly) phase(warmCount, names, freshSession, None)(build)
    val setupS = sinceLaunchS()
    val setupEnd = System.nanoTime() - originNs
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "setup_parts_s" -> Map("session" -> sessionS, "check_and_warm" -> (setupS - sessionS)),
      "check" -> check.map {
        case (n, Right(f)) => n -> Map("rows" -> f.rows, "hash" -> f.hash)
        case (n, Left(e)) => n -> Map("error" -> e)
      }.toMap)

    if (!checkOnly) {
      val timedStart = System.nanoTime() - originNs
      val passes = phase(passCount, names, freshSession, None)(build)
      val timedEnd = System.nanoTime() - originNs
      out("passes") = passes.map(passJson)
      out("peak_rss_mb") = vmHwmMb()

      if (trace) {
        val tr = new Tracer(spark, originNs, originEpochMs)
        val launch = tr.fromEpochMs(launchMs.toLong)
        val traced = tr.span("run", launch) {
          tr.record("setup", tr.current, launch, setupEnd)
          tr.record("untraced", tr.current, timedStart, timedEnd)
          phase(1, names, freshSession, Some(tr))(build)
        }
        tr.detach()
        val kernels = kernelTimes(spark, fixtures)
        out("traced_passes") = traced.map(passJson)
        out("layers") = tr.snapshot() ++ kernels
        out("self_s") = Tracer.selfTimes(tr.spans.toSeq)
        out("queries") = tr.queries.map { q =>
          Map("name" -> q.name, "pass" -> q.pass, "wall_s" -> q.wallS,
            "build_s" -> q.buildS, "materialize_s" -> q.materializeS,
            "driver_gap_s" -> q.driverGapS, "counters" -> q.counters)
        }
        out("spans") = tr.spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end))
      }
    }

    Files.write(Paths.get(conf("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
    spark.stop()
  }

  /** `count` passes over the query list, each in a fresh session. A pass builds each
    * query and materializes it into Spark's no-op sink; traced passes do
    * the same under the tracer's spans. */
  private def phase(count: Int, names: Seq[String], session: () => SparkSession,
      tracer: Option[Tracer])(build: (SparkSession, String) => DataFrame): Seq[Pass] = {
    (0 until count).map { i =>
      val s = session()
      tracer.foreach(_.attach(s))
      runPass(s, i, names, tracer, build)
    }
  }

  private def runPass(s: SparkSession, idx: Int, names: Seq[String], tracer: Option[Tracer],
      build: (SparkSession, String) => DataFrame): Pass = {
    val lat = mutable.ArrayBuffer[(String, Double)]()
    val errors = mutable.ArrayBuffer[(String, String)]()
    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def one(n: String): Unit = tracer match {
      case None => materialize(build(s, n))
      case Some(tr) => tr.query(n, idx)(build(s, n), materialize)
    }
    def pass(): Unit = names.foreach { n =>
      val t = System.nanoTime()
      try one(n)
      catch { case e: Throwable => errors += (n -> errorText(e)) }
      lat += (n -> (System.nanoTime() - t) / 1e9)
    }
    val cpu0 = processCpuNs()
    val gc0 = gcMs()
    val jit0 = jitMs()
    val w0 = System.nanoTime()
    tracer match {
      case Some(tr) => tr.span(s"pass:$idx")(pass())
      case None => pass()
    }
    Pass((System.nanoTime() - w0) / 1e9, (processCpuNs() - cpu0) / 1e9,
      (gcMs() - gc0) / 1e3, (jitMs() - jit0) / 1e3, lat.toSeq, errors.toSeq)
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "jit_s" -> p.jitS,
    "latencies" -> p.latencies.map { case (n, v) => Seq(n, v) },
    "errors" -> p.errors.map { case (n, e) => Seq(n, e) })

  /** Row-kernel timings of `graft.functions`, outside any pass: the
    * shingle kernel called directly on every document text, the MinHash
    * signature stage that runs on it (`Dedup.minhashSigs`, 64 hashes,
    * over every document), and the vector kernels as a projection over
    * all embedding pairs. Each is the median of several repetitions. */
  private def kernelTimes(spark: SparkSession, fixtures: String): Map[String, Double] = {
    import spark.implicits._
    val texts = spark.read.parquet(s"$fixtures/documents.parquet").select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val shingle = median((1 to 9).map { _ =>
      val t = System.nanoTime()
      texts.foreach(ShingleGrams.grams(_, 3, true, false))
      (System.nanoTime() - t).toDouble / texts.length
    })
    val minhash = median((1 to 3).map { _ =>
      val t = System.nanoTime()
      graft.operators.Dedup.minhashSigs(spark, fixtures, 64)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t).toDouble / texts.length
    })
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
      .select($"embedding",
        transform($"embedding", x => (x * 1000).cast("long")).as("q"))
      .localCheckpoint()
    val n = emb.count().toDouble
    val pairs = emb.select($"embedding".as("ea"), $"q".as("qa"))
      .crossJoin(emb.select($"embedding".as("eb"), $"q".as("qb")))
    def perPair(c: org.apache.spark.sql.Column): Double = median((1 to 3).map { _ =>
      val t = System.nanoTime()
      pairs.select(sum(c)).collect()
      (System.nanoTime() - t).toDouble / (n * n)
    })
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    Map(
      "functions.shingle_ns_per_doc" -> shingle,
      "functions.minhash_ns_per_doc" -> minhash,
      "functions.vec_dot_ns_per_pair" -> perPair(graft.operators.Similarity.dot($"ea", $"eb")),
      "functions.vec_sqdist_ns_per_pair" ->
        perPair(column(LongVecSqDist(expression($"qa"), expression($"qb")))))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Collection time of all collectors, in ms. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Time the JIT compilers have spent compiling, in ms. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set (VmHWM) of this process, in MiB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
