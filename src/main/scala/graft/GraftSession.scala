package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Pins the configuration the engine depends on (SURVEY.md §7.0):
  *
  *   - UTC session time zone — the reference's TIMESTAMP is zoneless
  *     wall-clock (SURVEY.md §1.2), and the DuckDB oracle runs in UTC.
  *   - AQE enabled — runtime join re-selection, skew-join splitting and
  *     shuffle-partition coalescing replace the reference's
  *     `CommonJoinResolver` / `SkewJoinResolver` / `SetReducerParallelism`
  *     physical resolvers (SURVEY.md §4.2) with strictly better,
  *     runtime-statistics-driven equivalents.
  *   - Shuffle parallelism sized for the local harness (32 = local core
  *     count). On a real cluster this knob is left high and AQE's
  *     `CoalesceShufflePartitions` shrinks post-shuffle partitions to fit;
  *     the engine never hard-codes partition counts in operator code.
  *   - Parquet timestamps written as INT64 micros so any engine (DuckDB,
  *     Arrow) reads verification dumps without INT96 legacy handling.
  *   - Per-session artifact isolation off. With it on, a session's
  *     `ArtifactManager` stamps its jobs with
  *     `JobArtifactState(sessionUUID, …)`, and the executor builds one
  *     classloader per UUID. `CodeGenerator.compile` keys its cache on
  *     `(contextClassLoader, code)`, so every `newSession()` and every
  *     streaming query's cloned session re-compiles each executor-side
  *     class (whole-stage iterators, unsafe projections) from
  *     byte-identical source, and the JIT then compiles the new classes
  *     again. graft adds no session artifacts (no `addJar`, no
  *     `addArtifact`), so isolation buys it nothing.
  */
object GraftSession {

  /** Apply graft's pinned configuration to an arbitrary builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // AQE's coalesce floor (default 1m) prices a post-shuffle partition
    // in BYTES, but this engine's hot kernels are compute-heavy per
    // byte (shingle set intersection, window ranking over exploded
    // shingles): a 5 MB shuffle coalesced to ceil(5m/1m)=5 partitions
    // single-threads ~10 task-seconds of verification work, and a
    // localCheckpoint downstream then FREEZES that 1-5-partition
    // layout for every consumer (measured: d13's verify stage ran 4
    // tasks/9.9 task-s; admission-gate cycles degraded to sequential
    // 1-task stages — OPTIMIZATION_r18.md). 64k keeps the floor from
    // binding before target=totalBytes/defaultParallelism does, so
    // small-byte stages spread toward core count while genuinely tiny
    // (<64k/part) shuffles still collapse. Scale-neutral by
    // construction: at production shuffle sizes totalBytes/parallelism
    // exceeds any floor and this knob is inert (overridable via env
    // for deployments that want the byte-floor back).
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"))
    // CBO parity with the reference's Calcite cost model (SURVEY.md §4.1):
    // ANALYZE-collected stats drive join reorder + build-side selection.
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.cbo.joinReorder.enabled", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // The fixture generator emits unadjusted (isAdjustedToUTC=false)
    // timestamp[us] columns. Read them as session-tz TimestampType —
    // identical wall-clock values in this UTC-pinned session and the
    // same naive values the DuckDB oracle sees — instead of
    // TIMESTAMP_NTZ, so comparisons/arithmetic keep one timestamp
    // type engine-wide and scan-level filter pushdown stays intact
    // (a post-read NTZ→LTZ cast would sit above the relation and
    // block parquet predicate pushdown on every date filter).
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // graft's Catalyst extension rules (stats-answered aggregates, all
    // opt-in via their own flags) — see graft.plans.GraftExtensions.
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    // One executor classloader for every session, so generated classes
    // compiled by one session are reused by the next (see above).
    .config("spark.sql.artifact.isolation.enabled", "false")

  /** Local session for tests/benchmarks; registers graft's SQL functions. */
  def local(cores: String = "*", appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  /** Run `body` with each `key -> value` set on `spark`'s session conf,
    * then restore every key to its previous value — or unset it when it
    * had none — whether `body` returns or throws. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(
      body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
