package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Row type for typed stateful processing over the events table. */
final case class Event(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String, value: Double, props: String)

/** Per-user accumulated state emitted by [[Streams.userTotalsStateful]]. */
final case class UserTotals(user_id: Long, n_events: Long,
    total_value: Double)

/** One element of [[Streams.RecentEventsProcessor]]'s bounded buffer. */
final case class RecentEvent(ts: java.sql.Timestamp, event_id: Long)

/** Per-user recent-events emission (newest-first csv of event ids). */
/** `n_seen` is the monotone per-user event count — StreamingSpec picks
  * each user's LATEST emission by maxBy(n_seen) instead of assuming the
  * memory sink preserves cross-batch append order (undocumented). */
final case class UserRecent(user_id: Long, recent_ids: String, n_seen: Long)

/** Per-user per-event-type counts from [[Streams.TypeCountsProcessor]]:
  * `counts_csv` is the sorted `type:count` rendering of the MapState;
  * `n_seen` is the monotone pick-latest key (see [[UserRecent]]). */
final case class UserTypeCounts(user_id: Long, counts_csv: String,
    n_seen: Long)

/** One buffered event awaiting watermark finalization in
  * [[Streams.FunnelProcessor]] — carries `value` so predicate-defined
  * symbols (the batch matchPathQuant's symbol map) can gate on it. */
final case class PendingEvent(ts: java.sql.Timestamp, event_id: Long,
    event_type: String, value: Double)

/** One matched symbol chain from [[Streams.FunnelProcessor]] — same
  * shape as the batch matchPath output (q80). */
final case class FunnelMatch(user_id: Long, start_event: Long,
    start_ts: java.sql.Timestamp, end_event: Long,
    end_ts: java.sql.Timestamp)

/** A closed session emitted by [[Streams.SessionTimerProcessor]] when
  * its event-time timer fires (or an in-batch gap closes it). */
final case class UserSessionClosed(user_id: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    n_events: Long)

/** Start coordinates of a match [[Streams.QuantFunnelProcessor]] has
  * already emitted whose start row is STILL buffered — the exactly-once
  * ledger entry (see the processor's scaladoc). */
final case class FunnelEmitted(ts: java.sql.Timestamp, event_id: Long)

/** One enriched left row from [[Streams.AsofProcessor]] — a left event
  * joined to the latest right event at-or-before it (same shape as the
  * batch as-of twin a01 projects from its carried struct). */
final case class AsofMatch(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, right_ts: java.sql.Timestamp,
    right_event: Long)

/** Structured-Streaming operators over the events table (SURVEY.md §2.9:
  * the reference has NO stream engine — its streaming story is ACID
  * micro-batch ingest; the north star directs Structured Streaming).
  *
  * Batch-twin pattern: every transformation here takes a DataFrame that
  * may be a stream (`readStream`) or a batch (`read`) of the same
  * schema and applies IDENTICAL logic — `withWatermark` is a no-op on
  * batch inputs, so the batch run is the oracle-checkable twin of the
  * streaming run (FIXTURES.md replay pattern; StreamingSpec replays
  * chunks through MemoryStream and asserts equality with the twin).
  *
  * Scale notes: watermarks bound all state (window and dedup state is
  * dropped once the watermark passes); session-window merges are
  * per-key and spill via the state store (RocksDB provider in
  * production); no operator holds unbounded driver or executor state.
  */
object Streams {

  /** Outcome of one [[QuantFunnelProcessor]] greedy scan: failed
    * forever, still extendable past the finalized boundary, or matched
    * ending at `endIdx` (all deterministic over the finalized order —
    * the eviction and exactly-once arguments rest on this). */
  private sealed trait ScanOutcome
  private case object ScanFail extends ScanOutcome
  private case object ScanOpen extends ScanOutcome
  private final case class ScanHit(endIdx: Int) extends ScanOutcome

  /** Exact order-independent sum of the (2-decimal) value column:
    * decimal summation removes IEEE double-order jitter across
    * micro-batch/partition merge orders (same device as
    * graft.operators.Exact, local to avoid a batch->streaming
    * package dependency). */
  private def exactSum(c: org.apache.spark.sql.Column) =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .cast("double")

  /** Tumbling 1-hour windows per event type. */
  def tumblingCounts(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), exactSum($"value").as("sum_value"))
      .select($"w.start".as("window_start"), $"w.end".as("window_end"),
        $"event_type", $"n", $"sum_value")
  }

  /** Sliding 1-hour windows every 15 minutes (each event lands in 4). */
  def slidingCounts(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("window_start"), $"w.end".as("window_end"), $"n")
  }

  /** Session windows with a 30-minute inactivity gap, per user. */
  def sessionize(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), exactSum($"value").as("sum_value"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events", $"sum_value")
  }

  /** Arbitrary stateful processing (the reference's closest analogue is
    * a custom PTF — SURVEY.md §2.8 maps that surface to
    * `flatMapGroupsWithState`): per-user running totals held in explicit
    * GroupState. Works identically over a stream (update mode, state
    * persists across micro-batches, store-backed and spillable) and a
    * batch Dataset (each group processed once from empty state — the
    * oracle-checkable twin). */
  def userTotalsStateful(events: Dataset[Event]): Dataset[UserTotals] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          // Accumulate exactly at 6 dp (inputs carry <= 2 dp): the
          // running total is order-independent across micro-batches and
          // bit-reproducible against a decimal-summing batch oracle.
          // BigDecimal.valueOf + HALF_UP mirrors Spark's own
          // double->decimal cast semantics.
          var total = java.math.BigDecimal.valueOf(prev.total_value)
            .setScale(6, java.math.RoundingMode.HALF_UP)
          it.foreach { e =>
            n += 1
            total = total.add(java.math.BigDecimal.valueOf(e.value)
              .setScale(6, java.math.RoundingMode.HALF_UP))
          }
          val next = UserTotals(uid, n, total.doubleValue)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Spark 4 arbitrary-state API (`transformWithState`, the successor
    * to flatMapGroupsWithState): the same per-user running totals as
    * [[Streams.userTotalsStateful]], held in a typed [[ValueState]]
    * through the StatefulProcessor handle. State lives in the RocksDB
    * store (the API requires that provider when streaming), is
    * per-key-partitioned and spillable; TTLConfig.NONE here because the
    * key space is bounded — attach a TTL for unbounded key domains. */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserTotals] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserTotals] = {
      val prev =
        if (totals.exists()) totals.get() else UserTotals(uid, 0L, 0.0)
      var n = prev.n_events
      var total = java.math.BigDecimal.valueOf(prev.total_value)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      rows.foreach { e =>
        n += 1
        total = total.add(java.math.BigDecimal.valueOf(e.value)
          .setScale(6, java.math.RoundingMode.HALF_UP))
      }
      val next = UserTotals(uid, n, total.doubleValue)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user totals through [[UserTotalsProcessor]]. */
  def userTotalsTws(events: Dataset[Event]): Dataset[UserTotals] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** ListState variant of the Spark 4 arbitrary-state API: a BOUNDED
    * per-user buffer of the 3 most recent events — the "recent items"
    * feature shape (recommendations, fraud velocity checks). The
    * buffer is kept sorted by (ts, event_id) and trimmed to k inside
    * the processor, so state is O(k) per key regardless of stream
    * length AND the result is arrival-order-independent: replays,
    * micro-batch boundaries and retries land on the same buffer, which
    * is what lets the batch twin (window rank) oracle it exactly. */
  class RecentEventsProcessor(k: Int = 3)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserRecent] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var recent: ListState[RecentEvent] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[RecentEvent]("recent",
        org.apache.spark.sql.Encoders.product[RecentEvent], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserRecent] = {
      val in = rows.toSeq
      val merged = (recent.get().toSeq ++
        in.map(e => RecentEvent(e.ts, e.event_id)))
        .sortBy(r => (-r.ts.getTime, -r.event_id)).take(k)
      recent.put(merged.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + in.size
      seen.update(n)
      Iterator.single(
        UserRecent(uid, merged.map(_.event_id).mkString(","), n))
    }
  }

  /** Per-user recent-event buffer through [[RecentEventsProcessor]]. */
  def recentEventsTws(events: Dataset[Event]): Dataset[UserRecent] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Session-window semantics rebuilt on transformWithState EVENT-TIME
    * TIMERS (the capability that distinguishes the Spark 4 API from
    * flatMapGroupsWithState's coarse per-batch timeouts): each open
    * session arms a timer at last_event + gap; when the WATERMARK
    * crosses it the engine calls [[SessionTimerProcessor
    * .handleExpiredTimer]], which emits the closed session and clears
    * state — timer-driven output, produced on watermark advance with
    * no new data for the key. In-batch gaps close sessions inline.
    * StreamingSpec replays the fixture and asserts the emitted
    * sessions EQUAL the batch sessionize twin (st03's semantics). */
  final case class SessionAcc(start: Long, last: Long, n: Long)

  class SessionTimerProcessor(gapMs: Long = 30 * 60 * 1000L)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserSessionClosed] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var acc: ValueState[SessionAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[SessionAcc]("session",
        org.apache.spark.sql.Encoders.product[SessionAcc], TTLConfig.NONE)

    private def close(uid: Long, a: SessionAcc): UserSessionClosed =
      UserSessionClosed(uid, new java.sql.Timestamp(a.start),
        new java.sql.Timestamp(a.last + gapMs), a.n)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserSessionClosed] = {
      // Rows arrive in arrival order, not event-time order; sort the
      // batch's slice (bounded by micro-batch size) before folding.
      val sorted = rows.toIndexedSeq.sortBy(_.ts.getTime)
      var cur = if (acc.exists()) acc.get() else null
      var closed = List.empty[UserSessionClosed]
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (cur == null) cur = SessionAcc(t, t, 1)
        else if (t - cur.last > gapMs) {
          closed ::= close(uid, cur); cur = SessionAcc(t, t, 1)
        } else cur = SessionAcc(cur.start, math.max(cur.last, t), cur.n + 1)
      }
      // Arm (or re-arm) the open session's close timer. Earlier timers
      // for superseded last-event times are left registered: they fire
      // first and are ignored by the staleness guard in
      // handleExpiredTimer (cheaper than enumerating-and-deleting).
      getHandle.registerTimer(cur.last + gapMs)
      acc.update(cur)
      closed.reverseIterator
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[UserSessionClosed] = {
      if (acc.exists() && acc.get().last + gapMs <= info.getExpiryTimeInMs()) {
        val out = close(uid, acc.get())
        acc.clear()
        Iterator.single(out)
      } else Iterator.empty // stale timer from a superseded last-event
    }
  }

  /** Timer-closed user sessions over a watermarked event stream. */
  def userSessionsTws(events: Dataset[Event]): Dataset[UserSessionClosed] = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Per-user per-event-type running counts on transformWithState
    * MAPSTATE — the keyed-sub-key state primitive (ValueState,
    * ListState and event-time timers are exercised by the processors
    * around this one; MapState completes the Spark 4 state surface).
    * Each sub-key (event type) updates independently — the state
    * store reads/writes ONE map entry per input row, not the whole
    * map (the reason to prefer MapState over a ValueState holding a
    * serialized map once sub-key cardinality grows). Emission renders
    * the full map; StreamingSpec picks each user's latest emission by
    * the monotone n_seen and asserts equality with the batch
    * (user, type) aggregate. */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserTypeCounts] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var counts: MapState[String, Long] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserTypeCounts] = {
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { e =>
        val prev =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else 0L
        counts.updateValue(e.event_type, prev + 1L)
        n += 1
      }
      seen.update(n)
      val csv = counts.iterator().toSeq
        .sortBy(_._1).map { case (t, c) => s"$t:$c" }.mkString(",")
      Iterator.single(UserTypeCounts(uid, csv, n))
    }
  }

  /** Per-user type counts through [[TypeCountsProcessor]]. */
  def userTypeCountsTws(events: Dataset[Event]): Dataset[UserTypeCounts] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** STREAMING row-pattern matching — the streaming face of
    * [[graft.operators.Windows.matchPath]] (real-time funnel
    * detection): match a consecutive symbol chain over each user's
    * events in FINAL event-time order, on an out-of-order stream.
    *
    * Order is only final BEHIND the watermark (rows below it are
    * dropped as late; surviving arrivals carry ts >= wm, so nothing
    * can ever insert between two sub-watermark events). Events
    * therefore buffer in ListState and each input batch arms an
    * event-time timer just past its newest event. When a timer fires:
    * sort the buffer, scan the finalized prefix (ts < wm) for pattern
    * matches, emit them, and evict all finalized events except the
    * last |pattern|-1 — exactly the prefix a future match could still
    * extend. Emission is exactly-once by construction (a retained
    * tail is one event too short to re-match, and stale timers see
    * nothing newly finalized); state is O(unfinalized + |pattern|)
    * per user. StreamingSpec replays the fixture and asserts the
    * emitted set EQUALS the batch matchPath result (q80).
    *
    * `symbols` mirrors the batch matchPathQuant's predicate-defined
    * symbols (q80e): a pattern symbol may resolve to an arbitrary
    * predicate over the buffered event instead of event_type
    * equality; absent symbols keep the default. The functions must be
    * serializable (they ship inside the processor to every state
    * partition). */
  class FunnelProcessor(pattern: Seq[String],
      symbols: Map[String, PendingEvent => Boolean] = Map.empty)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, FunnelMatch] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    require(pattern.nonEmpty, "empty symbol pattern")
    require(symbols.keySet.diff(pattern.toSet).isEmpty,
      "symbol definition(s) not used by any pattern token: " +
        symbols.keySet.diff(pattern.toSet).mkString(", "))
    private val preds: IndexedSeq[PendingEvent => Boolean] =
      pattern.toIndexedSeq.map { name =>
        symbols.getOrElse(name, (e: PendingEvent) => e.event_type == name)
      }
    @transient private var buf: ListState[PendingEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[PendingEvent]("funnel_buf",
        org.apache.spark.sql.Encoders.product[PendingEvent], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[FunnelMatch] = {
      val in = rows
        .map(e => PendingEvent(e.ts, e.event_id, e.event_type, e.value))
        .toArray
      if (in.nonEmpty) {
        buf.appendList(in)
        getHandle.registerTimer(in.map(_.ts.getTime).max + 1)
      }
      Iterator.empty
    }

    /** Full microsecond sort key: `getTime` alone truncates to millis,
      * so two events a few microseconds apart would tie-break by
      * event_id here while the batch matchPath (q80) orders by the
      * full timestamp — the emitted matches would diverge from the
      * pinned batch-parity assertion. Spark timestamps are
      * microsecond-grained; `getNanos` carries the sub-second part. */
    private def usec(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[FunnelMatch] = {
      // µs-domain boundary like the sort key (see AsofProcessor)
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val all = buf.get().toIndexedSeq
        .sortBy(e => (usec(e.ts), e.event_id))
      val firstOpen = all.indexWhere(e => usec(e.ts) >= wmUs)
      val nFinal = if (firstOpen == -1) all.size else firstOpen
      val L = pattern.size
      val matches = (0 to nFinal - L).iterator
        .filter(i => preds.indices.forall(j => preds(j)(all(i + j))))
        .map { i =>
          val a = all(i); val c = all(i + L - 1)
          FunnelMatch(uid, a.event_id, a.ts, c.event_id, c.ts)
        }.toList
      val keep = all.drop(math.max(nFinal - (L - 1), 0)).toArray
      buf.clear()
      if (keep.nonEmpty) buf.appendList(keep)
      matches.iterator
    }
  }

  /** Streaming funnel matches through [[FunnelProcessor]]. */
  def funnelMatchesTws(events: Dataset[Event], pattern: Seq[String],
      symbols: Map[String, PendingEvent => Boolean] = Map.empty)
      : Dataset[FunnelMatch] = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(pattern, symbols),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** STREAMING QUANTIFIED row-pattern matching (st13) — the streaming
    * twin of [[graft.operators.Windows.matchPathQuant]]: arbitrary
    * `sym`/`sym*`/`sym+` token chains, including ADJACENT runs
    * (`a*.b*.c`) and TRAILING run chains (`view.click+`, `a.b*.c*`),
    * matched with the committed literal-first forced-extent rules over
    * each user's events in final event-time order on an out-of-order
    * stream. The token grammar and matching rules are
    * [[graft.operators.MatchPattern]] — the SAME parser the batch
    * compiler uses, so batch and stream accept identical patterns
    * with identical rejections (the round-6 verdict's last
    * batch/stream semantics divergence).
    *
    * Buffering and finalization follow [[FunnelProcessor]]: events
    * buffer in ListState, each input batch arms an event-time timer,
    * and a firing timer sorts the buffer and scans the finalized
    * prefix (ts < watermark). Where the literal chain could evict all
    * but a FIXED |pattern|-1 tail, a quantified scan's liveness is
    * data-dependent, so eviction works from scan OUTCOMES: a start row
    * is OPEN when its greedy scan consumed finalized rows up to the
    * boundary without failing (a star run still extending, a literal
    * awaiting its row, or a trailing run whose maximal extent a future
    * row could still grow) — everything before the EARLIEST open start
    * is resolved (matched and emitted, or failed forever: scans are
    * deterministic over the finalized order, which no longer changes)
    * and is evicted. State is O(unfinalized + longest open match
    * prefix) per user — the same bound the batch operator's window
    * frame implies, and the streaming-inherent minimum: those rows ARE
    * still reachable by a future match.
    *
    * Exactly-once: scans are deterministic, so a resolved start never
    * changes outcome — but a HIT start later than the earliest open
    * start survives eviction and would re-emit on the next timer. A
    * small ledger ([[FunnelEmitted]]: the start coordinates of emitted
    * matches whose start row is still buffered) suppresses re-emission
    * unconditionally; entries leave the ledger when their start row
    * leaves the buffer, so it is bounded by the open prefix too (and
    * empty whenever every hit start precedes every open start — the
    * common case).
    *
    * A trailing-run match whose run touches the finalized boundary
    * stays OPEN — a future event could extend the maximal run, so its
    * end coordinates are not yet final. On an unbounded stream such a
    * match emits when a finalized non-run row arrives; a bounded
    * replay terminates it with a per-user end-of-stream marker row
    * (any type no symbol matches), which is also exactly how the batch
    * twin's partition end terminates the run — StreamingSpec pins the
    * equivalence. */
  class QuantFunnelProcessor(rawTokens: Seq[String],
      symbols: Map[String, PendingEvent => Boolean] = Map.empty)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, FunnelMatch] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    private val compiled = graft.operators.MatchPattern.compile(rawTokens)
    graft.operators.MatchPattern.requireSymbolsUsed(
      compiled, symbols.keySet, rawTokens)
    private def predOf(name: String): PendingEvent => Boolean =
      symbols.getOrElse(name, (e: PendingEvent) => e.event_type == name)
    // (run-chain predicates, literal predicate) per unit, then the
    // trailing run chain's predicates — resolved once, shipped
    // serialized to every state partition
    private val unitPreds: IndexedSeq[
        (List[PendingEvent => Boolean], PendingEvent => Boolean)] =
      compiled.units.map(u => (u.stars.map(predOf), predOf(u.sym)))
    private val tailPreds: List[PendingEvent => Boolean] =
      compiled.tails.map(predOf)
    @transient private var buf: ListState[PendingEvent] = _
    @transient private var emitted: ListState[FunnelEmitted] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[PendingEvent]("qfunnel_buf",
        org.apache.spark.sql.Encoders.product[PendingEvent], TTLConfig.NONE)
      emitted = getHandle.getListState[FunnelEmitted]("qfunnel_emitted",
        org.apache.spark.sql.Encoders.product[FunnelEmitted], TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[FunnelMatch] = {
      val in = rows
        .map(e => PendingEvent(e.ts, e.event_id, e.event_type, e.value))
        .toArray
      if (in.nonEmpty) {
        buf.appendList(in)
        getHandle.registerTimer(in.map(_.ts.getTime).max + 1)
      }
      Iterator.empty
    }

    /** Microsecond-exact sort key (see [[FunnelProcessor.usec]]). */
    private def usec(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    import Streams.{ScanFail, ScanOpen, ScanHit, ScanOutcome}

    /** COMMITTED scan of one match attempt starting at `start`, over
      * finalized rows `all(0 until nFinal)` only — exactly the batch
      * compiler's semantics (MatchPattern's committed rules): at each
      * decision row the unit's LITERAL wins if it matches (zero-length
      * run chain), else the first applicable remaining run consumes
      * every consecutive row satisfying its predicate and the decision
      * repeats at the terminator with the runs after it; trailing runs
      * consume greedily in order and the match ends at the last
      * consumed row (the final literal when all are empty). Any scan
      * needing a row at or past the boundary is OPEN — unfinalized
      * rows cannot participate (their order is not yet final), and a
      * trailing chain touching the boundary has no final extent yet. */
    private def scan(all: IndexedSeq[PendingEvent], start: Int,
        nFinal: Int): ScanOutcome = {
      var j = start
      var k = 0
      while (k < unitPreds.length) {
        val (stars, litPred) = unitPreds(k)
        var rem = stars
        var matched = false
        while (!matched) {
          if (j >= nFinal) return ScanOpen
          if (litPred(all(j))) { j += 1; matched = true }
          else {
            val i = rem.indexWhere(p => p(all(j)))
            if (i < 0) return ScanFail
            val rp = rem(i)
            rem = rem.drop(i + 1)
            while (j < nFinal && rp(all(j))) j += 1
            // loop re-decides at the terminator: literal first, then
            // the runs after i (committed — no backtracking)
          }
        }
        k += 1
      }
      var t = tailPreds
      while (t.nonEmpty) {
        val tp = t.head; t = t.tail
        while (j < nFinal && tp(all(j))) j += 1
        // at the boundary even an empty run may still grow (this run
        // or a later one could consume the next finalized row)
        if (j >= nFinal) return ScanOpen
      }
      ScanHit(j - 1)
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[FunnelMatch] = {
      // µs-domain boundary like the sort key (see AsofProcessor)
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val all = buf.get().toIndexedSeq
        .sortBy(e => (usec(e.ts), e.event_id))
      val firstUnfinal = all.indexWhere(e => usec(e.ts) >= wmUs)
      val nFinal = if (firstUnfinal == -1) all.size else firstUnfinal
      val ledger: Set[(Long, Long)] = emitted.get()
        .map(e => (usec(e.ts), e.event_id)).toSet
      val out = List.newBuilder[FunnelMatch]
      val newLedger = List.newBuilder[FunnelEmitted]
      var earliestOpen = nFinal
      var i = 0
      while (i < nFinal) {
        scan(all, i, nFinal) match {
          case ScanOpen => if (earliestOpen == nFinal) earliestOpen = i
          case ScanHit(e) =>
            val a = all(i)
            if (!ledger.contains((usec(a.ts), a.event_id))) {
              out += FunnelMatch(uid, a.event_id, a.ts,
                all(e).event_id, all(e).ts)
              if (i >= earliestOpen) // start survives eviction below
                newLedger += FunnelEmitted(a.ts, a.event_id)
            } else if (i >= earliestOpen) // keep suppressing next timer
              newLedger += FunnelEmitted(a.ts, a.event_id)
          case ScanFail =>
        }
        i += 1
      }
      val keep = all.drop(earliestOpen).toArray
      buf.clear()
      if (keep.nonEmpty) buf.appendList(keep)
      emitted.clear()
      val nl = newLedger.result()
      if (nl.nonEmpty) emitted.appendList(nl.toArray)
      onFinalize(uid, all.size, keep.length)
      out.result().iterator
    }

    /** Observation hook, called once per timer firing with the row
      * count buffered before eviction and kept after — lets the
      * scale-stress suite MEASURE the documented O(unfinalized + open
      * prefix) state bound instead of trusting the scaladoc. No-op in
      * production. */
    protected def onFinalize(uid: Long, buffered: Int, kept: Int): Unit =
      ()
  }

  /** The RETRY-IDEMPOTENT foreachBatch sink for the checkpointed
    * stream queries (st12/st13/st14): each micro-batch lands in its
    * OWN `__batch_id=` partition via dynamic partition overwrite, so a
    * replayed batch (foreachBatch is at-least-once — a retry
    * re-delivers the same batchId) replaces its earlier, possibly
    * partial, delivery instead of appending a duplicate. Append mode —
    * the plain `mode("append")` the sink used before — double-counts
    * every match row the retried batch carries; StreamingSpec drives a
    * simulated retry through this function and asserts the read-back
    * is duplicate-free. */
  def sinkMatchesIdempotent(b: Dataset[_], batchId: Long,
      dest: String): Unit =
    b.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(dest)

  /** Read back a [[sinkMatchesIdempotent]] directory as plain rows of
    * `rowSchema` (schema-explicit so an all-empty sink still reads;
    * the partition column is resolved then dropped). */
  def readSink(s: org.apache.spark.sql.SparkSession, dest: String,
      rowSchema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(rowSchema
        .add("__batch_id", org.apache.spark.sql.types.LongType))
      .parquet(dest)
      .drop("__batch_id")

  /** The stream starter every file-source query goes through — the
    * st12–st28 builders and their restart specs alike, so a spec
    * drives the same wiring the builder ships: a parquet file source
    * at `src` read with `schema` (a file source needs the explicit
    * schema and an existing `src` dir), optionally reshaped by
    * `transform` (the st12–st14 funnels), checkpointed at `ckpt`, with
    * `step` run on every micro-batch through foreachBatch. The source
    * lists `src` recursively: [[publishChunk]] lands each chunk in its
    * own sub-directory. */
  def startStream(s: SparkSession, src: String, schema: StructType,
      ckpt: String, transform: DataFrame => DataFrame = identity,
      outputMode: String = "append")(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    transform(s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src))
      .writeStream.outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .foreachBatch(step)
      .start()

  /** Publish `chunk` into the stream source `src` atomically: write it
    * to a staging sibling, then move it to `src/<uuid>` with ONE
    * directory rename, so a running query lists all of its files or
    * none (written into `src`, its part files land one rename at a time
    * and a trigger in between splits it over two batches). 100 TB: the
    * rename is atomic on the local FS and HDFS, not on object stores,
    * which need a manifest-listed source (the file sink's
    * `_spark_metadata` log is the in-tree example). */
  def publishChunk(src: String, chunk: DataFrame): Unit = {
    val (fs, dir) = graft.sources.Writers.fsOf(chunk.sparkSession, src)
    val id = java.util.UUID.randomUUID().toString
    val staged = new org.apache.hadoop.fs.Path(s"${dir}_staging-$id")
    chunk.write.parquet(staged.toString)
    require(fs.rename(staged, new org.apache.hadoop.fs.Path(dir, id)),
      s"publishChunk: rename $staged into $src failed")
  }

  /** The chunk feeder of every file-source site (st12–st28): ONE query,
    * started by `query`, stays up while each chunk is published with
    * [[publishChunk]] (same 100 TB limit) and drained with
    * processAllAvailable, so chunk k is exactly micro-batch k. */
  def feedChunks(src: String, chunks: Seq[DataFrame])(
      query: => StreamingQuery): Unit = {
    val q = query
    try chunks.foreach { c =>
      publishChunk(src, c)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** The restart phase: publish the chunks that arrived while the query
    * was down, restart it with `query`, drain once and stop. */
  def catchUp(src: String, chunks: Seq[DataFrame])(
      query: => StreamingQuery): Unit = {
    chunks.foreach(publishChunk(src, _))
    val q = query
    try q.processAllAvailable() finally q.stop()
  }

  /** The per-commit audit gate (st25–st28): an artifact is seeded,
    * every streamed chunk is admitted by `admit` as exactly one
    * micro-batch of one [[feedChunks]] query, and right after each
    * commit `audit(batchId)` runs the artifact's integrity checks
    * (rows of check_name, n_violations).
    * Returns one row per (phase, check):
    *   - stream_max: the MAX violations any per-commit audit saw —
    *     all zeros pins that the engine's own commit protocol never
    *     trips its own fsck. Aggregating by MAX keeps the row
    *     independent of how many commits saw a check;
    *   - post_corruption: after the stream stops, `corrupt` damages
    *     the artifact (or moves the corpus on without a reindex) and
    *     returns the same audit's checks, whose counts the oracle
    *     recomputes by set algebra.
    *
    * The corruption steps name fixed versions and `audit` names the
    * admitted-so-far slice by batch id, so the ids are `require`d to be
    * 0, 1, … one per chunk. foreachBatch runs sequentially on the
    * driver, so the running max is a plain map.
    *
    * 100 TB: the per-commit bill is the audit's (dq06/dq07/dq08's); in
    * production a gate runs on the retention cadence (st21) rather
    * than every batch — here every batch runs it because the per-commit
    * shape is the point. */
  def auditGate[S](s: SparkSession, base: String, schema: StructType,
      chunks: Seq[DataFrame])(seed: => S)(
      admit: (S, DataFrame, Long) => Unit,
      audit: Long => DataFrame,
      corrupt: S => DataFrame): DataFrame = {
    import s.implicits._
    graft.sources.Writers.freshScratch(s, base, "src")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val seeded = seed
    val streamMax = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val seenIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    feedChunks(src, chunks) {
      startStream(s, src, schema, ckpt) { (b, id) =>
        admit(seeded, b, id)
        seenIds += id
        audit(id).collect().foreach { r =>
          val (k, n) = (r.getString(0), r.getLong(1))
          streamMax(k) = math.max(streamMax(k), n)
        }
      }
    }
    require(seenIds.toSeq == chunks.indices.map(_.toLong),
      s"$base expects batch ids ${chunks.indices.mkString(",")}, one per " +
        s"chunk, saw ${seenIds.mkString(",")} — the micro-batch " +
        "structure drifted from the gate's algebra")
    val post = corrupt(seeded)
      .select(lit("post_corruption").as("phase"), $"check_name",
        $"n_violations")
    streamMax.keys.toSeq.sorted
      .map(k => ("stream_max", k, streamMax(k)))
      .toDF("phase", "check_name", "n_violations")
      .unionByName(post)
  }

  /** [[readSink]] restricted to the LAST batch's rows: the answer of a
    * sink whose earlier batches are deliberately partial (st22/st23). */
  def readLastBatch(s: SparkSession, dest: String,
      rowSchema: StructType): DataFrame = {
    val sunk = s.read.schema(rowSchema
        .add("__batch_id", org.apache.spark.sql.types.LongType))
      .parquet(dest)
    val lastId = sunk.agg(max(col("__batch_id"))).head.getLong(0)
    sunk.filter(col("__batch_id") === lastId).drop("__batch_id")
  }

  /** [[readSink]] fixed to [[FunnelMatch]] rows (st12/st13). */
  def readMatchesSink(s: org.apache.spark.sql.SparkSession,
      dest: String): DataFrame =
    readSink(s, dest,
      org.apache.spark.sql.Encoders.product[FunnelMatch].schema)

  /** Streaming quantified funnel matches through
    * [[QuantFunnelProcessor]]. */
  def quantFunnelMatchesTws(events: Dataset[Event], pattern: Seq[String],
      symbols: Map[String, PendingEvent => Boolean] = Map.empty)
      : Dataset[FunnelMatch] = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new QuantFunnelProcessor(pattern, symbols),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** STREAMING AS-OF ENRICHMENT (st14) — the streaming twin of
    * [[graft.operators.AsofJoin.asofJoin]] (a01): each left-type event
    * is joined to the latest right-type event with `right.ts <=
    * left.ts` for the same user, on an out-of-order stream.
    *
    * The batch operator is one union + shuffle-sort + carry; the
    * streaming form is the same carry evaluated per key in final
    * event-time order, which out-of-order arrival makes watermark-
    * bound: a left row can only be resolved once no earlier right row
    * can still arrive. Events buffer in ListState; each input batch
    * arms an event-time timer; a firing timer sorts the buffer and
    * folds the FINALIZED prefix (ts < watermark) in (ts, side,
    * event_id) order — right rows update the carried
    * [[RecentEvent]] ValueState, left rows emit against the current
    * carry. At equal timestamps the right row sorts first (inclusive
    * `>=`, the batch operator's `_side` tiebreak and DuckDB ASOF
    * semantics) and the highest event_id among same-instant right
    * rows wins the carry (the batch twin's pre-aggregated
    * `max`-payload contract).
    *
    * Exactly-once needs no ledger here, unlike the quantified funnel:
    * a left row is emitted in the single timer firing that finalizes
    * it and the WHOLE finalized prefix is then evicted — only the
    * one-row carry survives, because only the LATEST right row can
    * ever match a future left row. State is O(unfinalized rows + 1)
    * per user: strictly the out-of-order window, the streaming-
    * inherent minimum for as-of semantics.
    *
    * Inner semantics (left rows with no carried right are dropped) —
    * the a01 contract; tolerance/outer variants are post-carry
    * projections exactly as in the batch operator. Rows of other
    * types pass through the buffer unmatched and are evicted at
    * finalization; production callers filter the stream to the two
    * participating types upstream of the watermark. */
  class AsofProcessor(rightType: String, leftType: String)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, AsofMatch] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var buf: ListState[PendingEvent] = _
    @transient private var carried: ValueState[RecentEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[PendingEvent]("asof_buf",
        org.apache.spark.sql.Encoders.product[PendingEvent], TTLConfig.NONE)
      carried = getHandle.getValueState[RecentEvent]("asof_carry",
        org.apache.spark.sql.Encoders.product[RecentEvent], TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[AsofMatch] = {
      val in = rows
        .map(e => PendingEvent(e.ts, e.event_id, e.event_type, e.value))
        .toArray
      if (in.nonEmpty) {
        buf.appendList(in)
        getHandle.registerTimer(in.map(_.ts.getTime).max + 1)
      }
      Iterator.empty
    }

    /** Microsecond-exact sort key (see [[FunnelProcessor.usec]]). */
    private def usec(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[AsofMatch] = {
      // finalization boundary in the SAME µs domain as the sort key:
      // a ms-grained compare against a µs-sorted buffer would still be
      // safe (sub-ms fractions share one getTime), but keeping both
      // comparisons on usec() makes the hold-at-watermark contract
      // (`>=`, whole microsecond held) inspectable in one unit
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      def side(e: PendingEvent): Int =
        if (e.event_type == rightType) 0 else 1
      val all = buf.get().toIndexedSeq
        .sortBy(e => (usec(e.ts), side(e), e.event_id))
      val firstUnfinal = all.indexWhere(e => usec(e.ts) >= wmUs)
      val nFinal = if (firstUnfinal == -1) all.size else firstUnfinal
      var carry = if (carried.exists()) carried.get() else null
      val out = List.newBuilder[AsofMatch]
      var i = 0
      while (i < nFinal) {
        val e = all(i)
        if (e.event_type == rightType)
          carry = RecentEvent(e.ts, e.event_id)
        else if (e.event_type == leftType && carry != null)
          out += AsofMatch(uid, e.event_id, e.ts, carry.ts, carry.event_id)
        i += 1
      }
      val keep = all.drop(nFinal).toArray
      buf.clear()
      if (keep.nonEmpty) buf.appendList(keep)
      if (carry != null) carried.update(carry)
      onFinalize(uid, all.size, keep.length)
      out.result().iterator
    }

    /** Observation hook (see [[QuantFunnelProcessor.onFinalize]]):
      * measures the O(unfinalized + 1) state bound in ScaleStressSpec.
      * No-op in production. */
    protected def onFinalize(uid: Long, buffered: Int, kept: Int): Unit =
      ()
  }

  /** Streaming as-of enrichment through [[AsofProcessor]]. */
  def asofEnrichTws(events: Dataset[Event], rightType: String,
      leftType: String): Dataset[AsofMatch] = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new AsofProcessor(rightType, leftType),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Stream-stream interval join: purchases attributed to a view by the
    * same user within 30 minutes. Both sides carry watermarks and the
    * join condition bounds event-time distance in BOTH directions, so
    * each side's buffered state is evicted once the other stream's
    * watermark passes the interval — bounded state, the requirement for
    * stream-stream joins at scale. Works identically on batch inputs
    * (the oracle-checkable twin). */
  def viewPurchaseAttribution(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val s = views.sparkSession
    import s.implicits._
    val v = views.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("view_ts"),
        $"event_id".as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        $"value", $"event_id".as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
      $"user_id" === $"p_user" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" < $"view_ts" + expr("INTERVAL 30 MINUTES"))
      .select($"user_id", $"view_id", $"purchase_id", $"view_ts",
        $"purchase_ts", $"value")
  }

  /** Stream-stream LEFT OUTER interval join: every view row is emitted
    * — joined to each purchase that followed it within 30 minutes, or
    * null-padded once both watermarks pass the join window and the
    * engine can PROVE no match will arrive. The null-padded rows are
    * state-timeout output (they emit on watermark advance, not on
    * data), which is what makes outer stream-stream joins strictly
    * harder than inner ones and why the time-bound join condition is
    * mandatory here, not just advisable: without it the view state
    * could never be declared match-free and freed. Works identically
    * on batch inputs (plain left outer join — the oracle twin). */
  def viewPurchaseAttributionOuter(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val s = views.sparkSession
    import s.implicits._
    val v = views.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("view_ts"), $"event_id".as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        $"value", $"event_id".as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
      $"user_id" === $"p_user" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" < $"view_ts" + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select($"user_id", $"view_id", $"purchase_id", $"view_ts",
        $"purchase_ts", $"value")
  }

  /** Stream-static join: events enriched with the (static) customer
    * dimension, then windowed per market segment. The static side is
    * stateless — Spark re-plans it per micro-batch (picking up file
    * changes under the same path) and broadcasts it when small, so the
    * stream side never shuffles for the join; only the windowed
    * aggregate keeps (watermark-bounded) state. Left join + coalesce:
    * enrichment must never DROP events whose key is missing from the
    * dimension. Works identically on batch inputs (the oracle twin). */
  def segmentCounts(events: DataFrame, customers: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val dim = customers.select($"c_custkey".as("user_id"),
      $"c_mktsegment".as("segment"))
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(window($"ts", "1 hour").as("w"),
        coalesce($"segment", lit("unknown")).as("segment"))
      .agg(count(lit(1)).as("n"), exactSum($"value").as("sum_value"))
      .select($"w.start".as("window_start"), $"w.end".as("window_end"),
        $"segment", $"n", $"sum_value")
  }

  /** Ingest replay gate: drop stream rows whose id is already in the
    * ingested corpus — the streaming face of d08's incremental
    * batch-vs-corpus dedup. A stream-static LEFT ANTI join is stateless
    * on the stream side (no watermark state; the static side is
    * re-planned and broadcast per micro-batch), so a restart or
    * re-delivered backfill cannot re-ingest rows the corpus already
    * holds. At 100 TB the static side is not the corpus itself but its
    * id/content-hash digest table (what d08 builds) — small enough to
    * broadcast, or bucketed to co-locate with the stream's shuffle if
    * not. Works identically on batch inputs (the oracle twin). */
  def replaySurvivors(events: DataFrame, seen: DataFrame,
      broadcastSeen: Boolean = true): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    // broadcastSeen=false takes the shuffle path for digest tables too
    // large to broadcast (the scale note above) — a hardcoded hint
    // would foreclose it
    val dim = if (broadcastSeen) broadcast(seen) else seen
    events.join(dim, Seq("event_id"), "left_anti")
  }

  /** Streaming dedup on (event_id, ts) — the event-time column is IN the
    * dedup keys, which is what lets Spark evict state once the watermark
    * passes an event's timestamp. A bare `dropDuplicates("event_id")`
    * under a watermark does NOT bound state (eviction requires the
    * event-time column among the keys), so its state grows with the
    * stream's lifetime — a scale hazard this helper deliberately avoids.
    * Retried deliveries carry the same (event_id, ts), so dedup
    * semantics are unchanged. For duplicate horizons shorter than the
    * stream's lifetime without keying on ts, use
    * [[dedupWithinWatermark]]. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")

  /** Watermark-bounded dedup (Spark 3.5+ `dropDuplicatesWithinWatermark`):
    * unlike [[dedupEvents]], dedup keys NEED NOT include the event-time
    * column in state — duplicates arriving within the watermark delay of
    * the first sighting are dropped and state is evicted afterwards. The
    * right tool when the duplicate horizon (delivery retries) is shorter
    * than the stream's lifetime: state stays O(events per horizon). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** IDEMPOTENT upsert of one micro-batch of windowed totals into a
    * parquet table partitioned by the FULL aggregation key — the
    * exactly-once foreachBatch sink pattern. Dynamic partition
    * overwrite REPLACES exactly the (window, event_type) groups
    * present in the batch and touches nothing else, so redelivering
    * the same batch (epoch retry after a sink failure — Spark's
    * at-least-once foreachBatch contract) rewrites identical
    * partition content instead of double-counting: sink state is a
    * pure function of the latest aggregate per group.
    *
    * The overwrite granularity MUST equal the emission granularity:
    * [[tumblingCounts]] aggregates by (window, event_type) and update
    * mode emits exactly the CHANGED (window, event_type) rows, so the
    * layout keys on both. Partitioning on wstart alone would let a
    * micro-batch that changed only SOME types of an hour overwrite
    * that whole hour's directory and silently drop the other types'
    * rows — the aggregate-key/layout-key mismatch is the classic
    * update-mode sink data-loss bug.
    *
    * 100 TB notes: per-batch cost is |updated groups|, not |table|
    * (only touched partitions rewrite); the aggregate rows arriving
    * here are already tiny (post-aggregation), so the write is
    * metadata-bound. This is the standard bridge to engines without
    * transactional MERGE: key the layout on the aggregation key,
    * overwrite by key. */
  def upsertWindowTotals(batch: DataFrame, dest: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    if (!batch.isEmpty) {
      batch
        .withColumn("wstart",
          date_format($"window_start", "yyyyMMddHH"))
        // co-locate each partition dir's rows in one task: without
        // this every shuffle task carries a slice of every group and
        // opens |groups| files — the write becomes file-handle-bound
        // (post-aggregation rows are tiny; this shuffle is free)
        .repartition($"wstart", $"event_type")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("wstart", "event_type")
        .parquet(dest)
    }
  }

  /** Streaming query wiring for [[upsertWindowTotals]]: update-mode
    * windowed totals through foreachBatch. (Update mode emits every
    * CHANGED window per micro-batch; the sink's overwrite-by-window
    * makes the redelivery idempotent.) */
  def hourlyTotalsUpsert(events: DataFrame, dest: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    tumblingCounts(events)
      .writeStream.outputMode("update")
      .foreachBatch { (b: DataFrame, _: Long) =>
        upsertWindowTotals(b, dest)
      }
      .start()
  }
}
