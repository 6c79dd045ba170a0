package graft.streaming

import graft.ops.{QueryModule, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream operators over the `events` table.
  *
  * The reference itself is batch-only (SURVEY.md §2.8), so these are the
  * "beyond the reference" stream-shaped capabilities: sessionization
  * (gaps-and-islands), tumbling-window aggregation, and funnel-ish
  * per-user rollups. Each is written as a batch DataFrame program with a
  * DuckDB oracle; [[StructuredStreams]] exposes the same transforms for
  * `readStream` sources with watermarks.
  *
  * Determinism: time arithmetic is integer microseconds (Spark
  * `unix_micros` ≡ DuckDB `epoch_us`); window orderings carry the unique
  * event_id tie-break.
  */
object StreamingOps extends QueryModule {
  import Tables.events

  val SessionGapMinutes = 30
  private val gapUs = SessionGapMinutes * 60L * 1000000L

  // ============================================================ sessionize
  // classic gaps-and-islands sessionization: session starts when the gap
  // to the previous event of the same user exceeds 30 minutes
  register("q31_sessionize",
    s"""WITH ordered AS (
       |  SELECT user_id, event_id, ts, value,
       |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
       |  FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > $gapUs THEN 1 ELSE 0 END AS is_new
       |  FROM ordered),
       |numbered AS (
       |  SELECT *, CAST(SUM(is_new) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM flagged)
       |SELECT user_id, session_idx,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value,
       |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
       |FROM numbered GROUP BY user_id, session_idx""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("is_new",
        when(gap.isNull || gap > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("session_value"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
  }

  // ============================================================ tumbling win
  // 15-minute tumbling windows per event type — the batch shape of a
  // streaming groupBy(window(...)); bucketing is integer µs arithmetic
  register("q32_tumbling_window",
    """WITH bucketed AS (
      |  SELECT event_type, value,
      |    make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start
      |  FROM events)
      |SELECT event_type, window_start,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM bucketed GROUP BY event_type, window_start""".stripMargin) { (s, d) =>
    // floor-division bucketing via pmod (exact integer math): Long `/`
    // truncates toward zero, which diverges from the oracle's `//` floor
    // for pre-1970 timestamps (negative epoch micros)
    val us = unix_micros(col("ts"))
    events(s, d)
      .withColumn("window_start",
        timestamp_micros(us - pmod(us, lit(900000000L))))
      .groupBy(col("event_type"), col("window_start"))
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
  }

  // ======================================================= hopping window
  // Sliding/hopping aggregation — Spark's native `window(ts, 2h, 30m)`
  // generator: every event replicates into its 4 overlapping windows
  // (constant W/S factor, map-side — the replication happens before the
  // shuffle but multiplies rows by exactly 4, never by data skew). The
  // oracle reconstructs the same windows with integer epoch-micro
  // arithmetic and an UNNEST(range(0,4)) hop join, so the gate pins
  // Spark's window-alignment semantics (floor to the slide grid, one
  // window per hop) against the closed form.
  register("q169_hopping_window",
    """WITH hopped AS (
      |  SELECT event_type, value,
      |    make_timestamp(((epoch_us(ts) // 1800000000) - x.i) * 1800000000)
      |      AS window_start
      |  FROM events CROSS JOIN (SELECT UNNEST(range(0, 4)) AS i) x)
      |SELECT event_type, window_start,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM hopped GROUP BY event_type, window_start""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "2 hours", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("event_count"), col("total_value"))
  }

  // ============================================================ user funnel
  // per-user event-type rollup with conversion flags (stream-shaped
  // per-key state summary)
  register("q33_user_funnel",
    s"""SELECT user_id,
       |  COUNT(*) AS total_events,
       |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
       |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
       |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
       |  CASE WHEN COUNT(CASE WHEN event_type = 'view' THEN 1 END) > 0
       |        AND COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
       |       THEN 1 ELSE 0 END AS converted,
       |  min(ts) AS first_seen, max(ts) AS last_seen
       |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
    events(s, d).groupBy("user_id").agg(
      count(lit(1)).as("total_events"),
      count(when(col("event_type") === "view", 1)).as("views"),
      count(when(col("event_type") === "click", 1)).as("clicks"),
      count(when(col("event_type") === "purchase", 1)).as("purchases"),
      when(count(when(col("event_type") === "view", 1)) > 0 &&
        count(when(col("event_type") === "purchase", 1)) > 0, 1)
        .otherwise(0).as("converted"),
      min(col("ts")).as("first_seen"),
      max(col("ts")).as("last_seen"))
  }

  // ==================================================== interval merge
  // Coalesce overlapping VARIABLE-length intervals per user into maximal
  // islands — the harder gaps-and-islands variant: q31's fixed-gap
  // sessionization only needs LAG(ts), but once each event carries its
  // own duration an island break is "start exceeds the RUNNING MAX of
  // every previous end" (a long early interval can bridge over several
  // short later ones). Used for outage windows, coverage/uptime math,
  // and availability SLAs.
  //
  // Determinism under ties: both windows use RANGE frames on the integer
  // start_us ordering — equal-start rows see the same prev_max and get
  // the same island id regardless of physical tie order (a ROWS frame
  // here would be order-dependent and soak-flaky). Durations are exact:
  // value snapped to integer milli-units, × [[IntervalUsPerValueMilli]]
  // µs. Scale: one user-keyed shuffle; both windows and the final
  // rollup ride the same partitioning — islands never materialize
  // driver-side.
  val IntervalUsPerValueMilli = 750000L

  register("q188_interval_merge",
    s"""WITH iv AS (
       |  SELECT user_id, epoch_us(ts) AS start_us,
       |    epoch_us(ts) + CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)
       |      * $IntervalUsPerValueMilli AS end_us
       |  FROM events),
       |m AS (
       |  SELECT *, MAX(end_us) OVER (PARTITION BY user_id ORDER BY start_us
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM iv),
       |f AS (
       |  SELECT *, CASE WHEN prev_max IS NULL OR start_us > prev_max
       |    THEN 1 ELSE 0 END AS is_new
       |  FROM m),
       |n AS (
       |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
       |      ORDER BY start_us
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS island
       |  FROM f)
       |SELECT user_id, island,
       |  MIN(start_us) AS island_start_us,
       |  MAX(end_us) AS island_end_us,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MAX(end_us) - MIN(start_us) AS covered_us
       |FROM n GROUP BY user_id, island""".stripMargin) { (s, d) =>
    val startUs = unix_micros(col("ts"))
    val endUs = startUs + floor(col("value") * 1000 + 0.5).cast(LongType) *
      IntervalUsPerValueMilli
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), startUs.as("start_us"), endUs.as("end_us"))
      .withColumn("prev_max", max(col("end_us")).over(wPrev))
      .withColumn("is_new",
        when(col("prev_max").isNull || col("start_us") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(wCum))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("start_us")).as("island_start_us"),
        max(col("end_us")).as("island_end_us"),
        count(lit(1)).as("n_events"),
        (max(col("end_us")) - min(col("start_us"))).as("covered_us"))
  }
}

/** Structured Streaming wrappers: the same transforms as [[StreamingOps]],
  * applied to an unbounded `readStream` source with event-time watermarks.
  * Tested with MemoryStream in StreamingSpec; in production the source
  * would be `spark.readStream.schema(...).parquet(dir)` or Kafka.
  */
object StructuredStreams {
  /** Tumbling-window counts with a watermark — append-mode capable. */
  def tumblingCounts(stream: DataFrame, watermark: String = "1 hour",
      window: String = "15 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("event_count"))

  /** q32's EXACT batch aggregate as a watermarked event-time stream
    * (r10 verdict task 4): 15-minute tumbling windows per event_type,
    * count + decimal-summed value, emitted in APPEND mode — a window row
    * is final, written exactly once when the event-time watermark passes
    * its end, and any record arriving more than `watermark` behind the
    * observed max event time is DROPPED before the aggregation (the
    * state store never sees it, which is what bounds state at 100 TB:
    * open-window state is `|types| × windows-inside-horizon`, not
    * windows-since-job-start). Output schema and arithmetic match
    * [[StreamingOps q32_tumbling_window]] column for column —
    * `window(ts, 15 minutes).start` is the same epoch-floor bucket as
    * the batch query's integer-µs floor division —
    * so the batch query over the on-time subset of the input IS this
    * stream's oracle (WatermarkStreamSpec holds that equality across a
    * checkpointed restart).
    */
  def tumblingTotals(stream: DataFrame, watermark: String = "30 minutes",
      window: String = "15 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("event_count"), col("total_value"))

  /** Built-in session windows: `session_window(ts, gap)` merges
    * overlapping per-key windows in the state store — the declarative
    * sibling of the custom sessionizers below (no user state code; the
    * engine owns merge/expiry, bounded by the watermark). Prefer this
    * when session output is just windowed aggregates; drop to
    * flatMapGroupsWithState / transformWithState only for custom state
    * shapes the window aggregate can't express. */
  def sessionWindowCounts(stream: DataFrame, watermark: String = "1 hour",
      gap: String = "30 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming deduplication: exactly-once per event_id within the
    * watermark horizon (state expires past it — bounded state at scale). */
  def dedupedStream(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running aggregates (update mode). */
  def userRollup(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("total_events"),
        max(col("ts")).as("last_seen"))

  final case class SessionState(start: Long, last: Long, n: Long, value: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, session_value: Double)

  /** Custom-state streaming sessionizer: flatMapGroupsWithState with an
    * event-time timeout — emits a session when the 30-minute gap elapses
    * past the watermark. The stateful analogue of the batch
    * gaps-and-islands program (q31_sessionize).
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[Ev],
      gapMinutes: Int = StreamingOps.SessionGapMinutes)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.value))
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            evs.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t),
                    s.n + 1, s.value + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.value)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Session-gap processor on the Spark 4 `transformWithState` API — the
    * successor of flatMapGroupsWithState: explicit named state
    * ([[org.apache.spark.sql.streaming.ValueState]]) plus first-class
    * event-time timers, and it requires the RocksDB state store (state
    * lives off-heap and spills — the 100 TB-keyspace path, vs the
    * HDFS-backed store's in-heap map).
    *
    * Semantics match [[sessionizeStream]]: a session closes when the
    * watermark passes last-event + gap; out-of-order rows within the
    * watermark extend the open session.
    */
  final class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val evs = rows.toSeq.sortBy(_.ts.getTime)
      var cur = if (session.exists) Some(session.get) else None
      val closed = Seq.newBuilder[SessionOut]
      evs.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(SessionState(s.start, math.max(s.last, t),
              s.n + 1, s.value + e.value))
          case Some(s) =>
            closed += SessionOut(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.value)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        // re-arm the close timer at the new gap horizon; stale timers
        // from earlier batches are ignored in handleExpiredTimer
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(s.last + gapMs)
        session.update(s)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] =
      if (session.exists &&
          expiredTimerInfo.getExpiryTimeInMs() >= session.get.last + gapMs) {
        val s = session.get
        session.clear()
        Iterator.single(SessionOut(userId, new java.sql.Timestamp(s.start),
          new java.sql.Timestamp(s.last), s.n, s.value))
      } else Iterator.empty
  }

  /** [[sessionizeStream]] on the transformWithState API (requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider). */
  def sessionizeTws(events: org.apache.spark.sql.Dataset[Ev],
      gapMinutes: Int = StreamingOps.SessionGapMinutes)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60L * 1000),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TopUser(event_type: String, user_id: Long,
      n_events: Long, rank: Int)

  /** Running per-key top-k over unbounded keyspaces via `MapState`: each
    * event type keeps a user→count map in the state store (RocksDB —
    * off-heap, spillable; the map can exceed executor heap) and emits its
    * current top-k after every batch. The streaming analogue of the batch
    * heavy-hitters query (q55) with exact per-key counts.
    */
  final class TopUsersProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Ev, TopUser] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var counts: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long](
        "counts", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(eventType: String, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TopUser] = {
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.user_id)) counts.getValue(e.user_id) else 0L
        counts.updateValue(e.user_id, cur + 1)
      }
      counts.iterator().toSeq
        .sortBy { case (uid, n) => (-n, uid) } // deterministic tie-break
        .take(k).zipWithIndex
        .map { case ((uid, n), i) => TopUser(eventType, uid, n, i + 1) }
        .iterator
    }
  }

  /** Stream-stream inner join with an event-time range condition:
    * attribute each click to an impression by the same user within the
    * attribution window. BOTH sides carry watermarks and the join
    * condition bounds event time on BOTH sides, so Spark can compute a
    * state watermark and evict buffered rows — without the range bound
    * the join state grows forever. At scale the join shuffles both
    * streams by user_id once; state lives in the state store per key.
    */
  def clickAttribution(impressions: org.apache.spark.sql.DataFrame,
      clicks: org.apache.spark.sql.DataFrame,
      attributionWindow: String = "30 minutes",
      watermark: String = "1 hour"): org.apache.spark.sql.DataFrame = {
    impressions.withWatermark("ts", watermark).alias("i")
      .join(clicks.withWatermark("ts", watermark).alias("c"),
        expr(s"""i.user_id = c.user_id AND
                 c.ts >= i.ts AND
                 c.ts <= i.ts + INTERVAL $attributionWindow"""))
      .select(col("i.event_id").as("impression_id"),
        col("c.event_id").as("click_id"),
        col("i.user_id").as("user_id"),
        col("i.ts").as("impression_ts"), col("c.ts").as("click_ts"))
  }

  /** Running top-k users per event type on transformWithState (RocksDB
    * provider required; processing-time mode — no watermarking needed). */
  def topUsersStream(events: org.apache.spark.sql.Dataset[Ev], k: Int = 3)
      : org.apache.spark.sql.Dataset[TopUser] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new TopUsersProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  final case class TtlCount(user_id: Long, batch_count: Long)

  /** Per-user running count whose state carries a ValueState TTL — the
    * session-idle-reset primitive: if a user goes quiet longer than the
    * TTL, their count restarts from zero instead of resuming.
    *
    * TTLConfig requires TimeMode.ProcessingTime (TimeMode.None throws
    * STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL), and TTL
    * expiry is evaluated against the micro-batch's processing timestamp.
    * See StreamingSpec's TTL test for the harness that can actually
    * drive this mode (NOTES.md documents the MemoryStream +
    * processAllAvailable batch-0 stall).
    */
  final class TtlCountProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TtlCount] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(userId: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TtlCount] = {
      val prev = if (count.exists()) count.get() else 0L
      val next = prev + rows.size
      count.update(next)
      Iterator.single(TtlCount(userId, next))
    }
  }

  /** [[TtlCountProcessor]] wired to a stream: RocksDB provider required;
    * ProcessingTime time mode (mandatory for TTL state). */
  def ttlCounts(events: org.apache.spark.sql.Dataset[Ev], ttlMs: Long)
      : org.apache.spark.sql.Dataset[TtlCount] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Streaming CDC apply — q200's last-writer-wins contract held
    * INCREMENTALLY: per key, a ValueState keeps the current winning
    * (seq, op, value); each batch folds its records in by max-seq, emits
    * the new winner only when it changed, and IGNORES late records whose
    * seq is behind the stored winner (exactly how an out-of-order CDC
    * feed must behave across micro-batches). Consumers materialize by
    * treating the latest emit per key as current state and op='D' as a
    * tombstone. RocksDB-backed: the keyspace is the table's key domain,
    * off-heap and spillable — the 100 TB path.
    */
  final class CdcProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, CdcRec, CdcRec] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var winner: ValueState[CdcRec] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      winner = getHandle.getValueState[CdcRec](
        "winner", Encoders.product[CdcRec], TTLConfig.NONE)

    // Deterministic tie-break on equal max seq (r10 ADVICE): order by the
    // full (seq, op, value) tuple — the exact ordering the batch twin's
    // max(struct(seq, op, val)) aggregate uses — so two same-seq records
    // for one key in one micro-batch pick the same winner regardless of
    // iterator order, and batch/streaming stay bit-identical on tied logs.
    private val ord: Ordering[CdcRec] =
      Ordering.by((r: CdcRec) => (r.seq, r.op, r.value))

    override def handleInputRows(key: Long, rows: Iterator[CdcRec],
        timerValues: TimerValues): Iterator[CdcRec] = {
      val prev = if (winner.exists) Some(winner.get) else None
      val best = (prev.iterator ++ rows).max(ord)
      if (prev.forall(p => ord.lt(p, best))) {
        winner.update(best)
        Iterator.single(best)
      } else Iterator.empty
    }
  }

  /** [[CdcProcessor]] wired to a change stream (RocksDB provider
    * required). No timers and no TTL, so TimeMode.None — which is also
    * what keeps drain-style waits usable: ProcessingTime mode schedules
    * empty successor batches forever (the round-4 root cause in
    * NOTES.md) and is only driveable via Trigger.Once. */
  def cdcApplyStream(changes: org.apache.spark.sql.Dataset[CdcRec])
      : org.apache.spark.sql.Dataset[CdcRec] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .transformWithState(new CdcProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming KMV distinct estimation — the q203 sketch held
    * INCREMENTALLY: per key, a ValueState keeps the k-minimum-values
    * buffer, each micro-batch folds its hashes in through the SAME
    * `KmvSketch.aggregator` reduce the batch query uses (one shared
    * kernel, so batch/stream agreement is by construction, and
    * KmvStreamSpec re-proves it on data), and an updated sketch emits a
    * fresh estimate row (unchanged sketches emit nothing — most
    * saturated-sketch batches are no-ops, which is the point: a
    * cardinality monitor at 100 TB events/day emits only on movement).
    * State is ≤ k longs per key FOREVER — the bounded-state property
    * that makes sketch-grade distinct counting streamable at all, where
    * exact streaming COUNT(DISTINCT) state grows with the domain.
    * Estimator identical to q203 (all-integer, exact under k).
    */
  final class KmvProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, KmvIn, KmvEstimate] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[graft.ml.KmvBuf] = _
    private val agg = graft.ml.KmvSketch.aggregator(k)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[graft.ml.KmvBuf](
        "kmv", Encoders.product[graft.ml.KmvBuf], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KmvIn],
        timerValues: TimerValues): Iterator[KmvEstimate] = {
      val prev = if (st.exists) st.get else agg.zero
      val next = rows.foldLeft(prev)((b, r) => agg.reduce(b, r.hv))
      if (next.vs == prev.vs) Iterator.empty
      else {
        st.update(next)
        val est =
          if (next.vs.size < k) next.vs.size.toLong
          else (k - 1).toLong * 2147483648L / next.vs(k - 1)
        Iterator.single(KmvEstimate(key, next.vs.size, est))
      }
    }
  }

  /** [[KmvProcessor]] wired to a hash stream (RocksDB provider
    * required; TimeMode.None — no timers, drain-style waits usable). */
  def kmvDistinctStream(hashes: org.apache.spark.sql.Dataset[KmvIn],
      k: Int): org.apache.spark.sql.Dataset[KmvEstimate] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import hashes.sparkSession.implicits._
    hashes
      .groupByKey(_.key)
      .transformWithState(new KmvProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming HLL distinct estimation — q56/q146's sketch family held
    * incrementally (round-12 verdict task 5, completing the sketch trio:
    * KMV streams since r12; HLL and CMS now do too). Per key, a
    * ValueState holds the serialized DataSketches HllSketch — the SAME
    * library and lgK Spark's batch `hll_sketch_agg` uses.
    *
    * Emits round(getCompositeEstimate) — deliberately NOT the default
    * getEstimate: DataSketches layers a HIP accumulator over the
    * registers whose value depends on the MERGE TREE (measured on one
    * 750-distinct stream: 737.08 one-shot, 736.15 as a 3-batch union,
    * 739 through Spark's partitioned hll_sketch_agg — identical
    * registers every time). A monitor whose output depends on
    * micro-batch boundaries or the batch twin's partitioning would be
    * untestable and non-reproducible; the composite estimate is a pure
    * function of the registers, and the REGISTERS are a true lattice
    * join (order/batching/partitioning-independent) — so stream ==
    * batch exactly, across restarts (SketchStreamSpec proves it against
    * the heapified hll_sketch_agg binary). Emits only when the rounded
    * estimate moves — the cardinality-monitor contract. State is
    * ≤ ~2^lgK bytes per key forever. */
  final class HllProcessor(lgK: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, HllIn, HllEstimate] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import org.apache.datasketches.hll.{HllSketch, TgtHllType}

    @transient private var st: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]](
        "hll", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[HllIn],
        timerValues: TimerValues): Iterator[HllEstimate] = {
      val existed = st.exists
      val sk = if (existed) HllSketch.heapify(st.get)
        else new HllSketch(lgK, TgtHllType.HLL_8)
      val prevEst = if (existed) math.round(sk.getCompositeEstimate) else -1L
      rows.foreach(r => sk.update(r.v))
      st.update(sk.toUpdatableByteArray)
      val est = math.round(sk.getCompositeEstimate)
      if (est == prevEst) Iterator.empty
      else Iterator.single(HllEstimate(key, est))
    }
  }

  /** [[HllProcessor]] wired to a value stream. */
  def hllDistinctStream(values: org.apache.spark.sql.Dataset[HllIn],
      lgK: Int): org.apache.spark.sql.Dataset[HllEstimate] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import values.sparkSession.implicits._
    values
      .groupByKey(_.key)
      .transformWithState(new HllProcessor(lgK),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming Count-Min frequency estimation — q55's sketch held
    * incrementally. Per key, a ValueState holds the (depth × width)
    * CMSketch table; each micro-batch folds its terms in through the
    * SAME [[graft.ml.CMSketch]] add kernel the batch aggregator uses
    * (integer cell additions commute, so batching cannot change the
    * final table), and emits the POST-batch estimate for each distinct
    * term that arrived — "current frequency of what just changed", the
    * heavy-hitter-monitor contract. State is depth·width longs per key
    * forever, regardless of term cardinality — the property that makes
    * streaming frequency tracking bounded where an exact per-term map
    * grows with the domain. */
  final class CmsProcessor(depth: Int, width: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, CmsIn, CmsTermEstimate] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[graft.ml.CMSketch] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[graft.ml.CMSketch](
        "cms", Encoders.product[graft.ml.CMSketch], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CmsIn],
        timerValues: TimerValues): Iterator[CmsTermEstimate] = {
      val sk = if (st.exists) st.get else graft.ml.CMSketch.empty(depth, width)
      val arrived = scala.collection.mutable.LinkedHashSet[String]()
      rows.foreach { r => arrived += r.term; sk.add(r.term) }
      if (arrived.isEmpty) Iterator.empty
      else {
        st.update(sk)
        arrived.iterator.map(t => CmsTermEstimate(key, t, sk.estimate(t)))
      }
    }
  }

  /** [[CmsProcessor]] wired to a term stream. */
  def cmsFrequencyStream(terms: org.apache.spark.sql.Dataset[CmsIn],
      depth: Int, width: Int): org.apache.spark.sql.Dataset[CmsTermEstimate] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import terms.sparkSession.implicits._
    terms
      .groupByKey(_.key)
      .transformWithState(new CmsProcessor(depth, width),
        TimeMode.None(), OutputMode.Append())
  }

  // =========================== streaming near-duplicate screen (q151 twin)
  // r13 verdict task 6 — the one LLM-pipeline family that had no
  // streaming twin: q151's batch-vs-persisted-band-index as a
  // transformWithState stream. Documents arrive banded (one row per
  // LSH band, keyed by band + band-key); per key the processor holds
  // the bucket's history docs in a ListState. History rows append;
  // bucket population past [[graft.text.DedupOps.MaxBucketSize]] KILLS
  // the bucket (payload dropped — state stays bounded; only the count
  // tombstone survives), exactly the batch cap's exclusion semantics.
  // A new document's bands probe their buckets ON ARRIVAL: Jaccard over
  // the distinct shingle sets (the same array_intersect/array_union
  // arithmetic as q151's verification), qualifying pairs emitted in the
  // doc's own micro-batch — so a per-batch best-match reduction
  // ([[nearDupBestMatch]] inside foreachBatch) yields each new doc's
  // answer exactly once, at arrival. When history precedes a document
  // (the index-then-screen deployment q151 models), stream == batch
  // row-for-row (NearDupStreamSpec proves it across micro-batches AND
  // a checkpointed restart).
  //
  // Scale: state per bucket is ≤ MaxBucketSize shingle lists — bounded
  // by the same skew guard that keeps the batch join sub-quadratic; a
  // 100 TB deployment would hold doc payloads in a side table and keep
  // only doc ids in bucket state, at the cost of a lookup join on emit.

  /** One LSH band row of a document: `key` = band index + band-key
    * digest, `shl` = the doc's full shingle-hash list (for on-arrival
    * verification), `isNew` = screen side vs history side. */
  final class NearDupProcessor(maxBucket: Int, threshold: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, BandRow, NearDupHit] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var count: ValueState[Long] = _
    @transient private var docs: ListState[HistDoc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long](
        "n", Encoders.scalaLong, TTLConfig.NONE)
      docs = getHandle.getListState[HistDoc](
        "docs", Encoders.product[HistDoc], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[NearDupHit] = {
      // batch semantics within the micro-batch: the index absorbs every
      // history row of the batch BEFORE any of the batch's new docs
      // probe (q151 indexes all history, whatever its id order)
      val (hist, news) = rows.toArray.partition(!_.isNew)
      var n = if (count.exists) count.get else 0L
      if (hist.nonEmpty) {
        n += hist.length
        count.update(n)
        if (n > maxBucket) docs.clear() // dead bucket: bounded state
        else docs.appendList(hist.map(h => HistDoc(h.docId, h.shl)))
      }
      if (news.isEmpty || n == 0 || n > maxBucket) Iterator.empty
      else {
        val bucket = docs.get().toArray
        news.iterator.flatMap { nw =>
          val a = nw.shl.toSet
          bucket.iterator.flatMap { h =>
            val b = h.shl.toSet
            // distinct-set Jaccard — array_intersect/array_union's
            // arithmetic, same int counts, same double division
            val j = (a & b).size.toDouble / (a | b).size
            if (j >= threshold) Some(NearDupHit(nw.docId, h.docId, j))
            else None
          }
        }
      }
    }
  }

  /** [[NearDupProcessor]] wired to a banded document stream. */
  def nearDupScreenStream(banded: org.apache.spark.sql.Dataset[BandRow])
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import banded.sparkSession.implicits._
    banded
      .groupByKey(_.key)
      .transformWithState(
        new NearDupProcessor(graft.text.DedupOps.MaxBucketSize,
          graft.text.DedupOps.JaccardThreshold),
        TimeMode.None(), OutputMode.Append())
  }

  /** Band rows for [[nearDupScreenStream]] from a documents frame —
    * the q151 banding (minhash signature sliced into band keys), one
    * row per (doc, band), carrying the shingle list for verification.
    * New/screen side = doc_id % 5 == 0, exactly q151's split. */
  def nearDupBandRows(docs: DataFrame): DataFrame = {
    import graft.text.DedupOps._
    val rowsPerBand = NumHashes / Bands
    docs.select(col("doc_id"), shingleHashes(col("text")).as("shl"))
      .select(col("doc_id"), col("shl"),
        array((0 until NumHashes).map(j => minhash(col("shl"), j)): _*)
          .as("sig"))
      .select(col("doc_id"), col("shl"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .select(
        concat_ws(":", col("pos").cast(StringType),
          concat_ws(",", transform(col("col"), _.cast(StringType))))
          .as("key"),
        col("doc_id").as("docId"), col("shl"), (col("doc_id") % 5 === 0)
          .as("isNew"))
  }

  /** The per-batch best-match reduction over emitted hits (highest
    * Jaccard, ties to the lowest history id — q151's window): run it
    * inside foreachBatch (or over any collection of hit rows; each new
    * doc's hits all land in its arrival batch, so the reduction is
    * complete there). */
  def nearDupBestMatch(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("docNew"))
      .orderBy(col("jaccard").desc, col("docHist").asc)
    hits.select(col("docNew"), col("docHist"), col("jaccard"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
  }

  // ================= streaming exact substring-dedup screen (q233 twin)
  // q233's ingest-time exact pass as a transformWithState stream:
  // documents arrive as span rows keyed by the 40-char window's rolling
  // hash; HISTORY spans build the per-hash state (distinct span TEXTS —
  // the exact-verification payload, so hash collisions can never
  // produce a false match), and a NEW document's spans probe their hash
  // key ON ARRIVAL, emitting one hit per position whose exact text is
  // already indexed. When history precedes the screen side, stream ==
  // q233 row-for-row after the same per-doc rollup
  // (SubstringDedupStreamSpec).
  //
  // Scale: state per hash key is the distinct span texts under that
  // hash — the span index WITH payloads. A 100 TB deployment keeps the
  // texts in a side table keyed by (hash, md5) and holds only digests
  // in stream state, at the cost of a lookup join on emit (the same
  // trade the near-dup screen documents for its shingle lists).

  /** One span row: `h` = rolling hash (the state key), `sp` = the exact
    * window text, `isNew` = screen side vs history side. */
  final class SubstringDedupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SpanRow, SpanHit] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var seen: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[String](
        "sp", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(h: Long, rows: Iterator[SpanRow],
        timerValues: TimerValues): Iterator[SpanHit] = {
      val (hist, news) = rows.toArray.partition(!_.isNew)
      // read once BEFORE appending (never rely on read-your-writes
      // visibility of same-invocation appends — the as-of lesson)
      val existing: Set[String] =
        if (hist.nonEmpty || news.nonEmpty) seen.get().toSet else Set.empty
      val fresh = hist.iterator.map(_.sp).toSeq.distinct
        .filterNot(existing)
      if (fresh.nonEmpty) seen.appendList(fresh.toArray)
      if (news.isEmpty) Iterator.empty
      else {
        // batch semantics within the micro-batch: history rows of this
        // batch are visible to this batch's probes (q233's split)
        val texts = existing ++ fresh
        news.iterator.filter(n => texts(n.sp))
          .map(n => SpanHit(n.docId, n.pos, n.sp))
      }
    }
  }

  /** [[SubstringDedupProcessor]] wired to a span-row stream. */
  def substringScreenStream(spans: org.apache.spark.sql.Dataset[SpanRow])
      : org.apache.spark.sql.Dataset[SpanHit] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spans.sparkSession.implicits._
    spans
      .groupByKey(_.h)
      .transformWithState(new SubstringDedupProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Span rows for [[substringScreenStream]] from a documents frame —
    * q233's windows (rolling hash + exact text per position) and its
    * history/screen split (screen side = doc_id % 4 == 1). */
  def substringSpanRows(docs: DataFrame): DataFrame = {
    val SpanL = graft.text.DedupOps.SpanL
    docs.select(col("doc_id"), col("text"), posexplode(
        graft.catalyst.GraftFunctions.rollingSpanHashes(col("text"), SpanL)))
      .select(col("col").as("h"), col("doc_id").as("docId"),
        (col("pos") + 1).cast(LongType).as("pos"),
        col("text").substr((col("pos") + 1).cast(IntegerType), lit(SpanL))
          .as("sp"),
        (col("doc_id") % 4 === 1).as("isNew"))
  }

  /** The q233 per-doc rollup over emitted hits (duplicated positions,
    * distinct spans, interval-union removal coverage) — run it inside
    * foreachBatch or over any collection of hit rows. */
  def substringDedupRollup(hits: DataFrame): DataFrame = {
    val SpanL = graft.text.DedupOps.SpanL
    val w = Window.partitionBy("docId").orderBy("pos")
    hits.select(col("docId"), col("pos"), col("sp"),
        lag(col("pos"), 1).over(w).as("prev"))
      .groupBy("docId")
      .agg(count(lit(1)).as("n_dup_positions"),
        countDistinct(col("sp")).as("n_dup_spans"),
        sum(when(col("prev").isNull, SpanL)
          .otherwise(least(col("pos") - col("prev"), lit(SpanL))))
          .cast(LongType).as("dup_chars_removed"))
  }

  // ====================== WATERMARKED STREAM-STREAM AS-OF JOIN
  // r14 verdict task 5: the point-in-time feature join (q58/q62/q77's
  // batch as-of) as a stream-stream operator. Spark's built-in
  // stream-stream join needs a RANGE bound to evict state; the as-of
  // contract ("latest right row at or before the left row, however
  // old") has NO lookback bound — yet its state is still finite, and
  // that observation is the whole operator:
  //
  //   for any future left row (ts ≥ watermark), every right row at or
  //   below the watermark is dominated by the LATEST right row at or
  //   below the watermark. So per key the state is: ONE finalized
  //   right row + the in-flight rows above the watermark + the
  //   not-yet-emittable left rows — bounded by the watermark delay,
  //   never by history.
  //
  // Left rows are emitted when the watermark passes them (only then is
  // the set of right rows at or before them complete — the same
  // finality argument windows use); event-time timers drive emission.
  // Tie semantics match q62 exactly: among right rows with ts ≤ p.ts
  // the max (ts, id) wins — which composes the oracle's dedup-to-max-id
  // per instant with ASOF's latest-at-or-before in one ordering.
  // Timestamps are carried at MICROsecond precision through state
  // (the events table is micro-precision; millis would corrupt the
  // view_to_purchase_us output).

  /** Per-key as-of processor: side 1 = left/probe (purchase), side 0 =
    * right/reference (view); any other side is a watermark tick and
    * buffers nothing. Left rows ≤ watermark emit on timer with the
    * latest right ≤ their ts; right rows ≤ watermark collapse to the
    * single dominating row. */
  final class AsOfJoinProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, AsOfIn, AsOfOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var pendL: ListState[AsOfPend] = _
    @transient private var pendR: ListState[AsOfPend] = _
    @transient private var lastR: ValueState[AsOfPend] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pendL = getHandle.getListState[AsOfPend](
        "pendL", Encoders.product[AsOfPend], TTLConfig.NONE)
      pendR = getHandle.getListState[AsOfPend](
        "pendR", Encoders.product[AsOfPend], TTLConfig.NONE)
      lastR = getHandle.getValueState[AsOfPend](
        "lastR", Encoders.product[AsOfPend], TTLConfig.NONE)
    }

    /** Re-register the single timer at min(pending) + 1 ms — emission
      * (left) and finalized-view collapse (right) both need the
      * watermark STRICTLY past the row's millisecond (rows at exactly
      * the watermark can still arrive). Pending RIGHT rows participate
      * too: a key that only ever receives view rows must still get a
      * timer, or its pendR list grows with history instead of
      * collapsing to the one dominating finalized row. `pending` is
      * passed in-memory so the rearm never depends on read-your-writes
      * visibility of same-invocation ListState appends. */
    private def rearm(pending: Iterator[AsOfPend]): Unit = {
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (pending.hasNext)
        getHandle.registerTimer(pending.map(_.ts / 1000).min + 1)
    }

    override def handleInputRows(userId: Long, rows: Iterator[AsOfIn],
        timerValues: TimerValues): Iterator[AsOfOut] = {
      val existing = pendL.get().toArray // read BEFORE appending
      val existingR = pendR.get().toArray
      // late-row guard: a row strictly below the watermark must be
      // DROPPED here even if the engine's own late filter let it
      // through — the finalized-view collapse keeps only the DOMINATING
      // view at or below the watermark, so matching a late left row
      // against collapsed state could silently return a wrong (newer)
      // view instead of honestly dropping the row
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val incoming = rows.filter(r =>
        StructuredStreams.micros(r.ts) / 1000 >= wmMs).toArray
      val newL = incoming.collect { case r if r.side == 1 =>
        AsOfPend(StructuredStreams.micros(r.ts), r.id) }
      val newR = incoming.collect { case r if r.side == 0 =>
        AsOfPend(StructuredStreams.micros(r.ts), r.id) }
      newL.foreach(pendL.appendValue)
      newR.foreach(pendR.appendValue)
      if (newL.nonEmpty || newR.nonEmpty)
        rearm((existing ++ newL ++ existingR ++ newR).iterator)
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AsOfOut] = {
      val wmMs = timerValues.getCurrentWatermarkInMs()
      def fin(p: AsOfPend): Boolean = p.ts / 1000 < wmMs
      val left = pendL.get().toArray
      val right = pendR.get().toArray ++
        (if (lastR.exists) Array(lastR.get) else Array.empty[AsOfPend])
      val (ready, stillL) = left.partition(fin)
      val out = ready.sortBy(p => (p.ts, p.id)).iterator.map { p =>
        // max (ts, id) among right rows at or before p — dedup-per-
        // instant and latest-at-or-before in one ordering (q62)
        var best: AsOfPend = null
        right.foreach { v =>
          if (v.ts <= p.ts &&
            (best == null || v.ts > best.ts ||
              (v.ts == best.ts && v.id > best.id))) best = v
        }
        AsOfOut(userId, p.id, StructuredStreams.tsOf(p.ts),
          Option(best).map(_.id), Option(best).map(b =>
            StructuredStreams.tsOf(b.ts)),
          Option(best).map(b => p.ts - b.ts))
      }.toArray
      // collapse finalized right rows to the single dominating one:
      // every future left row has ts at or above the watermark, so the
      // max finalized right row dominates the rest forever
      val (rFin, rPend) = right.partition(fin)
      if (rFin.nonEmpty)
        lastR.update(rFin.maxBy(v => (v.ts, v.id)))
      pendR.clear()
      rPend.foreach(pendR.appendValue)
      pendL.clear()
      stillL.foreach(pendL.appendValue)
      // in-flight rights keep a timer armed so a view-only key still
      // collapses once the watermark passes them
      rearm((stillL ++ rPend).iterator)
      out.iterator
    }
  }

  private[streaming] def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private[streaming] def tsOf(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(m / 1000)
    t.setNanos((m % 1000000L).toInt * 1000)
    t
  }

  /** [[AsOfJoinProcessor]] wired to a tagged two-sided event stream
    * with an event-time watermark: stream-stream as-of join, state
    * bounded by the watermark delay (+ exactly one finalized right row
    * per key). Batch twin: q62. */
  def asofJoinStream(tagged: org.apache.spark.sql.Dataset[AsOfIn],
      delay: String = "1 hour")
      : org.apache.spark.sql.Dataset[AsOfOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import tagged.sparkSession.implicits._
    tagged
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new AsOfJoinProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Event record for the typed streaming API. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Tagged input row for the stream-stream as-of join: side 1 = left /
  * probe, side 0 = right / reference; any other side advances the
  * watermark without buffering. */
final case class AsOfIn(user_id: Long, ts: java.sql.Timestamp, side: Int,
    id: Long)

/** (ts in event-time MICROS, row id) — the as-of processor's state. */
final case class AsOfPend(ts: Long, id: Long)

/** As-of output: left row + latest right row at or before it (None =
  * left-outer miss), gap in microseconds. */
final case class AsOfOut(user_id: Long, purchase_id: Long,
    purchase_ts: java.sql.Timestamp, view_id: Option[Long],
    view_ts: Option[java.sql.Timestamp], view_to_purchase_us: Option[Long])

/** Change record for the streaming CDC apply (op ∈ I/U/D). */
final case class CdcRec(key: Long, op: String, seq: Long, value: Double)

/** Input record for the streaming KMV sketch: a pre-hashed value per
  * key (the q203 hash — hashing belongs to the stateless map stage). */
final case class KmvIn(key: String, hv: Long)

/** Estimate row emitted whenever a key's sketch changed. */
final case class KmvEstimate(key: String, sketch_size: Int, est: Long)

/** Input record for the streaming HLL sketch: a raw long value per key. */
final case class HllIn(key: String, v: Long)

/** Estimate row emitted whenever a key's rounded HLL estimate moved. */
final case class HllEstimate(key: String, est: Long)

/** Input record for the streaming Count-Min sketch: a term per key. */
final case class CmsIn(key: String, term: String)

/** Post-batch frequency estimate for a term that arrived this batch. */
final case class CmsTermEstimate(key: String, term: String, est: Long)

/** One LSH band row of a document for the streaming near-dup screen. */
final case class BandRow(key: String, docId: Long, shl: Array[Long],
    isNew: Boolean)

/** A history document held in a band bucket's state. */
final case class HistDoc(docId: Long, shl: Array[Long])

/** A verified near-duplicate hit: new doc, history doc, Jaccard. */
final case class NearDupHit(docNew: Long, docHist: Long, jaccard: Double)

/** One substring-dedup span row (q233 streaming twin). */
final case class SpanRow(h: Long, docId: Long, pos: Long, sp: String,
    isNew: Boolean)

/** A screen-side position whose exact span text is already indexed. */
final case class SpanHit(docId: Long, pos: Long, sp: String)
