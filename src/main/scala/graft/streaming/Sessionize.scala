package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming transform surface beyond the ingest loop (builder brief:
  * "watermarks + windowed aggs; mapGroupsWithState/flatMapGroupsWithState
  * for custom state").
  *
  * Scale: watermarks bound both the windowed-agg state (one row per open
  * window per key) and the session state (one SessionState per active user);
  * state lives in the HDFS-backed state store partitioned by key — no
  * driver-side accumulation.
  */
object Sessionize {

  /** Tumbling 1-day windowed counts with a watermark — works identically on
    * a streaming or batch DataFrame (same declarative plan).
    */
  def dailyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("day_window"), col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .select(
        col("day_window.start").as("window_start"),
        col("event_type"), col("event_count"))

  case class Evt(user_id: Long, ts: Timestamp)
  /** start/last are epoch MICROSECONDS: `Timestamp.getTime` is millisecond
    * precision and silently truncates the sub-ms part of event times — the
    * state must carry the exact micros or session boundaries drift from the
    * batch twin (which compares `unix_micros`).
    */
  case class SessionState(start: Long, last: Long, n: Int)
  case class UserSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int)

  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMs` (event-time timeout). Emits closed
    * sessions; open sessions stay in state.
    */
  def sessionize(events: Dataset[Evt], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, evts: Iterator[Evt], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(userId, fromMicros(s.start), fromMicros(s.last), s.n))
          } else {
            val sorted = evts.toSeq.sortBy(e => micros(e.ts))
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= UserSession(userId, fromMicros(s.start), fromMicros(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp above the watermark: setTimeoutTimestamp rejects
              // timestamps <= watermark (a very late batch would otherwise
              // kill the query instead of closing the session next trigger).
              // Timeout granularity is ms — ceil so a session whose last
              // event has sub-ms micros can't time out a fraction early.
              val wm = state.getCurrentWatermarkMs()
              val timeoutMs = math.floorDiv(s.last + gapUs + 999, 1000L)
              state.setTimeoutTimestamp(math.max(timeoutMs, wm + 1))
            }
            closed.reverseIterator
          }
        })
  }

  /** `sessionize_batch`: the declarative batch twin of [[sessionize]] — the
    * same gap rule (a session breaks when the inter-event gap exceeds
    * `gapMinutes`), expressed as lag → new-session flag → running sum →
    * group. SessionizeSpec asserts the two implementations agree on closed
    * sessions, and the DuckDB oracle proves this one exactly.
    *
    * Scale: ONE shuffle total — the window partitions by user_id, and the
    * following groupBy(user_id, session_idx) is satisfied by the same hash
    * partitioning (user_id is a prefix), so Catalyst plans no second
    * exchange. Per-user state is O(1) (lag-1 + running sum); session ids are
    * per-user ordinals, deterministic under any partitioning. Gap timestamps
    * compare in exact integer microseconds.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(order))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs).cast("long"))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))
  }

  /** `stream_sessionize_endstate` (driver-checkable twin of [[sessionize]],
    * the `stream_upsert_endstate` pattern): the stateful streaming
    * sessionizer driven end-to-end — the full events table landed as a
    * parquet drop, then a sentinel event 30 days past the real data as a
    * second drop, each its own micro-batch of one AvailableNow run
    * (`maxFilesPerTrigger=1`). The sentinel pushes the watermark past every real
    * session's timeout, so the event-time timeouts fire (in the trailing
    * no-data micro-batch) and every session is emitted to the append sink.
    * The sink output (minus the sentinel user) plus a deterministic ordinal
    * projection must equal `sessionize_batch` exactly — same oracle SQL.
    *
    * session_idx is derivable after the fact because closed sessions of one
    * user never overlap: the per-user ordinal by session_start is the batch
    * twin's running new-session sum.
    */
  def streamSessionizeEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    import spark.implicits._
    val events = Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
    // bounded scalar (one max over the drop, driver-side): the sentinel must
    // outrun every real session's `last + gap` timeout by more than the
    // 1-hour watermark delay
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinel = spark.range(1).select(
      lit(-1L).as("user_id"),
      timestamp_micros(lit(maxUs + 30L * 24 * 3600 * 1000000)).as("ts"))
    val out = StreamHarness.twin(spark, "stream_sess", sfDir,
        Seq(Drop(events), Drop(sentinel))) { t =>
      t.runAppend(sessionize(t.stream(events.schema).as[Evt], gapMs = 30L * 60 * 1000).toDF())
    }

    val w = Window.partitionBy("user_id").orderBy("session_start")
    spark.read.parquet(out)
      .where(col("user_id") >= 0) // the sentinel user's own session is open by design
      .select(
        col("user_id"),
        row_number().over(w).cast("long").as("session_idx"),
        col("session_start"), col("session_end"),
        col("n_events").cast("long").as("n_events"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("duration_us"))
  }

  /** `stream_daily_counts_endstate`: the watermarked tumbling-window
    * aggregate ([[dailyTypeCounts]]) driven end-to-end the same way — events
    * drop + AvailableNow run builds window state, a sentinel drop (distinct
    * event_type, 30 days out) advances the watermark so every real window
    * closes and flushes to the append sink. Day windows are epoch-aligned
    * UTC, so the oracle is the plain batch GROUP BY over date_trunc('day').
    */
  def streamDailyCountsEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir).select(col("ts"), col("event_type"))
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinel = spark.range(1).select(
      timestamp_micros(lit(maxUs + 30L * 24 * 3600 * 1000000)).as("ts"),
      lit("__sentinel").as("event_type"))
    val out = StreamHarness.twin(spark, "stream_daily", sfDir,
        Seq(Drop(events), Drop(sentinel))) { t =>
      t.runAppend(dailyTypeCounts(t.stream(events.schema)))
    }
    spark.read.parquet(out)
      .where(col("event_type") =!= "__sentinel")
      .select(col("window_start"), col("event_type"), col("event_count"))
  }

  /** `stream_late_data_endstate`: the watermark's LATE-DATA DROP contract
    * driven end-to-end — the one streaming semantic the other endstates
    * never exercise (their drops always arrive in event-time order, so the
    * watermark only ever closes windows, never rejects rows).
    *
    * Four drops through one AvailableNow lifecycle (maxFilesPerTrigger=1,
    * order-pinned — see [[StreamHarness.twin]]):
    *   1. the older half of `events` (on time);
    *   2. the newer half — ends with the full corpus ingested and the
    *      watermark advanced to max(ts) − 1 day (watermarks are computed
    *      from the PREVIOUS batch, so the advance is visible to batch 3);
    *   3. `__late` probe rows stamped 10 days BEFORE min(ts): their day
    *      window ended far below the now-advanced watermark, so the
    *      windowed aggregate must discard every one of them;
    *   4. a `__sentinel` 30 days out, closing every real window into the
    *      append sink (the probe windows, having never been created, stay
    *      absent).
    *
    * The oracle is the plain batch daily GROUP BY over `events` — which
    * never saw the probes. An engine that leaks late rows emits extra
    * `__late` windows and fails the driver's row/hash compare; one that
    * over-drops on-time rows undercounts. LateDataSpec also proves the
    * probes WOULD have appeared had they been on time.
    *
    * Scale: identical to [[streamDailyCountsEndstate]] — state is one row
    * per (open day window × event_type) partitioned across the state store,
    * and the late-drop happens before state lookup, so a late flood costs
    * scan only, never state growth.
    */
  def streamLateDataEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir).select(col("ts"), col("event_type"))

    // bounded scalars (1-row agg): the split pivot and the probe/sentinel
    // anchors. minUs/maxUs bound the real data; the probes sit 10 days
    // before it, the sentinel 30 days past it.
    val b = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (minUs, maxUs) = (b.getLong(0), b.getLong(1))
    val midUs = minUs + (maxUs - minUs) / 2
    val day = 24L * 3600 * 1000000

    val late = spark.range(5).select(
      timestamp_micros(lit(minUs - 10 * day) + col("id")).as("ts"),
      lit("__late").as("event_type"))
    val sentinel = spark.range(1).select(
      timestamp_micros(lit(maxUs + 30 * day)).as("ts"),
      lit("__sentinel").as("event_type"))
    val drops = Seq(
      Drop(events.where(unix_micros(col("ts")) < midUs)),
      Drop(events.where(unix_micros(col("ts")) >= midUs)),
      Drop(late),
      Drop(sentinel))
    val out = StreamHarness.twin(spark, "stream_late", sfDir, drops) { t =>
      t.runAppend(dailyTypeCounts(t.stream(events.schema)))
    }

    // only the flush sentinel is filtered — `__late` rows are deliberately
    // NOT: their absence is the assertion under test
    spark.read.parquet(out)
      .where(col("event_type") =!= "__sentinel")
      .select(col("window_start"), col("event_type"), col("event_count"))
  }

  /** The batch gap-sessionize SQL — shared verbatim by `sessionize_batch`
    * and `stream_sessionize_endstate` (the streaming path must land the
    * exact same session set; that is the point).
    */
  private val sessionizeSql: String =
      """WITH l AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ts IS NULL
        |                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |              THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (
        |  SELECT user_id, ts,
        |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us
        |FROM s GROUP BY user_id, session_idx""".stripMargin

  val oracles: Map[String, String] = Map(
    "sessionize_batch" -> sessionizeSql,
    "stream_sessionize_endstate" -> sessionizeSql,
    "stream_daily_counts_endstate" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |       event_type,
        |       COUNT(*) AS event_count
        |FROM events GROUP BY 1, 2""".stripMargin,
    // same batch oracle on purpose: it never saw the `__late` probes, so a
    // late-row leak on the Spark side is a row-count/hash mismatch
    "stream_late_data_endstate" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |       event_type,
        |       COUNT(*) AS event_count
        |FROM events GROUP BY 1, 2""".stripMargin)
}
