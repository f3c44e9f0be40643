package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAM-STREAM interval join — the last Structured Streaming join class
  * in the engine (upsert / sessionize / windowed agg / dedup / stream-static
  * enrich are the others): two live streams joined on a key plus an event-
  * time bound, the shape behind real-time attribution ("which error landed
  * within the hour before this click").
  *
  * Both sides carry a watermark and the join predicate bounds event-time
  * distance in BOTH directions, so Spark can size the join state: each side
  * buffers only rows inside (watermark − interval), and state eviction is
  * driven by the watermarks — without the time bound the state would grow
  * unboundedly and Spark rejects the query. INNER join semantics emit each
  * match as soon as both rows exist; no watermark-flush sentinel is needed
  * (an OUTER stream-stream join would need one, exactly like the windowed
  * aggregates).
  *
  * Scale: state is (rows within the interval horizon) per side, hash-
  * partitioned on the join key — the same key-skew discipline as any
  * shuffle join applies, and the interval length is the state-size knob.
  */
object StreamJoin {

  /** Clicks joined to the errors of the SAME user within the hour before
    * the click — both sides streaming, inner, interval-bounded.
    */
  def clickErrorAttribution(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val e = errors
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "1 hour")
    c.join(e,
      col("user_id") === col("err_user") &&
        col("error_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("error_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("error_id"), col("error_ts"))
  }

  /** [[clickErrorAttribution]] with LEFT OUTER semantics: clicks with NO
    * error in their window still emit, with nulls. Outer stream-stream
    * joins are the delayed case: a match emits eagerly, but an UNMATCHED
    * click can only emit once the error-side watermark passes the click's
    * whole interval (no qualifying error can arrive anymore) — so the end
    * state needs the watermark to advance past the data, which the demo
    * drives with sentinel drops (the sessionize flush discipline).
    */
  def clickErrorAttributionOuter(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val e = errors
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "1 hour")
    c.join(e,
      col("user_id") === col("err_user") &&
        col("error_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("error_ts") <= col("click_ts"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("error_id"), col("error_ts"))
  }

  /** `stream_outer_join_endstate`: the outer variant driven end-to-end —
    * one data batch, then ONE sentinel batch, inside one AvailableNow
    * lifecycle: watermarks are computed from the PREVIOUS batch's max event
    * time, so the sentinel batch plants the advanced watermark and the
    * engine's final NO-DATA micro-batch evaluates it, flushing every
    * unmatched click with nulls (r18; the r17 noDataMicroBatches revert
    * proved the engine runs that final batch precisely to evaluate the last
    * data batch's watermark — the historical SECOND sentinel wave
    * re-planted a watermark the no-data batch had already evaluated, paying
    * one extra micro-batch lifecycle and two extra drops per invocation for
    * bit-identical output; oracle-checked at both SFs on removal). The
    * oracle is the batch LEFT JOIN on the same interval predicate.
    */
  def streamOuterJoinEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val base = events.select(col("event_id"), col("ts"), col("user_id"))
    val clicks = events.where(col("event_type") === "click").select(base.columns.map(col): _*)
    val errors = events.where(col("event_type") === "error").select(base.columns.map(col): _*)
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      timestamp_micros(lit(maxUs + 30L * 24 * 3600 * 1000000L)).as("ts"),
      lit(-1L).as("user_id"))
    // ONE lifecycle for data + one sentinel wave: one drop per source per
    // micro-batch (c1+e1 data, then the sentinel wave plants the advanced
    // watermark on BOTH sides, then the engine's final no-data batch
    // evaluates it and flushes unmatched clicks)
    val drops = Seq(
      Drop(clicks, "clicks"), Drop(errors, "errors"),
      Drop(sentinel, "clicks"), Drop(sentinel, "errors"))
    val out = StreamHarness.twin(spark, "stream_ssouter", sfDir, drops) { t =>
      t.runAppend(clickErrorAttributionOuter(
        t.stream(base.schema, "clicks"), t.stream(base.schema, "errors")))
    }
    spark.read.parquet(out)
      .where(col("user_id") >= 0) // the sentinel click's own unmatched row
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("error_id"), col("error_ts"))
  }

  /** `stream_stream_join_endstate`: the join driven end-to-end — clicks and
    * errors land as SEPARATE file streams (split across two drops each, so
    * matches must pair rows from different micro-batches out of the
    * buffered join state, not just within one batch — `maxFilesPerTrigger=1`
    * makes each drop its own micro-batch) in one AvailableNow run, append
    * sink. The end state must equal the batch
    * interval join — the oracle.
    */
  def streamStreamJoinEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val base = events.select(col("event_id"), col("ts"), col("user_id"))
    val clicks = events.where(col("event_type") === "click").select(base.columns.map(col): _*)
    val errors = events.where(col("event_type") === "error").select(base.columns.map(col): _*)
    // the drops split the TIMELINE, not the id space: batch 2's rows must
    // all sit above batch 1's advanced watermark or the engine rightly drops
    // them as late (the oracle is the complete batch join, so nothing may
    // drop). Cross-boundary pairs — a batch-2 click matching a batch-1
    // error within the hour — can only come from the buffered join state,
    // which is what the split exercises. Bounded driver scalar, same
    // discipline as the sessionize sentinel.
    val Array(minUs, maxUs) = events
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val midTs = timestamp_micros(lit((minUs + maxUs) / 2))
    val drops = Seq(
      Drop(clicks.where(col("ts") < midTs), "clicks"),
      Drop(errors.where(col("ts") < midTs), "errors"),
      Drop(clicks.where(col("ts") >= midTs), "clicks"),
      Drop(errors.where(col("ts") >= midTs), "errors"))
    val out = StreamHarness.twin(spark, "stream_ssjoin", sfDir, drops) { t =>
      // trailing watermark-only batch disabled (r18): INNER interval join —
      // matches emit eagerly when both rows exist; the trailing batch only
      // evicts out-of-horizon state. The OUTER twin above must NOT do this
      // (its unmatched-click flush IS that batch) — see
      // StreamHarness.withoutFinalNoDataBatch's whitelist
      StreamHarness.withoutFinalNoDataBatch(spark) {
        t.runAppend(clickErrorAttribution(
          t.stream(base.schema, "clicks"), t.stream(base.schema, "errors")))
      }
    }
    spark.read.parquet(out)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("error_id"), col("error_ts"))
  }

  val oracles: Map[String, String] = Map(
    // end state == the batch LEFT interval join: matched rows eagerly,
    // unmatched clicks flushed by the sentinel-advanced watermark
    "stream_outer_join_endstate" ->
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        |       e.event_id AS error_id, e.ts AS error_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND e.ts >= c.ts - INTERVAL 1 HOUR
        | AND e.ts <= c.ts""".stripMargin,
    // end state == the batch interval join, row for row
    "stream_stream_join_endstate" ->
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        |       e.event_id AS error_id, e.ts AS error_ts
        |FROM events c JOIN events e
        |  ON c.event_type = 'click' AND e.event_type = 'error'
        | AND c.user_id = e.user_id
        | AND e.ts >= c.ts - INTERVAL 1 HOUR
        | AND e.ts <= c.ts""".stripMargin
  )
}
