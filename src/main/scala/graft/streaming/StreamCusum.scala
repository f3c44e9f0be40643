package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous change-point monitoring — the streaming twin of the batch
  * [[graft.operators.Windows.winCusum]] family at DAILY grain: the batch
  * form scans a closed series for its largest level shift; this maintains
  * the per-day level as watermarked streaming state and re-runs the CUSUM
  * over the CLOSED days each time — "did this event type's daily level
  * shift, and around which day?" — the page a rate monitor raises.
  *
  * Deployment shape (the [[StreamDrift]] discipline): the stream carries
  * (ts, event_type, cents) — 3 narrow columns; a watermarked tumbling
  * 1-day window aggregate maintains per (day, type) (count, sum) — the
  * streaming state is bounded by types × open-days regardless of volume,
  * and closed days flush append-only. The CUSUM itself (running sum +
  * running extrema over the per-day series, the parallel-prefix algebra of
  * winCusum) is computed BATCH-side over closed windows — statistics over
  * closed windows never belong in streaming state. Exact integers
  * throughout: day sums in cents, the truncated `div` mean (bit-exact with
  * DuckDB `//` — winCusum's mu note), long cumsums.
  */
object StreamCusum {

  /** `stream_cusum_endstate`: end-to-end demo on the events fixture's own
    * event times (Jan 2024, 30 days at every sf). Two drops split at the
    * month's midpoint IN TIME ORDER (a parity split would land late rows
    * into watermark-closed windows and silently drop them — the
    * append-mode trap), plus a far-future sentinel closing all windows.
    * The appended end state must reproduce the batch per-(type, day)
    * series exactly, so the final CUSUM rows match the DuckDB oracle
    * computing the same statistic from `events` directly — bit-exact.
    */
  def streamCusumEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import graft.functions.Num
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir)
    val narrow = events.select(col("ts"), col("event_type"),
      Num.cents(col("value")).as("cents"))

    val mid = lit("2024-01-16").cast("date")
    val sentinel = spark.range(1).select(
      to_timestamp(lit("2024-03-01 00:00:00")).as("ts"),
      lit("__sentinel").as("event_type"), lit(0L).as("cents"))
    val drops = Seq(
      Drop(narrow.where(to_date(col("ts")) < mid)),
      Drop(narrow.where(to_date(col("ts")) >= mid)),
      Drop(sentinel))
    val out = StreamHarness.twin(spark, "stream_cusum", sfDir, drops) { t =>
      t.runAppend(t.stream(StructType.fromDDL("ts timestamp, event_type string, cents bigint"))
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_d"), sum(col("cents")).as("v_d"))
        .select(col("window.start").as("day_start"), col("event_type"),
          col("n_d"), col("v_d")))
    }

    // batch-side CUSUM over the closed per-(type, day) series — the
    // winCusum window algebra at daily grain (running sum + running
    // extrema, virtual C_0 = 0 in the extrema, truncated mean, earliest-peak
    // tie-break via the broadcast peaks self-join)
    val series = spark.read.parquet(out)
      .where(col("event_type") =!= "__sentinel")
      .select(col("event_type"), to_date(col("day_start")).as("day"),
        col("n_d"), col("v_d"))
    val mu = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_d")).as("n_events"),
        expr("sum(v_d) div count(1)").as("mu_day_cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = series.join(broadcast(mu), Seq("event_type"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("c", sum(col("v_d") - col("mu_day_cents")).over(cum))
      .withColumn("s_up", col("c") - least(lit(0L), min(col("c")).over(cum)))
      .withColumn("s_dn", greatest(lit(0L), max(col("c")).over(cum)) - col("c"))
    val peaks = scored.groupBy(col("event_type"))
      .agg(max(col("s_up")).as("max_cusum_up"), max(col("s_dn")).as("max_cusum_down"))
    scored.join(broadcast(peaks), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(first(col("n_days")).as("n_days"),
        first(col("n_events")).as("n_events"),
        first(col("mu_day_cents")).as("mu_day_cents"),
        first(col("max_cusum_up")).as("max_cusum_up"),
        min(when(col("s_up") === col("max_cusum_up"), col("rn"))).as("peak_up_day_idx"),
        first(col("max_cusum_down")).as("max_cusum_down"),
        min(when(col("s_dn") === col("max_cusum_down"), col("rn"))).as("peak_down_day_idx"))
  }

  val oracles: Map[String, String] = Map(
    "stream_cusum_endstate" ->
      """WITH series AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         COUNT(*) AS n_d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_d
        |  FROM events GROUP BY 1, 2),
        |mu AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |         CAST(SUM(n_d) AS BIGINT) AS n_events,
        |         CAST(SUM(v_d) // COUNT(*) AS BIGINT) AS mu_day_cents
        |  FROM series GROUP BY 1),
        |scored AS (
        |  SELECT s.event_type, m.n_days, m.n_events, m.mu_day_cents,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |         SUM(s.v_d - m.mu_day_cents) OVER (w ROWS UNBOUNDED PRECEDING) AS c
        |  FROM series s JOIN mu m USING (event_type)
        |  WINDOW w AS (PARTITION BY s.event_type ORDER BY s.day)),
        |s2 AS (
        |  SELECT *,
        |         c - LEAST(0, MIN(c) OVER (w ROWS UNBOUNDED PRECEDING)) AS s_up,
        |         GREATEST(0, MAX(c) OVER (w ROWS UNBOUNDED PRECEDING)) - c AS s_dn
        |  FROM scored
        |  WINDOW w AS (PARTITION BY event_type ORDER BY rn)),
        |peaks AS (
        |  SELECT event_type, MAX(s_up) AS max_cusum_up, MAX(s_dn) AS max_cusum_down
        |  FROM s2 GROUP BY 1)
        |SELECT s.event_type,
        |       CAST(MIN(s.n_days) AS BIGINT) AS n_days,
        |       CAST(MIN(s.n_events) AS BIGINT) AS n_events,
        |       CAST(MIN(s.mu_day_cents) AS BIGINT) AS mu_day_cents,
        |       CAST(MIN(p.max_cusum_up) AS BIGINT) AS max_cusum_up,
        |       CAST(MIN(CASE WHEN s.s_up = p.max_cusum_up THEN s.rn END)
        |            AS BIGINT) AS peak_up_day_idx,
        |       CAST(MIN(p.max_cusum_down) AS BIGINT) AS max_cusum_down,
        |       CAST(MIN(CASE WHEN s.s_dn = p.max_cusum_down THEN s.rn END)
        |            AS BIGINT) AS peak_down_day_idx
        |FROM s2 s JOIN peaks p USING (event_type)
        |GROUP BY s.event_type""".stripMargin
  )
}
