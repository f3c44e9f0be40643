package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous distribution-drift monitoring — the streaming twin of the
  * batch [[graft.operators.Drift]] family, but along the TEMPORAL axis:
  * [[graft.operators.Drift.driftTv]] asks "does source X look like the
  * rest of the corpus?", this asks "does today's batch of a source look
  * like yesterday's?" — the batch-over-batch question a daily-ingest
  * monitor actually pages on.
  *
  * Deployment shape: each arriving batch is event-time-stamped to its
  * ingest day; a watermarked tumbling-window streaming aggregate maintains
  * per (day, source, length-bucket) counts — the HISTOGRAM is the
  * streaming state, tiny (sources × buckets rows per open day) and
  * append-only-flushed when the watermark closes a day. The drift
  * statistic itself is computed BATCH-side over the closed histograms
  * (total-variation distance between consecutive days, same exact-ppm
  * `div` arithmetic as the batch monitor) — statistics over closed windows
  * never belong in streaming state.
  *
  * Scale: the stream carries (ts, source, bucket) — 3 narrow columns, no
  * text — and the aggregation state is bounded by sources × buckets ×
  * open-days regardless of corpus size; the TV compute reads back only the
  * closed histogram rows.
  */
object StreamDrift {

  /** `stream_drift_endstate`: end-to-end demo — half of documents stamped
    * day 1 (the reference batch), half day 2 (the new batch), a sentinel
    * 30 days out closing both windows. The split is (doc_id div 20) % 2,
    * which alternates WITHIN each source: the fixture assigns
    * source = doc_id % 20, so a plain doc_id-parity split would give every
    * source an empty day and the TV arithmetic would never be exercised —
    * the vacuous-oracle class the zero-row guard exists for. The appended
    * end state must reproduce the BATCH per-day histograms exactly, so the
    * final TV rows match the DuckDB oracle computing the same statistic
    * from the same split directly — bit-exact.
    */
  def streamDriftEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val documents = Tables.documents(spark, sfDir)
    // exact UTC midnight (19675 days since epoch): tumbling day windows are
    // EPOCH-ALIGNED, so a non-midnight stamp would land in a window whose
    // start differs from the stamp and the day decode below would misread
    val day1Us = 1699920000000000L
    val dayUs = 24L * 3600 * 1000000
    val bucket = (coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
      / graft.operators.Drift.BucketWidth).cast("long")
    def stamped(df: DataFrame, us: Long): DataFrame =
      df.select(timestamp_micros(lit(us)).as("ts"), col("source"),
        bucket.as("bucket"))

    val sentinel = spark.range(1).select(
      timestamp_micros(lit(day1Us + 30 * dayUs)).as("ts"),
      lit("__sentinel").as("source"), lit(0L).as("bucket"))
    val drops = Seq(
      Drop(stamped(documents.where(pmod(expr("doc_id div 20"), lit(2)) === 0), day1Us)),
      Drop(stamped(documents.where(pmod(expr("doc_id div 20"), lit(2)) === 1),
        day1Us + dayUs)),
      Drop(sentinel))
    val out = StreamHarness.twin(spark, "stream_drift", sfDir, drops) { t =>
      t.runAppend(t.stream(StructType.fromDDL("ts timestamp, source string, bucket bigint"))
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("source"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("day_start"), col("source"),
          col("bucket"), col("cnt")))
    }

    // batch-side statistic over the closed histograms: TV between day 2
    // and day 1 per source, shares floored to ppm over the union of
    // buckets (a bucket absent from a day contributes share 0)
    val hist = spark.read.parquet(out)
      .where(col("source") =!= "__sentinel")
      .withColumn("day",
        when(unix_micros(col("day_start")) === day1Us, lit(1L)).otherwise(lit(2L)))
    val wide = hist.groupBy(col("source"), col("bucket"))
      .agg(sum(when(col("day") === 1L, col("cnt")).otherwise(0L)).as("c1"),
        sum(when(col("day") === 2L, col("cnt")).otherwise(0L)).as("c2"))
    val totals = wide.groupBy(col("source"))
      .agg(sum(col("c1")).as("n_day1"), sum(col("c2")).as("n_day2"))
    wide.join(totals, Seq("source"))
      // a day with no rows (a source can skip a day entirely) reads as
      // "all mass moved": tv = 10⁶, never a division by zero
      .withColumn("share1_ppm",
        when(col("n_day1") > 0,
          expr("(cast(c1 as decimal(38,0)) * 1000000) div n_day1"))
          .otherwise(lit(0L)))
      .withColumn("share2_ppm",
        when(col("n_day2") > 0,
          expr("(cast(c2 as decimal(38,0)) * 1000000) div n_day2"))
          .otherwise(lit(0L)))
      .groupBy(col("source"), col("n_day1"), col("n_day2"))
      .agg((sum(abs(col("share1_ppm") - col("share2_ppm"))) / 2)
        .cast("long").as("tv_raw"))
      .select(col("source"), col("n_day1"), col("n_day2"),
        when(col("n_day1") === 0 || col("n_day2") === 0, lit(1000000L))
          .otherwise(col("tv_raw")).as("tv_day_ppm"))
  }

  val oracles: Map[String, String] = Map(
    "stream_drift_endstate" ->
      s"""WITH per AS (
         |  SELECT source, (doc_id // 20) % 2 AS day0,
         |         COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)
         |           // ${graft.operators.Drift.BucketWidth} AS bucket
         |  FROM documents),
         |wide AS (
         |  SELECT source, bucket,
         |         SUM(CASE WHEN day0 = 0 THEN 1 ELSE 0 END) AS c1,
         |         SUM(CASE WHEN day0 = 1 THEN 1 ELSE 0 END) AS c2
         |  FROM per GROUP BY 1, 2),
         |tot AS (
         |  SELECT source, CAST(SUM(c1) AS BIGINT) AS n_day1,
         |         CAST(SUM(c2) AS BIGINT) AS n_day2
         |  FROM wide GROUP BY 1)
         |SELECT w.source, t.n_day1, t.n_day2,
         |       CASE WHEN t.n_day1 = 0 OR t.n_day2 = 0 THEN 1000000
         |            ELSE CAST(SUM(ABS(
         |                   (w.c1::HUGEINT * 1000000) // t.n_day1
         |                   - (w.c2::HUGEINT * 1000000) // t.n_day2)) // 2
         |                 AS BIGINT) END AS tv_day_ppm
         |FROM wide w JOIN tot t ON t.source = w.source
         |GROUP BY w.source, t.n_day1, t.n_day2""".stripMargin
  )
}
