package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the ingestion-time twin of
  * `dedup_exact`: keep the first arrival of each content hash and drop
  * every replay, across micro-batches, with state bounded by a watermark.
  *
  * This is the operator a continuously-fed corpus needs at the front door
  * (crawl re-fetches, at-least-once delivery, backfill replays all produce
  * exact duplicates), where batch dedup would mean re-scanning the
  * accumulated corpus per increment. `dropDuplicatesWithinWatermark` keys
  * state by the content hash only — arrival-time metadata stays out of the
  * key — and evicts entries once the watermark passes their event time plus
  * the dedup horizon, so state is proportional to the horizon's traffic,
  * not corpus history (the property that keeps this viable at 100 TB/day).
  *
  * Determinism contract: WHICH physical row wins a key is arrival-order
  * dependent, so the query emits only columns functionally determined by
  * the hash itself (the hash and its preimage field) — making the output
  * SET exactly "one row per distinct content", which the batch DISTINCT
  * oracle checks value-for-value.
  */
object StreamDedup {

  /** `stream_dedup_endstate`: two-drop end-to-end demo — drop 1 is half the
    * events table, drop 2 is the FULL table (an exact replay of drop 1 plus
    * the other half), each its own micro-batch (`maxFilesPerTrigger=1`)
    * within one AvailableNow run against one checkpoint. The replayed half
    * must be suppressed by state persisted across batches; the horizon
    * (3650 days) exceeds the table's time span so no state expires mid-demo
    * and the end state equals batch DISTINCT. `restartPerDrop=true` (the
    * StreamingSpec form) stops and restarts the query between the drops,
    * additionally proving the state survives a process boundary.
    */
  def streamDedupEndstate(spark: SparkSession, sfDir: String,
      restartPerDrop: Boolean = false): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("props"))
    val drops = Seq(
      Drop(events.where(pmod(col("event_id"), lit(2)) === 0)),
      Drop(events)) // full replay + the odd half
    val out = StreamHarness.twin(spark, "stream_dedup", sfDir, drops, restartPerDrop) { t =>
      // trailing watermark-only batch disabled (r18): append-mode
      // dropDuplicatesWithinWatermark emits a first occurrence on ARRIVAL;
      // the trailing batch only evicts expired state — see
      // StreamHarness.withoutFinalNoDataBatch's whitelist
      StreamHarness.withoutFinalNoDataBatch(spark) {
        t.runAppend(t.stream(events.schema)
          .withColumn("content_hash",
            md5(concat_ws("|", col("event_type"), col("props"))))
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("content_hash")
          .select(col("content_hash"), col("event_type"), col("props")))
      }
    }
    spark.read.parquet(out)
      .select(col("content_hash"), col("event_type"), col("props"))
  }

  val oracles: Map[String, String] = Map(
    // batch DISTINCT over the same preimage — concat_ws has identical
    // skip-null semantics in both engines
    "stream_dedup_endstate" ->
      """SELECT DISTINCT md5(concat_ws('|', event_type, props)) AS content_hash,
        |       event_type, props
        |FROM events""".stripMargin
  )
}
