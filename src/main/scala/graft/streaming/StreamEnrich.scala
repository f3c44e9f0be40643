package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-static enrichment join — the remaining Structured Streaming join
  * class after upsert/sessionize/windowed-agg/dedup: each micro-batch of
  * the event stream joins a STATIC dimension (here customer, on
  * user_id = c_custkey) and appends the enriched rows. The join is
  * stateless (no watermark, no join state — the static side is just
  * re-planned per micro-batch, broadcast when small), which is why this is
  * the cheapest streaming pattern and the first one a real ingest pipeline
  * deploys: enrich-on-arrival, land enriched.
  *
  * Scale: the static side at 100 TB is a broadcast if dimension-sized or a
  * shuffled join per micro-batch if not — identical planning to batch; the
  * stream side carries no state between batches, so throughput is bounded
  * by the join alone, not by the state store.
  */
object StreamEnrich {

  /** `stream_enrich_endstate`: two-drop end-to-end demo — the even half of
    * events, then the odd half, each its own micro-batch
    * (`maxFilesPerTrigger=1`) in one AvailableNow run on one checkpoint:
    * the source's file bookkeeping must hand each file to exactly one
    * batch (a stateless join has no dedup state to catch a re-read —
    * file-level exactly-once is the only guard). The appended output must
    * equal the BATCH join of events x customer, which is the oracle.
    * Content-level replays (same rows in a NEW file) are ingestion dedup's
    * job — [[StreamDedup]] — not the enrich stage's. `restartPerDrop=true`
    * (the StreamingSpec form) restarts the query between drops with drop
    * 1's file still in the source directory, proving the CHECKPOINT's file
    * log — not just in-memory state — prevents the re-read.
    */
  def streamEnrichEndstate(spark: SparkSession, sfDir: String,
      restartPerDrop: Boolean = false): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val customer = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    // restarting, drop 1's file is still in the source dir — run 2 must
    // skip it via the checkpoint
    val drops = Seq(
      Drop(events.where(pmod(col("event_id"), lit(2)) === 0)),
      Drop(events.where(pmod(col("event_id"), lit(2)) === 1)))
    val out = StreamHarness.twin(spark, "stream_enrich", sfDir, drops, restartPerDrop) { t =>
      t.runAppend(t.stream(events.schema)
        .join(broadcast(customer), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment").as("segment")))
    }
    spark.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"), col("segment"))
  }

  val oracles: Map[String, String] = Map(
    // the end state must equal the batch join, row for row: the drop-2
    // replay of drop-1's file must be suppressed by source bookkeeping,
    // and every event has exactly one customer row (pk join)
    "stream_enrich_endstate" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin
  )
}
