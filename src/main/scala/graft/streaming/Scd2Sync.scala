package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.operators.Scd

/** Streaming maintenance of a type-2 SCD dimension — the continuous form of
  * [[graft.operators.Scd.scd2Merge]]: each micro-batch's per-entity END
  * STATE is applied as a snapshot (close changed current rows, open new
  * versions), so version granularity is delivery-batch granularity, the
  * same contract as the reference's daily MERGE cron where intra-day flaps
  * are invisible (CLAUDE.md:66-68).
  *
  * Scale: a type-2 dim splits naturally into an append-only part (closed
  * history — never rewritten) and a mutable part (current rows — one per
  * entity). [[Scd.applySnapshot]] preserves that split in the plan: history
  * streams through untouched and only current rows join the batch snapshot,
  * so a micro-batch costs O(|current| + |batch|). The demo sink rewrites
  * one directory per batch; the production layout is the bucket-partitioned
  * current table of [[IncrementalSync.syncOnce]] (hash(user_id) buckets,
  * partition-pruned selective rewrite) plus a date-partitioned history
  * append — same commit protocol, so the swap/repair machinery is reused
  * verbatim.
  */
object Scd2Sync {

  /** One AvailableNow run: fold every new drop into the dim at `targetPath`.
    * Commit is write-to-temp-then-swap with the same move-aside crash
    * protocol as [[IncrementalSync]]: the live dim moves to `.old` before
    * the replacement moves in, and `repair` restores it on the next entry
    * if a crash lands between the two moves — old-or-new, never neither.
    */
  def syncOnce(
      spark: SparkSession,
      schema: StructType,
      srcDir: String,
      targetPath: String,
      checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    repair(targetPath)
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(srcDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        repair(targetPath)
        val dim =
          if (new java.io.File(targetPath).exists())
            Scd.applySnapshot(spark.read.parquet(targetPath), batch)
          else Scd.scd2Build(batch)
        // the tmp write is the action that drains the live-dim scan
        // (read-before-overwrite trap, SURVEY §7.5.7); then swap
        val tmp = targetPath + ".tmp"
        dim.write.mode("overwrite").parquet(tmp)
        swap(targetPath, tmp)
        ()
      }
      .start()
    query.awaitTermination()
    spark.read.parquet(targetPath)
  }

  private def swap(targetPath: String, tmpPath: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val live = Paths.get(targetPath)
    val old = Paths.get(targetPath + ".old")
    if (Files.exists(old)) StreamHarness.delete(old.toFile)
    if (Files.exists(live)) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmpPath), live, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(old)) StreamHarness.delete(old.toFile)
  }

  /** Restore a dim left only in `.old` by a crash between the two moves. */
  private[graft] def repair(targetPath: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val live = Paths.get(targetPath)
    val old = Paths.get(targetPath + ".old")
    if (Files.exists(old)) {
      if (Files.exists(live)) StreamHarness.delete(old.toFile) // swap completed
      else Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** `stream_scd2_endstate`: the sync driven end-to-end — the pre-cutoff
    * event log landed as drop 1 (dim bootstrap), the post-cutoff window as
    * drop 2 (snapshot apply), each its own micro-batch of ONE AvailableNow
    * run over one checkpoint (`maxFilesPerTrigger=1` — version granularity
    * is per micro-batch, so the two-version history is identical to the
    * two-run form). The end state must equal the batch [[Scd.scd2Merge]]
    * exactly — same oracle SQL verbatim.
    */
  def streamScd2Endstate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val cut = to_timestamp(lit("2024-01-24"))
    val drops = Seq(Drop(events.where(col("ts") < cut)), Drop(events.where(col("ts") >= cut)))
    val target = StreamHarness.twin(spark, "stream_scd2", sfDir, drops) { t =>
      syncOnce(spark, events.schema, t.src("drops"), t.out, t.ckpt,
        maxFilesPerTrigger = Some(1))
    }
    spark.read.parquet(target)
      .select(col("user_id"), col("state"), col("valid_from"), col("valid_to"),
        col("version"), col("is_current"))
  }

  /** Oracle: the batch scd2_merge SQL verbatim — the point. */
  val oracles: Map[String, String] = Map(
    "stream_scd2_endstate" -> Scd.oracles("scd2_merge"))
}
