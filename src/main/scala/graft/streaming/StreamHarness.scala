package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one scaffold shared by the `stream_*_endstate` registered queries: a
  * fresh scratch area per (query, sf-dir), single-file parquet drops landed
  * into watched source directories, the `maxFilesPerTrigger=1` AvailableNow
  * lifecycle, and the demo conf window. Pure driver-side mechanics — a twin
  * keeps only its drops, its pipeline and sink, and its read-back; the
  * streaming semantics live in the twins.
  */
private[graft] object StreamHarness {

  /** State partitions of every twin run. Every state partition pays store
    * open/commit/snapshot file I/O per micro-batch, so 32 session
    * partitions meant 64 store commits for two runs of ~20k rows (~4 s of
    * pure overhead measured). 4 is the measured local sweet spot
    * (sessionize endstate lifecycle at sf0.1: 2.13 s at 1, 2.36 s at 2,
    * 1.85 s at 4, 1.90 s at 8 — the data batch wants parallelism, the
    * near-empty batches want few stores; 2 vs 4 re-swept as a wash in
    * OPTIMIZATION_r18 N2). The FIRST run freezes the count into the
    * checkpoint. A production deployment sizes this to its real drop volume
    * and key cardinality instead.
    */
  val StateParts = 4

  /** One parquet drop: `df` landed as a single file into the twin's source
    * directory `src`. The k-th drop of a source is its k-th micro-batch.
    */
  final case class Drop(df: DataFrame, src: String = "drops")

  /** A twin's scratch area, handed to its pipeline: source directories
    * under the root, the sink at [[out]], the checkpoint at [[ckpt]].
    */
  final class Twin private[StreamHarness] (spark: SparkSession, root: String) {
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"
    def src(name: String): String = s"$root/$name"

    /** The file stream over source `name`, one landed file per micro-batch
      * (`maxFilesPerTrigger=1`), so the pinned land order is the batch order
      * and every drop flushes through ONE query lifecycle (watermarks are
      * computed from the previous batch, so a sentinel drop plants the
      * advanced watermark for the next batch to evaluate).
      */
    def stream(schema: StructType, name: String = "drops"): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src(name))

    /** Run `df` to completion as one AvailableNow append query into the
      * parquet sink at [[out]].
      */
    def runAppend(df: DataFrame): Unit =
      df.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .start().awaitTermination()
  }

  /** Drive one twin end to end and return its sink path ([[Twin.out]]).
    *
    * In a fresh scratch root for (`name`, `sfDir`), inside one conf window
    * ([[withDemoStreamConfs]]): by default every drop is landed up front,
    * concurrently ([[landAll]]), with pinned mtimes, then `run` executes
    * once — one AvailableNow lifecycle in which drop k of a source is
    * micro-batch k. `restartPerDrop = true` lands one drop and runs, per
    * drop, so every later run restarts the query from the checkpoint: the
    * spec form, proving state and file bookkeeping survive a process
    * boundary.
    */
  def twin(spark: SparkSession, name: String, sfDir: String, drops: Seq[Drop],
      restartPerDrop: Boolean = false)(run: Twin => Unit): String = {
    val t = new Twin(spark, freshScratch(spark, name, sfDir))
    drops.map(_.src).distinct.foreach(s => new java.io.File(t.src(s)).mkdirs())
    val lands = drops.zipWithIndex.map { case (d, i) =>
      val k = drops.take(i).count(_.src == d.src)
      () => land(d.df, t.src(d.src), s"${d.src}$k", k)
    }
    withDemoStreamConfs(spark) {
      if (restartPerDrop) lands.foreach { l => l(); run(t) }
      else {
        landAll(lands: _*)
        run(t)
      }
    }
    t.out
  }

  /** Fresh (emptied) scratch root for one endstate query at one sf dir.
    * Rooted via [[graft.Scratch]] (conf / spark.local.dir / tmpdir) instead
    * of a CWD-relative literal, so the jar runs from any directory.
    */
  private def freshScratch(spark: SparkSession, prefix: String, sfDir: String): String = {
    val scratch = graft.Scratch.dir(spark,
      s"$prefix/" + sfDir.replaceAll("[^a-zA-Z0-9]", "_"))
    delete(new java.io.File(scratch))
    scratch
  }

  /** Land `df` as the single parquet file `name.parquet` in `srcDir` (the
    * file source lists *.parquet at the root), staged beside it.
    *
    * The landed file's modification time is pinned to a strictly increasing
    * per-`order` value: the file source sorts pending files by mtime (oldest
    * first), so when several drops are landed BEFORE one
    * `maxFilesPerTrigger=1` AvailableNow run, drop k is guaranteed to be
    * micro-batch k. That is the contract, so a pin the filesystem refuses
    * fails the land instead of leaving the order to the staging writes'
    * natural timestamps.
    */
  private def land(df: DataFrame, srcDir: String, name: String, order: Int): Unit = {
    val t0 = System.nanoTime()
    val tmp = s"${new java.io.File(srcDir).getParent}/stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file in $tmp"))
    val dest = new java.io.File(s"$srcDir/$name.parquet")
    java.nio.file.Files.move(part.toPath, dest.toPath)
    // strictly past timestamps (the source must not see a file from the
    // future), 60 s apart: the spacing dominates both coarse-mtime
    // filesystems and the wall-clock drift between successive land() calls
    // (each call re-reads the clock), so order k is always older than k+1
    if (!dest.setLastModified(System.currentTimeMillis() - 86400000L + order * 60000L))
      throw new java.io.IOException(
        s"could not pin the modification time of $dest (drop order $order)")
    delete(new java.io.File(tmp))
    if (sys.env.contains("GRAFT_STREAM_DEBUG"))
      System.err.println(f"[stream] land $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Run independent [[land]] drops concurrently (r17, guide §2.6 applied
    * to the driver): each land is a single-task write job plus a commit
    * protocol, ~0.1–0.25 s of mostly driver latency, and the drops are
    * landed back-to-back BEFORE one AvailableNow lifecycle — their order is
    * carried by the pinned mtimes, not by call sequence, so overlapping
    * them is semantics-free. Measured ~0.5–0.7 s of a 3.8 s twin spent in
    * serial lands (GRAFT_STREAM_DEBUG timer). The restart-per-drop form
    * lands, runs, then lands again, so it stays sequential.
    */
  private def landAll(lands: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, lands.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(lands.map(f => Future(f()))), Duration.Inf): Unit
    finally pool.shutdown()
  }

  /** Scope `spark.sql.streaming.noDataMicroBatches.enabled=false` around a
    * query start (the conf is read at query startup), removing the trailing
    * watermark-only micro-batch — one full lifecycle round (plan, state
    * store open/commit per partition, offset+commit log, sink addBatch with
    * zero rows) per invocation, measured 0.2–0.5 s per twin at demo scale.
    *
    * STRICT whitelist: only for queries whose OUTPUT provably cannot depend
    * on a no-data batch's watermark evaluation —
    *  - foreachBatch upserts whose empty-batch path is a guarded no-op
    *    (IncrementalSync's `touched.isEmpty` contract),
    *  - append-mode dropDuplicates[WithinWatermark] (rows emit on arrival;
    *    the trailing batch only evicts state),
    *  - INNER stream-stream joins (matches emit eagerly; eviction-only).
    * NEVER for windowed aggregates, sessionizers with event-time timeouts,
    * or OUTER stream-stream joins: their final rows are EMITTED by that
    * batch (stream_late_data_endstate dropped 150 → 140 rows — the last
    * window never flushed — when this was tried lane-wide in r17;
    * stream_outer_join_endstate relies on the no-data batch for its
    * unmatched-click flush). The sentinel discipline covers mid-stream
    * flushes, not the final one. State eviction inside the lifecycle is
    * unchanged — data batches still evaluate watermarks.
    */
  def withoutFinalNoDataBatch[T](spark: SparkSession)(body: => T): T =
    withConfs(spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** The twins' conf window: [[StateParts]] shuffle (= state) partitions,
    * and `file://` served by [[ForkFreeLocalFileSystem]]. Every file the
    * twin touches — drop landing, file-source listing, the parquet sink
    * and its log, offset/commit logs, state-store deltas — takes its Hadoop
    * conf from the session's SQL conf, so this window covers all of it.
    * Without libhadoop the stock local filesystem forks `chmod` per created
    * file or directory and `readlink` per FileContext rename/exists, ~1 ms
    * each and ~1,390 per `stream_sync` pass. `fs.file.impl.disable.cache`
    * is needed because Hadoop caches one `file://` instance per JVM, keyed
    * without the conf: with the stock instance cached, the impl key alone
    * would never be read.
    */
  private def withDemoStreamConfs[T](spark: SparkSession)(body: => T): T =
    withConfs(spark,
      ("spark.sql.shuffle.partitions" -> StateParts.toString) +:
        ForkFreeLocalFileSystem.confs: _*)(body)

  /** Set `kvs` for the duration of `body`, then restore every key to what
    * it was — a set value is set back, an unset key is unset again — also
    * when `body` throws.
    */
  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }
}
