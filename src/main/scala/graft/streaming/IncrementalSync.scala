package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.operators.Merge
import StreamHarness.Drop

/** Structured-Streaming expression of the reference's freshness model
  * (SURVEY.md §2.10): the reference has no streaming runtime — daily cron
  * re-reads a trailing window and MERGE-upserts idempotently
  * (CLAUDE.md:66-68, lib/bigquery.py:203-212). The honest Spark mapping:
  *
  *   file source → withWatermark + dropDuplicates(pk) → foreachBatch upsert
  *
  * `Trigger.AvailableNow` makes each run an incremental batch over newly
  * arrived files — exactly the cron-driven sync loop, but with exactly-once
  * bookkeeping from the checkpoint instead of MERGE idempotence alone (the
  * upsert keeps it idempotent even if the checkpoint is lost).
  *
  * Scale: state for dropDuplicates is bounded by the watermark horizon;
  * the foreachBatch upsert is the same anti-join+union as batch Merge —
  * one shuffle per micro-batch on the pk.
  */
object IncrementalSync {

  /** Run one AvailableNow incremental sync from `srcDir` (parquet drops)
    * into `targetPath`, upserting on `pk`. Returns the final target (with
    * the internal `__part` bucket column visible — callers project it away).
    *
    * The target is laid out as `__part=N` hash-bucket partitions
    * (`pmod(xxhash64(pk), nBuckets)`), and each micro-batch rewrites ONLY
    * the buckets its keys touch: the merge reads the touched buckets via
    * partition pruning, anti-joins the batch, and swaps just those bucket
    * directories. A daily drop touching 1% of the key space therefore reads
    * and rewrites ~1% of the table instead of all of it — the difference
    * between O(|batch|) and O(|table|) I/O per sync at 100 TB. (A batch
    * whose keys span every bucket degrades to a full rewrite; that is
    * inherent to upsert-into-immutable-files, and `nBuckets` is the knob
    * that sets the rewrite granularity.)
    *
    * ==Filesystem contract==
    * The commit protocol is rename-based: it REQUIRES a filesystem with
    * atomic directory rename (local POSIX, HDFS). That is asserted once per
    * sync by `assertRenameCapable` — on an object-store path (s3/gs/abfs,
    * where "rename" is copy+delete and not atomic) it throws and directs
    * callers to [[syncOnceManifest]], the manifest-commit variant of this
    * same sync: new bucket files under immutable commit directories, commit
    * by one small manifest object becoming visible ([[ManifestStore]]) —
    * the same shape as the reference's server-side-atomic MERGE
    * (lib/bigquery.py:203-212).
    *
    * ==Crash safety==
    * Every bucket swap moves the live bucket aside to `<target>.old_<p>`
    * before moving its replacement in, and `repairInterruptedSwap` runs
    * before every read of the live table: a crash between the two moves
    * leaves the bucket only in the aside dir, and repair restores it, so an
    * interrupted sync re-runs against the complete pre-crash table instead
    * of silently treating the mid-swap bucket as empty. Each bucket is
    * therefore always old-or-new, never neither (verified by the
    * crash-injection case in StreamingSpec).
    */
  def syncOnce(
      spark: SparkSession,
      schema: StructType,
      srcDir: String,
      targetPath: String,
      checkpoint: String,
      pk: String,
      tsCol: String,
      nBuckets: Int = 16,
      maxFilesPerTrigger: Option[Int] = None,
      saltedKeepLatest: Boolean = false): DataFrame = {

    assertRenameCapable(targetPath)
    // a previous sync may have died mid-swap; restore before anything reads
    // the target (including the zero-new-files case where no batch runs)
    repairInterruptedSwap(targetPath)

    // dedup on (pk, ts): identical re-deliveries are suppressed by stream
    // state, while a *new version* of a key (same pk, later ts) passes
    // through and wins in the upsert — keying state on pk alone would
    // swallow updates across runs
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(srcDir)
      .withWatermark(tsCol, "1 day")
      .dropDuplicates(Seq(pk, tsCol))

    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // persisted because two actions consume it: the touched-bucket probe
        // and the merged write — without the cache the keep-latest window
        // recomputes per action
        val latest = keepLatest(batch, pk, tsCol, saltedKeepLatest)
          .withColumn("__part", pmod(xxhash64(col(pk)), lit(nBuckets)).cast("int"))
          .persist()
        // which buckets does this batch touch? Bounded by nBuckets — a
        // metadata-sized driver collect, same class as IVF centroids
        val touched = latest.select("__part").distinct()
          .collect().map(_.getInt(0)).sorted
        // a watermark-only (empty) micro-batch — e.g. the trailing batch a
        // multi-batch run appends after the watermark advances — touches no
        // bucket and must not pay a write/swap cycle
        if (touched.nonEmpty) {
          // a crash can land between micro-batches of this very run; repair
          // before every read so the merge never sees a mid-swap bucket as empty
          repairInterruptedSwap(targetPath)
          val exists = new java.io.File(targetPath).exists()
          val merged =
            if (exists) {
              // partition pruning limits the scan to the touched buckets;
              // untouched bucket directories are never read or rewritten
              val existing = spark.read.parquet(targetPath)
                .where(col("__part").isInCollection(touched.map(Integer.valueOf)))
              Merge.mergeUpsert(existing, latest, Seq(pk))
            } else latest
          // write-to-temp-then-swap: never overwrite the files being read
          // (SURVEY §7.5.7 read-before-overwrite trap) — the tmp write is the
          // action that drains the scan of the live buckets. The swap is
          // move-based and failure-checked per bucket: a live bucket dir is
          // moved aside (not deleted) before its replacement moves in, so a
          // crash mid-swap leaves either the old or the new bucket on disk,
          // never neither; Files.move throws on failure instead of renameTo's
          // silently-ignored boolean.
          val tmp = targetPath + ".tmp"
          merged.write.mode("overwrite").partitionBy("__part").parquet(tmp)
          swapBuckets(targetPath, tmp, touched)
        }
        latest.unpersist()
        ()
      }
    // trailing watermark-only batch disabled (r18): its empty-batch path is
    // the guarded no-op above (`touched.isEmpty` → no write/swap), so the
    // end state cannot depend on it — see withoutFinalNoDataBatch's
    // whitelist. Saves one full micro-batch lifecycle per run.
    StreamHarness.withoutFinalNoDataBatch(spark) {
      query.start().awaitTermination()
    }
    spark.read.parquet(targetPath)
  }

  /** Defensive keep-latest per pk (stg_hn__comments.sql:5-11): a replay
    * batch can carry several versions of a key; MERGE needs one.
    *
    * Two exact plans for the same reduction:
    *  - `salted = false` (default): one `row_number` window per pk — the
    *    right plan when versions-per-key is small (the common replay case).
    *  - `salted = true`: two-phase `max_by` argmax — versions of one key
    *    first reduce per (pk, salt-of-ts) partial group, then the ≤`salts`
    *    partials reduce per pk. A 90%-one-key batch (re-delivery storm,
    *    hot-entity CDC feed) puts 90% of the window's work on ONE task;
    *    the salted route spreads it across `salts` tasks and ships one row
    *    per (pk, salt) to the final reduction.
    *    (`skew_salted_sum` is the same two-phase shape for sums;
    *    StreamingSpec pins salted ≡ windowed on a skewed frame.)
    *
    * Both plans argmax the SAME total order — `(ts, fingerprint)`, with a
    * NULL ts ranking below every non-NULL ts (struct field ordering) — so
    * they are result-identical even off-contract: duplicate ts within a
    * key ties-break on a deterministic 64-bit fingerprint of the whole
    * row, and an all-NULL-ts key keeps a real row on both routes (bare
    * `max_by(_, ts)` would ignore NULL ordering keys and emit an all-NULL
    * struct on the salted route only; bare `row_number` over ties would
    * keep a partitioning-dependent row).
    *
    * The tiebreak is a FINGERPRINT, not the packed row itself, for two
    * reasons. (1) Orderability: struct ordering requires every field to be
    * orderable, so a raw-row tiebreak rejects any synced table carrying a
    * map-typed column at analysis — map-bearing columns hash through their
    * JSON form instead. (2) Bytes: a raw-row tiebreak ships every row
    * TWICE through the window sort / max_by shuffle — ~2× shuffled bytes
    * on a wide production table — where the fingerprint adds 8 bytes/row.
    * Residual: two distinct rows sharing (pk, ts, 64-bit fingerprint)
    * would tie non-totally (route-dependent winner) — a 2^-64-per-pair
    * event, and only reachable off the (pk, ts)-unique contract.
    */
  private[graft] def keepLatest(batch: DataFrame, pk: String,
      tsCol: String, salted: Boolean, salts: Int = 16): DataFrame = {
    val cols = batch.columns.toSeq
    val fields = batch.schema.fields.toSeq
    val packed = struct(cols.map(col): _*)
    // deterministic 64-bit row fingerprint: hashable columns raw,
    // map-bearing columns via their JSON form (xxhash64 rejects MapType)
    def fingerprint(field: String => Column) = xxhash64(fields.map { f =>
      if (containsMap(f.dataType)) to_json(struct(field(f.name))) else field(f.name)
    }: _*)
    // total order for "latest": ts first (NULL smallest — struct ordering
    // compares fields nulls-first), then the row fingerprint as tiebreak
    val ord = struct(col(tsCol).as("__ts"), fingerprint(col).as("__tie"))
    if (!salted) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pk).orderBy(ord.desc)
      batch.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    } else {
      def ordOf(row: Column) = struct(
        row.getField(tsCol).as("__ts"),
        fingerprint(n => row.getField(n)).as("__tie"))
      batch
        .groupBy(col(pk).as("__pk"),
          pmod(xxhash64(col(tsCol)), lit(salts)).as("__salt"))
        .agg(max_by(packed, ord).as("__row"))
        .groupBy(col("__pk"))
        .agg(max_by(col("__row"), ordOf(col("__row"))).as("__row"))
        .select(cols.map(c => col("__row").getField(c).as(c)): _*)
    }
  }

  /** Does `dt` transitively contain a MapType (which neither struct
    * ordering nor xxhash64 accepts)?
    */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: ArrayType => containsMap(a.elementType)
      case _ => false
    }
  }

  private def delete(f: java.io.File): Unit = StreamHarness.delete(f)

  /** The commit protocol requires atomic rename (see class scaladoc); fail
    * fast on object-store URIs rather than commit lossily via copy+delete.
    */
  private[graft] def assertRenameCapable(targetPath: String): Unit = {
    val scheme = java.net.URI.create(targetPath).getScheme
    val renameCapable = scheme == null || scheme == "file" || scheme == "hdfs"
    require(renameCapable,
      s"IncrementalSync.syncOnce commits via atomic directory rename, which " +
        s"'$scheme' does not provide; use syncOnceManifest (manifest-pointer " +
        "commit) for object stores")
  }

  /** Write-to-temp-then-swap: never overwrite the files being read
    * (SURVEY §7.5.7 read-before-overwrite trap) — the tmp write is the
    * action that drains the scan of the live buckets. The swap is move-based
    * and failure-checked per bucket: a live bucket dir is moved aside (not
    * deleted) before its replacement moves in, so a crash mid-swap leaves
    * either the old or the aside copy on disk, never neither —
    * `repairInterruptedSwap` restores the aside copy on the next run.
    * `Files.move` throws on failure instead of renameTo's silently-ignored
    * boolean.
    */
  private[graft] def swapBuckets(
      targetPath: String, tmpPath: String, touched: Seq[Int]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(tmpPath)
    val live = Paths.get(targetPath)
    if (!Files.exists(live)) {
      Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    } else {
      touched.foreach { p =>
        val src = tmp.resolve(s"__part=$p")
        val dst = live.resolve(s"__part=$p")
        // the aside dir lives OUTSIDE the live table root so a crash
        // can't leave a non-partition directory for discovery to trip on
        val old = Paths.get(targetPath + s".old_$p")
        if (Files.exists(old)) delete(old.toFile)
        if (Files.exists(dst)) Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(src)) Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(old)) delete(old.toFile)
      }
      delete(tmp.toFile)
    }
  }

  /** Repair an interrupted bucket swap. For each `<target>.old_<p>` aside
    * directory left by a crash: if the live `__part=p` bucket is missing,
    * the crash hit between move-aside and move-in — restore the aside copy;
    * if the live bucket exists, the swap completed and the aside is stale —
    * drop it. Idempotent, and runs before every read of the live table, so
    * an interrupted sync re-runs against the complete pre-crash table
    * instead of rewriting a bucket from the replay batch's keys alone
    * (which would silently lose every pre-existing row of that bucket not
    * present in the batch).
    */
  private[graft] def repairInterruptedSwap(targetPath: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val live = Paths.get(targetPath).toAbsolutePath
    val parent = live.getParent
    if (parent == null || !Files.isDirectory(parent)) return
    val prefix = live.getFileName.toString + ".old_"
    val asides = parent.toFile.listFiles()
    if (asides == null) return
    asides.iterator.filter(_.getName.startsWith(prefix)).foreach { f =>
      val part = f.getName.substring(prefix.length)
      val dst = live.resolve(s"__part=$part")
      if (Files.exists(dst)) delete(f) // swap completed; aside is stale
      else if (Files.exists(live)) // crash between move-aside and move-in
        Files.move(f.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
      // else: aside without a live table root — unreachable under this
      // protocol; keep the aside (it is data) rather than guess
    }
  }

  /** [[syncOnce]] on the MANIFEST commit protocol ([[ManifestStore]]) — the
    * object-store variant of the incremental sync, for targets where
    * directory rename is copy+delete and `assertRenameCapable` refuses the
    * rename-based protocol. Same merge plan (keep-latest window → touched-
    * bucket probe → partition-pruned read of only the touched buckets →
    * anti-join upsert); only the publish step differs: data files are
    * written ONCE under a fresh commit directory and never moved, and the
    * commit point is a single small manifest object becoming visible. A
    * crash anywhere mid-sync leaves the table resolving to the previous
    * manifest version — old-or-new per TABLE version, strictly stronger
    * than the rename protocol's old-or-new per bucket — and the checkpoint
    * replays the batch into a fresh commit on restart ([[ManifestStore]]
    * scaladoc has the atomicity argument; StreamingSpec has the
    * crash-injection case).
    */
  def syncOnceManifest(
      spark: SparkSession,
      schema: StructType,
      srcDir: String,
      tableRoot: String,
      checkpoint: String,
      pk: String,
      tsCol: String,
      nBuckets: Int = 16,
      maxFilesPerTrigger: Option[Int] = None,
      saltedKeepLatest: Boolean = false): DataFrame = {
    // the session's Hadoop conf (SQL conf over the context's), as Spark's
    // own file I/O builds it, so the manifest reads and commits see the
    // same `fs.*` keys as the stream and its writes
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    spark.conf.getAll.foreach { case (k, v) => conf.set(k, v) }

    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(srcDir)
      .withWatermark(tsCol, "1 day")
      .dropDuplicates(Seq(pk, tsCol))

    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val latest = keepLatest(batch, pk, tsCol, saltedKeepLatest)
          .withColumn("__part", pmod(xxhash64(col(pk)), lit(nBuckets)).cast("int"))
          .persist()
        val touched = latest.select("__part").distinct()
          .collect().map(_.getInt(0)).sorted
        // a watermark-only (empty) micro-batch commits nothing — versions
        // advance only when data changes
        if (touched.nonEmpty) {
          // re-resolve per micro-batch: a multi-batch run chains commits
          val base = ManifestStore.readLatest(tableRoot, conf)
          val existingPaths = base.toSeq.flatMap(_.bucketPaths(tableRoot, touched))
          val merged =
            if (existingPaths.nonEmpty) {
              // manifest-level pruning: only the touched buckets' directories
              // are ever listed or read — the same I/O bound as the rename
              // protocol's partition pruning
              val existing = spark.read.parquet(existingPaths: _*)
              Merge.mergeUpsert(existing, latest, Seq(pk))
            } else latest
          val commitDir = ManifestStore.newCommitDir()
          // __bucket duplicates __part as the directory key so the data files
          // keep __part as an ordinary column (explicit-path reads don't do
          // partition-directory inference)
          merged.withColumn("__bucket", col("__part"))
            .write.partitionBy("__bucket").parquet(s"$tableRoot/$commitDir")
          ManifestStore.commit(
            tableRoot,
            touched.map(p => p -> s"$commitDir/__bucket=$p").toMap,
            base, conf)
        }
        latest.unpersist()
        ()
      }
    // trailing watermark-only batch disabled (r18): the empty-batch path is
    // the guarded no-op above (`touched.isEmpty` → no commit), so the
    // manifest tip cannot depend on it — see withoutFinalNoDataBatch
    StreamHarness.withoutFinalNoDataBatch(spark) {
      query.start().awaitTermination()
    }
    val tip = ManifestStore.readLatest(tableRoot, conf)
      .getOrElse(throw new IllegalStateException(s"no manifest under $tableRoot"))
    spark.read.parquet(tip.allPaths(tableRoot): _*)
  }

  /** `stream_upsert_endstate` (§2.10 driver-checkable row): the full
    * streaming sync driven end-to-end — two parquet drops (initial load,
    * then updated versions of overlapping keys with a later event time)
    * ingested as two micro-batches of one AvailableNow run over one
    * checkpoint (`maxFilesPerTrigger=1`; two incremental bucket-pruned
    * merges, exactly as two separate runs would execute them) — then the
    * final table projected to the batch columns. The oracle is the batch
    * `merge_upsert` SQL verbatim: the streaming path must land the exact
    * same end state the idempotent batch MERGE produces.
    *
    * Drop timestamps are synthetic constants (day 1 / day 2) so the
    * watermark horizon is deterministic; in production the horizon is a
    * freshness SLA choice, not a correctness knob, because the foreachBatch
    * upsert stays idempotent for any replay.
    */
  def streamUpsertEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    val (drop1, drop2) = upsertDrops(upsertBase(spark, sfDir))
    // nBuckets=4 matches the twins' scoped-down state partitions: the
    // hash-spread demo drops touch every bucket anyway, so more buckets
    // would only buy small-file overhead here; production sizes nBuckets
    // to (table size / desired rewrite granularity) instead
    val target = StreamHarness.twin(spark, "stream_scratch", sfDir,
        Seq(Drop(drop1), Drop(drop2))) { t =>
      syncOnce(spark, drop1.schema, t.src("drops"), t.out, t.ckpt, "event_id", "ts",
        nBuckets = 4, maxFilesPerTrigger = Some(1))
    }
    spark.read.parquet(target)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  /** The two drops of [[streamUpsertEndstate]] and its manifest twin:
    * bounded, so the sync semantics (keys 6000-7999 overlap and must be
    * replaced) are identical at every SF, without rewriting the whole table
    * through the streaming sink at large SF.
    */
  private def upsertDrops(base: DataFrame): (DataFrame, DataFrame) =
    (base.where(col("event_id") < 8000)
      .withColumn("ts", to_timestamp(lit("2025-01-01 00:00:00"))),
     base.where(col("event_id") >= 6000 && col("event_id") < 20000)
      .withColumn("value", col("value") + 0.5)
      .withColumn("ts", to_timestamp(lit("2025-01-02 00:00:00"))))

  private def upsertBase(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** `stream_upsert_skew_endstate`: the sync under a pathological key
    * distribution — drop 2 is a re-delivery storm where ~90% of the rows
    * are VERSIONS OF ONE KEY (every source event_id not divisible by 10
    * collapses onto pk 6000, each with a distinct ts so every version
    * survives the stream's (pk, ts) dedup and the keep-latest reduction
    * has real work). This is the worst case for the sink's per-pk
    * reduction: the default `row_number` window would put ~90% of the
    * batch on one task, so this endstate drives [[keepLatest]]'s salted
    * two-phase argmax (`saltedKeepLatest = true`) and the oracle pins that
    * the skew-safe plan lands the exact same end state the per-key window
    * semantics define. The bucketed merge itself cannot hot-spot here:
    * after keep-latest the batch is one row per key, and bucket membership
    * is xxhash64(pk) — uniform regardless of the version skew.
    */
  def streamUpsertSkewEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    val base = upsertBase(spark, sfDir)
    val (drop1, _) = upsertDrops(base)
    // hot-key storm: collapse 9 of 10 keys onto 6000; ts encodes the source
    // event_id (epoch of 2025-01-02 00:00:00 UTC + event_id seconds) so
    // versions are distinct and the latest is well-defined
    val drop2 = base.where(col("event_id") >= 6000 && col("event_id") < 20000)
      .withColumn("ts", timestamp_seconds(lit(1735776000L) + col("event_id")))
      .withColumn("event_id",
        when(col("event_id") % 10 =!= 0, lit(6000L)).otherwise(col("event_id")))
      .withColumn("value", col("value") + 0.5)
    val target = StreamHarness.twin(spark, "stream_scratch_skew", sfDir,
        Seq(Drop(drop1), Drop(drop2))) { t =>
      syncOnce(spark, drop1.schema, t.src("drops"), t.out, t.ckpt, "event_id", "ts",
        nBuckets = 4, maxFilesPerTrigger = Some(1), saltedKeepLatest = true)
    }
    spark.read.parquet(target)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  /** `stream_upsert_manifest_endstate`: [[streamUpsertEndstate]] driven
    * through the MANIFEST commit protocol instead of the rename swap — the
    * same two drops, checkpoint lifecycle, and batch-merge oracle, proving
    * the object-store commit path lands the identical end state. The final
    * vacuum exercises garbage collection of the superseded first-drop data.
    */
  def streamUpsertManifestEndstate(spark: SparkSession, sfDir: String): DataFrame = {
    val (drop1, drop2) = upsertDrops(upsertBase(spark, sfDir))
    val target = StreamHarness.twin(spark, "stream_scratch_manifest", sfDir,
        Seq(Drop(drop1), Drop(drop2))) { t =>
      syncOnceManifest(spark, drop1.schema, t.src("drops"), t.out, t.ckpt, "event_id", "ts",
        nBuckets = 4, maxFilesPerTrigger = Some(1))
    }
    // GC the superseded commit dirs, then re-resolve: the vacuumed table
    // must still serve the committed tip
    val conf = spark.sparkContext.hadoopConfiguration
    ManifestStore.vacuum(target, conf)
    val tip = ManifestStore.readLatest(target, conf).get
    spark.read.parquet(tip.allPaths(target): _*)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  /** Oracle: identical to the batch `merge_upsert` query — the point. */
  private val upsertEndstateOracle =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, value FROM events),
      |target AS (SELECT * FROM base WHERE event_id < 8000),
      |source AS (
      |  SELECT event_id, user_id, event_type, value + 0.5 AS value
      |  FROM base WHERE event_id >= 6000 AND event_id < 20000)
      |SELECT t.* FROM target t
      |WHERE t.event_id NOT IN (SELECT event_id FROM source)
      |UNION ALL
      |SELECT * FROM source""".stripMargin

  /** Oracle for the skew endstate: per-key latest over the collapsed-key
    * storm, expressed with the WINDOW semantics (`row_number` by version) —
    * the salted two-phase plan must be indistinguishable in the result.
    * Version order in the oracle is the source event_id, which is exactly
    * the ts order the Spark side encodes (epoch + event_id seconds).
    */
  private val upsertSkewEndstateOracle =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, value FROM events),
      |target AS (SELECT * FROM base WHERE event_id < 8000),
      |src_raw AS (
      |  SELECT CASE WHEN event_id % 10 <> 0 THEN 6000 ELSE event_id END AS pk,
      |         event_id AS version, user_id, event_type, value + 0.5 AS value
      |  FROM base WHERE event_id >= 6000 AND event_id < 20000),
      |source AS (
      |  SELECT pk AS event_id, user_id, event_type, value
      |  FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY version DESC) AS rn
      |        FROM src_raw)
      |  WHERE rn = 1)
      |SELECT t.* FROM target t
      |WHERE t.event_id NOT IN (SELECT event_id FROM source)
      |UNION ALL
      |SELECT * FROM source""".stripMargin

  val oracles: Map[String, String] = Map(
    "stream_upsert_endstate" -> upsertEndstateOracle,
    // the commit protocol must be invisible in the result
    "stream_upsert_manifest_endstate" -> upsertEndstateOracle,
    // the salted keep-latest must be invisible in the result
    "stream_upsert_skew_endstate" -> upsertSkewEndstateOracle)
}
