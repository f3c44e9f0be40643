package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.types._
import graft.streaming.IncrementalSync

/** §2.10 incremental semantics over Structured Streaming: file drops →
  * watermark + dropDuplicates → foreachBatch upsert; late/duplicate rows
  * never duplicate the target (the reference's MERGE idempotence).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("v", StringType)))

  test("incremental sync upserts file drops idempotently") {
    val root = Files.createTempDirectory("graft_stream").toFile.getAbsolutePath
    val src = s"$root/in"
    val target = s"$root/target"
    val ck1 = s"$root/ck1"
    new java.io.File(src).mkdirs()

    def rows(rs: (Long, String, String)*) =
      rs.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }.toDF("id", "ts", "v")

    // the file source lists *.parquet at the root — deliver each batch's
    // part-files there with unique names
    var batchNo = 0
    def deliver(df: org.apache.spark.sql.DataFrame): Unit = {
      batchNo += 1
      val staging = s"$root/staging$batchNo"
      df.coalesce(1).write.parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .zipWithIndex
        .foreach { case (f, i) =>
          Files.move(f.toPath, new java.io.File(s"$src/b$batchNo-$i.parquet").toPath)
        }
    }

    // batch 1: two rows, one internal duplicate id
    deliver(rows((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-01 01:00:00", "b"),
      (2L, "2024-01-01 01:00:00", "b-dup")))
    val after1 = IncrementalSync.syncOnce(spark, schema, src, target, ck1, "id", "ts")
    assert(after1.count() == 2)

    // batch 2: overlapping re-delivery of id 2 (updated) + new id 3
    deliver(rows((2L, "2024-01-02 00:00:00", "b2"), (3L, "2024-01-02 01:00:00", "c")))
    val after2 = IncrementalSync.syncOnce(spark, schema, src, target, ck1, "id", "ts")
    val byId = after2.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.keySet == Set(1L, 2L, 3L))
    assert(byId(2L) == "b2") // source version won

    // replay everything with a FRESH checkpoint: upsert keeps it idempotent
    val after3 = IncrementalSync.syncOnce(spark, schema, src, target, s"$root/ck2", "id", "ts")
    assert(after3.count() == 3)
  }

  test("sync rewrites only the buckets a batch touches") {
    val root = Files.createTempDirectory("graft_stream_sel").toFile.getAbsolutePath
    val src = s"$root/in"
    val target = s"$root/target"
    new java.io.File(src).mkdirs()

    def rows(rs: (Long, String, String)*) =
      rs.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }.toDF("id", "ts", "v")
    var n = 0
    def deliver(df: org.apache.spark.sql.DataFrame): Unit = {
      n += 1
      val staging = s"$root/staging$n"
      df.coalesce(1).write.parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new java.io.File(s"$src/b$n.parquet").toPath))
    }
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(target).listFiles().filter(_.getName.startsWith("__part="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap

    // seed enough keys that all 8 buckets are populated
    deliver(rows((0L until 64L).map(i => (i, "2024-01-01 00:00:00", s"v$i")): _*))
    IncrementalSync.syncOnce(spark, schema, src, target, s"$root/ck1", "id", "ts", nBuckets = 8)
    val before = bucketFiles()
    assert(before.size == 8)

    // one-key update batch: exactly one bucket dir may change
    deliver(rows((7L, "2024-01-02 00:00:00", "v7-new")))
    IncrementalSync.syncOnce(spark, schema, src, target, s"$root/ck1", "id", "ts", nBuckets = 8)
    val after = bucketFiles()
    val changed = after.keySet.filter(k => before(k) != after(k))
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    // and the merged content is still right
    val byId = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.size == 64 && byId(7L) == "v7-new" && byId(6L) == "v6")
  }

  test("crash between move-aside and move-in loses no data (repair restores the bucket)") {
    val root = Files.createTempDirectory("graft_stream_crash").toFile.getAbsolutePath
    val src = s"$root/in"
    val target = s"$root/target"
    new java.io.File(src).mkdirs()

    def rows(rs: (Long, String, String)*) =
      rs.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }.toDF("id", "ts", "v")
    var n = 0
    def deliver(df: org.apache.spark.sql.DataFrame): Unit = {
      n += 1
      val staging = s"$root/staging$n"
      df.coalesce(1).write.parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new java.io.File(s"$src/b$n.parquet").toPath))
    }

    // seed all 4 buckets
    deliver(rows((0L until 32L).map(i => (i, "2024-01-01 00:00:00", s"v$i")): _*))
    IncrementalSync.syncOnce(spark, schema, src, target, s"$root/ck1", "id", "ts", nBuckets = 4)
    val parts = new java.io.File(target).listFiles()
      .map(_.getName).filter(_.startsWith("__part=")).sorted
    assert(parts.length == 4)

    // inject the crash state from IncrementalSync's swap: a bucket was moved
    // aside to <target>.old_<p> but the process died before the replacement
    // moved in — the live bucket dir is missing, its rows exist only aside
    val victim = parts.head.stripPrefix("__part=")
    val liveBucket = new java.io.File(s"$target/__part=$victim")
    val preCrashRows = spark.read.parquet(target).count()
    val bucketRows = spark.read.parquet(liveBucket.getAbsolutePath).count()
    assert(bucketRows > 0)
    Files.move(liveBucket.toPath, new java.io.File(s"$target.old_$victim").toPath)
    assert(!liveBucket.exists())

    // the uncommitted batch re-runs (fresh checkpoint = replay): without
    // repair, the merge would read the victim bucket as empty and rewrite it
    // from the batch's single key, losing every other pre-existing row in it
    deliver(rows((7L, "2024-01-02 00:00:00", "v7-new")))
    IncrementalSync.syncOnce(spark, schema, src, target, s"$root/ck2", "id", "ts", nBuckets = 4)

    val byId = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId.size == preCrashRows, s"rows lost: ${byId.size} of $preCrashRows survived")
    assert(byId(7L) == "v7-new")
    assert((0L until 32L).forall(i => i == 7L || byId(i) == s"v$i"))
    // repair consumed the aside dir
    assert(!new java.io.File(s"$target.old_$victim").exists())
  }

  test("repair drops a stale aside when the swap had completed; rename contract asserted") {
    val root = Files.createTempDirectory("graft_stream_stale").toFile
    val target = new java.io.File(root, "target")
    val bucket = new java.io.File(target, "__part=3")
    bucket.mkdirs()
    Files.write(new java.io.File(bucket, "f.parquet").toPath, Array[Byte](1))
    val stale = new java.io.File(root, "target.old_3")
    stale.mkdirs()
    Files.write(new java.io.File(stale, "old.parquet").toPath, Array[Byte](2))

    IncrementalSync.repairInterruptedSwap(target.getAbsolutePath)
    assert(!stale.exists()) // completed swap → stale aside removed
    assert(new java.io.File(bucket, "f.parquet").exists()) // live bucket untouched

    IncrementalSync.assertRenameCapable(target.getAbsolutePath)
    IncrementalSync.assertRenameCapable("hdfs://nn/warehouse/t")
    intercept[IllegalArgumentException] {
      IncrementalSync.assertRenameCapable("s3a://bucket/warehouse/t")
    }
  }

  test("manifest sync: identical end state; untouched buckets keep their commit dirs") {
    import graft.streaming.ManifestStore
    val root = Files.createTempDirectory("graft_manifest_sync").toFile.getAbsolutePath
    val src = s"$root/in"
    val target = s"$root/table"
    new java.io.File(src).mkdirs()
    val conf = spark.sparkContext.hadoopConfiguration

    def rows(rs: (Long, String, String)*) =
      rs.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }.toDF("id", "ts", "v")
    var n = 0
    def deliver(df: org.apache.spark.sql.DataFrame): Unit = {
      n += 1
      val staging = s"$root/staging$n"
      df.coalesce(1).write.parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new java.io.File(s"$src/b$n.parquet").toPath))
    }

    deliver(rows((0L until 64L).map(i => (i, "2024-01-01 00:00:00", s"v$i")): _*))
    IncrementalSync.syncOnceManifest(spark, schema, src, target, s"$root/ck1", "id", "ts", nBuckets = 8)
    val v0 = ManifestStore.readLatest(target, conf).get
    assert(v0.version == 0L && v0.buckets.size == 8)

    // one-key update: the new manifest re-points ONLY that key's bucket
    deliver(rows((7L, "2024-01-02 00:00:00", "v7-new")))
    val after = IncrementalSync.syncOnceManifest(
      spark, schema, src, target, s"$root/ck1", "id", "ts", nBuckets = 8)
    val v1 = ManifestStore.readLatest(target, conf).get
    assert(v1.version == 1L)
    val repointed = v1.buckets.filter { case (p, dir) => v0.buckets(p) != dir }
    assert(repointed.size == 1, s"expected 1 re-pointed bucket, got $repointed")

    val byId = after.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(byId.size == 64 && byId(7L) == "v7-new" && byId(6L) == "v6")
  }

  test("manifest commit: a crash before the manifest PUT is invisible; vacuum reclaims") {
    import graft.streaming.ManifestStore
    val root = Files.createTempDirectory("graft_manifest_crash").toFile.getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration

    def writeBucket(dir: String, rs: (Long, String)*): Unit =
      rs.toDF("id", "v").withColumn("__part", org.apache.spark.sql.functions.lit(0))
        .coalesce(1).write.parquet(s"$root/$dir")

    // committed v0
    val c0 = ManifestStore.newCommitDir()
    writeBucket(c0, 1L -> "a", 2L -> "b")
    ManifestStore.commit(root, Map(0 -> c0), None, conf)

    // crash injection: a full replacement for bucket 0 is written, but the
    // process dies before commit() — readers must keep resolving v0
    val orphan = ManifestStore.newCommitDir()
    writeBucket(orphan, 1L -> "a2", 2L -> "b2", 3L -> "c")
    val tipAfterCrash = ManifestStore.readLatest(root, conf).get
    assert(tipAfterCrash.version == 0L)
    val seen = spark.read.parquet(tipAfterCrash.allPaths(root): _*)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(seen == Map(1L -> "a", 2L -> "b"), s"uncommitted data leaked: $seen")

    // the replayed batch re-writes and THEN commits — now visible
    val c1 = ManifestStore.newCommitDir()
    writeBucket(c1, 1L -> "a2", 2L -> "b2", 3L -> "c")
    ManifestStore.commit(root, Map(0 -> c1), Some(tipAfterCrash), conf)
    val tip = ManifestStore.readLatest(root, conf).get
    assert(tip.version == 1L)

    // time travel: v0 stays resolvable (and serves the OLD data) as long
    // as vacuum hasn't reclaimed it
    val v0 = ManifestStore.readVersion(root, 0L, conf)
    val atV0 = spark.read.parquet(v0.allPaths(root): _*)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(atV0 == Map(1L -> "a", 2L -> "b"))

    // vacuum: the orphan and the superseded v0 data dir are reclaimed; the
    // tip still serves
    ManifestStore.vacuum(root, conf)
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName).toSet
    assert(dataDirs == Set(c1.split('/')(1)),
      s"vacuum left unreferenced dirs: $dataDirs")
    val after = spark.read.parquet(tip.allPaths(root): _*)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a2", 2L -> "b2", 3L -> "c"))
  }

  test("manifest racing committers: exactly one wins, loser fails cleanly, tip is the winner") {
    import graft.streaming.ManifestStore
    val conf = spark.sparkContext.hadoopConfiguration
    (1 to 20).foreach { trial =>
      val root = Files.createTempDirectory("graft_race").toFile.getAbsolutePath
      val base = Some(ManifestStore.commit(
        root, Map(0 -> "data/seed/__bucket=0"), None, conf))
      val latch = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val futures = (1 to 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, ManifestStore.Manifest]] {
          def call(): Either[Throwable, ManifestStore.Manifest] = {
            latch.await()
            try Right(ManifestStore.commit(root,
              Map(w -> s"data/w$w/__bucket=$w"), base, conf,
              ManifestStore.LocalLinkIfAbsent))
            catch { case t: Throwable => Left(t) }
          }
        })
      }
      latch.countDown()
      val outs = futures.map(_.get())
      pool.shutdown()
      val wins = outs.collect { case Right(m) => m }
      val losses = outs.collect { case Left(t) => t }
      assert(wins.size == 1, s"trial $trial: expected exactly one winner, got $outs")
      assert(losses.forall(_.isInstanceOf[ManifestStore.ConcurrentCommitException]),
        s"trial $trial: loser must fail with ConcurrentCommitException, got $losses")
      val tip = ManifestStore.readLatest(root, conf).get
      assert(tip.version == 1L && tip.buckets == wins.head.buckets,
        s"trial $trial: tip must be the winner's manifest")
      // no in-progress temp left behind by either side
      val leftovers = new java.io.File(s"$root/manifests").listFiles()
        .map(_.getName).filter(_.endsWith(".inprogress"))
      assert(leftovers.isEmpty, s"trial $trial: leaked temps $leftovers")
    }
  }

  test("object-store CreateIfAbsent: publishes when absent, loses the conditional PUT cleanly") {
    import graft.streaming.ManifestStore
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path, FSDataOutputStream}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft_condput").toFile.getAbsolutePath

    // happy path: two sequential commits publish v0 then v1; bytes resolve
    val m0 = ManifestStore.commit(root, Map(0 -> "data/c0/__bucket=0"), None,
      conf, ManifestStore.CreateIfAbsent)
    val m1 = ManifestStore.commit(root, Map(1 -> "data/c1/__bucket=1"), Some(m0),
      conf, ManifestStore.CreateIfAbsent)
    assert(m1.version == 1L && m1.buckets.keySet == Set(0, 1))
    assert(ManifestStore.readLatest(root, conf).get == m1)

    // stale-base commit: v1 already exists on the store — the no-overwrite
    // create must refuse and surface as ConcurrentCommitException
    intercept[ManifestStore.ConcurrentCommitException] {
      ManifestStore.commit(root, Map(2 -> "data/c2/__bucket=2"), Some(m0),
        conf, ManifestStore.CreateIfAbsent)
    }
    assert(ManifestStore.readLatest(root, conf).get == m1, "loser must not move the tip")

    // fault injection: a store whose conditional PUT loses AT THE STORE
    // even though no local exists-check would have caught it — models S3's
    // If-None-Match / GCS ifGenerationMatch(0) rejecting the slower
    // committer server-side
    val local = FileSystem.getLocal(conf)
    val losingFs = new FilterFileSystem(local) {
      override def create(p: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
          progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
        if (!overwrite && p.getName.startsWith("manifest-"))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"412 Precondition Failed (injected conditional-PUT loss): $p")
        else super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    val tmp = new Path(s"$root/manifests/.manifest-2.test.inprogress")
    val out = losingFs.create(tmp, true)
    try out.write("version=2\n".getBytes("UTF-8")) finally out.close()
    assert(!ManifestStore.CreateIfAbsent(losingFs, tmp, new Path(s"$root/manifests/manifest-2")),
      "a lost conditional PUT must report false, not throw")
    assert(!new java.io.File(s"$root/manifests/manifest-2").exists())
    // no in-progress temp leaked by the losing publish
    val leftovers = new java.io.File(s"$root/manifests").listFiles()
      .map(_.getName).filter(_.endsWith(".inprogress"))
    assert(leftovers.isEmpty, s"leaked temps: ${leftovers.toSeq}")
    assert(ManifestStore.readLatest(root, conf).get == m1)
  }

  test("racing committers through CreateIfAbsent: the STORE's conditional PUT decides") {
    // Same two-writer race as the LocalLinkIfAbsent property above, but
    // driven through the object-store publish path: a FilterFileSystem
    // whose create(overwrite = false) evaluates exists-or-create atomically
    // under a store-side lock — the minio/S3 If-None-Match model, where the
    // STORE (not a client check-then-act) rejects the slower committer.
    // Raw-local create(false) alone would be a TOCTOU window; the lock is
    // what the real store's precondition provides.
    import graft.streaming.ManifestStore
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path, FSDataOutputStream}
    val conf = spark.sparkContext.hadoopConfiguration
    val storeLock = new Object
    val atomicFs = new FilterFileSystem(FileSystem.getLocal(conf)) {
      override def create(p: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
          progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
        if (!overwrite) storeLock.synchronized {
          if (exists(p)) throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"412 Precondition Failed (store-side If-None-Match): $p")
          super.create(p, permission, true, bufferSize, replication, blockSize, progress)
        }
        else super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    val viaStore = new ManifestStore.CommitIfAbsent {
      def apply(f: FileSystem, tmp: Path, dest: Path): Boolean =
        ManifestStore.CreateIfAbsent(atomicFs, tmp, dest)
    }
    (1 to 20).foreach { trial =>
      val root = Files.createTempDirectory("graft_race_put").toFile.getAbsolutePath
      val base = Some(ManifestStore.commit(
        root, Map(0 -> "data/seed/__bucket=0"), None, conf, viaStore))
      val latch = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val futures = (1 to 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, ManifestStore.Manifest]] {
          def call(): Either[Throwable, ManifestStore.Manifest] = {
            latch.await()
            try Right(ManifestStore.commit(root,
              Map(w -> s"data/w$w/__bucket=$w"), base, conf, viaStore))
            catch { case t: Throwable => Left(t) }
          }
        })
      }
      latch.countDown()
      val outs = futures.map(_.get())
      pool.shutdown()
      val wins = outs.collect { case Right(m) => m }
      val losses = outs.collect { case Left(t) => t }
      assert(wins.size == 1, s"trial $trial: expected exactly one winner, got $outs")
      assert(losses.forall(_.isInstanceOf[ManifestStore.ConcurrentCommitException]),
        s"trial $trial: loser must fail with ConcurrentCommitException, got $losses")
      val tip = ManifestStore.readLatest(root, conf).get
      assert(tip.version == 1L && tip.buckets == wins.head.buckets,
        s"trial $trial: tip must be the winner's manifest")
      val leftovers = new java.io.File(s"$root/manifests").listFiles()
        .map(_.getName).filter(_.endsWith(".inprogress"))
      assert(leftovers.isEmpty, s"trial $trial: leaked temps ${leftovers.toSeq}")
    }
  }

  test("vacuum retention window keeps N versions resolvable (time travel contract)") {
    import graft.streaming.ManifestStore
    val root = Files.createTempDirectory("graft_retention").toFile.getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration
    def writeDir(rel: String): Unit = {
      val d = new java.io.File(s"$root/$rel"); d.mkdirs()
      Files.write(new java.io.File(d, "part-0.bin").toPath, Array[Byte](1, 2, 3))
    }
    val dirs = (0 to 2).map { v =>
      val c = ManifestStore.newCommitDir()
      writeDir(s"$c/__bucket=0")
      ManifestStore.commit(root, Map(0 -> s"$c/__bucket=0"),
        ManifestStore.readLatest(root, conf), conf)
      c.split('/')(1)
    }
    def dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName).toSet
    ManifestStore.vacuum(root, conf, keepVersions = 2)
    assert(dataDirs == Set(dirs(1), dirs(2)), s"keep=2 data: $dataDirs")
    // v1 and v2 stay resolvable; v0's manifest is gone
    assert(ManifestStore.readVersion(root, 1L, conf).buckets(0).contains(dirs(1)))
    assert(ManifestStore.readVersion(root, 2L, conf).buckets(0).contains(dirs(2)))
    intercept[Exception](ManifestStore.readVersion(root, 0L, conf))
    // default keep=1 then reclaims v1 (a shrinking window over a gap is fine)
    ManifestStore.vacuum(root, conf)
    assert(dataDirs == Set(dirs(2)), s"keep=1 data: $dataDirs")
    assert(ManifestStore.readLatest(root, conf).get.version == 2L)
  }

  test("graftobj filesystem: writes invisible until close; close IS the store's conditional PUT") {
    import graft.streaming.ObjectStoreFileSystem
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    val bucket = Files.createTempDirectory("graft_objfs").toFile.getAbsolutePath
    val conf = ObjectStoreFileSystem.configured(bucket)
    val obj = new Path("graftobj://store/a/b/o1")
    // two independent clients (disable.cache ⇒ separate FS instances), as
    // two processes would see the store
    val clientA = obj.getFileSystem(conf)
    val clientB = obj.getFileSystem(conf)
    assert(clientA ne clientB)

    // A starts a conditional PUT and writes bytes — nothing is visible
    val outA = clientA.create(obj, false)
    outA.write("from-A".getBytes("UTF-8"))
    intercept[java.io.FileNotFoundException](clientB.getFileStatus(obj))

    // B races the same key and completes FIRST — B's close materializes it
    val outB = clientB.create(obj, false)
    outB.write("from-B".getBytes("UTF-8"))
    outB.close()
    assert(clientA.getFileStatus(obj).getLen == 6L)

    // A's close is the losing PUT: the STORE rejects it (If-None-Match),
    // and the winner's bytes are untouched
    intercept[FileAlreadyExistsException](outA.close())
    val in = clientB.open(obj, 4096)
    val got = try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    assert(got == "from-B")
    // no half-written or temp objects visible under the prefix
    val names = clientA.listStatus(new Path("graftobj://store/a/b")).map(_.getPath.getName)
    assert(names.toSeq == Seq("o1"), s"store leaked internals: ${names.toSeq}")

    // rename exists for committers but is copy+delete, never atomic — the
    // commit protocol must not (and does not) rely on it
    val renamed = new Path("graftobj://store/a/b/o2")
    assert(clientA.rename(obj, renamed) && clientA.exists(renamed) && !clientA.exists(obj))
    intercept[IllegalArgumentException](
      IncrementalSync.assertRenameCapable("graftobj://store/a/b"))
  }

  test("manifest sync end-to-end on the object store; AutoIfAbsent picks the store's primitive") {
    import graft.streaming.{ManifestStore, ObjectStoreFileSystem}
    // the default publish resolves per scheme — object stores get the
    // conditional PUT, POSIX gets the hard link, HDFS keeps rename
    assert(ManifestStore.AutoIfAbsent.forScheme("graftobj") == ManifestStore.CreateIfAbsent)
    assert(ManifestStore.AutoIfAbsent.forScheme("s3a") == ManifestStore.CreateIfAbsent)
    assert(ManifestStore.AutoIfAbsent.forScheme("file") == ManifestStore.LocalLinkIfAbsent)
    assert(ManifestStore.AutoIfAbsent.forScheme("hdfs") == ManifestStore.RenameIfAbsent)

    val bucket = Files.createTempDirectory("graft_objsync").toFile.getAbsolutePath
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftobj.impl", classOf[ObjectStoreFileSystem].getName)
    hconf.set("fs.graftobj.root.dir", bucket)
    hconf.set("fs.graftobj.impl.disable.cache", "true")
    val target = "graftobj://store/warehouse/t"
    val local = Files.createTempDirectory("graft_objsync_local").toFile.getAbsolutePath
    val src = s"$local/in"
    new java.io.File(src).mkdirs()

    def rows(rs: (Long, String, String)*) =
      rs.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }.toDF("id", "ts", "v")
    var n = 0
    def deliver(df: org.apache.spark.sql.DataFrame): Unit = {
      n += 1
      val staging = s"$local/staging$n"
      df.coalesce(1).write.parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new java.io.File(s"$src/b$n.parquet").toPath))
    }

    // full sync — Spark writes the data files THROUGH the object-store FS
    // (copy+delete committer renames), the commit is the conditional PUT
    deliver(rows((0L until 32L).map(i => (i, "2024-01-01 00:00:00", s"v$i")): _*))
    IncrementalSync.syncOnceManifest(
      spark, schema, src, target, s"$local/ck", "id", "ts", nBuckets = 4)
    deliver(rows((7L, "2024-01-02 00:00:00", "v7-new")))
    val after = IncrementalSync.syncOnceManifest(
      spark, schema, src, target, s"$local/ck", "id", "ts", nBuckets = 4)
    val byId = after.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(byId.size == 32 && byId(7L) == "v7-new" && byId(6L) == "v6")
    val tip = ManifestStore.readLatest(target, hconf).get
    assert(tip.version == 1L && tip.buckets.size == 4)
    // a stale-base commit is refused BY THE STORE (AutoIfAbsent → CreateIfAbsent)
    intercept[ManifestStore.ConcurrentCommitException] {
      ManifestStore.commit(target, Map(0 -> "data/stale/__bucket=0"),
        Some(ManifestStore.readVersion(target, 0L, hconf)), hconf)
    }
    assert(ManifestStore.readLatest(target, hconf).get == tip)
  }

  test("cross-process manifest race: two JVMs' syncs, one winner, third-process reader resolves") {
    import graft.streaming.ManifestStore
    val bucket = Files.createTempDirectory("graft_xproc_store").toFile.getAbsolutePath
    val work = Files.createTempDirectory("graft_xproc_work").toFile.getAbsolutePath
    val barrier = s"$work/barrier"
    val target = "graftobj://store/race/t"
    def mkRows(ids: Range, v: String) =
      ids.map(i => (i.toLong, Timestamp.valueOf("2024-01-01 00:00:00"), v)).toDF("id", "ts", "v")
    def writeDrop(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val dir = s"$work/$name"
      df.coalesce(1).write.parquet(dir); dir
    }
    val srcA = writeDrop("srcA", mkRows(0 until 100, "a"))
    val srcB = writeDrop("srcB", mkRows(50 until 150, "b"))

    def fork(main: String, args: Seq[String], tag: String): (Process, java.io.File) = {
      val out = new java.io.File(work, s"$tag.log")
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
      val cmd = Seq(javaBin, "-Xmx2g") ++ opens ++
        Seq("-cp", System.getProperty("java.class.path"), main) ++ args
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    def logTail(f: java.io.File): String =
      scala.util.Try(new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .map(_.linesIterator.toSeq.takeRight(15).mkString("\n")).getOrElse("<no log>")

    // two committers, nothing shared but the store; the commit barrier
    // proves both reach the publish targeting the same version
    val (pA, logA) = fork("graft.streaming.RaceSyncMain",
      Seq(bucket, target, srcA, s"$work/ckA", barrier), "raceA")
    val (pB, logB) = fork("graft.streaming.RaceSyncMain",
      Seq(bucket, target, srcB, s"$work/ckB", barrier), "raceB")
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    def readyCount = Option(new java.io.File(barrier).listFiles())
      .fold(0)(_.count(_.getName.startsWith("ready-")))
    while (readyCount < 2 && System.nanoTime() < deadline) {
      assert(pA.isAlive || readyCount >= 1,
        s"committer A died before the barrier:\n${logTail(logA)}")
      assert(pB.isAlive || readyCount >= 1,
        s"committer B died before the barrier:\n${logTail(logB)}")
      Thread.sleep(100)
    }
    assert(readyCount == 2, s"barrier never reached: A:\n${logTail(logA)}\nB:\n${logTail(logB)}")
    Files.write(new java.io.File(barrier, "go").toPath, Array.emptyByteArray)
    assert(pA.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "A hung")
    assert(pB.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "B hung")
    val codes = Seq(pA.exitValue(), pB.exitValue())
    assert(codes.sorted == Seq(0, 17),
      s"expected one winner (0) and one clean loser (17), got $codes\n" +
        s"A:\n${logTail(logA)}\nB:\n${logTail(logB)}")

    // third process: resolve the tip with nothing but the store
    val (pR, logR) = fork("graft.streaming.RaceReadMain", Seq(bucket, target), "raceRead")
    assert(pR.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && pR.exitValue() == 0,
      s"reader failed:\n${logTail(logR)}")
    val line = new String(Files.readAllBytes(logR.toPath), "UTF-8").trim
    val fields = line.split(' ').map(_.split('=')).map(a => a(0) -> a(1).toLong).toMap
    assert(fields("version") == 0L && fields("buckets") > 0 && fields("files") > 0,
      s"reader resolved a bad tip: '$line'")

    // the tip's CONTENT is exactly the winner's drop — the loser's data
    // files are unreferenced orphans until vacuum reclaims them.
    // spark.read resolves graftobj:// against the SESSION's hadoop conf, so
    // point it at this test's bucket (not a side Configuration).
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftobj.impl",
      classOf[graft.streaming.ObjectStoreFileSystem].getName)
    hconf.set("fs.graftobj.root.dir", bucket)
    hconf.set("fs.graftobj.impl.disable.cache", "true")
    val tip = ManifestStore.readLatest(target, hconf).get
    val winner = if (codes.head == 0) "a" else "b"
    val rows = spark.read.parquet(tip.allPaths(target): _*)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    val expectedIds = if (winner == "a") (0L until 100L) else (50L until 150L)
    assert(rows.keySet == expectedIds.toSet && rows.values.toSet == Set(winner),
      s"tip content must be the winner's ($winner) drop; got ${rows.size} rows")
    val dataDirs = new org.apache.hadoop.fs.Path(s"$target/data")
    val fs = dataDirs.getFileSystem(hconf)
    assert(fs.listStatus(dataDirs).length == 2, "expected winner commit + loser orphan")
    ManifestStore.vacuum(target, hconf)
    assert(fs.listStatus(dataDirs).length == 1, "vacuum must reclaim the loser's orphan")
    assert(spark.read.parquet(ManifestStore.readLatest(target, hconf).get
      .allPaths(target): _*).count() == 100L)
  }

  test("stream-stream join pairs rows across runs from buffered state; late side drops") {
    import graft.streaming.StreamJoin
    val root = Files.createTempDirectory("graft_ssjoin").toFile.getAbsolutePath
    val (srcC, srcE) = (s"$root/c", s"$root/e")
    val outDir = s"$root/out"
    new java.io.File(srcC).mkdirs(); new java.io.File(srcE).mkdirs()
    def ts(s: String) = Timestamp.valueOf(s)
    def rows(rs: (Long, String, Long)*) =
      rs.map { case (id, t, u) => (id, ts(t), u) }.toDF("event_id", "ts", "user_id")
    var n = 0
    def deliver(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
      n += 1
      val staging = s"$root/staging$n"
      df.coalesce(1).write.parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new java.io.File(s"$dir/b$n.parquet").toPath))
    }
    val schema = rows().schema
    def runOnce(): Unit = {
      val q = StreamJoin.clickErrorAttribution(
        spark.readStream.schema(schema).parquet(srcC),
        spark.readStream.schema(schema).parquet(srcE))
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").format("parquet").option("path", outDir)
        .start()
      q.awaitTermination()
    }

    // run 1: one error at 10:00 (user 1), no clicks yet
    deliver(rows((100L, "2024-01-01 10:00:00", 1L)), srcE)
    deliver(rows(), srcC)
    runOnce()
    // run 2: a click at 10:30 must pair with run 1's BUFFERED error; a
    // click at 12:00 is outside the hour and must not
    deliver(rows((200L, "2024-01-01 10:30:00", 1L), (201L, "2024-01-01 12:00:00", 1L)), srcC)
    deliver(rows(), srcE)
    runOnce()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("error_id"))).toSet
    assert(got == Set(200L -> 100L), s"got $got")
  }

  test("streaming dedup suppresses a full cross-batch replay (one row per content)") {
    // drop 2 replays every drop-1 row: if dedup state were not persisted
    // across the two AvailableNow runs (restartPerDrop — the registered
    // query covers the same replay across MICRO-BATCHES of one run), the
    // even-half keys would appear twice
    val out = graft.streaming.StreamDedup
      .streamDedupEndstate(spark, sf, restartPerDrop = true).cache()
    try {
      val total = out.count()
      val hashes = out.select("content_hash").distinct().count()
      assert(total == hashes, s"replayed keys re-emitted: $total rows, $hashes distinct")
      val batchDistinct = graft.sources.Tables.events(spark, sf)
        .selectExpr("md5(concat_ws('|', event_type, props))").distinct().count()
      assert(total == batchDistinct,
        s"end state must equal batch DISTINCT: $total vs $batchDistinct")
    } finally out.unpersist()
  }

  test("stream-static enrich: end state equals the batch join, replay suppressed") {
    import org.apache.spark.sql.functions.col
    // restartPerDrop: drop 1's file survives in the source dir across a
    // query restart — only the CHECKPOINT's file log prevents the re-read
    val out = graft.streaming.StreamEnrich
      .streamEnrichEndstate(spark, sf, restartPerDrop = true).cache()
    try {
      val total = out.count()
      val ids = out.select("event_id").distinct().count()
      assert(total == ids,
        s"run 2 re-read drop 1's file despite the checkpoint: $total vs $ids distinct")
      val batch = graft.sources.Tables.events(spark, sf)
        .join(graft.sources.Tables.customer(spark, sf),
          col("user_id") === col("c_custkey")).count()
      assert(total == batch, s"end state must equal the batch join: $total vs $batch")
      // enrichment actually attached: no null segments
      assert(out.where(col("segment").isNull).count() == 0)
    } finally out.unpersist()
  }

  test("model-gated ingest filter: end state equals the batch score, replay suppressed") {
    import org.apache.spark.sql.functions.col
    // restartPerDrop: the frozen-model filter is stateless, so only the
    // CHECKPOINT's file log prevents drop 1's surviving file being re-read
    val out = graft.streaming.StreamModelFilter
      .streamModelFilterEndstate(spark, sf, restartPerDrop = true).cache()
    try {
      val total = out.count()
      val ids = out.select("doc_id").distinct().count()
      assert(total == ids,
        s"run 2 re-read drop 1's file despite the checkpoint: $total vs $ids distinct")
      // end state = batch score restricted to kept rows, value-identical
      val batch = graft.operators.TextAnalysis
        .qualityClassifierScore(graft.sources.Tables.documents(spark, sf))
        .where(col("kept"))
      assert(out.except(batch).isEmpty && batch.except(out).isEmpty,
        "stream end state must equal the batch classifier score of kept docs")
    } finally out.unpersist()
  }

  test("a stream twin restores the caller's confs: set or unset, also when its body throws") {
    import graft.streaming.{StreamDedup, StreamHarness}
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")
    // (explicitly set value, value a read returns) per key; `get` throws on
    // an unset key that is not a SQL conf (the Hadoop keys), `getOption` not
    def confs = keys.map(k => (spark.conf.getAll.get(k), spark.conf.getOption(k)))
    def unchangedBy(body: => Unit): Unit = {
      val before = confs
      body
      assert(confs == before, s"confs moved: $before -> $confs")
    }
    // StreamDedup runs both windows: the twin's and the no-data whitelist's
    def twinRun(): Unit = StreamDedup.streamDedupEndstate(spark, sf): Unit
    def twinThrows(): Unit = intercept[IllegalStateException] {
      StreamHarness.twin(spark, "conf_restore", sf, Seq.empty) { _ =>
        StreamHarness.withoutFinalNoDataBatch(spark)(throw new IllegalStateException("boom"))
      }
    }: Unit
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    try {
      // previously set, to values the scaffold overrides
      spark.conf.set(keys(0), "7")
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "true")
      spark.conf.set(keys(3), classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      spark.conf.set(keys(4), classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      spark.conf.set(keys(5), "false")
      unchangedBy(twinRun())
      unchangedBy(twinThrows())
      // previously unset
      keys.foreach(spark.conf.unset)
      assert(confs.forall(_._1.isEmpty))
      unchangedBy(twinRun())
      unchangedBy(twinThrows())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a stream twin forks no chmod or readlink") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.start()
      // the dedup twin, and the manifest twin, whose commits take a Hadoop
      // conf of their own
      graft.streaming.StreamDedup.streamDedupEndstate(spark, sf).count(): Unit
      IncrementalSync.streamUpsertManifestEndstate(spark, sf).count(): Unit
      rec.stop()
      rec.dump(jfr)
      val spawns = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command"))
      val shell = spawns.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      val forks = shell.size
      assert(forks == 0, s"chmod/readlink spawns, e.g. ${shell.take(3).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(jfr): Unit
    }
  }

  test("stream drift: end-state TV equals the batch parity-split computation") {
    import org.apache.spark.sql.functions._
    val out = graft.streaming.StreamDrift.streamDriftEndstate(spark, sf).cache()
    try {
      val docs = graft.sources.Tables.documents(spark, sf)
      assert(out.count() == docs.select("source").distinct().count(),
        "one drift row per source")
      // independent batch computation of the same statistic
      val bucket = (coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
        / graft.operators.Drift.BucketWidth).cast("long")
      val wide = docs
        .select(col("source"), (expr("doc_id div 20") % 2).as("day0"), bucket.as("bucket"))
        .groupBy("source", "bucket")
        .agg(sum(when(col("day0") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("day0") === 1, 1L).otherwise(0L)).as("c2"))
      val tot = wide.groupBy("source")
        .agg(sum("c1").as("n_day1"), sum("c2").as("n_day2"))
      val batch = wide.join(tot, Seq("source"))
        .withColumn("s1", when(col("n_day1") > 0,
          expr("(cast(c1 as decimal(38,0)) * 1000000) div n_day1")).otherwise(0L))
        .withColumn("s2", when(col("n_day2") > 0,
          expr("(cast(c2 as decimal(38,0)) * 1000000) div n_day2")).otherwise(0L))
        .groupBy(col("source"), col("n_day1"), col("n_day2"))
        .agg((sum(abs(col("s1") - col("s2"))) / 2).cast("long").as("tv_raw"))
        .select(col("source"), col("n_day1"), col("n_day2"),
          when(col("n_day1") === 0 || col("n_day2") === 0, lit(1000000L))
            .otherwise(col("tv_raw")).as("tv_day_ppm"))
      assert(out.except(batch).isEmpty && batch.except(out).isEmpty,
        "stream end state must equal the batch drift statistic")
      // range contract: TV ∈ [0, 10⁶]; a source with an empty day reads
      // exactly the 10⁶ sentinel. (No "low drift" heuristic: at sf0.001 a
      // source has ~3 docs per day, so a same-family split can still read
      // high — the equality-to-batch assert above is the real contract.)
      val range = out.agg(min("tv_day_ppm"), max("tv_day_ppm")).head()
      assert(range.getLong(0) >= 0L && range.getLong(1) <= 1000000L)
      assert(out.where((col("n_day1") === 0 || col("n_day2") === 0) &&
        col("tv_day_ppm") =!= 1000000L).count() == 0,
        "empty-day sources must read the sentinel")
    } finally out.unpersist()
  }

  test("salted keep-latest equals the per-key window on a 90%-one-key frame") {
    import org.apache.spark.sql.functions._
    // re-delivery storm: 900 versions of key 1, ten versions each of keys
    // 2..11 — ts distinct within a key (the stream's (pk, ts) dedup
    // contract), so argmax-by-ts has a unique winner
    val storm = spark.range(1000).select(
      when(col("id") < 900, lit(1L)).otherwise(col("id") % 10 + 2).as("id"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
      concat(lit("v"), col("id")).as("v"))
    val windowed = IncrementalSync.keepLatest(storm, "id", "ts", salted = false)
    val salted = IncrementalSync.keepLatest(storm, "id", "ts", salted = true)
    assert(salted.count() == windowed.count())
    assert(salted.exceptAll(windowed).isEmpty && windowed.exceptAll(salted).isEmpty,
      "salted two-phase argmax must be result-identical to the row_number window")
    // and the salted plan actually avoids the single-partition window: no
    // Window operator anywhere in its physical plan
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"salted path must not plan a window:\n$plan")
  }

  test("keep-latest routes agree off-contract: NULL and duplicate ts keys") {
    import org.apache.spark.sql.functions._
    // three contract violations in one frame: key 1 all-NULL ts (bare
    // max_by would emit an all-NULL struct on the salted route), key 2
    // mixed NULL/non-NULL ts (non-NULL must win on both routes), key 3
    // duplicate ts (tiebreak must be the same total order on both routes)
    val rows = Seq(
      (1L, None, "a1"), (1L, None, "b1"),
      (2L, None, "a2"), (2L, Some(1700000005L), "b2"),
      (3L, Some(1700000009L), "a3"), (3L, Some(1700000009L), "b3"))
    val df = spark.createDataFrame(rows).toDF("id", "sec", "v")
      .select(col("id"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    val windowed = IncrementalSync.keepLatest(df, "id", "ts", salted = false)
    val salted = IncrementalSync.keepLatest(df, "id", "ts", salted = true)
    val w = windowed.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val s = salted.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(w.size == 3 && s == w,
      s"routes diverge off-contract: windowed=$w salted=$s")
    // the all-NULL-ts key keeps a REAL row (the fingerprint-tiebreak max),
    // never a null-struct artifact; the mixed key keeps the non-NULL ts
    assert(s(2L) == "b2", "non-NULL ts must beat NULL ts")
    assert(Set("a1", "b1").contains(s(1L)) && Set("a3", "b3").contains(s(3L)),
      s"tied keys must keep a real input row: $s")
  }

  test("keep-latest accepts map-typed columns on both routes") {
    import org.apache.spark.sql.functions._
    // struct ordering rejects maps, so a raw-row tiebreak would fail at
    // analysis for any synced table carrying a map column (CDC payloads
    // routinely do); the fingerprint tiebreak hashes the map's JSON form
    val df = spark.createDataFrame(Seq(
        (1L, 1700000001L, "a"), (1L, 1700000002L, "b"),
        (2L, 1700000001L, "c")))
      .toDF("id", "sec", "v")
      .select(col("id"), timestamp_seconds(col("sec")).as("ts"),
        map(lit("k"), col("v")).as("payload"))
    val windowed = IncrementalSync.keepLatest(df, "id", "ts", salted = false)
    val salted = IncrementalSync.keepLatest(df, "id", "ts", salted = true)
    val w = windowed.collect().map(r => (r.getLong(0), r.getMap[String, String](2)("k"))).toMap
    val s = salted.collect().map(r => (r.getLong(0), r.getMap[String, String](2)("k"))).toMap
    assert(w == Map(1L -> "b", 2L -> "c"), s"windowed route wrong on maps: $w")
    assert(s == w, s"routes diverge on a map-typed frame: windowed=$w salted=$s")
  }
}
