package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: ad-hoc micro-timings for plan investigation (not part of the
  * library surface; keeps experiments out of the operators).
  *
  * Current experiment (round 11): WHERE does the marts' large-scale cpu
  * knee come from? Interleaved A/B of shuffle-partition counts within ONE
  * JVM (separate bench processes confound the comparison with host drift),
  * instrumented with task-level metrics — spill bytes, GC time, peak
  * execution memory — so the attribution is the measured mechanism, not
  * the plausible one.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.Probe [parts1,parts2,...]
  */
object Probe {

  /** Aggregates task metrics between marks (driver-side listener — local
    * mode delivers every TaskEnd to the driver bus).
    */
  private final class MetricsProbe extends org.apache.spark.scheduler.SparkListener {
    var memSpill, diskSpill, gcMs, shuffleWrite, peakExec, tasks = 0L
    // per-stage spill attribution: stageId -> (spill bytes, tasks)
    val stageSpill = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    // per-stage cpu attribution: stageId -> (executor cpu ns, run ms, tasks)
    val stageCpu = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]
    val stageNames = scala.collection.mutable.Map.empty[Int, String]
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      synchronized {
        // the RDD operation scopes name the physical operators the stage
        // executes (Scan/Exchange/WholeStageCodegen spans); the plan-detail
        // first line is just the collect() call site
        val scopes = s.stageInfo.rddInfos.flatMap(r => r.scope.map(_.name))
          .distinct.mkString("|").take(110)
        stageNames(s.stageInfo.stageId) =
          if (scopes.nonEmpty) scopes
          else s.stageInfo.details.linesIterator.take(1).mkString.take(110)
      }
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        peakExec = math.max(peakExec, m.peakExecutionMemory)
        tasks += 1
        val (s0, n0) = stageSpill.getOrElse(t.stageId, (0L, 0L))
        stageSpill(t.stageId) = (s0 + m.memoryBytesSpilled, n0 + 1)
        val (c0, r0, t0) = stageCpu.getOrElse(t.stageId, (0L, 0L, 0L))
        stageCpu(t.stageId) = (c0 + m.executorCpuTime, r0 + m.executorRunTime, t0 + 1)
      }
    }
    def reset(): Unit = synchronized {
      memSpill = 0; diskSpill = 0; gcMs = 0; shuffleWrite = 0; peakExec = 0; tasks = 0
      stageSpill.clear(); stageCpu.clear(); stageNames.clear()
    }
    def report: String = synchronized {
      f"spillMem=${memSpill / 1e9}%.1fGB spillDisk=${diskSpill / 1e9}%.1fGB " +
        f"gc=${gcMs / 1e3}%.1fs shufWrite=${shuffleWrite / 1e9}%.2fGB " +
        f"peakTaskExecMem=${peakExec / 1e6}%.0fMB tasks=$tasks"
    }
    def spillStages: String = synchronized {
      stageSpill.toSeq.filter(_._2._1 > 0).sortBy(-_._2._1).take(5).map {
        case (id, (sp, n)) =>
          f"\n[probe]   stage $id spill=${sp / 1e9}%.1fGB tasks=$n ${stageNames.getOrElse(id, "?")}"
      }.mkString
    }
    def cpuStages: String = synchronized {
      stageCpu.toSeq.sortBy(-_._2._1).take(8).map {
        case (id, (cpuNs, runMs, n)) =>
          f"\n[probe]   stage $id cpu=${cpuNs / 1e9}%.0fs run=${runMs / 1e3}%.0fs " +
            f"tasks=$n ${stageNames.getOrElse(id, "?")}"
      }.mkString
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT/codegen warmup

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val probe = new MetricsProbe
    spark.sparkContext.addSparkListener(probe)

    def time(name: String, iters: Int = 2)(f: => Any): Unit = (1 to iters).foreach { i =>
      probe.reset()
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val r = f
      // capture the clocks BEFORE the listener-bus drain sleep, or every
      // reported wall/cpu figure is inflated by the 0.3 s pause
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      // listener bus drains asynchronously; give TaskEnd events a beat
      Thread.sleep(300)
      println(f"[probe] $name run$i: $wall%.2f s " +
        f"cpu $cpu%.1f s  ${probe.report} ($r)" +
        probe.spillStages + probe.cpuStages)
    }

    // dump registry query schemas (dev aid for digest-column selection)
    sys.env.get("SPARK_GRAFT_PROBE_SCHEMAS").foreach { names =>
      names.split(",").foreach { n =>
        val df = SparkEntry.queries(n.trim)(spark, sfDir)
        println(s"[schema] $n :: " + df.schema.map(f =>
          s"${f.name}:${f.dataType.simpleString}").mkString(", "))
      }
      spark.stop(); return
    }

    // generic isolating diagnostic (round 12, used for the x1000 scale
    // points): run the named registry queries in THIS fresh JVM under the
    // bench's session shape (adaptive shuffle partitions, TopK strategies,
    // auto staging, tmpfs scratch), 1 cold + 3 warm each, with cpu and
    // task-metrics alongside wall — the same methodology as the r11 x300
    // text diagnostics, so slope rows are comparable across rounds.
    // per-micro-batch attribution (round 18, stream-lane forensics): a
    // session-wide StreamingQueryListener prints every progress event's
    // durationMs breakdown (triggerExecution, latestOffset, getBatch,
    // queryPlanning, walCommit, commitOffsets, addBatch) and state-store
    // commit times — the engine's own attribution of where a micro-batch
    // lifecycle spends its wall, with no twin-code changes.
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROGRESS"))
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          println(s"[sq] started ${e.id}")
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val dur = p.durationMs
          val state = Option(p.stateOperators).toSeq.flatten.map { s =>
            s"rows=${s.numRowsTotal} commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}"
          }.mkString(" | ")
          println(s"[sq] batch=${p.batchId} inRows=${p.numInputRows} " +
            s"dur=$dur state{$state}")
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          println(s"[sq] terminated ${e.id}")
      })
    sys.env.get("SPARK_GRAFT_PROBE_QUERIES").foreach { names =>
      graft.plans.TopK.installAll(spark)
      // tmpfs scratch by default (the bench's choice); SPARK_GRAFT_SCRATCH
      // overrides — at x1000 a staged DAG build can outgrow /dev/shm
      val scratch = sys.env.get("SPARK_GRAFT_SCRATCH")
        .orElse(if (new java.io.File("/dev/shm").canWrite)
          Some("/dev/shm/graft_probe") else None)
      scratch.foreach(spark.conf.set("spark.graft.scratch", _))
      spark.conf.set("spark.graft.staging",
        sys.env.getOrElse("SPARK_GRAFT_STAGING", "auto"))
      val warmIters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "3").toInt
      // multiple dirs (SPARK_GRAFT_PROBE_DIRS) interleave scale points
      // within ONE JVM — cross-process host drift cannot land on one scale
      val dirs = sys.env.get("SPARK_GRAFT_PROBE_DIRS")
        .map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq(sfDir))
      val partsOf = dirs.map(d => d -> Tuning.adaptiveShufflePartitions(d, 32)).toMap
      // optional conf sweep ("key=v1,v2,..."): each value interleaved per
      // iteration, same-JVM, for A/Bing a runtime-settable session knob
      val sweep = sys.env.get("SPARK_GRAFT_PROBE_SWEEP").map { s =>
        val Array(k, vs) = s.split("=", 2); k -> vs.split(",").toSeq
      }
      println(s"[probe] queries mode: dirs=$dirs partitions=$partsOf sweep=$sweep")
      def runOnce(n: String, d: String, tag: String): Unit = {
        spark.conf.set("spark.sql.shuffle.partitions", partsOf(d))
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          Tuning.advisoryPartitionBytes)
        val confs = sweep match {
          case Some((k, vs)) => vs.map(v => Some((k, v)))
          case None => Seq(None)
        }
        confs.foreach { c =>
          c.foreach { case (k, v) => spark.conf.set(k, v) }
          val ctag = c.map { case (_, v) => s"-$v" }.getOrElse("")
          // action choice (SPARK_GRAFT_PROBE_ACTION): `count` is the
          // historical default and matches Bench's .count() — comparable
          // with every recorded row, but Catalyst prunes columns the count
          // doesn't need, so for left-join-to-grid / window-only outputs it
          // can time a fraction of the real work (corpus_vocab_growth read
          // FLAT x1→x100 under count while the checksum action showed 12×).
          // `checksum` hashes every output column — nothing prunable — and
          // is the honest action for slope claims. The value is returned
          // (time() prints it) so two plan variants probed in one session
          // can be checked row-identical, not just co-timed.
          val action: org.apache.spark.sql.DataFrame => Any =
            sys.env.getOrElse("SPARK_GRAFT_PROBE_ACTION", "count") match {
              case "checksum" => df => df.select(
                  (xxhash64(df.columns.map(col): _*) % 1000003L).as("h"))
                .agg(sum("h")).collect()(0).get(0)
              case _ => df => df.agg(count(lit(1))).collect()(0).get(0)
            }
          time(s"$n@$tag$ctag", iters = 1)(action(SparkEntry.queries(n)(spark, d)))
        }
      }
      names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        for (d <- dirs) runOnce(n, d, s"${new java.io.File(d).getName}-cold")
        (1 to warmIters).foreach { i =>
          for (d <- dirs) runOnce(n, d, s"${new java.io.File(d).getName}-warm$i")
        }
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }

    // marts knee attribution: the three marts the x300 sweep flagged, each
    // run at every candidate partition count, interleaved so host drift
    // lands evenly across configs
    // map-side hypothesis knob: smaller scan splits -> smaller partial-agg
    // hash tables. Runtime-settable; applies to plans built after the set.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .foreach(v => spark.conf.set("spark.sql.files.maxPartitionBytes", v))
    val partCounts = args.headOption.map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(32, Tuning.adaptiveShufflePartitions(sfDir, 32)))
    val marts = Seq("fct_reviewer_activity", "fct_stock_prices", "fct_sector_performance")
    for (name <- marts; parts <- partCounts) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      time(s"$name-p$parts")(
        SparkEntry.queries(name)(spark, sfDir).agg(count(lit(1))).collect()(0))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
