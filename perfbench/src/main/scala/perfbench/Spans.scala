package perfbench

/** The traced run's spans, written out when the run ends. Every span
  * carries the invocation id: jobs, stages and micro-batch jobs get it from
  * the local properties Spark copied onto them; SQL executions and
  * micro-batch progress reports get it from the invocation whose window
  * holds their start.
  */
object Spans {
  def dump(t: Tracer, invocations: Seq[Invocation]): Map[String, Any] = t.synchronized {
    def invAt(ms: Double): Int =
      invocations.find(i => i.start <= ms && ms <= i.end + 1).map(_.inv).getOrElse(-1)
    Map(
      "jobs" -> t.jobs.values.toSeq.map(j => Map("inv" -> j.inv, "phase" -> j.phase,
        "job" -> j.id, "start" -> j.start, "end" -> j.end, "sql_exec" -> j.sqlExec,
        "stages" -> j.stageIds)),
      "stages" -> t.stages.values.toSeq.map(s => Map("inv" -> s.inv, "phase" -> s.phase,
        "stage" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
        "submitted" -> s.submitted, "first_launch" -> s.firstLaunch,
        "completed" -> s.completed, "tasks" -> s.tasks, "tasks_failed" -> s.tasksFailed,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "read_bytes" -> s.readBytes, "read_rows" -> s.readRows,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes)),
      "sql_executions" -> t.sqlExecs.toSeq.map { case (id, (s, e)) =>
        Map("inv" -> invAt(s.toDouble), "sql_exec" -> id, "start" -> s, "end" -> e) },
      "sqls" -> t.sqls.toSeq.map { q =>
        val start =
          if (q.phases.isEmpty) q.endMs - q.durationMs
          else q.phases.values.map(_._1).min.toDouble
        Map("inv" -> invAt(start), "func" -> q.funcName, "start" -> start,
          "duration_ms" -> q.durationMs,
          "phases" -> q.phases.map { case (k, (s, e)) => k -> Seq(s, e) },
          "topk_nodes" -> q.topkNodes, "cache_scan_rdds" -> q.cacheScanRdds)
      },
      "batches" -> t.batches.toSeq.map(b => Map("inv" -> invAt(b.startMs.toDouble),
        "run_id" -> b.runId, "batch" -> b.batchId, "start" -> b.startMs,
        "duration_ms" -> b.durations, "input_rows" -> b.inputRows,
        "state_rows" -> b.stateRows, "state_commit_ms" -> b.stateCommitMs)))
  }
}
