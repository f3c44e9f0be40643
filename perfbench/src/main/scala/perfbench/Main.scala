package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. One process per mode, launched by `perfbench/run.py`:
  *
  *   setup      <input> <work> <cores> <out.json> [<graft.ScaleGen args>...]
  *   cold       <input> <work> <cores> <out.json> <q1,q2,...>
  *   run        <input> <work> <cores> <out.json> <seconds> <trace> <q1,q2,...>
  *   membership <input> <work> <cores> <out.json>
  *
  * `setup` builds and warms a session and reports when the first query
  * could have run; given `graft.ScaleGen` arguments it then generates a
  * replica input with that session (timed apart). `cold` times one pass
  * over a workload's queries in the fresh session and exits. `run` times a
  * workload's queries from one client thread in a closed loop: a cold pass,
  * an untimed check pass that writes every result, warm passes until
  * `seconds` have elapsed (at least four), and a second check pass.
  * With `trace` = 1 the Tracer listeners are attached and warm passes
  * interleave traced and untraced ones. `membership` constructs every
  * registered query once and reports which input tables its plans read.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val (mode, input, work, cores, out) = (args(0), args(1), args(2), args(3).toInt, args(4))
    val spark = Engine.session(input, cores, work)
    Engine.warmUp(spark, work)
    val ready = Engine.nowMs()
    val common = Map("ready_ms" -> ready,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "spark_version" -> spark.version, "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val result = mode match {
      case "setup" if args.length > 5 =>
        val t0 = Engine.nowMs()
        graft.ScaleGen.main(args.drop(5)) // stops the session when done
        Map("scalegen_s" -> (Engine.nowMs() - t0) / 1e3)
      case "setup" => Map.empty[String, Any]
      case "cold" => new Runner(spark, input, work, cores).cold(args(5).split(",").toSeq)
      case "run" => new Runner(spark, input, work, cores).run(
        args(5).toDouble, args(6) == "1", args(7).split(",").toSeq)
      case "membership" => Membership.run(spark, input)
    }
    Engine.writeJson(out, common ++ result)
    // everything is on disk: exit without the session's shutdown work,
    // whose scratch lives in `work`, which the caller removes
    Runtime.getRuntime.halt(0)
  }
}

/** One timed query invocation; times are epoch ms (see Engine.nowMs). */
case class Invocation(inv: Int, pass: Int, kind: String, traced: Boolean, query: String,
    start: Double, constructed: Double, end: Double, cpuS: Double,
    analysisMs: Double, codegenNs: Long, codegenActionNs: Long, codegenClasses: Long,
    error: Option[String]) {
  def toJson: Map[String, Any] = Map("inv" -> inv, "pass" -> pass, "kind" -> kind,
    "traced" -> traced, "query" -> query, "start" -> start, "constructed" -> constructed,
    "end" -> end, "cpu_s" -> cpuS, "analysis_ms" -> analysisMs, "codegen_ns" -> codegenNs,
    "codegen_action_ns" -> codegenActionNs, "codegen_classes" -> codegenClasses,
    "error" -> error.orNull)
}

class Runner(spark: SparkSession, input: String, work: String, cores: Int) {
  private val storage = new StorageMeter
  spark.sparkContext.addSparkListener(storage)
  private var tracer: Option[Tracer] = None
  private val invocations = mutable.ArrayBuffer[Invocation]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private val sc = spark.sparkContext

  private def invoke(pass: Int, kind: String, traced: Boolean, q: String)(
      action: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val inv = invocations.size
    sc.setLocalProperty(Tags.Inv, inv.toString)
    sc.setLocalProperty(Tags.Phase, "construct")
    val (cg0, cl0) = tracer.map(_.codegen()).getOrElse((0L, 0L))
    val cpu0 = Engine.cpuSeconds()
    val t0 = Engine.nowMs()
    var t1 = t0
    var cgAction = 0L
    var analysis = 0.0
    val error = try {
      val df = Engine.construct(spark, input, q)
      t1 = Engine.nowMs()
      // Catalyst analysis of the returned plan runs inside construction
      analysis = df.queryExecution.tracker.phases.get("analysis")
        .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L).toDouble
      cgAction = tracer.map(_.codegen()._1).getOrElse(0L)
      sc.setLocalProperty(Tags.Phase, "action")
      action(df)
      None
    } catch {
      case NonFatal(e) =>
        Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
    }
    val t2 = Engine.nowMs()
    if (t1 == t0 && error.nonEmpty) t1 = t2
    val (cg1, cl1) = tracer.map(_.codegen()).getOrElse((0L, 0L))
    if (cgAction == 0L) cgAction = cg1
    invocations += Invocation(inv, pass, kind, traced, q, t0, t1, t2,
      Engine.cpuSeconds() - cpu0, analysis, cg1 - cg0, cg1 - cgAction, cl1 - cl0, error)
    error.foreach(e => System.err.println(s"[perfbench] $q ($kind) failed: $e"))
    sc.setLocalProperty(Tags.Inv, null)
    sc.setLocalProperty(Tags.Phase, null)
  }

  private def pass(kind: String, traced: Boolean, queries: Seq[String])(
      action: (String, org.apache.spark.sql.DataFrame) => Unit): Double = {
    val index = passes.size
    tracer.foreach { t =>
      Bus.drain(sc)
      t.enabled = traced
    }
    val load0 = Engine.loadAvg()
    val cpu0 = Engine.cpuSeconds()
    val t0 = Engine.nowMs()
    queries.foreach(q => invoke(index, kind, traced, q)(df => action(q, df)))
    val t1 = Engine.nowMs()
    passes += Map("pass" -> index, "kind" -> kind, "traced" -> traced,
      "start" -> t0, "end" -> t1, "wall_s" -> (t1 - t0) / 1e3,
      "cpu_s" -> (Engine.cpuSeconds() - cpu0),
      "loadavg_start" -> load0, "loadavg_end" -> Engine.loadAvg())
    (t1 - t0) / 1e3
  }

  private def write(dir: String)(q: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$work/$dir/$q")

  def cold(queries: Seq[String]): Map[String, Any] = {
    pass("cold", false, queries)((_, df) => Engine.noop(df))
    Map("invocations" -> invocations.toSeq.map(_.toJson), "passes" -> passes.toSeq)
  }

  def run(seconds: Double, trace: Boolean, queries: Seq[String]): Map[String, Any] = {
    if (trace) {
      val t = new Tracer(spark)
      t.attach()
      tracer = Some(t)
    }
    pass("cold", trace, queries)((_, df) => Engine.noop(df))
    pass("check_a", false, queries)(write("check_a"))
    // closed loop: whole passes until the window is spent, and at least
    // four: per-pass CPU still falls over the first passes after the cold
    // one (JIT compilation of the engine and of generated classes), and the
    // median of four leaves the first out; a traced run interleaves
    // untraced and traced passes (U T T U ...) so the overhead is measured
    // inside one process
    val t0 = Engine.nowMs()
    var n = 0
    def more = (Engine.nowMs() - t0) / 1e3 < seconds || n < 4
    while (more) {
      pass("warm", trace && (n % 4 == 1 || n % 4 == 2), queries)((_, df) => Engine.noop(df))
      n += 1
    }
    pass("check_b", false, queries)(write("check_b"))
    val oracle = queries.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap
    Bus.drain(sc)
    val fills = storage.snapshotFills().map { case (rdd, (inv, bytes)) =>
      Map("rdd" -> rdd, "inv" -> inv, "bytes" -> bytes) }.toSeq
    Map("invocations" -> invocations.toSeq.map(_.toJson), "passes" -> passes.toSeq,
      "peak_storage_bytes" -> storage.peakBytes, "rdd_fills" -> fills,
      "oracle_sql" -> oracle, "peak_rss_mb" -> Engine.peakRssMb(),
      "trace" -> tracer.map(t => Spans.dump(t, invocations.toSeq)).orNull)
  }
}
