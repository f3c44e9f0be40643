package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session construction and the two public entry points the benchmark
  * times: `SparkEntry.queries(name)(spark, dir)` (construction) and a
  * `noop` write (the action that materializes every column and collects
  * nothing to the driver).
  */
object Engine {

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as the `currentTimeMillis` stamps Spark puts on its
    * events, so harness and listener intervals can be intersected.
    */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** The session every workload runs on: local[cores], the engine's own
    * input-proportional shuffle sizing, auto staging, TopK installed, and
    * every scratch path inside `work`.
    */
  def session(inputDir: String, cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        graft.Tuning.adaptiveShufflePartitions(inputDir, cores).toLong)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        graft.Tuning.advisoryPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratch", s"$work/scratch")
      .config("spark.graft.staging", "auto")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopK.installAll(spark)
    spark
  }

  /** JVM and scheduler warm-up, part of set-up and independent of the
    * input: one small job and a parquet round trip through the work dir.
    */
  def warmUp(spark: SparkSession, work: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val path = s"$work/warmup.parquet"
    spark.range(1000L).selectExpr("id", "cast(id as string) as s")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).selectExpr("count(s)").collect()
  }

  def construct(spark: SparkSession, inputDir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, inputDir)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), value)
  }

  def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "" }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
