package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Workload membership evidence: which input tables each registered query
  * reads, over the plan it returns and every plan it executes while it is
  * built (eager driver loops: BPE merges, k-means, clustering rounds), through
  * cached relations and subqueries.
  */
object Membership {
  private def tables(plan: LogicalPlan): Seq[String] = plan.collectWithSubqueries {
    case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
      h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    case m: InMemoryRelation => tables(m.cacheBuilder.logicalPlan)
  }.flatten

  def run(spark: SparkSession, input: String): Map[String, Any] = {
    val executed = mutable.Set[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executed.synchronized(executed ++= tables(qe.analyzed))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val inputs = new java.io.File(input).list().map(_.stripSuffix(".parquet")).toSet
    val result = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
      executed.synchronized(executed.clear())
      val row = try {
        val plan = Engine.construct(spark, input, q).queryExecution.analyzed
        Bus.drain(spark.sparkContext)
        val read = executed.synchronized(executed.toSet) ++ tables(plan)
        Map("tables" -> read.intersect(inputs).toSeq.sorted)
      } catch {
        case e: Exception => Map("error" -> String.valueOf(e.getMessage).take(300))
      }
      spark.catalog.clearCache()
      q -> row
    }.toMap
    Map("membership" -> result)
  }
}
