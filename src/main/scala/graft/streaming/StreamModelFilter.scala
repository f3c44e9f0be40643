package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-gated ingest filtering — the streaming serving shape of the
  * hashed-feature quality classifier ([[graft.operators.TextAnalysis]]):
  * train ONCE offline on the static corpus, freeze the weight table into
  * the streaming plan as a constant, and score every arriving micro-batch
  * with a pure stateless projection, appending only the kept documents.
  * This is how a production corpus-quality filter actually deploys: the
  * model is versioned and frozen (scoring must be reproducible per model
  * generation — retraining inside the stream would make acceptance
  * drift with arrival order), and the filter itself is stateless, so
  * throughput is bounded by the scan, not by any state store.
  *
  * Scale: the frozen model is D longs folded into the plan (D = 1024
  * registered, 2^18 in production — a 2 MB literal), each micro-batch
  * plans scan → project → filter with zero exchanges and zero streaming
  * state; file-level exactly-once comes from the source's checkpoint
  * bookkeeping, which the two-drop harness exercises.
  */
object StreamModelFilter {

  /** `stream_model_filter_endstate`: two-drop end-to-end demo — the even
    * half of documents, then the odd half, each its own micro-batch
    * (`maxFilesPerTrigger=1`) in one AvailableNow run on one checkpoint.
    * The appended end state must equal the BATCH classifier score of the
    * full corpus restricted to kept rows — which is the DuckDB oracle
    * (same fixed-point arithmetic, so the match is bit-exact).
    */
  def streamModelFilterEndstate(spark: SparkSession, sfDir: String,
      restartPerDrop: Boolean = false): DataFrame = {
    import graft.sources.Tables
    import StreamHarness.Drop
    val documents = Tables.documents(spark, sfDir)
    // offline training pass: the weight table + threshold freeze here,
    // BEFORE the stream starts — drops never touch the model
    val scorer = graft.operators.TextAnalysis.qualityClassifierScorer(documents)
    val drops = Seq(
      Drop(documents.where(pmod(col("doc_id"), lit(2)) === 0)),
      Drop(documents.where(pmod(col("doc_id"), lit(2)) === 1)))
    val out = StreamHarness.twin(spark, "stream_model_filter", sfDir, drops,
        restartPerDrop) { t =>
      t.runAppend(scorer(t.stream(documents.schema)).where(col("kept")))
    }
    spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score_ppm"),
        col("threshold_ppm"), col("kept"), col("is_holdout"))
  }

  val oracles: Map[String, String] = Map(
    // the end state must equal the batch score of the whole corpus
    // restricted to kept rows — the stream's two drops cover the corpus
    // exactly once, and the frozen model makes scoring order-independent
    "stream_model_filter_endstate" ->
      s"""WITH ${graft.operators.TextAnalysis.clfScoredCtes}
         |SELECT doc_id, lang, n_tokens, score_ppm, threshold_ppm, kept,
         |       is_holdout
         |FROM clf_scored WHERE kept""".stripMargin
  )
}
