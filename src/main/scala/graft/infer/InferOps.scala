package graft.infer

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Bridges [[InferenceClient]] into DataFrame plans.
  *
  * `mapPartitions` with explicit batching (not a per-row UDF): one client per
  * partition-task, `batchSize` prompts per transport call — the Spark
  * equivalent of the reference's Module/Neuron gevent fan-out with a
  * semaphore-capped connection pool (SURVEY.md D10). Partition width (set by
  * the caller via `repartition`) IS the concurrency cap: 1000 executors →
  * 1000 concurrent client instances, each batching — no driver-side loop,
  * no collect.
  */
object InferOps {

  /** Cost accounting for inference traffic (the reference's token-usage
    * history, SURVEY.md A11/D9) as Spark accumulators: aggregated across all
    * executors, visible in the UI and after the job on the driver. */
  final case class TokenMetrics(
      calls: LongAccumulator,
      promptTokens: LongAccumulator,
      completionTokens: LongAccumulator)

  object TokenMetrics {
    def apply(spark: SparkSession): TokenMetrics = {
      val sc = spark.sparkContext
      TokenMetrics(
        sc.longAccumulator("graft.infer.calls"),
        sc.longAccumulator("graft.infer.promptTokens"),
        sc.longAccumulator("graft.infer.completionTokens"))
    }
  }

  /** Prompts per `completeBatch` transport call. */
  val BatchSize = 16

  /** Append `outCol` = client.complete(row[promptCol]) to every row. */
  def complete(
      df: DataFrame,
      promptCol: String,
      outCol: String,
      client: InferenceClient,
      batchSize: Int = BatchSize,
      metrics: Option[TokenMetrics] = None): DataFrame = {
    val schema    = df.schema
    val promptIdx = schema.fieldIndex(promptCol)
    val outSchema = StructType(schema.fields :+ StructField(outCol, StringType))
    val enc       = Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val prompts = batch.map(_.getString(promptIdx))
        val replies = client.completeBatch(prompts)
        metrics.foreach { m =>
          m.calls.add(prompts.length.toLong)
          m.promptTokens.add(prompts.map(TextFunctions.estimateTokens(_).toLong).sum)
          m.completionTokens.add(replies.map(TextFunctions.estimateTokens(_).toLong).sum)
        }
        batch.lazyZip(replies).map((r, o) => Row.fromSeq(r.toSeq :+ o))
      }
    }(enc)
  }

  /** Register `client.complete` as the non-deterministic SQL UDF
    * `graft_infer` — the Catalyst-visible inference edge that
    * [[graft.plans.PushFilterBelowInference]] optimizes around. */
  def registerUdf(
      spark: SparkSession,
      client: InferenceClient,
      metrics: Option[TokenMetrics] = None): Unit = {
    val f = org.apache.spark.sql.functions.udf { (p: String) =>
      val reply = client.complete(p)
      metrics.foreach { m =>
        m.calls.add(1L)
        m.promptTokens.add(TextFunctions.estimateTokens(p).toLong)
        m.completionTokens.add(TextFunctions.estimateTokens(reply).toLong)
      }
      reply
    }.asNondeterministic()
    spark.udf.register("graft_infer", f)
  }
}
