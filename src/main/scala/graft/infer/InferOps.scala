package graft.infer

import graft.functions.TextFunctions
import java.util.concurrent.{ExecutionException, Executors, ExecutorService, Future}
import org.apache.spark.{TaskContext, TaskContextScope}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Bridges [[InferenceClient]] into DataFrame plans.
  *
  * `mapPartitions` with explicit batching (not a per-row UDF): one client per
  * partition-task, at most `batchSize` prompts per transport call. Each task
  * runs the first batch of a step itself and hands the rest to one JVM-wide
  * pool of [[MaxInflight]] threads — the Spark equivalent of the reference's
  * Module/Neuron gevent fan-out with a semaphore-capped connection pool
  * (SURVEY.md D10). A step is cut into at least its task's share of that
  * cap, `1 + MaxInflight / P` batches for a stage of `P` partitions, so a
  * small step still fans out. A stage whose `P` tasks all run at once has at
  * most `P + MaxInflight` calls in flight: one per running task plus the
  * pool — no driver-side loop, no collect.
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

  /** Pooled `completeBatch` calls in flight per JVM, on top of each running
    * task's own batch: the reference's connection cap
    * (request/wrapper.py:17,23). */
  val MaxInflight = 20

  private val pool: ExecutorService =
    Executors.newFixedThreadPool(MaxInflight, { (r: Runnable) =>
      val t = new Thread(r, "graft-infer")
      t.setDaemon(true)
      t
    })

  /** `client.completeBatch` over `prompts`, replies in prompt order. The
    * prompts are cut into `k = min(n, max(ceil(n / batchSize), 1 +
    * MaxInflight / P))` contiguous batches whose sizes differ by at most
    * one, `P` being the calling task's stage width (1 on the driver). So a
    * small step fills the task's share of the pool, and a step of `n ≥
    * batchSize × (1 + MaxInflight / P)` prompts takes `ceil(n / batchSize)`
    * calls, as full batches would.
    * The first batch runs on the calling thread; the rest run concurrently
    * on the pool, each under the caller's `TaskContext`, so a stage whose
    * tasks all run at once has at most `P + MaxInflight` calls in flight.
    * The first failed batch's exception is rethrown and the batches still
    * in flight are cancelled, as they are on interrupt. */
  def completeAll(
      prompts: Seq[String],
      client: InferenceClient,
      batchSize: Int = BatchSize): Seq[String] = {
    val tc = TaskContext.get()
    val batches = split(prompts, batchSize, if (tc == null) 1 else tc.numPartitions())
    val rest: Vector[Future[Seq[String]]] = batches.drop(1).map(b =>
      pool.submit(() => TaskContextScope(tc)(client.completeBatch(b))))
    try batches.headOption.toVector.flatMap(client.completeBatch) ++ rest.flatMap(_.get())
    catch { case e: ExecutionException => throw e.getCause }
    finally rest.foreach(_.cancel(true))
  }

  /** `prompts` in `completeAll`'s batches for a stage of `parts` partitions. */
  private def split[A](prompts: Seq[A], batchSize: Int, parts: Int): Vector[Seq[A]] = {
    val n = prompts.size
    val k = math.min(n, math.max((n + batchSize - 1) / batchSize, 1 + MaxInflight / parts))
    def cut(i: Int) = (i.toLong * n / k).toInt
    Vector.tabulate(k)(i => prompts.slice(cut(i), cut(i + 1)))
  }

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
      it.grouped(batchSize * MaxInflight).flatMap { window =>
        val prompts = window.map(_.getString(promptIdx))
        val replies = completeAll(prompts, client, batchSize)
        metrics.foreach { m =>
          m.calls.add(prompts.length.toLong)
          m.promptTokens.add(prompts.map(TextFunctions.estimateTokens(_).toLong).sum)
          m.completionTokens.add(replies.map(TextFunctions.estimateTokens(_).toLong).sum)
        }
        window.lazyZip(replies).map((r, o) => Row.fromSeq(r.toSeq :+ o))
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
