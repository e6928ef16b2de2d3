package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact greedy restart-at-boundary bin packing as a distributed operator
  * (W7; the reference-faithful variant of q04's window running-sum — see
  * SURVEY.md §7 "hard parts": the two differ exactly when an element
  * crosses a bin boundary, because greedy packing RESTARTS the counter at
  * the element that overflows).
  *
  * Shape: repartition by group, sort within partitions by (group, order),
  * then a single forward pass per partition tracking group boundaries.
  * One shuffle keyed by group; memory is O(1) per task — no per-group
  * collect, so a group of any size streams through.
  */
object Packing {

  /** Append `bin` (0-based per group) to `df`, packing `lenCol` greedily
    * into `budget`-sized bins in `orderCol` order within each `groupCol`
    * (the rule is [[TextFunctions.binStep]]). */
  def exactBins(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      lenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0)
    val schema    = df.schema
    val groupIdx  = schema.fieldIndex(groupCol)
    val lenIdx    = schema.fieldIndex(lenCol)
    val outSchema = StructType(schema.fields :+ StructField("bin", LongType))
    val enc       = Encoders.row(outSchema)
    val sortCols  = (groupCol +: orderCols).map(col)
    df.repartition(col(groupCol))
      .sortWithinPartitions(sortCols: _*)
      .mapPartitions { it =>
        var curGroup: Any = null
        var state = (0L, 0L) // (bin, fill)
        var seen  = false
        it.map { r =>
          val g = r.get(groupIdx)
          if (!seen || g != curGroup) {
            curGroup = g; state = (0L, 0L); seen = true
          }
          state = TextFunctions.binStep(state._1, state._2,
            r.getAs[Number](lenIdx).longValue(), budget)
          Row.fromSeq(r.toSeq :+ state._1)
        }
      }(enc)
  }

  /** Exact-bin wrapper over a text column: bins rows of `textCol` by
    * estimated tokens (TOKEN_RATIO heuristic). */
  def packTextBins(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      textCol: String,
      tokenBudget: Int): DataFrame = {
    val withLen = df.withColumn("graft_len",
      ceil(length(col(textCol)) / TextFunctions.TokenRatio).cast("long"))
    exactBins(withLen, groupCol, orderCols, "graft_len", tokenBudget.toLong)
      .drop("graft_len")
  }
}
