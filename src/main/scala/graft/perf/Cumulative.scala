package graft.perf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cumulative (compounded) returns
  * (reference: alphalens/performance.py:333-352; empyrical cum_returns
  * with starting_value=1 is cumprod(1 + r)). */
object Cumulative {

  /** Running product of `c` over window `w`, expressed with codegen'd
    * built-ins only: magnitude in log space + sign parity + zero flag.
    * Exact for sign handling (works when 1+r <= 0, which the reference's
    * golden tests exercise); magnitude matches cumprod to ~1e-15 relative.
    */
  def runningProduct(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val logAbs = sum(when(c =!= 0.0, log(abs(c))).otherwise(lit(0.0))).over(frame)
    val negCnt = sum(when(c < 0.0, 1).otherwise(0)).over(frame)
    val anyZero = max(when(c === 0.0, 1).otherwise(0)).over(frame)
    when(anyZero === 1, 0.0)
      .otherwise(exp(logAbs) * when(pmod(negCnt, lit(2)) === 1, -1.0).otherwise(1.0))
  }

  /** cumprod(1 + r) ordered by date; NaN/null returns compound as 0
    * (empyrical fills missing with 0). Input: (date, <valueCol>);
    * output adds `cum_<valueCol>`. Runs per `partitionCols` when given
    * (e.g. per factor_quantile), else over the single date-ordered series
    * (tiny: one row per session). */
  def cumulativeReturns(
      returns: DataFrame,
      valueCol: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val w =
      if (partitionCols.isEmpty) Window.orderBy("date")
      else Window.partitionBy(partitionCols.map(col): _*).orderBy("date")
    val onePlus = coalesce(col(valueCol), lit(0.0)) + 1.0
    returns.withColumn(s"cum_$valueCol", runningProduct(onePlus, w))
  }

  /** [[cumulativeReturns]] of one date-ordered series held on the
    * driver: the same operations in the same order, with the StrictMath
    * log and exp Spark evaluates, so both paths agree bitwise. */
  def cumulative(returns: Seq[Option[Double]]): Seq[Double] = {
    var logAbs = 0.0
    var negCnt = 0L
    var anyZero = false
    returns.map { r =>
      val c = r.getOrElse(0.0) + 1.0
      logAbs += (if (c != 0.0) StrictMath.log(math.abs(c)) else 0.0)
      if (c < 0.0) negCnt += 1
      if (c == 0.0) anyZero = true
      if (anyZero) 0.0 else StrictMath.exp(logAbs) * (if (negCnt % 2 == 1) -1.0 else 1.0)
    }
  }
}
