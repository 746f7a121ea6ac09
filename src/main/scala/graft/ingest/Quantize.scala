package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-date (± per-group, ± zero-aware) factor bucketing with pandas
  * qcut/cut semantics (reference: alphalens/utils.py:84-170).
  *
  * Implementation: quantile/bin edges are computed as window aggregates
  * over the cross-section partition (date [, group] [, sign]); the bucket
  * id is a right-closed, include-lowest comparison ladder against the
  * edges array. Everything stays inside whole-stage-codegen'd expressions
  * over a single exchange, the repartition by date; nothing is collected
  * to the driver, so cross-sections of any width distribute across
  * executors by date.
  *
  * pd.qcut parity notes (reference: alphalens/utils.py:49-81, 142-160):
  *  - edges = exact linear-interpolation percentiles (Spark `percentile`
  *    uses the same definition as numpy);
  *  - duplicate edges ⇒ ValueError("Bin edges must be unique") unless
  *    noRaise, in which case the whole failing cross-section gets NULL;
  *  - intervals are right-closed with the lowest value included.
  * pd.cut parity: equal-width edges over [min, max] per cross-section;
  * explicit edge sequences are right-closed and do NOT include the lowest
  * edge; values outside the edges get NULL.
  */
object Quantize {

  sealed trait Spec { def nBuckets: Int }
  /** qcut with an int quantile count. */
  final case class QuantilesInt(q: Int) extends Spec { def nBuckets: Int = q }
  /** qcut with explicit quantile fractions, e.g. [0, .25, .5, .75, 1]. */
  final case class QuantilesSeq(qs: Seq[Double]) extends Spec { def nBuckets: Int = qs.size - 1 }
  /** cut with an int equal-width bin count. */
  final case class BinsInt(b: Int) extends Spec { def nBuckets: Int = b }
  /** cut with explicit value edges, e.g. [-4, -2, 0, 10]. */
  final case class BinsSeq(edges: Seq[Double]) extends Spec { def nBuckets: Int = edges.size - 1 }

  private val dupEdgesMsg =
    "Bin edges must be unique. This usually happens when the input " +
    "contains too many identical values and they span more than one " +
    "quantile. Decrease the number of quantiles, pass custom quantile " +
    "ranges, or use the 'bins' option instead."

  /** Append `factor_quantile` (1-based IntegerType, nullable) to
    * `factorData`. Rows whose cross-section failed binning (duplicate
    * edges with noRaise, or values outside explicit edges) get NULL —
    * callers drop them, mirroring the reference's dropna
    * (alphalens/utils.py:170, 643).
    */
  def quantizeFactor(
      factorData: DataFrame,
      spec: Spec,
      byGroup: Boolean = false,
      noRaise: Boolean = false,
      zeroAware: Boolean = false,
      factorCol: String = "factor"): DataFrame = {
    require(!zeroAware || (spec.isInstanceOf[QuantilesInt] || spec.isInstanceOf[BinsInt]),
      "zero_aware should only be True when quantiles or bins is an integer")

    val f = col(factorCol)
    val baseKeys: Seq[Column] = col("date") +: (if (byGroup) Seq(col("group")) else Nil)

    val bucket: Column =
      if (!zeroAware) bucketFor(f, spec, Window.partitionBy(baseKeys: _*), noRaise)
      else {
        val sign = f >= 0.0
        val w = Window.partitionBy((baseKeys :+ sign.as("__sign")): _*)
        val halfSpec = spec match {
          case QuantilesInt(q) => QuantilesInt(q / 2)
          case BinsInt(b)      => BinsInt(b / 2)
          case other           => other // unreachable per require above
        }
        val half = spec.nBuckets / 2
        val local = bucketFor(f, halfSpec, w, noRaise)
        when(sign, local + lit(half)).otherwise(local)
      }

    // the explicit repartition by date IS the window's exchange (every
    // spec above partitions by date first) and survives persist, so the
    // quantized panel stays date-clustered: per-date windows and
    // (date, quantile) aggregates over it plan no further exchange
    factorData.repartition(col("date"))
      .withColumn("factor_quantile", bucket.cast("int"))
  }

  /** The bucket expression for one (window, spec) combination. */
  private def bucketFor(f: Column, spec: Spec,
                        w: org.apache.spark.sql.expressions.WindowSpec,
                        noRaise: Boolean): Column = spec match {
    case QuantilesInt(q) =>
      val fracs = (0 to q).map(_.toDouble / q)
      val edges = percentile(f, lit(fracs.toArray)).over(w)
      guarded(edges, ladder(f, edges, q, includeLowest = true, boundsToNull = false), noRaise)

    case QuantilesSeq(qs) =>
      val edges = percentile(f, lit(qs.toArray)).over(w)
      guarded(edges, ladder(f, edges, qs.size - 1, includeLowest = true, boundsToNull = true), noRaise)

    case BinsInt(b) =>
      // pd.cut int-bin edges: linspace(min, max, b+1); when min == max the
      // range is expanded by ±0.1% (±0.001 when 0) before binning.
      val mnRaw = min(f).over(w)
      val mxRaw = max(f).over(w)
      val degenerate = mnRaw === mxRaw
      val mn = when(degenerate,
        mnRaw - when(mnRaw =!= 0.0, abs(mnRaw) * 0.001).otherwise(0.001)).otherwise(mnRaw)
      val mx = when(degenerate,
        mxRaw + when(mxRaw =!= 0.0, abs(mxRaw) * 0.001).otherwise(0.001)).otherwise(mxRaw)
      val edgeCols = (0 to b).map(i => mn + (mx - mn) * (i.toDouble / b))
      val edges = array(edgeCols: _*)
      ladder(f, edges, b, includeLowest = true, boundsToNull = false)

    case BinsSeq(es) =>
      val edges = lit(es.toArray)
      // pd.cut with explicit edges: include_lowest=False — the lowest edge
      // itself maps to NaN, as do values outside the edges.
      ladder(f, edges, es.size - 1, includeLowest = false, boundsToNull = true)
  }

  /** Right-closed searchsorted over an edges array column: bucket i iff
    * edges[i-1] < f <= edges[i] (1-based). */
  private def ladder(f: Column, edges: Column, n: Int,
                     includeLowest: Boolean, boundsToNull: Boolean): Column = {
    val first = element_at(edges, 1)
    val last = element_at(edges, n + 1)
    val inner = (1 to n).foldRight(lit(null).cast("int")) { (i, els) =>
      when(f <= element_at(edges, i + 1), lit(i)).otherwise(els)
    }
    val lowOk = if (includeLowest) f >= first else f > first
    if (boundsToNull) when(lowOk && f <= last, inner) else inner
  }

  /** Duplicate-edge guard: raise (qcut ValueError parity) or NULL the
    * whole cross-section when noRaise (reference: alphalens/utils.py:157-160). */
  private def guarded(edges: Column, bucket: Column, noRaise: Boolean): Column = {
    val dup = size(array_distinct(edges)) < size(edges)
    if (noRaise) when(dup, lit(null).cast("int")).otherwise(bucket)
    else when(dup, raise_error(lit(dupEdgesMsg)).cast("int")).otherwise(bucket)
  }
}
