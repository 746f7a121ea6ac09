package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Scalar arithmetic shared by [[SnapGrid]], [[NearestCell]] and
  * [[NearestCells]]. Interpreted eval and generated code both call
  * these methods, so the two paths are bit-identical by construction.
  *
  * The fixed-point grid is one part per 1e6 ([[graft.vector.Ivf]]'s
  * exactness design). Snapped components are integer-valued doubles,
  * every squared difference and partial sum below 2^53 is exact, so
  * distances and the argmin over them do not depend on summation order.
  */
object CellKernels {

  private final val Scale = 1e6
  private final val TwoP52 = 4503599627370496.0

  /** `x * 1e6` rounded half away from zero, bit-identical to Spark's
    * `round(x * 1e6, 0)` on a double (BigDecimal HALF_UP). NaN and
    * ±Inf pass through; products with magnitude ≥ 2^52 are already
    * integers and pass through; a zero result is always +0.0. Each
    * step is exact: the fractional part of a double is representable,
    * and adding 1 to an integer below 2^52 does not round. */
  def snap(x: Double): Double = {
    val y = x * Scale
    if (!(Math.abs(y) < TwoP52)) y
    else {
      val a = Math.abs(y)
      var f = Math.floor(a)
      if (a - f >= 0.5) f += 1.0
      Math.copySign(f, y) + 0.0 // -0.0 + 0.0 == +0.0
    }
  }

  /** The row's components as doubles, snapped to the grid or taken as
    * they are. A null component reads as 0.0, as an `UnsafeArrayData`
    * null slot does. */
  def load(v: ArrayData, isFloat: Boolean, snapIt: Boolean): Array[Double] = {
    val n = v.numElements()
    val x = new Array[Double](n)
    var d = 0
    while (d < n) {
      if (!v.isNullAt(d)) {
        val raw = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        x(d) = if (snapIt) snap(raw) else raw
      }
      d += 1
    }
    x
  }

  /** Squared L2 distance, (x_d - c_d)^2 accumulated left to right over
    * the shorter of the two lengths. */
  def dist(x: Array[Double], c: Array[Double]): Double = {
    val n = math.min(c.length, x.length)
    var s = 0.0
    var d = 0
    while (d < n) {
      val t = x(d) - c(d)
      s += t * t
      d += 1
    }
    s
  }

  /** Spark's double order: NaN sorts above every number. */
  @inline private def less(a: Double, b: Double): Boolean =
    a < b || (b != b && a == a)

  /** Index of the nearest centroid; ties go to the lower index
    * (`array_position(d, array_min(d)) - 1` over the distance array).
    * -1 for an empty matrix. */
  def argmin(x: Array[Double], mat: Array[Array[Double]]): Int = {
    if (mat.length == 0) return -1
    var best = 0
    var bestD = dist(x, mat(0))
    var j = 1
    while (j < mat.length) {
      val d = dist(x, mat(j))
      if (less(d, bestD)) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** [[argmin]] with the distance to the chosen centroid, as a
    * (cell, dist) struct row; (-1, NaN) for an empty matrix. */
  def nearestWithDist(x: Array[Double], mat: Array[Array[Double]]): InternalRow = {
    val j = argmin(x, mat)
    cellDist(j, if (j < 0) Double.NaN else dist(x, mat(j)))
  }

  def cellDist(cell: Int, dist: Double): InternalRow =
    new GenericInternalRow(Array[Any](cell, dist))

  /** The `n` nearest centroid indices ordered by (distance, index) —
    * the order of `array_sort(arrays_zip(d, cell))` — kept by bounded
    * insertion: O(k·n) worst case, no k-length array. */
  def nearestN(x: Array[Double], mat: Array[Array[Double]], nReq: Int): Array[Int] = {
    val n = math.max(0, math.min(nReq, mat.length))
    val ids = new Array[Int](n)
    if (n == 0) return ids
    val ds = new Array[Double](n)
    var size = 0
    var j = 0
    while (j < mat.length) {
      val d = dist(x, mat(j))
      if (size < n || less(d, ds(n - 1))) {
        var p = if (size < n) { size += 1; size - 1 } else n - 1
        while (p > 0 && less(d, ds(p - 1))) {
          ds(p) = ds(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        ds(p) = d; ids(p) = j
      }
      j += 1
    }
    ids
  }

  /** [[snap]] over a vector: primitive doubles when no component is
    * null, otherwise a boxed array keeping the null slots. */
  def snapArray(v: ArrayData, isFloat: Boolean): ArrayData = {
    val x = load(v, isFloat, snapIt = true)
    var d = 0
    while (d < x.length && !v.isNullAt(d)) d += 1
    if (d == x.length) UnsafeArrayData.fromPrimitiveArray(x)
    else new GenericArrayData(Array.tabulate[Any](x.length)(i =>
      if (v.isNullAt(i)) null else x(i)))
  }

  private[functions] def isFloatArray(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  private[functions] def checkVector(dt: DataType, name: String): TypeCheckResult =
    dt match {
      case ArrayType(vt, _) if vt == FloatType || vt == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$name requires array<float|double>, got ${other.sql}")
    }
}

/** The 1e6 fixed-point snap of a vector, `array<double>` — the same
  * values as `transform(v, x -> round(x * 1e6, 0))` without the
  * interpreted lambda and the per-element BigDecimal. Null vector gives
  * null; a null component stays null. */
case class SnapGrid(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(DoubleType, child.dataType.asInstanceOf[ArrayType].containsNull)

  override def checkInputDataTypes(): TypeCheckResult =
    CellKernels.checkVector(child.dataType, prettyName)

  private def isFloat: Boolean = CellKernels.isFloatArray(child.dataType)

  override def nullSafeEval(v: Any): Any =
    CellKernels.snapArray(v.asInstanceOf[ArrayData], isFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.CellKernels.snapArray($v, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): SnapGrid =
    copy(child = newChild)

  override def prettyName: String = "graft_snap_grid"
}

/** Shared shape of the fused nearest-cell kernels: one row's vector
  * (snapped to the grid when `snapIt`), its distances to every row of
  * a broadcast centroid matrix, and the selection over them, in one
  * pass with no k-length distance array.
  *
  * The matrix rides as a BROADCAST handle only, never as a plan
  * literal: each executor fetches it once, the generated class reads
  * it into a field at init, and the plan string stays small at any
  * cell count. The result is NON-NULLABLE — a null vector gives the
  * `nullResult` sentinel — so an equi-join on the cell does not make
  * Catalyst infer an `isnotnull(<kernel>)` Filter that would evaluate
  * the kernel a second time below the Project. Built directly through
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]] (a registry
  * builder cannot receive a Broadcast). */
sealed trait CellKernel extends UnaryExpression {
  def bc: Broadcast[Array[Array[Double]]]
  def snapIt: Boolean

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    CellKernels.checkVector(child.dataType, prettyName)

  @transient protected lazy val matrix: Array[Array[Double]] = bc.value

  protected def isFloat: Boolean = CellKernels.isFloatArray(child.dataType)

  /** The selection over a loaded row, as a Catalyst value. */
  protected def select(x: Array[Double]): Any
  /** Java source of the same selection over `x` against `mat`. */
  protected def selectCode(x: String, mat: String): String
  protected def nullResult: Any
  protected def nullResultCode: String

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) nullResult
    else select(CellKernels.load(v.asInstanceOf[ArrayData], isFloat, snapIt))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("cellBc", bc,
      classOf[Broadcast[Array[Array[Double]]]].getName)
    // fetched once per task from the executor-local broadcast blocks
    val mat = ctx.addMutableState("double[][]", "cellMat",
      m => s"$m = (double[][]) $bcRef.value();")
    val c = child.genCode(ctx)
    val x = ctx.freshName("x")
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      |${c.code}
      |$javaType ${ev.value} = $nullResultCode;
      |if (!${c.isNull}) {
      |  final double[] $x = graft.functions.CellKernels.load(
      |    ${c.value}, $isFloat, $snapIt);
      |  ${ev.value} = ${selectCode(x, mat)};
      |}
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** `graft_nearest_cell`: the index of the nearest centroid as `int`,
  * ties to the lower index; -1 for a null vector. */
case class NearestCell(
    child: Expression,
    bc: Broadcast[Array[Array[Double]]],
    snapIt: Boolean)
    extends CellKernel {

  override def dataType: DataType = IntegerType

  protected def select(x: Array[Double]): Any = CellKernels.argmin(x, matrix)
  protected def selectCode(x: String, mat: String): String =
    s"graft.functions.CellKernels.argmin($x, $mat)"
  protected def nullResult: Any = -1
  protected def nullResultCode: String = "-1"

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_cell"
}

/** `graft_nearest_cell_dist`: the nearest centroid and the squared
  * distance to it as struct<cell: int, dist: double>, ties to the lower
  * index — the argmin and the minimum of the full distance array,
  * without the array. (-1, NaN) for a null vector. */
case class NearestCellDist(
    child: Expression,
    bc: Broadcast[Array[Array[Double]]],
    snapIt: Boolean)
    extends CellKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  protected def select(x: Array[Double]): Any = CellKernels.nearestWithDist(x, matrix)
  protected def selectCode(x: String, mat: String): String =
    s"graft.functions.CellKernels.nearestWithDist($x, $mat)"
  protected def nullResult: Any = CellKernels.cellDist(-1, Double.NaN)
  protected def nullResultCode: String =
    "graft.functions.CellKernels.cellDist(-1, java.lang.Double.NaN)"

  override protected def withNewChildInternal(newChild: Expression): NearestCellDist =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_cell_dist"
}

/** `graft_nearest_cells`: the `n` nearest centroid indices ordered by
  * (distance, index) as `array<int>`; empty for a null vector and at
  * most the matrix's row count long. */
case class NearestCells(
    child: Expression,
    bc: Broadcast[Array[Array[Double]]],
    n: Int,
    snapIt: Boolean)
    extends CellKernel {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  protected def select(x: Array[Double]): Any =
    UnsafeArrayData.fromPrimitiveArray(CellKernels.nearestN(x, matrix, n))
  protected def selectCode(x: String, mat: String): String =
    "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
      s".fromPrimitiveArray(graft.functions.CellKernels.nearestN($x, $mat, $n))"
  protected def nullResult: Any = UnsafeArrayData.fromPrimitiveArray(Array.empty[Int])
  protected def nullResultCode: String =
    "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
      ".fromPrimitiveArray(new int[0])"

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_cells"
}
