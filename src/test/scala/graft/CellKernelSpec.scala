package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.{CellKernels, NearestCell, NearestCellDist, NearestCells, SnapGrid}

/** Exactness of the fused IVF kernels against the compositions they
  * replace: the grid snap against Spark's `round(x * 1e6, 0)`, and
  * `graft_nearest_cell[s]` against [[Ivf.nearestLocal]] and the
  * `array_position(array_min)` / `array_sort(arrays_zip(...))` forms
  * over the full distance array. Both codegen'd and interpreted
  * evaluation are checked. */
class CellKernelSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Inputs x whose product x * 1e6 lands exactly on `y`, searched over
    * a few ulps around y / 1e6 (none for some y). */
  private def hitting(y: Double): Seq[Double] = {
    val x0 = y / 1e6
    (-6 to 6).map { k =>
      var x = x0
      var i = 0
      while (i < math.abs(k)) {
        x = if (k > 0) Math.nextUp(x) else Math.nextDown(x); i += 1
      }
      x
    }.distinct.filter(_ * 1e6 == y)
  }

  private val twoP52 = 4503599627370496.0

  /** The edge table: products at k.5 and one ulp either side, negative
    * halves, small negatives that round to zero, NaN, ±Inf and
    * magnitudes at or past 2^52, plus a seeded spread. */
  private lazy val edges: Seq[Double] = {
    val halves = (Seq(0.5, 1.5, 2.5, 3.5, 10.5, 123456.5, 4503599627370495.5) ++
      (1 to 40).map(k => k * 977.0 + 0.5)).flatMap(h => Seq(h, -h))
    val ys = halves.flatMap(h => Seq(h, Math.nextUp(h), Math.nextDown(h)))
    val hits = ys.flatMap(hitting)
    val rnd = new scala.util.Random(7)
    hits ++ Seq(-0.3e-6, -0.0, 0.0, -1e-300, 0.3e-6, -0.5e-6, 0.5e-6,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      twoP52 / 1e6, twoP52, -twoP52, twoP52 * 3, 1e300, -1e300,
      Double.MaxValue, Double.MinPositiveValue, -Double.MinPositiveValue) ++
      Seq.fill(400)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 6))
  }

  private def withInterpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def snapCol(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SnapGrid(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** (reference, kernel) per element, for one vector column. */
  private def snapPairs(df: DataFrame): Seq[(Double, Double)] =
    df.select(
        transform(col("v"), x => round(x.cast("double") * lit(1e6), 0)).as("ref"),
        snapCol(col("v")).as("got"))
      .collect().toSeq.flatMap { r =>
        r.getSeq[Double](0).zip(r.getSeq[Double](1))
      }

  test("grid snap is bit-identical to round(x * 1e6, 0) on the edge table") {
    assert(edges.exists(x => x * 1e6 == 2.5), "edge table lost its k.5 hits")
    assert(edges.exists(x => x * 1e6 == -2.5))
    assert(edges.exists(x => x * 1e6 == Math.nextUp(2.5)))
    val doubles = edges.grouped(16).map(_.toArray).toSeq.toDF("v")
    val floats = edges.map(_.toFloat).grouped(16).map(_.toArray).toSeq.toDF("v")
    assert(floats.schema("v").dataType === ArrayType(FloatType, containsNull = false))
    for ((name, df) <- Seq("double" -> doubles, "float" -> floats);
         (mode, pairs) <- Seq("codegen" -> snapPairs(df),
           "interpreted" -> withInterpreted(snapPairs(df)))) {
      assert(pairs.length === edges.length)
      pairs.foreach { case (ref, got) =>
        assert(bits(got) === bits(ref), s"$name/$mode: round gave $ref, snap gave $got")
      }
    }
    // the named cases, directly
    assert(bits(CellKernels.snap(-0.3e-6)) === bits(0.0))
    assert(bits(CellKernels.snap(-0.0)) === bits(0.0))
    assert(CellKernels.snap(Double.NaN).isNaN)
    assert(CellKernels.snap(Double.PositiveInfinity) === Double.PositiveInfinity)
    assert(CellKernels.snap(Double.NegativeInfinity) === Double.NegativeInfinity)
    assert(CellKernels.snap(twoP52) === twoP52 * 1e6)
  }

  test("grid snap keeps null vectors and null components") {
    val df = Seq(Some(Seq(Some(1.5e-6), None, Some(-2.5e-6))), None)
      .toDF("v")
    val got = df.select(snapCol(col("v")).as("s")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getSeq[java.lang.Double](0))
    val ref = df.select(
        transform(col("v"), x => round(x * lit(1e6), 0)).as("s"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[java.lang.Double](0))
    assert(got.toSeq === ref.toSeq)
    assert(got(1) == null)
    // interpreted eval of the expression itself
    val interp = SnapGrid(Literal.create(Array(1.5e-6, -0.3e-6),
      ArrayType(DoubleType, containsNull = false))).eval(null)
      .asInstanceOf[ArrayData].toDoubleArray().toSeq
    assert(interp.map(bits) === Seq(2.0, 0.0).map(bits))
  }

  // 10,000 cells over 6 dims with small integer coordinates, so exact
  // distance ties are everywhere: cells 5000.. repeat cells 0..4999
  // exactly (every argmin ties across the halves), and the coordinate
  // range keeps many distinct cells equidistant from a vector
  private val dim = 6
  private lazy val cents: Array[Array[Double]] = {
    val rnd = new scala.util.Random(5)
    val half = Array.fill(5000)(Array.fill(dim)(rnd.nextInt(9).toDouble))
    half ++ half.map(_.clone())
  }

  /** Vectors that snap onto the grid near the centroids (x = k / 1e6
    * with small k), a few exact half-way inputs, one NaN, one null. */
  private lazy val vecs: DataFrame = {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map { i =>
      val v: Option[Array[Double]] =
        if (i == 7) None
        else if (i == 11) Some(Array.fill(dim)(Double.NaN))
        else Some(Array.tabulate(dim)(_ =>
          (rnd.nextInt(11) - 1 + (if (i % 5 == 0) 0.5 else 0.0)) / 1e6))
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def oldArgmin(d: Column): Column =
    (array_position(d, array_min(d)) - 1).cast("int")

  private def oldTopN(d: Column, nCells: Int, n: Int): Column =
    slice(array_sort(arrays_zip(d.as("d"),
      sequence(lit(0), lit(nCells - 1)).as("cell"))), 1, n).getField("cell")

  test("graft_nearest_cell[s] match nearestLocal and the array_sort order " +
      "at 10k cells with planted ties") {
    val n = 48
    def run(): Array[(Long, Int, Int, Seq[Int], Seq[Int], Option[Seq[Double]])] =
      vecs.select(col("vec_id"),
          Ivf.nearestCell(col("embedding"), cents).as("got"),
          oldArgmin(Ivf.quantizedDists(col("embedding"), cents)).as("old"),
          Ivf.nearestCellsOf(col("embedding"), cents, n).as("gotN"),
          oldTopN(Ivf.quantizedDists(col("embedding"), cents), cents.length, n)
            .as("oldN"),
          Ivf.quantizedVec(col("embedding")).as("q"))
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          r.getSeq[Int](3),
          if (r.isNullAt(4)) Seq.empty[Int] else r.getSeq[Int](4),
          if (r.isNullAt(5)) None else Some(r.getSeq[Double](5))))
    val codegen = run()
    val interpreted = withInterpreted(run())
    def comparable(rows: Array[(Long, Int, Int, Seq[Int], Seq[Int],
        Option[Seq[Double]])]) = rows.toSeq.map(t => t.copy(_6 = t._6.map(_.map(bits))))
    assert(comparable(codegen) === comparable(interpreted))
    var ties = 0
    codegen.foreach { case (id, got, old, gotN, oldN, q) =>
      assert(got === old, s"vec $id: argmin $got vs array_min form $old")
      assert(gotN === oldN, s"vec $id: probe list differs from array_sort")
      q match {
        case None =>
          assert(got === -1 && gotN.isEmpty, s"null vec $id")
        case Some(v) if v.exists(_.isNaN) =>
          assert(got === 0 && gotN === (0 until n), s"NaN vec $id")
        case Some(v) =>
          assert(got === Ivf.nearestLocal(v.toArray, cents), s"vec $id")
          assert(got < 5000, s"vec $id: tie with its copy must keep the lower cell")
          val d = cents.map(c => CellKernels.dist(v.toArray, c))
          if (d.count(_ == d(got)) > 2) ties += 1
      }
    }
    info(s"$ties of 300 vectors tie three or more cells at their minimum")
    assert(ties > 50, s"only $ties vectors had a multi-way tie")
    // the fused (cell, dist) kernel of the outlier scores: the same
    // argmin as graft_nearest_cell, and array_min's distance bit for bit
    def withDist(): Seq[(Long, Int, Long, Option[Long])] = {
      val d = Ivf.quantizedDists(col("embedding"), cents)
      vecs.select(col("vec_id"), Ivf.nearestCellDist(col("embedding"), cents).as("cd"),
          array_min(d).as("old"))
        .orderBy("vec_id").collect().toSeq
        .map(r => (r.getLong(0), r.getStruct(1).getInt(0),
          bits(r.getStruct(1).getDouble(1)),
          if (r.isNullAt(2)) None else Some(bits(r.getDouble(2)))))
    }
    val fused = withDist()
    assert(fused === withInterpreted(withDist()))
    fused.zip(codegen).foreach { case ((id, cell, dist, old), (_, got, _, _, _, _)) =>
      assert(cell === got, s"vec $id: fused cell $cell vs graft_nearest_cell $got")
      old.foreach(o => assert(dist === o, s"vec $id: fused distance vs array_min"))
    }
    // the public wrapper keeps null in, null out
    val pub = vecs.select(col("vec_id"), Ivf.cellOf(col("embedding"), cents))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(pub(7L) == null)
    assert(pub(0L) === codegen.find(_._1 == 0L).get._2)
  }

  test("probe list stops at the cell count; pre-snapped input skips the snap") {
    val small = Array(Array(0.0, 0.0), Array(3.0, 0.0), Array(0.0, 3.0), Array(3.0, 0.0))
    val bc = spark.sparkContext.broadcast(small)
    val x = Literal.create(Array(2.0, 1.0), ArrayType(DoubleType, containsNull = false))
    // distances 5, 2, 8, 2: cells 1 and 3 tie, lower first
    val all = NearestCells(x, bc, 8, snapIt = false).eval(null)
      .asInstanceOf[ArrayData].toIntArray().toSeq
    assert(all === Seq(1, 3, 0, 2))
    assert(NearestCell(x, bc, snapIt = false).eval(null) === 1)
    // snapping 2.0 puts it at 2e6 on the grid: cell 1 (3, 0) is nearest
    assert(NearestCell(x, bc, snapIt = true).eval(null) === 1)
    assert(NearestCells(x, bc, 2, snapIt = true).eval(null)
      .asInstanceOf[ArrayData].toIntArray().toSeq === Seq(1, 3))
    val nullVec = Literal.create(null, ArrayType(DoubleType))
    assert(NearestCell(nullVec, bc, snapIt = true).eval(null) === -1)
    assert(NearestCells(nullVec, bc, 2, snapIt = true).eval(null)
      .asInstanceOf[ArrayData].numElements() === 0)
    assert(!NearestCell(nullVec, bc, snapIt = true).nullable)
    val cd = NearestCellDist(x, bc, snapIt = false).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(cd.getInt(0) === 1 && cd.getDouble(1) === 2.0)
    assert(NearestCellDist(nullVec, bc, snapIt = true).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow].getInt(0) === -1)
    assert(!NearestCellDist(nullVec, bc, snapIt = true).nullable)
  }
}
