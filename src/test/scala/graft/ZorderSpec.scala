package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Zorder

class ZorderSpec extends AnyFunSuite with SparkSpec {

  test("hand-traced interleave: z(3, 5) at 3 bits is 39") {
    import spark.implicits._
    // x=3=011b, y=5=101b; z-bit 2b carries x's bit b, 2b+1 carries y's:
    // bits set at 0 (x0), 1 (y0), 2 (x1), 5 (y2) -> 1+2+4+32 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Zorder.zvalue(Seq(col("x"), col("y")), 3).as("z"))
      .head.getLong(0)
    assert(z == 39L)
  }

  test("interleave round-trips: distinct inputs, monotone per dimension") {
    import spark.implicits._
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"), Zorder.zvalue(Seq(col("x"), col("y")), 4).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(zs.values.toSet.size == 256) // injective on the grid
    // fixing one dim, z grows with the other (bit-interleave preserves
    // per-dimension order)
    for (x <- 0L until 16L; y <- 1L until 16L)
      assert(zs((x, y)) > zs((x, y - 1)))
  }

  test("out-of-range input raises, null passes through") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(Tuple1(8L)).toDF("x")
        .select(Zorder.zvalue(Seq(col("x")), 3)).collect()
    }
    assert(err.getMessage.contains("zvalue input out of"))
    val n = Seq(Tuple1(Option.empty[Long])).toDF("x")
      .select(Zorder.zvalue(Seq(col("x")), 3)).head
    assert(n.isNullAt(0))
  }

  /** Files whose [min,max] boxes intersect the query box — what
    * parquet footer-stats pruning keeps. */
  private def filesTouched(dir: String, loA: Long, hiA: Long,
      loB: Long, hiB: Long): (Long, Long) = {
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("loA"), max("a").as("hiA"),
        min("b").as("loB"), max("b").as("hiB"))
      .collect()
    val touched = perFile.count(r =>
      r.getAs[Long]("hiA") >= loA && r.getAs[Long]("loA") <= hiA &&
        r.getAs[Long]("hiB") >= loB && r.getAs[Long]("loB") <= hiB)
    (touched.toLong, perFile.length.toLong)
  }

  test("z-ordered layout prunes conjunctive box queries; row-sorted does not") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20000)((rnd.nextInt(1024).toLong,
      rnd.nextInt(1024).toLong)).toDF("a", "b")
    val base = Files.createTempDirectory("zorder").toString
    // baseline: the common single-column sort — perfect on a, blind on b
    rows.repartitionByRange(64, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(s"$base/bya")
    Zorder.clusterBy(rows, Seq("a", "b"), bits = 10, numFiles = 64)
      .write.mode("overwrite").parquet(s"$base/z")
    // a box on BOTH dims: an eighth of each axis (~1/64 of the area)
    val (zTouch, zTotal) = filesTouched(s"$base/z", 256, 383, 256, 383)
    val (aTouch, aTotal) = filesTouched(s"$base/bya", 256, 383, 256, 383)
    assert(zTotal == 64 && aTotal == 64)
    // single-column sort keeps ~1/8 of files via the a-bounds but every
    // one of those spans all of b; z-order's per-file boxes are tight in
    // both dims, so the 1/64-area box touches only the handful of files
    // whose rectangles it crosses.
    assert(zTouch < aTouch, s"z=$zTouch vs a-sorted=$aTouch")
    assert(zTouch <= 8, s"z layout touched $zTouch of 64 files")
    // and a box query on b ALONE (the dimension the baseline is blind
    // to): z-order still prunes, the a-sort reads everything
    val (zB, _) = filesTouched(s"$base/z", 0, 1023, 256, 383)
    val (aB, _) = filesTouched(s"$base/bya", 0, 1023, 256, 383)
    assert(aB == 64, "a-sorted layout cannot prune a b-only predicate")
    assert(zB <= 32, s"z layout should prune b-only predicates, touched $zB")
  }

  test("rankBuckets: hand-traced equi-depth ids, duplicates share a bucket") {
    import spark.implicits._
    // values 10,20,20,30 at B=4: rows_before = 0,1,1,3 -> buckets 0,1,1,3
    val df = Seq(10L, 20L, 20L, 30L).toDF("v")
    val got = Zorder.rankBuckets(df, "v", bits = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 0L, 20L -> 1L, 30L -> 3L))
  }

  test("rankBuckets is partition-count independent") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = Seq.fill(5000)(rnd.nextInt(300).toLong).toDF("v")
    val one = Zorder.rankBuckets(df, "v", bits = 5, numParts = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val many = Zorder.rankBuckets(df, "v", bits = 5, numParts = 11)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == many)
  }

  test("rankBuckets handles skew and arbitrary domains zvalue cannot") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // power-law values up to ~10^9 — far past any literal bit budget —
    // plus a heavy hitter owning a third of the rows
    val vals = Seq.fill(6000)(math.pow(10, rnd.nextDouble() * 9).toLong) ++
      Seq.fill(3000)(777L)
    val buckets = Zorder.rankBuckets(vals.toDF("v"), "v", bits = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // equi-depth: the non-hitter values still spread over most of the
    // 64-bucket range instead of collapsing around the hitter
    assert(buckets.values.toSet.size > 40, s"${buckets.values.toSet.size}")
    // monotone in the value order
    val sorted = buckets.toSeq.sortBy(_._1).map(_._2)
    assert(sorted == sorted.sorted)
  }

  test("zvalueByRank interleaves the per-dimension bucket ids exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val df = Seq.fill(2000)((rnd.nextInt(1000000).toLong,
      rnd.nextInt(500).toLong)).toDF("a", "b").distinct()
    val ba = Zorder.rankBuckets(df, "a", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bb = Zorder.rankBuckets(df, "b", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def interleave(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).sum
    Zorder.zvalueByRank(df, Seq("a", "b"), 8, "z").collect().foreach { r =>
      val (a, b, z) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("z"))
      assert(z == interleave(ba(a), bb(b)), s"($a, $b)")
    }
  }

  test("multiHistogram: every dimension's histogram from ONE table scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zorder_1scan").toFile.getAbsolutePath
    (0L until 500L).map(i => (i % 37, i % 101)).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val plan = Zorder.multiHistogramPlan(df, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    // grouping sets lower to Scan -> Expand -> one aggregate: the old
    // per-dim loop scanned the table once per clustered dimension
    assert("Scan parquet|FileScan".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Expand"), plan)
    // the melted histogram carries exactly the per-dim groupBy counts
    val hist = Zorder.multiHistogram(df, Seq("a", "b")).collect()
    val wantA = df.na.drop(Seq("a")).groupBy("a").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantB = df.na.drop(Seq("b")).groupBy("b").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=2 dims: gid 1 = {a} grouped, gid 2 = {b} grouped
    val gotA = hist.filter(_.getAs[Long]("__gid") == 1L)
      .map(r => r.getAs[Long]("a") -> r.getAs[Long]("__c")).toMap
    val gotB = hist.filter(_.getAs[Long]("__gid") == 2L)
      .map(r => r.getAs[Long]("b") -> r.getAs[Long]("__c")).toMap
    assert(gotA == wantA)
    assert(gotB == wantB)
  }

  test("clusterBy output matches input rows exactly (layout-only transform)") {
    import spark.implicits._
    val rows = (0L until 1000L).map(i => (i % 37, i % 101)).toDF("a", "b")
    val clustered = Zorder.clusterBy(rows, Seq("a", "b"), bits = 7, numFiles = 4)
    assert(clustered.columns.toSeq == Seq("a", "b"))
    val got = clustered.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = rows.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want)
  }

  /** A flat table written outside the append protocol, one file per
    * name in name (= packing) order: a large `(id, a, b)` file, two
    * small ones, and a small file with an `extra` column last — so the
    * first rewritten file lacks the column. */
  private def driftedTable(dir: String): Unit = {
    import spark.implicits._
    val scratch = Files.createTempDirectory("graft-drift-src").toString
    def put(df: DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$scratch/$name")
      val part = new java.io.File(s"$scratch/$name").listFiles()
        .filter(_.getName.startsWith("part-")).head
      new java.io.File(dir).mkdirs()
      Files.copy(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
    }
    def rows(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, (i * 37 % 101).toLong, (i * 53 % 97).toLong))
    put(rows(0, 60000).toDF("id", "a", "b"), "part-00000-big")
    put(rows(60000, 60100).toDF("id", "a", "b"), "part-00001-s1")
    put(rows(60100, 60200).toDF("id", "a", "b"), "part-00002-s2")
    put((60200 until 60300).map(i => (i.toLong, (i * 37 % 101).toLong,
      (i * 53 % 97).toLong, s"x$i")).toDF("id", "a", "b", "extra"),
      "part-00003-extra")
  }

  private def assertExtraKept(back: DataFrame): Unit = {
    assert(back.columns.contains("extra"),
      "the drifted file's extra column was dropped by the rewrite")
    assert(back.count() === 60300L)
    val extra = back.filter(col("extra").isNotNull).select("id", "extra")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(extra.length === 100 &&
      extra.forall { case (id, e) => id >= 60200L && e == s"x$id" })
  }

  test("flat rewrites keep the columns of a drifted file") {
    import graft.operators.Compact
    val base = Files.createTempDirectory("graft-fdrift").toString
    driftedTable(s"$base/t")
    val big = new java.io.File(s"$base/t/part-00000-big.parquet").length()

    // in place: the big file stays untouched, the three small ones pack
    // into one file on the merged schema, and the table is flagged
    // #merge because the untouched file still lacks the column
    val rep = Compact.binPackInPlace(spark, s"$base/t",
      targetBytes = 1L << 26, smallBytes = big)
    assert(rep.nFilesUntouched === 1L && rep.nBinsRewritten === 1L &&
      rep.nFilesAfter === 2L)
    assertExtraKept(Compact.read(spark, s"$base/t"))
    assert(Compact.tableState(spark, s"$base/t").get.merge)

    // into a new directory, and re-clustered in place
    driftedTable(s"$base/u")
    Compact.binPack(spark, s"$base/u", s"$base/u2", targetBytes = 1L << 26,
      smallBytes = big)
    assertExtraKept(spark.read.option("mergeSchema", "true")
      .parquet(s"$base/u2"))
    Compact.optimizeZorder(spark, s"$base/u", Seq("a", "b"),
      targetBytes = 1L << 26, bits = 8)
    assert(!Compact.tableState(spark, s"$base/u").get.merge)
    assertExtraKept(Compact.read(spark, s"$base/u"))
  }

  test("optimizeZorderPartitioned keeps the columns of a drifted leaf") {
    import spark.implicits._
    import graft.operators.Compact
    val base = Files.createTempDirectory("graft-zdrift").toString
    (0 until 600).map(i => (i.toLong, (i % 2).toLong, (i * 37 % 101).toLong,
        (i * 53 % 97).toLong))
      .toDF("id", "p", "a", "b").repartition(3)
      .write.partitionBy("p").parquet(s"$base/t")
    // a third leaf written outside the append protocol, with one more
    // column than the leaf the rewrite takes its schema from
    (600 until 900).map(i => (i.toLong, (i * 37 % 101).toLong,
        (i * 53 % 97).toLong, s"x$i"))
      .toDF("id", "a", "b", "extra").repartition(2)
      .write.parquet(s"$base/t/p=2")
    Compact.optimizeZorderPartitioned(spark, s"$base/t", Seq("a", "b"),
      targetBytes = 1L << 20, bits = 8)
    val back = Compact.readPartitioned(spark, s"$base/t")
    assert(back.columns.contains("extra"),
      "the drifted leaf's extra column was dropped by the rewrite")
    assert(back.count() === 900L)
    val extra = back.filter(col("p") === 2).select("id", "extra").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(extra.length === 300 && extra.forall { case (id, e) => e == s"x$id" })
    // the other leaves read the added column as null
    assert(back.filter(col("p") < 2 && col("extra").isNotNull).count() === 0L)
  }
}
