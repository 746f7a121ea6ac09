package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.data.Pipelines
import graft.ingest.Quantize
import graft.sheets.Sheets
import graft.stats.Tables

/** Tear-sheet smoke tests on the sf0.001 fixture (mirrors the
  * reference's tests/test_tears.py:152-326 style: every sheet runs and
  * every table is non-empty and schema-correct). */
class SheetsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val JobBound = 16
  private lazy val fd = Pipelines.factorData(spark, dir)
  private lazy val fdG = Pipelines.factorData(spark, dir, withGroup = true)

  private lazy val returns: DataFrame = {
    val w = Window.partitionBy("asset").orderBy("date")
    Pipelines.prices(Pipelines.panel(spark, dir))
      .withColumn("ret", col("price") / lag(col("price"), 1).over(w) - 1.0)
      .select("date", "asset", "ret")
  }

  private def nonEmpty(df: DataFrame, cols: String*): Long = {
    val n = df.count()
    assert(n > 0, s"empty table; expected columns $cols")
    cols.foreach(c => assert(df.columns.contains(c), s"missing column $c in ${df.columns.mkString(",")}"))
    n
  }

  test("summary tear sheet") {
    val s = Sheets.createSummaryTearSheet(fd)
    assert(nonEmpty(s.quantileStats, "factor_quantile", "count_pct") === 5)
    assert(nonEmpty(s.returnsTable, "stat", "ret_1", "ret_5") === 5)
    assert(nonEmpty(s.icSummary, "period", "ic_mean", "p_value") === 2)
    nonEmpty(s.quantileTurnoverMeans, "factor_quantile", "period", "mean_turnover")
    assert(nonEmpty(s.autocorrelationMeans, "period", "mean_autocorr") === 2)
  }

  test("returns tear sheet incl. cumulative curves and by-group") {
    val s = Sheets.createReturnsTearSheet(fdG, byGroup = true)
    nonEmpty(s.factorReturns, "date", "ret_1", "ret_5")
    assert(nonEmpty(s.meanQuantRateret, "factor_quantile") === 5)
    nonEmpty(s.meanQuantRateretByDate, "factor_quantile", "date", "ret_1_std_err")
    nonEmpty(s.spread, "date", "ret_1", "ret_1_std_err")
    assert(nonEmpty(s.alphaBeta, "stat") === 2)
    assert(s.cumulativeReturns.isDefined && s.cumulativeReturnsByQuantile.isDefined)
    nonEmpty(s.cumulativeReturns.get, "date", "cum_ret_1")
    nonEmpty(s.cumulativeReturnsByQuantile.get, "factor_quantile", "cum_ret_1")
    nonEmpty(s.meanQuantRateretByGroup.get, "factor_quantile", "group")
  }

  test("information tear sheet incl. group-neutral by-group") {
    val s = Sheets.createInformationTearSheet(fdG, groupNeutral = true, byGroup = true)
    nonEmpty(s.ic, "date", "ret_1", "ret_5")
    assert(nonEmpty(s.icSummary, "period", "risk_adjusted_ic") === 2)
    nonEmpty(s.monthlyMeanIc, "date")
    nonEmpty(s.meanIcByGroup.get, "group")
  }

  test("turnover tear sheet") {
    val s = Sheets.createTurnoverTearSheet(fd)
    nonEmpty(s.quantileTurnover, "period", "factor_quantile", "date", "turnover")
    nonEmpty(s.autocorrelation, "period", "date", "autocorr")
    nonEmpty(s.quantileTurnoverMeans, "mean_turnover")
    nonEmpty(s.autocorrelationMeans, "mean_autocorr")
  }

  test("tear sheets leave nothing cached; their tables outlive unpersist") {
    val sc = spark.sparkContext
    fd.df.count() // the factor panel's own cache is not the sheets'
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val s = Sheets.createTurnoverTearSheet(fd)
    assert(s.quantileTurnoverMeans.collect().nonEmpty)
    val full = Sheets.createFullTearSheet(fd)
    Seq(full.quantileStats, full.returns.returnsTable, full.information.icSummary,
      full.turnover.autocorrelationMeans).foreach(t => assert(t.collect().nonEmpty))
    val added = sc.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(added.isEmpty,
      s"tear sheets left ${added.length} cached RDD(s): ${added.mkString("; ")}")
    s.unpersist(blocking = true)
    full.unpersist(blocking = true)
    assert(s.quantileTurnoverMeans.collect().nonEmpty)
    assert(full.returns.spread.collect().nonEmpty)
  }

  test("a full tear sheet by group runs a bounded number of Spark jobs") {
    val sc = spark.sparkContext
    fdG.df.count() // ingest is not the sheet's
    ColumnBridge.drainListenerBus(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val s = Sheets.createFullTearSheet(fdG, byGroup = true)
      val r = s.returns
      val i = s.information
      val t = s.turnover
      (Seq(s.quantileStats, r.factorReturns, r.meanQuantRateret,
        r.meanQuantRateretByDate, r.spread, r.alphaBeta, r.returnsTable) ++
        r.cumulativeReturns ++ r.cumulativeReturnsByQuantile ++
        r.meanQuantRateretByGroup ++ Seq(i.ic, i.icSummary, i.monthlyMeanIc) ++
        i.meanIcByGroup ++ Seq(t.quantileTurnover, t.autocorrelation,
          t.quantileTurnoverMeans, t.autocorrelationMeans))
        .foreach(_.collect())
      ColumnBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    // eight shared passes of one to three jobs each, and no job per table
    assert(jobs.get <= JobBound, s"full tear sheet ran ${jobs.get} jobs")
  }

  test("the factor panel is date-clustered: per-date passes plan no exchange") {
    // quantizing by group partitions its window by (date, group); the
    // quantizer's own repartition keeps that panel date-clustered too
    val byGroup = Quantize.quantizeFactor(Pipelines.merged(spark, dir, withGroup = true),
      Quantize.QuantilesInt(4), byGroup = true, noRaise = true).persist()
    try for (panel <- Seq(fd.df, fdG.df, byGroup)) {
      val pass = panel
        .withColumn("__m", avg("factor").over(Window.partitionBy("date")))
        .groupBy("date", "factor_quantile").agg(sum("__m"), count(lit(1)))
      pass.collect()
      // the pass's own operators, through AQE's stages; the cached
      // relation's plan (which holds the ingest exchanges) is not a child
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other.children.flatMap(nodes)
      })
      val ops = nodes(pass.queryExecution.executedPlan)
      val plan = pass.queryExecution.executedPlan
      assert(ops.exists(_.isInstanceOf[InMemoryTableScanExec]), plan)
      assert(!ops.exists(_.isInstanceOf[Exchange]), s"per-date pass shuffles:\n$plan")
    } finally byGroup.unpersist(blocking = true)
  }

  test("one-shot returnsTable leaves nothing cached") {
    val sc = spark.sparkContext
    fd.df.count() // the factor panel's own cache is not the table's
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    assert(Tables.returnsTable(fd).collect().length === 5)
    val added = sc.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(added.isEmpty,
      s"returnsTable left ${added.length} cached RDD(s): ${added.mkString("; ")}")
  }

  test("full tear sheet") {
    val s = Sheets.createFullTearSheet(fdG, byGroup = true)
    nonEmpty(s.quantileStats, "factor_quantile")
    nonEmpty(s.returns.factorReturns, "date")
    nonEmpty(s.information.ic, "date")
    nonEmpty(s.turnover.quantileTurnover, "turnover")
  }

  test("event returns tear sheet") {
    val s = Sheets.createEventReturnsTearSheet(fd, returns,
      periodsBefore = 2, periodsAfter = 3, byGroup = false)
    val n = nonEmpty(s.avgCumulativeReturns, "factor_quantile", "offset", "mean", "std")
    // offsets -2..3 for 5 quantiles
    assert(n <= 5L * 6L)
    assert(s.avgCumulativeReturnsByGroup.isEmpty)
  }

  test("event study tear sheet") {
    val s = Sheets.createEventStudyTearSheet(fd, returns,
      periodsBefore = 2, periodsAfter = 3, nBars = 10)
    val dist = nonEmpty(s.eventsDistribution, "bucket", "bucket_start", "n_events")
    assert(dist <= 10)
    nonEmpty(s.avgCumulativeReturns, "factor_quantile", "offset", "mean")
    nonEmpty(s.factorReturns, "date")
    assert(nonEmpty(s.meanReturnByQuantile, "factor_quantile") === 5)
  }

  test("ic hist and qq tables") {
    val ic = Sheets.createInformationTearSheet(fd).ic
    val hist = Tables.icHistTable(ic, Seq("ret_1", "ret_5"), bins = 10)
    val rows = hist.collect()
    assert(rows.nonEmpty)
    // densities integrate to 1 per period
    rows.groupBy(_.getAs[String]("period")).foreach { case (_, rs) =>
      val integral = rs.map(r => r.getAs[Double]("density") * 0.2).sum
      assertClose(integral, 1.0, 1e-9)
    }
    val qq = Tables.icQQTable(ic, Seq("ret_1")).collect()
    assert(qq.nonEmpty)
    val obs = qq.map(_.getAs[Double]("observed"))
    // standardized: mean ~ 0
    assertClose(obs.sum / obs.length, 0.0, 1e-9)
    val th = qq.map(_.getAs[Double]("theoretical"))
    assert(th.head < 0 && th.last > 0 && th.sorted.toSeq == th.toSeq)
  }

  test("rolling mean ic") {
    val ic = Sheets.createInformationTearSheet(fd).ic
    val roll = Tables.rollingMeanIc(ic, Seq("ret_1"), window = 5)
      .orderBy("date").collect()
    assert(roll.nonEmpty)
    // 5th row equals mean of first five ics
    if (roll.length >= 5) {
      val first5 = roll.take(5).map(_.getAs[Double]("ret_1"))
      assertClose(roll(4).getAs[Double]("ret_1_rolling"),
        first5.sum / 5, 1e-12)
    }
  }

  // ---- parameter sweeps (reference tests/test_tears.py:152-326) -------
  // The reference asserts "no exceptions" across quantiles × periods ×
  // flag combinations; here each swept sheet additionally materializes
  // its tables and pins the row counts that follow from the parameters.

  test("returns tear sheet sweep: quantiles × periods (test_tears.py:152-168)") {
    for ((q, ps) <- Seq((2, Seq(1, 5, 10)), (3, Seq(2, 4, 6)))) {
      val f = Pipelines.factorData(spark, dir, ps, q)
      val s = Sheets.createReturnsTearSheet(f, longShort = false)
      nonEmpty(s.factorReturns, "date", s"ret_${ps.head}", s"ret_${ps.last}")
      assert(nonEmpty(s.meanQuantRateret, "factor_quantile") === q.toLong)
      nonEmpty(s.meanQuantRateretByDate, "factor_quantile", "date")
      nonEmpty(s.spread, "date", s"ret_${ps.head}")
      assert(nonEmpty(s.alphaBeta, "stat") === 2)
      // cumulative curves exist iff a 1-day horizon is present
      assert(s.cumulativeReturns.isDefined === ps.contains(1))
      s.cumulativeReturns.foreach(c => nonEmpty(c, "date", "cum_ret_1"))
      s.cumulativeReturnsByQuantile.foreach(c =>
        nonEmpty(c, "factor_quantile", "cum_ret_1"))
      assert(s.meanQuantRateretByGroup.isEmpty)
    }
  }

  test("information tear sheet sweep: quantiles × periods (test_tears.py:170-186)") {
    for ((q, ps) <- Seq((1, Seq(1, 5, 10)), (4, Seq(1, 2, 3, 7)))) {
      val f = Pipelines.factorData(spark, dir, ps, q)
      val s = Sheets.createInformationTearSheet(f)
      nonEmpty(s.ic, ("date" +: ps.map(p => s"ret_$p")): _*)
      assert(nonEmpty(s.icSummary, "period", "ic_mean", "p_value") === ps.length.toLong)
      nonEmpty(s.monthlyMeanIc, "date")
      assert(s.meanIcByGroup.isEmpty)
    }
  }

  test("turnover tear sheet sweep: explicit turnover periods (test_tears.py:188-214)") {
    val cases = Seq(
      (2, Seq(2, 3, 6), None),
      (4, Seq(1, 2, 3, 7), None),
      (2, Seq(2, 3, 6), Some(Seq(1, 2))),
      (4, Seq(1, 2, 3, 7), Some(Seq(1))))
    for ((q, ps, tps) <- cases) {
      val f = Pipelines.factorData(spark, dir, ps, q)
      val s = Sheets.createTurnoverTearSheet(f, tps)
      val expected = tps.getOrElse(ps).map(p => s"${p}D").toSet
      val gotQt = s.quantileTurnover.select("period").distinct()
        .collect().map(_.getString(0)).toSet
      assert(gotQt === expected, s"turnover periods for q=$q ps=$ps tps=$tps")
      val gotAc = s.autocorrelation.select("period").distinct()
        .collect().map(_.getString(0)).toSet
      assert(gotAc === expected)
      nonEmpty(s.quantileTurnoverMeans, "mean_turnover")
      nonEmpty(s.autocorrelationMeans, "mean_autocorr")
    }
  }

  test("summary tear sheet sweep: long_short on and off (test_tears.py:216-238)") {
    for {
      (q, ps) <- Seq((2, Seq(1, 5, 10)), (3, Seq(1, 2, 3, 7)))
      ls <- Seq(true, false)
    } {
      val f = Pipelines.factorData(spark, dir, ps, q)
      val s = Sheets.createSummaryTearSheet(f, longShort = ls)
      assert(nonEmpty(s.quantileStats, "factor_quantile", "count_pct") === q.toLong)
      assert(nonEmpty(s.returnsTable, "stat", s"ret_${ps.head}") === 5)
      assert(nonEmpty(s.icSummary, "period", "ic_mean") === ps.length.toLong)
      nonEmpty(s.quantileTurnoverMeans, "mean_turnover")
      nonEmpty(s.autocorrelationMeans, "mean_autocorr")
    }
  }

  test("full tear sheet sweep: long_short × group_neutral × by_group (test_tears.py:240-274)") {
    // reference combos: (F,F,F), (T,F,T), (T,T,T) — group flags need the
    // grouped factor_data, exactly as the reference always passes groupby
    for ((q, ps) <- Seq((2, Seq(1, 5)), (4, Seq(1, 8)))) {
      val f = Pipelines.factorData(spark, dir, ps, q, withGroup = true)
      for ((ls, gn, bg) <- Seq((false, false, false), (true, false, true),
        (true, true, true))) {
        val s = Sheets.createFullTearSheet(f, longShort = ls,
          groupNeutral = gn, byGroup = bg)
        assert(nonEmpty(s.quantileStats, "factor_quantile") === q.toLong)
        nonEmpty(s.returns.factorReturns, "date", s"ret_${ps.last}")
        nonEmpty(s.returns.meanQuantRateretByDate, "factor_quantile")
        nonEmpty(s.returns.spread, "date")
        assert(s.returns.meanQuantRateretByGroup.isDefined === bg)
        s.returns.meanQuantRateretByGroup.foreach(g =>
          nonEmpty(g, "factor_quantile", "group"))
        nonEmpty(s.information.ic, "date")
        assert(s.information.meanIcByGroup.isDefined === bg)
        nonEmpty(s.turnover.quantileTurnover, "turnover")
        nonEmpty(s.turnover.autocorrelation, "autocorr")
      }
    }
  }

  test("event returns tear sheet sweep: all six flag combos (test_tears.py:276-302)") {
    for ((ls, gn, bg) <- Seq(
      (false, false, false), (true, false, false), (false, true, false),
      (false, false, true), (true, false, true), (false, true, true))) {
      val s = Sheets.createEventReturnsTearSheet(fdG, returns,
        periodsBefore = 2, periodsAfter = 3, longShort = ls,
        groupNeutral = gn, byGroup = bg)
      nonEmpty(s.avgCumulativeReturns, "factor_quantile", "offset", "mean", "std")
      assert(s.avgCumulativeReturnsByGroup.isDefined === bg)
      s.avgCumulativeReturnsByGroup.foreach(g =>
        nonEmpty(g, "group", "factor_quantile", "offset", "mean"))
    }
  }

  test("event study tear sheet sweep: window shapes incl. zero-sided (test_tears.py:304-326)") {
    for ((before, after) <- Seq((6, 8), (6, 3), (0, 3), (3, 0))) {
      val s = Sheets.createEventStudyTearSheet(fd, returns,
        periodsBefore = before, periodsAfter = after, nBars = 10)
      nonEmpty(s.eventsDistribution, "bucket", "n_events")
      val offsets = s.avgCumulativeReturns.select("offset").distinct()
        .collect().map(_.getInt(0))
      assert(offsets.min >= -before && offsets.max <= after,
        s"offsets ${offsets.min}..${offsets.max} outside -$before..$after")
      nonEmpty(s.factorReturns, "date")
      nonEmpty(s.meanReturnByQuantile, "factor_quantile")
    }
  }
}
