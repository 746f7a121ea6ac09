package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import graft.ingest.{CleanFactor, FactorData}
import graft.sheets.Sheets

/** Full alphalens lifecycles: raw factor and price parquet -> clean
  * factor with forward returns (1, 5, 10) -> every table of the full
  * tear sheet by group, materialized -> release every cache. */
object Tearsheet extends Workload {
  val name = "tearsheet"
  val Spans: Seq[String] = Seq("ingest.clean_factor", "stats.quantile_stats",
    "sheets.returns", "sheets.information", "sheets.turnover")
  val Suffixes: Seq[String] = Seq("ms", "jobs", "shuffle_mb", "spill_mb", "busy")

  def panelSize(smoke: Boolean): (Int, Int) = if (smoke) (60, 40) else (80, 100)

  /** The collected tables of one lifecycle. */
  final case class Lifecycle(fd: FactorData, panel: Array[Row],
      quantileStats: Array[Row], meanByDate: Array[Row], ic: Array[Row],
      turnover: Array[Row], autocorr: Array[Row], cachedMb: Double, took: Took)

  /** One lifecycle. `took` covers ingest through the last materialized
    * table; collecting the panel for the checks and releasing the
    * caches happen after it. */
  def lifecycle(ctx: Ctx, dir: String, collectPanel: Boolean): Lifecycle = {
    val spark = ctx.spark
    val sw = Loop.stopwatch()
    val fd = ctx.span("ingest.clean_factor") {
      CleanFactor.getCleanFactorAndForwardReturns(spark,
        spark.read.parquet(s"$dir/factor"), spark.read.parquet(s"$dir/prices"),
        groupby = Some(spark.read.parquet(s"$dir/groups")),
        periods = FactorPanel.Periods, verbose = false)
    }
    val sheet = Sheets.createFullTearSheet(fd, byGroup = true)
    val qs = ctx.span("stats.quantile_stats")(sheet.quantileStats.collect())
    val r = sheet.returns
    val byDate = ctx.span("sheets.returns") {
      (Seq(r.factorReturns, r.meanQuantRateret, r.spread, r.alphaBeta,
        r.returnsTable) ++ r.cumulativeReturns ++ r.cumulativeReturnsByQuantile ++
        r.meanQuantRateretByGroup).foreach(_.collect())
      r.meanQuantRateretByDate.collect()
    }
    val i = sheet.information
    val ic = ctx.span("sheets.information") {
      (Seq(i.icSummary, i.monthlyMeanIc) ++ i.meanIcByGroup).foreach(_.collect())
      i.ic.collect()
    }
    val t = sheet.turnover
    val (turn, auto) = ctx.span("sheets.turnover") {
      Seq(t.quantileTurnoverMeans, t.autocorrelationMeans).foreach(_.collect())
      (t.quantileTurnover.collect(), t.autocorrelation.collect())
    }
    val took = sw()
    val mb = ctx.cachedMb
    val panel =
      if (collectPanel) fd.df.select(("date" +: "asset" +: "factor" +:
        "factor_quantile" +: fd.returnCols).map(org.apache.spark.sql.functions.col): _*)
        .collect()
      else Array.empty[Row]
    sheet.unpersist(blocking = true)
    fd.df.unpersist(blocking = true)
    Lifecycle(fd, panel, qs, byDate, ic, turn, auto, mb, took)
  }

  def run(ctx: Ctx): Outcome = {
    val (nd, na) = panelSize(ctx.smoke)
    val panel = new FactorPanel(ctx.seed, nd, na)
    val dir = s"${ctx.workDir}/input"
    val setup = (1 to 3).map { _ =>
      Loop.time(panel.writeParquet(ctx.spark, dir))._2
    }
    // no warm-up: a lifecycle is a batch job that a user runs once per
    // process, so the first (cold) one is timed; the checks read the
    // first lifecycle's tables after its timer stopped
    val all = scala.collection.mutable.ArrayBuffer.empty[Lifecycle]
    val loop = Loop.closed(ctx.seconds) { () =>
      val lc = lifecycle(ctx, dir, collectPanel = all.isEmpty)
      all += lc
      Seq(lc.took)
    }
    ctx.verify("tearsheet")(check(ctx, panel, all.head))
    ctx.verify("tearsheet repeats")(all.foreach { lc =>
      Check(lc.quantileStats.map(_.getAs[Long]("count")).sum == panel.keptCount,
        "quantile stats count the kept rows")
      Check(lc.ic.length == all.head.ic.length, "IC series length repeats")
    })
    Outcome(setup, loop, all.map(_.cachedMb).toSeq, Map.empty,
      Map("rows" -> panel.keptCount, "dates" -> nd, "assets" -> na))
  }

  /** Label of each period's horizon column. */
  def labels(fd: FactorData): Map[Int, String] =
    fd.horizons.map(h => h.period -> h.label).toMap

  def check(ctx: Ctx, panel: FactorPanel, lc: Lifecycle): Unit = {
    val fd = lc.fd
    val lab = labels(fd)
    def t(r: Row): Int = panel.session(r.getAs[java.sql.Timestamp]("date"))
    var rows = lc.panel
    if (ctx.corrupting("quantile_label")) {
      rows = rows.clone()
      val r = rows(rows.length / 2)
      val q = r.getAs[Int]("factor_quantile")
      rows(rows.length / 2) = new GenericRowWithSchema(
        r.toSeq.updated(3, if (q == 1) 2 else q - 1).toArray, r.schema)
    }
    Check(rows.length == panel.keptCount,
      s"kept rows ${rows.length} vs generator ${panel.keptCount}")
    rows.groupBy(t).foreach { case (d, rs) =>
      val sizes = rs.groupBy(_.getAs[Int]("factor_quantile")).values.map(_.length)
      Check(sizes.max - sizes.min <= 1, s"quantile sizes on session $d: $sizes")
      rs.foreach { r =>
        val a = r.getAs[Long]("asset").toInt
        Check(panel.labels(d).get(a).contains(r.getAs[Int]("factor_quantile")),
          s"quantile of asset $a on session $d")
      }
    }
    val rng = new java.util.Random(ctx.seed)
    val sample = Seq.fill(10)(panel.factorDates(
      FactorPanel.Periods.max + rng.nextInt(panel.factorDates.length - FactorPanel.Periods.max)))
    val icBy = lc.ic.map(r => t(r) -> r).toMap
    val byDate = lc.meanByDate.groupBy(t)
    val base = fd.horizons.head.span.toNanos.toDouble
    for (d <- sample; h <- fd.horizons) {
      Check.close(icBy(d).getAs[Double](h.label), panel.spearmanIc(d, h.period),
        s"IC ${h.label} on session $d")
      val ratio = base / h.span.toNanos.toDouble
      val means = panel.demeanedQuantileMeans(d, h.period)
      byDate(d).foreach { r =>
        val q = r.getAs[Int]("factor_quantile")
        Check.close(r.getAs[Double](h.label), math.pow(1 + means(q), ratio) - 1,
          s"mean return q$q ${h.label} on session $d")
      }
    }
    val di = panel.factorDates.zipWithIndex.toMap
    lc.turnover.foreach { r =>
      val v = r.getAs[Double]("turnover")
      Check(v >= 0 && v <= 1, s"turnover $v outside [0, 1]")
      val lag = r.getAs[String]("period").stripSuffix("D").toInt
      val d = t(r)
      if (sample.contains(d))
        Check.close(v, panel.turnover(di(d), r.getAs[Int]("factor_quantile"), lag),
          s"turnover on session $d")
    }
    lc.autocorr.foreach { r =>
      val v = r.getAs[Double]("autocorr")
      Check(v >= -1 - 1e-12 && v <= 1 + 1e-12, s"autocorrelation $v outside [-1, 1]")
    }
    val (planted, tol) = panel.plantedIc
    val icMean = lc.ic.map(_.getAs[Double](lab(1))).sum / lc.ic.length
    Check(math.abs(icMean - planted) <= tol,
      s"mean 1-period IC $icMean vs planted $planted +- $tol")
  }
}
