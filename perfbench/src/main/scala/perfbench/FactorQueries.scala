package perfbench

import java.sql.Timestamp
import java.time.ZoneOffset

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ingest.{CleanFactor, FactorData}
import graft.perf.{Cumulative, EventStudy, Information, Positions, Returns, Turnover}
import graft.sheets.Sheets
import graft.stats.Tables

/** One persisted FactorData (built in set-up) serves a seeded sequence
  * of single analytics calls, each materialized. A round runs every
  * call type once, in a seeded order. */
object FactorQueries extends Workload {
  val name = "factor_queries"
  val Spans: Seq[String] = Seq("perf.ic", "perf.mean_ic_monthly",
    "perf.mean_return_by_quantile", "perf.factor_returns", "perf.alpha_beta",
    "perf.quantile_turnover", "perf.rank_autocorr", "perf.cumulative_returns",
    "perf.event_returns", "perf.pyfolio_input", "stats.returns_table",
    "sheets.summary")
  val Suffixes: Seq[String] = Seq("ms", "jobs", "shuffle_mb")

  /** The collected output of one call: one or more tables. */
  type Out = Seq[Array[Row]]

  def calls(fd: FactorData, returns: DataFrame): Seq[(String, () => Out)] = {
    val l1 = Tearsheet.labels(fd)(1)
    Seq(
      "perf.ic" -> (() => Seq(Information.factorInformationCoefficient(fd).collect())),
      "perf.mean_ic_monthly" -> (() =>
        Seq(Information.meanInformationCoefficient(fd, byTime = Some("M")).collect())),
      "perf.mean_return_by_quantile" -> (() =>
        Seq(Returns.meanReturnByQuantile(fd, byDate = true).collect())),
      "perf.factor_returns" -> (() => Seq(Returns.factorReturns(fd).collect())),
      "perf.alpha_beta" -> (() => Seq(Returns.factorAlphaBeta(fd).collect())),
      "perf.quantile_turnover" -> (() =>
        Seq(Turnover.quantileTurnover(fd, FactorPanel.Quantiles, 1).collect())),
      "perf.rank_autocorr" -> (() =>
        Seq(Turnover.factorRankAutocorrelation(fd, 1).collect())),
      "perf.cumulative_returns" -> (() => Seq(Cumulative.cumulativeReturns(
        Returns.factorReturns(fd).select("date", l1), l1).collect())),
      "perf.event_returns" -> (() => Seq(EventStudy.averageCumulativeReturnByQuantile(
        fd, EventStudy.toCumulative(returns), EventBefore, EventAfter).collect())),
      "perf.pyfolio_input" -> { () =>
        val p = Positions.createPyfolioInput(fd, l1)
        Seq(p.returns.collect(), p.positions.collect()) ++ p.benchmark.map(_.collect())
      },
      "stats.returns_table" -> { () =>
        val (t, cached) = Tables.returnsTableCached(fd)
        try Seq(t.collect()) finally cached.foreach(_.unpersist(true))
      },
      "sheets.summary" -> { () =>
        val s = Sheets.createSummaryTearSheet(fd)
        try Seq(s.quantileStats, s.returnsTable, s.icSummary,
          s.quantileTurnoverMeans, s.autocorrelationMeans).map(_.collect())
        finally s.unpersist(true)
      })
  }

  val EventBefore = 5
  val EventAfter = 10

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (nd, na) = Tearsheet.panelSize(ctx.smoke)
    val panel = new FactorPanel(ctx.seed, nd, na)
    val dir = s"${ctx.workDir}/input"
    panel.writeParquet(spark, dir)
    val returns = panel.dailyReturns(spark).persist(StorageLevel.MEMORY_AND_DISK)
    returns.count()
    var fd: FactorData = null
    val setup = (1 to 3).map { _ =>
      if (fd != null) spark.catalog.clearCache()
      returns.persist(StorageLevel.MEMORY_AND_DISK).count()
      Loop.time {
        fd = CleanFactor.getCleanFactorAndForwardReturns(spark,
          spark.read.parquet(s"$dir/factor"), spark.read.parquet(s"$dir/prices"),
          groupby = Some(spark.read.parquet(s"$dir/groups")),
          periods = FactorPanel.Periods, verbose = false)
      }._2
    }
    val cs = calls(fd, returns)
    // untimed warm-up of every call type; its outputs are the ones checked
    val warm = cs.map { case (n, f) => n -> f() }.toMap
    ctx.verify("factor_queries")(check(ctx, panel, fd, warm))
    val rng = new java.util.Random(ctx.seed)
    val mbs = Seq.newBuilder[Double]
    val loop = Loop.closed(ctx.seconds) { () =>
      val order = cs.map(c => (rng.nextDouble(), c)).sortBy(_._1).map(_._2)
      order.map { case (n, f) =>
        val (out, took) = Loop.time(ctx.span(n)(f()))
        mbs += ctx.cachedMb
        ctx.verify(s"$n repeat")(Check(out.map(_.length) == warm(n).map(_.length),
          s"$n row counts repeat"))
        took
      }
    }
    Outcome(setup, loop, mbs.result(), Map.empty,
      Map("rows" -> panel.keptCount, "calls" -> cs.size))
  }

  def check(ctx: Ctx, panel: FactorPanel, fd: FactorData,
      out: Map[String, Out]): Unit = {
    def t(r: Row): Int = panel.session(r.getAs[Timestamp]("date"))
    val di = panel.factorDates.zipWithIndex.toMap
    val rng = new java.util.Random(ctx.seed + 1)
    val sample = Seq.fill(10)(panel.factorDates(
      FactorPanel.Periods.max + rng.nextInt(panel.factorDates.length - FactorPanel.Periods.max)))
    val hs = fd.horizons

    // IC: plain-Scala Spearman on sampled dates
    var ic = out("perf.ic").head
    if (ctx.corrupting("ic")) {
      ic = ic.map { r =>
        if (t(r) != sample.head) r
        else new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          r.toSeq.zipWithIndex.map { case (v, i) =>
            if (i == 1) v.asInstanceOf[Double] + 1e-3 else v }.toArray, r.schema)
      }
    }
    val icBy = ic.map(r => t(r) -> r).toMap
    for (d <- sample; h <- hs)
      Check.close(icBy(d).getAs[Double](h.label), panel.spearmanIc(d, h.period),
        s"IC ${h.label} on session $d")

    // monthly mean IC: the mean of the per-date series within each month
    def month(r: Row) = {
      val d = r.getAs[Timestamp]("date").toInstant.atZone(ZoneOffset.UTC).toLocalDate
      (d.getYear, d.getMonthValue)
    }
    val byMonth = ic.groupBy(month)
    val monthly = out("perf.mean_ic_monthly").head
    Check(monthly.length == byMonth.size, "one monthly IC row per month")
    monthly.foreach { r =>
      val rs = byMonth(month(r))
      hs.foreach(h => Check.close(r.getAs[Double](h.label),
        rs.map(_.getAs[Double](h.label)).sum / rs.length, s"monthly IC ${h.label}"))
    }

    // mean return by quantile by date: demeaned means on sampled dates
    val mrq = out("perf.mean_return_by_quantile").head.groupBy(t)
    for (d <- sample; h <- hs) {
      val m = panel.demeanedQuantileMeans(d, h.period)
      mrq(d).foreach { r =>
        Check.close(r.getAs[Double](h.label), m(r.getAs[Int]("factor_quantile")),
          s"mean return ${h.label} on session $d")
      }
    }

    // factor returns on sampled dates; weights' absolute values sum to 1
    val fr = out("perf.factor_returns").head.map(r => t(r) -> r).toMap
    for (d <- sample; h <- hs)
      Check.close(fr(d).getAs[Double](h.label), panel.factorReturn(d, h.period),
        s"factor return ${h.label} on session $d")
    Returns.factorWeights(fd).groupBy("date")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.abs(col("weight"))).as("g"))
      .collect().foreach(r => Check.close(r.getAs[Double]("g"), 1.0,
        "long-short absolute weights sum to 1"))

    // alpha/beta: closed-form OLS of factor returns on the universe mean
    val ab = out("perf.alpha_beta").head.map(r => r.getAs[String]("stat") -> r).toMap
    val dates = panel.factorDates
    hs.foreach { h =>
      val x = dates.map(panel.universeMean(_, h.period))
      val y = dates.map(panel.factorReturn(_, h.period))
      val mx = x.sum / x.length; val my = y.sum / y.length
      val cov = x.indices.map(i => (x(i) - mx) * (y(i) - my)).sum / (x.length - 1)
      val vx = x.map(v => (v - mx) * (v - mx)).sum / (x.length - 1)
      val beta = cov / vx
      val alpha = math.pow(1 + my - beta * mx, h.freqAdjust) - 1
      Check.close(ab("beta").getAs[Double](h.label), beta, s"beta ${h.label}", rel = 1e-8)
      Check.close(ab("Ann. alpha").getAs[Double](h.label), alpha, s"alpha ${h.label}",
        rel = 1e-8)
    }

    // top-quantile turnover on every date
    out("perf.quantile_turnover").head.foreach { r =>
      Check.close(r.getAs[Double]("turnover"),
        panel.turnover(di(t(r)), FactorPanel.Quantiles, 1), s"turnover on ${t(r)}")
    }

    // rank autocorrelation: in [-1, 1]; recomputed on sampled dates
    out("perf.rank_autocorr").head.foreach { r =>
      val v = r.getAs[Double]("autocorr")
      Check(v >= -1 - 1e-12 && v <= 1 + 1e-12, s"autocorrelation $v")
      if (sample.contains(t(r)))
        Check.close(v, panel.rankAutocorr(di(t(r)), 1), s"autocorrelation on ${t(r)}")
    }

    // cumulative returns: the running product of (1 + r)
    val l1 = Tearsheet.labels(fd)(1)
    var level = 1.0
    out("perf.cumulative_returns").head.sortBy(t).foreach { r =>
      level *= 1 + (if (r.isNullAt(r.fieldIndex(l1))) 0.0 else r.getAs[Double](l1))
      Check.close(r.getAs[Double](s"cum_$l1"), level, "cumulative return", rel = 1e-9)
    }

    // event returns: every quantile spans the whole offset window
    val ev = out("perf.event_returns").head
    ev.groupBy(_.getAs[Int]("factor_quantile")).foreach { case (q, rs) =>
      Check(rs.map(_.getAs[Int]("offset")).sorted.toSeq == (-EventBefore to EventAfter),
        s"event window of quantile $q")
    }
    Check(ev.map(_.getAs[Int]("factor_quantile")).distinct.length == FactorPanel.Quantiles,
      "event returns for every quantile")

    // pyfolio: non-cash weights are gross-normalized, cash = 1 - net
    val Seq(pret, pos) = out("perf.pyfolio_input").take(2)
    pret.foreach(r => Check(!r.getAs[Double]("ret").isNaN, "pyfolio return is a number"))
    pos.groupBy(_.getAs[Timestamp]("date")).foreach { case (d, rs) =>
      val (cash, assets) = rs.partition(_.getAs[String]("asset") == "cash")
      val net = assets.map(_.getAs[Double]("position")).sum
      val gross = assets.map(r => math.abs(r.getAs[Double]("position"))).sum
      Check(Stats.close(gross, 1.0) || gross == 0.0, s"gross position $gross on $d")
      Check(cash.length == 1, s"one cash row on $d")
      Check.close(cash.head.getAs[Double]("position"), 1 - net, s"cash on $d", abs = 1e-9)
    }

    // returns table: its alpha and beta rows are the alpha/beta call's
    val rt = out("stats.returns_table").head.map(r => r.getAs[String]("stat") -> r).toMap
    for (stat <- Seq("Ann. alpha", "beta"); h <- hs)
      Check.close(rt(stat).getAs[Double](h.label), ab(stat).getAs[Double](h.label),
        s"returns table $stat ${h.label}")

    // summary sheet: quantile counts and the IC mean
    val Seq(qs, _, icSum, _, _) = out("sheets.summary")
    val counts = panel.factorDates.flatMap(panel.labels(_).values)
      .groupBy(identity).map { case (q, v) => q -> v.length.toLong }
    qs.foreach(r => Check(r.getAs[Long]("count") == counts(r.getAs[Int]("factor_quantile")),
      "summary quantile count"))
    icSum.foreach { r =>
      val l = r.getAs[String]("period")
      Check.close(r.getAs[Double]("ic_mean"), ic.map(_.getAs[Double](l)).sum / ic.length,
        s"summary IC mean $l")
    }
  }
}
