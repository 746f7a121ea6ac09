package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                [--size full|smoke] [--record <file>] [--commit <id>]
  * perfbench.Main --selftest
  * }}}
  *
  * Prints one JSON object as the last line of stdout: end-to-end
  * metrics on an untraced run, per-layer metrics on a traced one. The
  * full record (environment, per-op times, spans) goes to `--record`.
  */
object Main {

  val Workloads: Seq[Workload] =
    Seq(Tearsheet, FactorQueries, AnnSearch, CorpusRefresh)

  /** (metric, unit) of every end-to-end metric, in BENCHMARK.json order.
    * Times are the JVM process's CPU time: on this shared host wall time
    * drifts by up to 30% within minutes (hypervisor steal), with about
    * three times the run-to-run spread of CPU time. Wall times go to the
    * record. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_cpu_ms" -> "ms", "cached_mb" -> "MB")

  /** Spans whose durations and task counts become per-layer metrics. */
  val SpanNames: Seq[String] = Tearsheet.Spans ++ FactorQueries.Spans ++
    Seq("vector.train_centroids", "vector.train_codebooks") ++
    AnnSearch.Spans ++ CorpusRefresh.Spans

  /** Per-layer metrics of factor_queries, which BENCHMARK.json does not
    * list (see the README): its traced runs print them after PerLayer. */
  val QueryLayers: Seq[String] = spanMetrics(FactorQueries.Spans, FactorQueries.Suffixes)

  private def spanMetrics(spans: Seq[String], sfx: Seq[String]): Seq[String] =
    for (s <- spans; x <- sfx) yield s"$s.$x"

  /** Every per-layer metric name, in BENCHMARK.json order. A traced run
    * prints all of them; layers its workload does not reach read 0. */
  val PerLayer: Seq[String] =
    spanMetrics(Tearsheet.Spans, Tearsheet.Suffixes) ++
    Seq("vector.train_centroids.ms", "vector.train_codebooks.ms") ++
    spanMetrics(AnnSearch.Spans, AnnSearch.Suffixes) ++
    Seq("vector.candidates_per_result", "vector.recall_at_10") ++
    spanMetrics(CorpusRefresh.Spans, CorpusRefresh.Suffixes) ++
    Seq("operators.write_amp", "spark.gc_ms", "spark.wait_ms")

  def unitOf(metric: String): String = metric.split('.').last match {
    case "ms" | "gc_ms" | "wait_ms" => "ms"
    case "jobs" => "count"
    case "shuffle_mb" | "spill_mb" => "MB"
    case _ => "ratio"
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val selftest = args.contains("--selftest")
    val code =
      try { if (selftest) SelfTest.run() else runOnce(opts) }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }

  def session(workDir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config(Conf.map(workDir, cores))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  object Conf {
    /** The settings that shape a run; recorded with every result. */
    def recorded(cores: Int): Map[String, String] = Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions.graft" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false")

    def map(workDir: String, cores: Int): Map[String, String] =
      (recorded(cores) - "spark.sql.extensions.graft" - "spark.master") ++ Map(
        "spark.local.dir" -> s"$workDir/spark-local",
        "spark.sql.warehouse.dir" -> s"$workDir/warehouse")
  }

  def workDirOf(opts: Map[String, String]): String =
    new File(opts.getOrElse("--workdir", ".bench_build/work")).getAbsolutePath

  /** One measured run; returns the process exit code. */
  def runOnce(opts: Map[String, String]): Int = {
    val wname = opts("--workload")
    val workload = Workloads.find(_.name == wname)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown workload $wname; one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val smoke = opts.getOrElse("--size", "full") == "smoke"
    val cores = Runtime.getRuntime.availableProcessors
    val workDir = workDirOf(opts)
    val spark = session(workDir, cores)
    try {
      val (line, record) = measure(spark, workload, seed, seconds, trace, smoke,
        cores, workDir, None, opts.getOrElse("--commit", "unknown"))
      opts.get("--record").foreach { path =>
        val f = new File(path)
        Option(f.getParentFile).foreach(_.mkdirs())
        val w = new PrintWriter(f)
        try w.println(record) finally w.close()
      }
      println(line)
      0
    } finally spark.stop()
  }

  /** Runs one workload and renders (result line, record). */
  def measure(spark: SparkSession, workload: Workload, seed: Long,
      seconds: Double, trace: Boolean, smoke: Boolean, cores: Int,
      workDir: String, corrupt: Option[String],
      commit: String): (String, String) = {
    val runId = s"${workload.name}-$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark.sparkContext, trace, runId)
    val ctx = Ctx(spark, seed, seconds, smoke, tracer,
      s"$workDir/${workload.name}", cores, corrupt)
    ctx.rmrf(ctx.workDir)
    val out = workload.run(ctx)
    val spans = tracer.finish()
    val correct = ctx.failures.isEmpty
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> Stats.median(out.setup.map(_.cpuMs / 1e3)),
        "op_cpu_ms" -> Stats.median(out.loop.ops.map(_.cpuMs)),
        "cached_mb" -> Stats.median(out.cachedMb))
      else {
        val names = PerLayer ++ (if (workload == FactorQueries) QueryLayers else Nil)
        val fromSpans = SpanNames.flatMap { span =>
          val sfx = names.filter(_.startsWith(span + "."))
            .map(_.stripPrefix(span + "."))
          Tracer.layerMetrics(tracer, spans, span, sfx, cores)
        }.toMap
        val wait = tracer.taskTotals
        val derived = out.layers ++ Map(
          "spark.gc_ms" -> out.loop.gcMs / out.loop.ops.size,
          "spark.wait_ms" -> (if (wait.tasks == 0) 0.0 else wait.waitMs.toDouble / wait.tasks))
        names.map(n => n -> derived.getOrElse(n, fromSpans.getOrElse(n, 0.0)))
      }
    val units = if (trace) (PerLayer ++ QueryLayers).map(n => n -> unitOf(n)).toMap
      else EndToEnd.toMap
    val line = Json.obj(
      "correct" -> correct,
      "attempted" -> out.loop.ops.size.toLong,
      "failed" -> 0L,
      "metrics" -> metrics.map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> units(n)) }.toMap)
    val env = Map(
      "nproc" -> cores,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "conf" -> Conf.recorded(cores),
      "size" -> (if (smoke) "smoke" else "full"),
      "seconds" -> seconds,
      "trace" -> trace)
    val record = Json.obj(
      "workload" -> workload.name,
      "seed" -> seed,
      "commit" -> commit,
      "env" -> env,
      "result" -> metrics.toMap,
      "correct" -> correct,
      "check_failures" -> ctx.failures.toSeq,
      "attempted" -> out.loop.ops.size.toLong,
      "failed" -> 0L,
      "setup_wall_s" -> out.setup.map(_.wallMs / 1e3),
      "setup_cpu_s" -> out.setup.map(_.cpuMs / 1e3),
      "op_wall_ms" -> out.loop.ops.map(_.wallMs),
      "op_cpu_ms" -> out.loop.ops.map(_.cpuMs),
      "loop_s" -> out.loop.seconds,
      "notes" -> out.notes,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.runId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    (line, record)
  }
}
