package perfbench

/** Smoke size of every workload through the same code path, then one
  * corrupted value per workload: each corruption must make the run's
  * checks fail. Prints one line per case and returns the exit code. */
object SelfTest {
  val Corruptions: Seq[(Workload, String)] = Seq(
    Tearsheet -> "quantile_label",
    FactorQueries -> "ic",
    AnnSearch -> "dropped_neighbour",
    AnnSearch -> "wrong_cosine",
    CorpusRefresh -> "dedup_verdict")

  def run(): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val workDir = Main.workDirOf(Map.empty) + "-selftest"
    val spark = Main.session(workDir, cores)
    def once(w: Workload, corrupt: Option[String], trace: Boolean): Boolean = {
      val (line, record) = Main.measure(spark, w, seed = 1L, seconds = 0.0,
        trace = trace, smoke = true, cores = cores, workDir = workDir,
        corrupt = corrupt, commit = "selftest")
      val ok = line.startsWith("{\"correct\": true")
      if (!ok || corrupt.isDefined)
        println(s"[selftest] ${w.name} ${corrupt.getOrElse("clean")}: " +
          record.linesIterator.next().take(600))
      ok
    }
    try {
      val clean = Main.Workloads.map { w =>
        val ok = once(w, None, trace = false) && once(w, None, trace = true)
        println(s"[selftest] ${w.name} clean untraced+traced: ${if (ok) "PASS" else "FAIL"}")
        ok
      }
      val bite = Corruptions.map { case (w, kind) =>
        val caught = !once(w, Some(kind), trace = false)
        println(s"[selftest] ${w.name} corrupt $kind caught: ${if (caught) "PASS" else "FAIL"}")
        caught
      }
      if ((clean ++ bite).forall(identity)) 0 else 1
    } finally spark.stop()
  }
}
