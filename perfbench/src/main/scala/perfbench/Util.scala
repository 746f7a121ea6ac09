package perfbench

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Spearman correlation with average ranks for ties. */
  def spearman(x: Array[Double], y: Array[Double]): Double =
    pearson(avgRanks(x), avgRanks(y))

  def avgRanks(x: Array[Double]): Array[Double] = {
    val idx = x.indices.sortBy(x(_))
    val r = new Array[Double](x.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && x(idx(j + 1)) == x(idx(i))) j += 1
      val avg = (i + j) / 2.0 + 1.0
      (i to j).foreach(k => r(idx(k)) = avg)
      i = j + 1
    }
    r
  }

  def pearson(x: Array[Double], y: Array[Double]): Double = {
    val n = x.length
    val mx = x.sum / n; val my = y.sum / n
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    var i = 0
    while (i < n) {
      val dx = x(i) - mx; val dy = y(i) - my
      sxy += dx * dy; sxx += dx * dx; syy += dy * dy
      i += 1
    }
    sxy / math.sqrt(sxx * syy)
  }

  /** |a - b| within `rel` of the larger magnitude, with an absolute
    * floor for values that are sums cancelling to near zero. */
  def close(a: Double, b: Double, rel: Double = 1e-9, abs: Double = 1e-12): Boolean =
    math.abs(a - b) <= math.max(rel * math.max(math.abs(a), math.abs(b)), abs)
}

/** A failed correctness check: the run reports `correct: false`. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  def close(a: Double, b: Double, what: => String, rel: Double = 1e-9,
      abs: Double = 1e-12): Unit =
    apply(Stats.close(a, b, rel, abs), s"$what: program $a vs expected $b")
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
    java.lang.Double.toString(d)
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case m: scala.collection.Seq[_] => m.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  /** An insertion-ordered object. */
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ": " + apply(x) }.mkString("{", ", ", "}")
}

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    smoke: Boolean,
    tracer: Tracer,
    workDir: String,
    cores: Int,
    corrupt: Option[String]) {
  /** Messages of the correctness checks that failed. */
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Runs checks outside any timed region; a failure is recorded and
    * makes the run report `correct: false`. */
  def verify(what: String)(checks: => Unit): Unit =
    try checks
    catch { case e: CheckFailed => failures += s"$what: ${e.getMessage}" }

  def traced: Boolean = tracer.enabled
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Persisted bytes the session holds right now, in MB. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Mutation applied to a collected result when the harness tests its
    * own checks; None on every measured run. */
  def corrupting(kind: String): Boolean = corrupt.contains(kind)
}

/** What a workload measured; `layers` holds per-layer values that do
  * not come from spans. Every operation attempted is in `loop`: one that
  * throws ends the run, so none is counted as failed. */
final case class Outcome(
    setup: Seq[Took],
    loop: LoopResult,
    cachedMb: Seq[Double],
    layers: Map[String, Double],
    notes: Map[String, Any])

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Wall time and the JVM process's CPU time (all threads) of one
  * piece of work, in ms. */
final case class Took(wallMs: Double, cpuMs: Double) {
  def +(o: Took): Took = Took(wallMs + o.wallMs, cpuMs + o.cpuMs)
}

/** Per-op times, the loop's wall time (s) and the JVM's GC time during
  * the loop (ms). */
final case class LoopResult(ops: Seq[Took], seconds: Double, gcMs: Double)

object Loop {
  /** Closed loop with one client: whole rounds run until `seconds` have
    * passed (a round that starts always finishes). */
  def closed(seconds: Double)(round: () => Seq[Took]): LoopResult = {
    val gc0 = Tracer.gcMs
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[Took]
    var elapsed = 0.0
    var rounds = 0
    while (rounds == 0 || elapsed < seconds) {
      ops ++= round()
      rounds += 1
      elapsed = (System.nanoTime() - t0) / 1e9
    }
    LoopResult(ops.result(), elapsed, (Tracer.gcMs - gc0).toDouble)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Starts a stopwatch; calling the result reads it. */
  def stopwatch(): () => Took = {
    val w0 = System.nanoTime(); val c0 = os.getProcessCpuTime
    () => Took((System.nanoTime() - w0) / 1e6, (os.getProcessCpuTime - c0) / 1e6)
  }

  def time[T](body: => T): (T, Took) = {
    val sw = stopwatch()
    val r = body
    (r, sw())
  }
}
