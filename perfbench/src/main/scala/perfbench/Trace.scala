package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One traced interval around a call into a layer. Jobs submitted while
  * the span is innermost carry its id as a Spark local property. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task-level totals attributed to one span (its own jobs only). */
final class SpanCounts {
  var jobs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  var waitMs = 0L
}

/** Attributes jobs and task metrics to the span named by the
  * submitting thread's local property. Spans are kept in memory and
  * written out with the run's record. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String)
    extends SparkListener {
  import Tracer.Key

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val counts = new ConcurrentHashMap[Int, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val allTasks = new SpanCounts

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
        spans += Span(id, name, parent, runId, t0, t1)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(-1)
    counts.computeIfAbsent(sid, _ => new SpanCounts).synchronized {
      counts.get(sid).jobs += 1
    }
    e.stageIds.foreach(st => stageSpan.put(st, sid))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val sid = stageSpan.getOrDefault(e.stageId, -1)
    val info = e.taskInfo
    val wait = math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      info.gettingResultTime)
    def add(c: SpanCounts): Unit = c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.waitMs += wait
    }
    add(counts.computeIfAbsent(sid, _ => new SpanCounts))
    add(allTasks)
  }

  /** Waits for the listener bus, then returns every closed span. */
  def finish(): Seq[Span] = {
    if (enabled) {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(this)
    }
    spans.toSeq
  }

  /** Totals of a span and all its descendants. */
  def inclusive(all: Seq[Span], s: Span): SpanCounts = {
    val children = all.groupBy(_.parent)
    val out = new SpanCounts
    def walk(id: Int): Unit = {
      Option(counts.get(id)).foreach { c =>
        out.jobs += c.jobs; out.runMs += c.runMs
        out.shuffleWriteBytes += c.shuffleWriteBytes
        out.spillBytes += c.spillBytes; out.tasks += c.tasks
        out.waitMs += c.waitMs
      }
      children.getOrElse(id, Nil).foreach(ch => walk(ch.id))
    }
    walk(s.id)
    out
  }

  def taskTotals: SpanCounts = allTasks
}

object Tracer {
  val Key = "perfbench.span"

  /** Suffixes reported for a span name, each the median over the
    * span's occurrences in the run. */
  def layerMetrics(tracer: Tracer, spans: Seq[Span], name: String,
      suffixes: Seq[String], cores: Int): Seq[(String, Double)] = {
    val occ = spans.filter(_.name == name)
    def med(f: Span => Double): Double =
      if (occ.isEmpty) 0.0 else Stats.median(occ.map(f))
    suffixes.map { sfx =>
      val v = sfx match {
        case "ms" => med(_.ms)
        case "jobs" => med(s => tracer.inclusive(spans, s).jobs.toDouble)
        case "shuffle_mb" =>
          med(s => tracer.inclusive(spans, s).shuffleWriteBytes / 1e6)
        case "spill_mb" => med(s => tracer.inclusive(spans, s).spillBytes / 1e6)
        case "busy" =>
          med(s => tracer.inclusive(spans, s).runMs / (math.max(s.ms, 1e-3) * cores))
      }
      s"$name.$sfx" -> v
    }
  }

  /** Rows feeding the topmost window of an executed plan: the first
    * node below it, past any window or window-group-limit (the partial
    * top-k Spark pushes below a ranking window), that counts its output
    * rows. */
  def rowsIntoTopWindow(plan: SparkPlan): Option[Long] = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    def windowish(p: SparkPlan) = p.nodeName == "Window" || p.nodeName == "WindowGroupLimit"
    def findWindow(p: SparkPlan): Option[SparkPlan] = {
      val u = unwrap(p)
      if (u.nodeName == "Window") Some(u)
      else u.children.iterator.map(findWindow).collectFirst { case Some(w) => w }
    }
    def firstCounted(p: SparkPlan): Option[Long] = {
      val u = unwrap(p)
      u.metrics.get("numOutputRows") match {
        case Some(m) if !windowish(u) => Some(m.value)
        case _ => u.children.headOption.flatMap(firstCounted)
      }
    }
    findWindow(plan).flatMap(w => w.children.headOption.flatMap(firstCounted))
  }

  /** JVM-wide garbage-collection time so far, in ms. */
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
