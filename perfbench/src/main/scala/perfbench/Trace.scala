package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval around a call into a layer. Times are
  * nanoseconds since the tracer's origin; `wallStartMs`/`wallEndMs` are
  * epoch milliseconds, used only to place listener events that carry no
  * span id (Catalyst planning phases). `parent` is 0 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      wallStartMs: Long, wallEndMs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

/** Executor-side counts attributed to one span (summed over its tasks). */
final class Counts {
  val jobs, tasks, cpuNs, runMs, gcMs, serMs, schedMs = new AtomicLong
  val shufReadB, shufWriteB, spillB, inputB, planMs = new AtomicLong
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get,
    "run_ms" -> runMs.get, "gc_ms" -> gcMs.get, "ser_ms" -> serMs.get,
    "sched_ms" -> schedMs.get, "shuffle_read_b" -> shufReadB.get,
    "shuffle_write_b" -> shufWriteB.get, "spill_b" -> spillB.get,
    "input_b" -> inputB.get, "plan_ms" -> planMs.get)
}

object Tracer {
  /** Spark local property carrying the innermost open span id; Spark
    * copies local properties into every job it submits from the thread. */
  val SpanKey = "perfbench.span"

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Innermost span whose wall-clock interval contains `ms`, else 0. */
  def containing(spans: Seq[Span], ms: Long): Int = {
    val hits = spans.filter(s => s.wallStartMs <= ms && ms <= s.wallEndMs)
    if (hits.isEmpty) 0 else hits.maxBy(_.startNs).id
  }
}

/** Span recorder for the benchmark's single closed-loop driver thread.
  * Disabled, `span` is a plain call (the untraced run pays nothing).
  * Enabled, it keeps spans in memory, tags Spark jobs with the open span
  * id, and a listener attributes job/task counts to those ids. */
final class Tracer(val enabled: Boolean, val runId: String, sc: SparkContext) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val tasksSeen = new AtomicLong
  // (planning start ms, planning ms) per completed query execution
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def countsOf(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val id = Option(j.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toInt).getOrElse(0)
      countsOf(id).jobs.incrementAndGet()
      j.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(t.stageId, 0))
      c.tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.serMs.addAndGet(m.resultSerializationTime + m.executorDeserializeTime)
        c.schedMs.addAndGet(math.max(0L, t.taskInfo.finishTime - t.taskInfo.launchTime -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
        c.shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillB.addAndGet(m.diskBytesSpilled)
        c.inputB.addAndGet(m.inputMetrics.bytesRead)
      }
      tasksSeen.incrementAndGet()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, t0 - origin, t1 - origin, w0, w1, runId)
      }
    }

  /** Listener events arrive asynchronously: poll the task counter until it
    * holds still across two 200 ms windows (at most 5 s). */
  def settle(): Unit = if (enabled) {
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 5000) {
      val before = tasksSeen.get
      Thread.sleep(200)
      waited += 200
      if (tasksSeen.get == before) stable += 1 else stable = 0
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Per-span counts, with Catalyst planning time placed by wall clock. */
  def countsBySpan: Map[Int, Map[String, Long]] = {
    val all = spans.toSeq
    plans.asScala.foreach { case (ms, dur) =>
      countsOf(Tracer.containing(all, ms)).planMs.addAndGet(dur)
    }
    plans.clear()
    counts.asScala.map { case (k, v) => k -> v.toMap }.toMap
  }
}
