package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from the benchmark's own code around each call into
  * a layer of the program. A span has a name, a layer, start and end
  * (ns), its parent span and the id of the operation (root span) it
  * belongs to. Spans stay in memory and are written as JSON lines at
  * the end of the run.
  *
  * Nothing is recorded, and no listener is attached, until [[start]]:
  * with `enabled = false` (the untraced run) [[span]] is a plain call.
  */
final class Trace(val enabled: Boolean) {
  private case class Span(id: Long, parent: Long, op: Long, name: String,
      layer: String, start: Long, end: Long)

  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private var spark: SparkSession = _
  var taskStats: Option[TaskStats] = None
  var planStats: Option[PlanStats] = None

  def active: Boolean = on

  /** Attach the listeners and begin recording (the traced half). */
  def start(s: SparkSession): Unit = if (enabled && !on) {
    spark = s
    val ts = new TaskStats
    val ps = new PlanStats
    s.sparkContext.addSparkListener(ts)
    s.listenerManager.register(ps)
    taskStats = Some(ts)
    planStats = Some(ps)
    on = true
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (spark != null) ListenerBus.drain(spark.sparkContext)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val (parent, op) = parents.headOption.getOrElse((0L, id))
      stack.set((id, op) :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized(spans += Span(id, parent, op, name, layer, t0, t1))
      }
    }

  /** Writes the spans and reports each layer's self time per operation
    * (span time minus the time of its child spans, summed by layer). */
  def finish(r: Report, path: String): Unit = if (enabled) {
    val all = spans.synchronized(spans.toList)
    Json.writeLines(path, all.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start,
      "end_ns" -> s.end)))
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    val ops = math.max(1, all.count(_.parent == 0))
    Trace.layers.foreach { layer =>
      val self = all.filter(_.layer == layer)
        .map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum
      r.layer(s"self.${layer}_ms", "ms", self / 1e6 / ops)
    }
  }
}

object Trace {
  /** The program's layers, as spans name them. */
  val layers: Seq[String] = Seq("graft.streaming", "graft.operators", "snapshot")
}

/** Task metrics summed over every task that ended while attached. */
final class TaskStats extends SparkListener {
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var bytesRead = 0L
  @volatile var tasks = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      bytesRead += m.inputMetrics.bytesRead
    }
    tasks += 1
  }
  def snapshot: Array[Long] = synchronized(Array(cpuNs, gcMs, shuffleBytes, bytesRead, tasks))
}

/** Analysis + optimisation + planning time of every query execution
  * that finished while attached, from `QueryExecution.tracker`. */
final class PlanStats extends QueryExecutionListener {
  @volatile var planMs = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-operation deltas of the traced counters. */
final class Meter(trace: Trace) {
  private def now: Array[Long] = {
    trace.drain()
    val t = trace.taskStats.map(_.snapshot).getOrElse(Array.fill(5)(0L))
    val p = trace.planStats.map(_.planMs).getOrElse(0L)
    t ++ Array(p, CodeGenerator.compileTime)
  }
  private var last = now
  /** cpu ns, gc ms, shuffle bytes, bytes read, tasks, plan ms, codegen ns. */
  def delta(): Array[Long] = {
    val n = now
    val d = n.zip(last).map { case (a, b) => a - b }
    last = n
    d
  }
}
