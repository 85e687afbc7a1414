package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts gathered while one span is open. Listener callbacks arrive on
  * Spark's listener-bus threads, so every update takes the lock. */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized {
    m.update(k, m.getOrElse(k, 0.0) + v)
  }
  def snapshot: Map[String, Double] = synchronized(m.toMap)
}

/** One timed region of the benchmark's own code around a call into a
  * layer. `parent` is the enclosing span's id (-1 at the top). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    pass: Int, startNs: Long, var endNs: Long = 0L,
    counters: Counters = new Counters)

/** Span stack plus the sink the listeners write into. Spans stay in memory
  * and are written out when the run ends. */
object Trace {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var current: Span = null

  def all: Seq[Span] = spans.toSeq
  def size: Int = spans.size
  def at(i: Int): Option[Span] = spans.lift(i)

  /** Events that arrive while no span is open (set-up, untraced passes). */
  val outside = new Counters

  def sink: Counters = { val s = current; if (s == null) outside else s.counters }

  /** Run `body` inside a span. Before the span closes, the listener bus is
    * drained so that every event posted during `body` is charged to it. */
  def span[T](name: String, layer: String, pass: Int)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      layer, pass, System.nanoTime())
    spans += s
    stack.push(s)
    current = s
    val io0 = ProcIo.read()
    try body
    finally {
      org.apache.spark.PerfBenchBus.drain()
      val io1 = ProcIo.read()
      io1.foreach { case (k, v) => s.counters.add(k, v - io0.getOrElse(k, 0L)) }
      s.endNs = System.nanoTime()
      stack.pop()
      current = stack.headOption.orNull
    }
  }
}

/** `/proc/self/io` read and write syscall counters of this JVM. */
object ProcIo {
  def read(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().flatMap { l =>
        l.split(":\\s*") match {
          case Array("syscr", v) => Some("jvm.read_syscalls" -> v.trim.toLong)
          case Array("syscw", v) => Some("jvm.write_syscalls" -> v.trim.toLong)
          case _ => None
        }
      }.toMap finally src.close()
    } catch { case _: Throwable => Map.empty }
}

/** Job, stage, task, shuffle and streaming-progress counts. Attached to the
  * SparkContext, so it sees every session, including the `newSession()`
  * clones that `Tuned.session` and the streaming specs plan on. Like
  * `PlanListener`, it does nothing while tracing is off, so an untraced
  * pass pays only Spark's dispatch of each event to it. */
final class TaskListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Trace.sink.add("spark.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.enabled) Trace.sink.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) {
    val c = Trace.sink
    c.add("spark.tasks", 1)
    if (e.reason != Success) c.add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("spark.task_ms", m.executorRunTime)
      c.add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      c.add("spark.gc_ms", m.jvmGCTime)
      c.add("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      c.add("spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      c.add("spark.shuffle.spill_bytes", m.diskBytesSpilled)
      c.add("spark.shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      c.add("core.Tables.input_bytes", m.inputMetrics.bytesRead)
      c.add("core.Tables.input_rows", m.inputMetrics.recordsRead)
      c.add("spark.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent if Trace.enabled =>
      val c = Trace.sink
      c.add("streaming.batches", 1)
      if (p.progress.numInputRows == 0) c.add("streaming.empty_batches", 1)
      val d = p.progress.durationMs
      Seq("triggerExecution" -> "streaming.trigger_ms",
        "addBatch" -> "streaming.add_batch_ms",
        "walCommit" -> "streaming.wal_commit_ms",
        "commitOffsets" -> "streaming.commit_offsets_ms",
        "queryPlanning" -> "streaming.query_planning_ms").foreach {
        case (k, name) => if (d.containsKey(k)) c.add(name, d.get(k).doubleValue)
      }
    case _ =>
  }
}

/** Planning time and physical-plan shape of every finished Dataset action.
  * Registered through `spark.sql.queryExecutionListeners`, which Spark
  * applies to every session it builds, clones included. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = if (Trace.enabled) {
    val c = Trace.sink
    c.add("plans.actions", 1)
    val phases = qe.tracker.phases
    c.add("plans.planning_ms", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum)
    val nodes = try PlanShape.nodes(qe.executedPlan)
      catch { case _: Throwable => Nil }
    nodes.foreach {
      case e: ShuffleExchangeLike =>
        c.add("plans.exchanges", 1)
        if (e.outputPartitioning == SinglePartition)
          c.add("plans.single_partition_exchanges", 1)
      case _: BroadcastExchangeLike => c.add("plans.exchanges", 1)
      case _: SortMergeJoinExec => c.add("plans.joins.smj", 1)
      case _: BroadcastHashJoinExec => c.add("plans.joins.bhj", 1)
      case _: ShuffledHashJoinExec => c.add("plans.joins.shj", 1)
      case _: BroadcastNestedLoopJoinExec => c.add("plans.joins.bnlj", 1)
      case _ =>
    }
  }
}

/** Every node of a finished plan: adaptive stages and subqueries included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
}
