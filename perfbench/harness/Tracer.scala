package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Indices of the cumulative engine counters a span snapshots. */
object C {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskMs = 3; val CpuNs = 4
  val TaskGcMs = 5; val DelayMs = 6; val ShufW = 7; val ShufR = 8; val Spill = 9
  val AnalysisMs = 10; val OptimizeMs = 11; val PlanMs = 12
  // read directly at snapshot time, not from the listener bus
  val Compiles = 13; val CompileNs = 14; val JitMs = 15; val JvmGcMs = 16
  val N = 17
}

/** One call into the program (or a consumer action on a frame it
  * returned), recorded by the harness around the call.
  *
  * @param kind  `op` (one workload operation), or a leaf inside it:
  *              `build` (the call that returns a DataFrame, eager jobs
  *              included), `action` (the consumer's action on it) or
  *              `prep` (a session-store build during set-up)
  * @param delta engine counters accrued while the span was open
  */
final case class Span(id: Int, name: String, module: String, kind: String,
    op: Int, parent: Int, startNs: Long, endNs: Long, delta: Array[Long],
    storeBytes: Long, failed: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and engine counters for the traced run.
  *
  * Counters come from a SparkListener (jobs, stages, tasks and task
  * metrics) and a QueryExecutionListener (Catalyst phase times) that
  * the tracer registers on each session it is attached to, plus
  * Spark's codegen counters and the JVM's JIT and GC beans. The
  * workload runs one call at a time on one client thread, so the
  * counter deltas between a span's start and end (after draining the
  * listener bus) belong to that span's call. Spans stay in memory until
  * the run ends.
  *
  * When tracing is off, [[span]] runs its body and records nothing, and
  * no listener is registered.
  */
final class Tracer(val on: Boolean) {
  private val counters = new AtomicLongArray(C.N)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var sc: org.apache.spark.SparkContext = _
  /** Client-thread time spent in tracing bookkeeping (drains and
    * snapshots). This is only the part of the tracing overhead that the
    * client thread itself pays; listener work competing for the cores
    * shows only in the traced run's own end-to-end numbers. */
  var clientNs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.incrementAndGet(C.Jobs): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.incrementAndGet(C.Stages): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.incrementAndGet(C.Tasks)
      val m = e.taskMetrics
      if (m != null) {
        counters.addAndGet(C.TaskMs, m.executorRunTime)
        counters.addAndGet(C.CpuNs, m.executorCpuTime)
        counters.addAndGet(C.TaskGcMs, m.jvmGCTime)
        counters.addAndGet(C.ShufW, m.shuffleWriteMetrics.bytesWritten)
        counters.addAndGet(C.ShufR,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        counters.addAndGet(C.Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
        // scheduler delay as Spark's UI defines it: the part of the
        // task's lifetime spent neither running nor (de)serializing
        val info = e.taskInfo
        if (info != null && info.finishTime > 0) {
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          if (delay > 0) counters.addAndGet(C.DelayMs, delay)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      counters.addAndGet(C.AnalysisMs, ms("analysis"))
      counters.addAndGet(C.OptimizeMs, ms("optimization"))
      counters.addAndGet(C.PlanMs, ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  /** Registers the listeners on a (new) session's context. */
  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  private def snapshot(): Array[Long] = {
    if (sc != null && !sc.isStopped) org.apache.spark.perfbench.BusDrain.drain(sc)
    val a = Array.tabulate(C.N)(counters.get)
    a(C.Compiles) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    a(C.CompileNs) = CodeGenerator.compileTime
    a(C.JitMs) = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    a(C.JvmGcMs) = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    a
  }

  private def storageBytes(): Long =
    if (sc == null || sc.isStopped) 0L
    else sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs `body` inside a span. A failure is recorded on the span and
    * rethrown. `store` also records the block-manager bytes the call
    * added (prep spans). */
  def span[T](name: String, module: String, kind: String, op: Int,
      store: Boolean = false)(body: => T): T = {
    if (!on) return body
    val b0 = System.nanoTime()
    val before = snapshot()
    val storeBefore = if (store) storageBytes() else 0L
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    spans += null // reserve the id; filled when the span closes
    val t0 = System.nanoTime()
    clientNs += t0 - b0
    var failed = true
    try { val r = body; failed = false; r }
    finally {
      val t1 = System.nanoTime()
      val after = snapshot()
      val stored = if (store) storageBytes() - storeBefore else 0L
      stack = stack.tail
      spans(id) = Span(id, name, module, kind, op, parent, t0, t1,
        Array.tabulate(C.N)(i => after(i) - before(i)), stored, failed)
      clientNs += System.nanoTime() - t1
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

/** Per-layer metrics from a traced run's spans. */
object Layers {
  val Modules = Seq("tiles", "sources", "relational", "text", "dedup",
    "embed", "multimodal", "streaming")

  private val Leaf = Set("build", "action", "prep")

  def metrics(t: Tracer, cores: Int, loopWallS: Double): Seq[(String, Double, String)] = {
    val leaves = t.all.filter(s => Leaf(s.kind))
    def sum(ss: Seq[Span], i: Int): Long = ss.map(_.delta(i)).sum
    val mb = 1048576.0
    val perModule = Modules.flatMap { m =>
      val ls = leaves.filter(_.module == m)
      val build = ls.filter(_.kind == "build")
      val action = ls.filter(_.kind == "action")
      val prep = ls.filter(_.kind == "prep")
      // operations that threw; wrong answers are added by the checker
      val failedOps = t.all.count(s => s.kind == "op" && s.module == m && s.failed)
      Seq(
        (s"$m.calls", ls.size.toDouble, "count"),
        (s"$m.build_s", build.map(_.seconds).sum, "s"),
        (s"$m.build_jobs", sum(build, C.Jobs).toDouble, "count"),
        (s"$m.action_s", action.map(_.seconds).sum, "s"),
        (s"$m.jobs", sum(ls, C.Jobs).toDouble, "count"),
        (s"$m.task_s", sum(ls, C.TaskMs) / 1e3, "s"),
        (s"$m.shuffle_mb", sum(ls, C.ShufW) / mb, "MB"),
        (s"$m.prep_s", prep.map(_.seconds).sum, "s"),
        (s"$m.store_mb", prep.map(_.storeBytes).sum / mb, "MB"),
        (s"$m.failed", failedOps.toDouble, "count"))
    }
    val wall = leaves.map(_.seconds).sum
    val taskS = sum(leaves, C.TaskMs) / 1e3
    val engine = Seq(
      ("spark.catalyst.analysis_s", sum(leaves, C.AnalysisMs) / 1e3, "s"),
      ("spark.catalyst.optimize_s", sum(leaves, C.OptimizeMs) / 1e3, "s"),
      ("spark.catalyst.plan_s", sum(leaves, C.PlanMs) / 1e3, "s"),
      ("spark.codegen.compiles", sum(leaves, C.Compiles).toDouble, "count"),
      ("spark.codegen.compile_s", sum(leaves, C.CompileNs) / 1e9, "s"),
      ("spark.scheduler.jobs", sum(leaves, C.Jobs).toDouble, "count"),
      ("spark.scheduler.stages", sum(leaves, C.Stages).toDouble, "count"),
      ("spark.scheduler.tasks", sum(leaves, C.Tasks).toDouble, "count"),
      ("spark.scheduler.delay_s", sum(leaves, C.DelayMs) / 1e3, "s"),
      ("spark.executor.task_s", taskS, "s"),
      ("spark.executor.cpu_s", sum(leaves, C.CpuNs) / 1e9, "s"),
      ("spark.executor.gc_s", sum(leaves, C.TaskGcMs) / 1e3, "s"),
      ("spark.executor.busy_frac", if (wall > 0) taskS / (wall * cores) else 0.0, "fraction"),
      ("spark.shuffle.write_mb", sum(leaves, C.ShufW) / mb, "MB"),
      ("spark.shuffle.read_mb", sum(leaves, C.ShufR) / mb, "MB"),
      ("spark.shuffle.spill_mb", sum(leaves, C.Spill) / mb, "MB"),
      ("jvm.jit_s", sum(leaves, C.JitMs) / 1e3, "s"),
      ("jvm.gc_s", sum(leaves, C.JvmGcMs) / 1e3, "s"),
      ("trace.client_s", t.clientNs / 1e9, "s"),
      ("trace.client_frac", if (loopWallS > 0) t.clientNs / 1e9 / loopWallS else 0.0, "fraction"))
    perModule ++ engine
  }

  /** Spans as JSON lines, written once at the end of a traced run. */
  def spanLines(t: Tracer): Seq[String] = t.all.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "module" -> s.module,
      "kind" -> s.kind, "op" -> s.op, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> t.selfSeconds(s), "failed" -> s.failed,
      "jobs" -> s.delta(C.Jobs), "tasks" -> s.delta(C.Tasks),
      "task_ms" -> s.delta(C.TaskMs), "compiles" -> s.delta(C.Compiles),
      "shuffle_write_bytes" -> s.delta(C.ShufW), "store_bytes" -> s.storeBytes))
  }
}
