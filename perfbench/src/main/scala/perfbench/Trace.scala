package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: an operation, a phase of one (build / execute),
  * or a Spark job. `attrs` holds the per-layer counters attributed to
  * it. Times are epoch milliseconds, the clock Spark stamps jobs with. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, var end: Long = -1L,
    attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** Per-layer tracing from outside the engine: a [[SparkListener]] for
  * jobs, stages and tasks, a [[QueryExecutionListener]] for planning
  * phases and executed plans, and spans the benchmark opens around each
  * call into the engine. Spark jobs are linked to the span that was
  * open on the client thread through the `perfbench.span` local
  * property. Everything stays in memory until [[spansJson]]. */
final class Tracer(spark: SparkSession, slots: Int) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]
  private val SpanProp = "perfbench.span"

  private def add(parent: Int, kind: String, name: String, start: Long): Span =
    synchronized {
      val s = Span(spans.size, parent, kind, name, start)
      spans += s
      s
    }

  private def bump(s: Span, k: String, v: Double): Unit =
    s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val parent = Option(j.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val job = add(parent, "job", s"job ${j.jobId}", j.time)
      jobSpan(j.jobId) = job
      j.stageIds.foreach(id => stageSpan(id) = job)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(j.jobId).foreach(_.end = j.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(bump(_, "sched.stages", 1))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      stageSpan.get(t.stageId).filter(_ => m != null).foreach { s =>
        bump(s, "sched.tasks", 1)
        bump(s, "exec.run_s", m.executorRunTime / 1e3)
        bump(s, "exec.cpu_s", m.executorCpuTime / 1e9)
        bump(s, "exec.gc_s", m.jvmGCTime / 1e3)
        bump(s, "exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        bump(s, "exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        bump(s, "exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        bump(s, "sources.input_mb", m.inputMetrics.bytesRead / 1e6)
        bump(s, "sources.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { pendingQe += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      synchronized { pendingQe += qe }
  }

  /** Start delivering events to the tracer; [[detach]] stops it, so
    * untraced executions pay no listener cost at all. */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` as a child span of `parent` (-1 for a root span) with
    * the span linked to every Spark job it starts. */
  def span[T](parent: Int, kind: String, name: String)(body: Span => T): T = {
    val s = add(parent, kind, name, System.currentTimeMillis())
    val outer = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body(s)
    finally {
      sc.setLocalProperty(SpanProp, outer)
      s.end = System.currentTimeMillis()
    }
  }

  /** Open a root operation span; `body` gets the span and returns the
    * value to pass on. The operation's listener events are drained and
    * its per-layer counters rolled up before this returns. */
  def op[T](name: String, module: String)(body: Span => T): T = {
    val compile0 = CodeGenerator.compileTime
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val s = span(-1, "op", name) { s =>
      s.attrs("module." + module) = 1
      (s, body(s))
    }
    org.apache.spark.perfbench.Bus.drain(sc)
    val (opSpan, result) = s
    bump(opSpan, "codegen.compile_ms", (CodeGenerator.compileTime - compile0) / 1e6)
    bump(opSpan, "sources.files_discovered",
      (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0).toDouble)
    rollUp(opSpan)
    result
  }

  /** Persistent RDDs still registered when an operation returned. */
  def recordLeaks(s: Span, n: Int): Unit = bump(s, "cache.leaked_rdds", n)

  private def descendants(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  private def rollUp(op: Span): Unit = synchronized {
    val all = descendants(op)
    val jobs = all.filter(_.kind == "job")
    for (j <- jobs; (k, v) <- j.attrs) bump(op, k, v)
    bump(op, "sched.jobs", jobs.size)
    val build = all.filter(c => c.kind == "build" && c.parent == op.id)
    bump(op, "plan.build_ms", build.map(b => (b.end - b.start).toDouble).sum)
    bump(op, "plan.builder_jobs",
      jobs.count(j => build.exists(_.id == j.parent)))
    val wall = (op.end - op.start) / 1e3
    bump(op, "sched.idle_slot_s", wall * slots - op.attrs.getOrElse("exec.run_s", 0.0))
    // module self time: the op's wall minus the part its jobs cover
    val covered = union(jobs.filter(_.end >= 0).map(j => (j.start, j.end)))
    bump(op, "self_s", wall - covered / 1e3)
    pendingQe.foreach { qe =>
      val phases = qe.tracker.phases
      for ((p, key) <- Seq("analysis" -> "catalyst.analysis_ms",
          "optimization" -> "catalyst.optimization_ms",
          "planning" -> "catalyst.planning_ms"))
        bump(op, key, phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      val nodes = Tracer.nodes(qe.executedPlan)
      bump(op, "plan.scans", nodes.count(n =>
        n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]).toDouble)
      bump(op, "plan.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toDouble)
      bump(op, "plan.broadcast_exchanges",
        nodes.count(_.isInstanceOf[BroadcastExchangeExec]).toDouble)
      bump(op, "plan.in_memory_scans", nodes.count(_.isInstanceOf[InMemoryTableScanExec]).toDouble)
    }
    pendingQe.clear()
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      val lo = math.max(a, cur)
      if (b > lo) { total += b - lo; cur = b }
    }
    total
  }

  def opSpans: Seq[Span] = synchronized(spans.filter(_.kind == "op").toSeq)

  def spansJson: String = synchronized {
    spans.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":${s.end},"attrs":$attrs}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  /** Every node of an executed plan, adaptive stages and subqueries
    * included; a reused exchange counts once, where it was built. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case w: WholeStageCodegenExec => nodes(w.child)
    case i: InputAdapter => nodes(i.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
