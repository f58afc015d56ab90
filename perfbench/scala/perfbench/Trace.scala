package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed region of the benchmark's own code. `kind` is
  * the layer boundary it sits on (op, call, action, land); `parent`
  * is the id of the span that caused it (-1 for an operation). */
final case class Span(id: Int, parent: Int, op: Int, kind: String,
                      name: String, startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's calls into graft and around
  * its own materializing actions. Single client thread, so the open
  * span stack is the causal parent chain. Kept in memory; written out
  * when the run ends. */
object Spans {
  @volatile var on = false
  val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, String, Long)]()
  private var next = 0
  private var op = -1

  def apply[T](kind: String, name: String)(body: => T): T = {
    if (!on) return body
    val id = next
    next += 1
    if (kind == "op") op = id
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, kind, name, System.nanoTime()))
    try body
    finally {
      val (_, k, n, t0) = open.pop()
      done += Span(id, parent, op, k, n, t0, System.nanoTime())
    }
  }
}

/** Layer counters for a traced region, fed by Spark's listener bus.
  *
  * Jobs are attributed to the graft module whose frame is innermost in
  * the job's recorded call site. A SQL job takes its SQL execution's
  * call site: jobs that AQE or a broadcast launches from a pool thread
  * carry only that thread's frames in their own stage details. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile var on = false
  private val execSite = mutable.Map[Long, String]()
  private val running = mutable.Map[Int, (String, Long)]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = counts(k) += v

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (on) Tracer.this.synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Double =
          if (d.containsKey(k)) d.get(k).doubleValue else 0.0
        add("streaming.batches", 1)
        add("streaming.commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  /** Start a fresh region with tracing on. */
  def begin(): Unit = {
    drain()
    synchronized {
      execSite.clear(); running.clear(); intervals.clear(); counts.clear()
    }
    on = true
  }

  /** End the region: deliver every queued event, then stop counting.
    * Returns the counters plus the seconds in [t0Ms, t1Ms] during which
    * at least one job was running. */
  def end(t0Ms: Long, t1Ms: Long): (Map[String, Double], Double) = {
    drain()
    on = false
    synchronized {
      var busy = 0L
      var upTo = t0Ms
      intervals.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > upTo) { busy += b - math.max(a, upTo); upTo = b }
        }
      (counts.toMap, busy / 1e3)
    }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on =>
      synchronized { execSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(j.properties)
    val sqlSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    val site = sqlSite.getOrElse(
      j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    running(j.jobId) = (Tracer.module(site), j.time)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (on) synchronized {
    running.remove(j.jobId).foreach { case (m, t0) =>
      add("sched.jobs", 1)
      add(s"$m.jobs", 1)
      add(s"$m.job_s", (j.time - t0) / 1e3)
      intervals += ((t0, j.time))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (on) synchronized { add("sched.stages", 1) }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (on && t.taskMetrics != null) synchronized {
      val m = t.taskMetrics
      val i = t.taskInfo
      add("sched.tasks", 1)
      add("sched.task_s", i.duration / 1e3)
      add("sched.task_overhead_s", math.max(0L, i.duration - m.executorRunTime) / 1e3)
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
      add("sinks.bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = if (on) {
    val phases = qe.tracker.phases
    def s(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val (ex, reused) = Tracer.exchanges(qe.executedPlan)
    synchronized {
      add("plan.sql_executions", 1)
      add("plan.analysis_s", s("analysis"))
      add("plan.optimization_s", s("optimization"))
      add("plan.planning_s", s("planning"))
      add("plan.exchanges", ex)
      add("plan.reused_exchanges", reused)
    }
  }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  /** The graft module of the innermost `graft.` frame of a call site:
    * `graft.operators.Dedup$.x(...)` → `operators`; a frame of a class
    * directly in package `graft` (the `SparkEntry` registry) →
    * `graft`; no graft frame (the benchmark's own action) → `bench`. */
  def module(site: String): String =
    site.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) =>
        val parts = frame.split('.')
        if (parts.length > 2 && parts(1).nonEmpty && parts(1).head.isLower) parts(1)
        else "graft"
      case None => "bench"
    }

  /** Exchanges and reused exchanges in an executed plan, through AQE
    * query stages and subqueries; a cached relation's plan is not
    * walked (its exchanges ran when it was cached). */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var ex = 0
    var reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case _: InMemoryTableScanExec =>
        case e: Exchange =>
          ex += 1
          e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, reused)
  }
}
