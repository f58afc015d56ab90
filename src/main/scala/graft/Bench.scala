package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One query's profile record: its wall time and what Spark did for
  * it, counted over one run (its construction actions plus the noop
  * write). `seconds` is -1 for a failed query; the counters then hold
  * what ran before the failure. Counts do not swing with co-tenant
  * load the way wall time does, so they are the regression gate. */
final case class Profile(
    name: String,
    seconds: Double = 0.0,
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    sqlExecutions: Long = 0,
    analysisS: Double = 0.0, optimizationS: Double = 0.0,
    planningS: Double = 0.0,
    exchanges: Long = 0, reusedExchanges: Long = 0,
    gcMs: Long = 0,
    persistedRdds: Int = 0) {
  def json: String = Seq(
    "seconds" -> seconds, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "sql_executions" -> sqlExecutions, "analysis_s" -> analysisS,
    "optimization_s" -> optimizationS, "planning_s" -> planningS,
    "exchanges" -> exchanges, "reused_exchanges" -> reusedExchanges,
    "gc_ms" -> gcMs, "persisted_rdds" -> persistedRdds)
    .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** Sums a region's Spark work into a [[Profile]]: jobs, stages, tasks
  * and stage I/O from the scheduler, SQL executions, planning phases
  * and exchanges from each successful query execution. Read only after
  * draining the listener bus. */
private final class ProfileListener extends SparkListener
    with QueryExecutionListener {
  private var acc = Profile("")
  private var lastQe: Option[QueryExecution] = None

  def reset(): Unit = synchronized { acc = Profile(""); lastQe = None }
  def profile: Profile = synchronized(acc)
  /** The region's last successful execution: the noop write. */
  def last: Option[QueryExecution] = synchronized(lastQe)

  private def add(f: Profile => Profile): Unit = synchronized { acc = f(acc) }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    add(p => p.copy(jobs = p.jobs + 1))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = Option(i.taskMetrics)
    def of(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    add(p => p.copy(stages = p.stages + 1, tasks = p.tasks + i.numTasks,
      shuffleReadBytes = p.shuffleReadBytes + of(_.shuffleReadMetrics.totalBytesRead),
      shuffleWriteBytes = p.shuffleWriteBytes + of(_.shuffleWriteMetrics.bytesWritten),
      spillBytes = p.spillBytes + of(_.diskBytesSpilled)))
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val phases = qe.tracker.phases
    def s(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val (ex, reused) = Bench.exchanges(qe.executedPlan)
    synchronized {
      lastQe = Some(qe)
      acc = acc.copy(sqlExecutions = acc.sqlExecutions + 1,
        analysisS = acc.analysisS + s("analysis"),
        optimizationS = acc.optimizationS + s("optimization"),
        planningS = acc.planningS + s("planning"),
        exchanges = acc.exchanges + ex,
        reusedExchanges = acc.reusedExchanges + reused)
    }
  }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, "/tmp/graft_warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM once before timing: JIT + whole-stage-codegen
    // compilation paths (scan, hash agg, shuffle, sort-merge join)
    // otherwise land on whichever queries happen to run first. This
    // warms no query-specific data — each timed query still scans
    // parquet cold.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(1000000).select(col("id"),
        (col("id") % 97).as("k"), (col("id") % 7).cast("string").as("s"))
      w.groupBy("k").agg(sum("id"), countDistinct("s")).count()
      w.as("a").join(w.as("b"), "k").filter(col("a.id") < 10).count()
    }
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run for isolated
    // profiling (the shared-JVM bench shows cross-query noise);
    // unset = full suite, the driver contract.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_REPS=N records min-of-N per query (the isolated
    // re-measure protocol for adjudicating co-tenant noise spikes);
    // default 1 = the driver's single cold run.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val results = record(spark, sfDir, reps,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) },
      Paths.get("target/bench_plans"))
    val failedJson = failed(results).map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_.seconds).filter(_ >= 0).sum
    // Full-precision per-query timings and profiles go to a file;
    // stdout gets ONE compact summary line as the FINAL line. Only a
    // 2000-char tail of stdout is kept, and even the rounded
    // per-query map (~100 queries) overflows it (BENCH_r04..r07 all
    // recorded "parsed": null) — so the full map stays OUT of stdout;
    // anyone wanting per-query numbers reads the detail file.
    val queriesJson = results.map(p => s""""${p.name}":${p.seconds}""")
      .mkString("{", ",", "}")
    val profileJson = results.map(p => s""""${p.name}":${p.json}""")
      .mkString("{", ",", "}")
    val detailPath = Paths.get("target/bench_detail.json")
    Files.createDirectories(detailPath.getParent)
    Files.write(detailPath,
      (s"""{"queries":$queriesJson,"profile":$profileJson,"failed":$failedJson,""" +
        s""""total":$total,"sf":"$sfDir"}""").getBytes("UTF-8"))
    val totalR = BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // r18 (VERDICT item 1): the driver keeps only a ~2000-char stdout
    // tail, so the final JSON line ALSO carries a "queries" map of the
    // SLOWEST queries up to a fixed character budget (~35-45 entries)
    // — enough for per-query round-over-round deltas and the low-core
    // scaling ratios to be computed from driver-captured data alone
    // (PERF_r17 had per_query={} because stdout had only the total).
    // The full-precision 262-entry map still goes to the detail file;
    // the committed BENCH_detail_r<N>.json artifact is a copy of it.
    val slowest = new StringBuilder
    locally {
      var budget = 1500 // chars for the map body; line stays < 1800
      results.filter(_.seconds >= 0).sortBy(-_.seconds).foreach { p =>
        val r = BigDecimal(p.seconds).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        val e = s""""${p.name}":$r"""
        if (e.length + 1 <= budget) {
          if (slowest.nonEmpty) slowest.append(',')
          slowest.append(e)
          budget -= e.length + 1
        }
      }
    }
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"queries":{$slowest},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Names of the queries whose record reads -1: they threw. */
  def failed(results: Seq[Profile]): Seq[String] =
    results.filter(_.seconds < 0).map(_.name)

  /** Runs each query `reps` times through a noop write and returns its
    * [[Profile]]: the fastest run's, or the failed run's. After each
    * query its formatted executed plan goes to `planDir/<query>.txt`,
    * outside the timed region. */
  def record(spark: SparkSession, sfDir: String, reps: Int,
             queries: Seq[(String, (SparkSession, String) => DataFrame)],
             planDir: Path): Seq[Profile] = {
    val sc = spark.sparkContext
    val listener = new ProfileListener
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    Files.createDirectories(planDir)
    // One run of one query. A failed query records -1 (NOT a fake
    // timing) — a broken query must never look fast.
    def once(name: String, fn: (SparkSession, String) => DataFrame): Profile = {
      GraftBus.drain(sc)
      listener.reset()
      val gc0 = gcMs()
      sc.setJobDescription(name)
      try {
        val t0 = System.nanoTime()
        val seconds =
          try {
            // noop sink, NOT count(): under count() Catalyst prunes
            // every unreferenced output column and can eliminate a
            // final join whose right side has provably-unique keys —
            // q_dedup_substring's coverage join timed as a bare base
            // scan that way. The noop write forces every output column
            // of every row to be produced, which is what the DuckDB
            // denominator's fetchall() pays too.
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
        val gc = gcMs() - gc0
        val persisted = sc.getPersistentRDDs.size
        GraftBus.drain(sc)
        listener.profile.copy(name = name, seconds = seconds, gcMs = gc,
          persistedRdds = persisted)
      } finally {
        // drop persisted state BETWEEN queries, outside the timed
        // region, failed or not: a query's cached frames would
        // otherwise add GC / eviction pressure to every later query.
        // No result reuse is possible across queries (each re-derives
        // from parquet), so clearing only removes interference.
        spark.catalog.clearCache()
        sc.setJobDescription(null)
      }
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    try queries.map { case (name, fn) =>
      var runs = Vector(once(name, fn))
      while (runs.size < reps && runs.last.seconds >= 0) runs :+= once(name, fn)
      if (runs.last.seconds < 0) runs.last
      else {
        listener.last.foreach { qe =>
          Files.writeString(planDir.resolve(s"$name.txt"), qe.explainString(FormattedMode))
        }
        runs.minBy(_.seconds)
      }
    } finally {
      spark.listenerManager.unregister(listener)
      sc.removeSparkListener(listener)
    }
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
