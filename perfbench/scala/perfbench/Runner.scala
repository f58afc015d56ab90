package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.{Corpus, Dedup, MergeTable}
import graft.streaming.{IngestGate, QualityGate}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: session, warm-up, the measured
  * passes of the operation list, then the output checks.
  *
  * Usage: Runner <workload> <plan.tsv> <work dir> <trace 0|1> <corrupt 0|1>
  *
  * `plan.tsv` holds one operation a line, `<pass>\t<name>\t<input>`;
  * pass 0 is the untimed warm-up. A registry operation's name is the
  * query and its input the data dir; a stream operation's name is the
  * batch profile and its input the batch file to land.
  * Results go to `<work dir>/result.json`; the registry workloads'
  * outputs are left under `<work dir>/out/op_<n>` for the oracle check.
  */
object Runner {
  final case class Op(index: Int, pass: Int, name: String, input: String)

  def main(argv: Array[String]): Unit = {
    val Array(workload, planPath, work, traceArg, corruptArg) = argv
    val traced = traceArg == "1"
    val corrupt = corruptArg == "1"
    val plan = Files.readAllLines(Paths.get(planPath)).asScala.toSeq
      .filter(_.nonEmpty).zipWithIndex.map { case (line, i) =>
        val Array(pass, name, input) = line.split('\t')
        Op(i, pass.toInt, name, input)
      }
    val spark = session(work)
    val w: Workload = workload match {
      case "stream_ingest" => new StreamIngest(spark, work, corrupt)
      case _ => new Registry(spark, work)
    }
    if (w.isInstanceOf[Registry]) Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      plan.map(_.name).distinct
        .map(n => s"${q(n)}:${q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"))
    val tracer = new Tracer(spark)
    if (traced) tracer.install()

    w.warmUp(plan.filter(_.pass == 0))
    val warmedMs = System.currentTimeMillis()
    // the warm-up's garbage would otherwise sit in the old generation
    // until some later collection, and count in heap_peak_mb or not
    // depending on when that comes
    System.gc()
    awaitQuietJit()
    val readyMs = System.currentTimeMillis()
    System.err.println(s"perfbench: warm-up done ${(warmedMs - ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3} s after JVM start, JIT quiet " +
      s"${(readyMs - warmedMs) / 1e3} s later")

    val measured = plan.filter(_.pass > 0)
    val passes = measured.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    val json = new StringBuilder
    json ++= s"""{"jvm_start_ms":${ManagementFactory.getRuntimeMXBean.getStartTime},"""
    json ++= s""""ready_ms":$readyMs,"""

    // untraced: every pass is measured. Traced: pass 1 traced, pass 2
    // untraced; their difference is the tracing overhead
    val heap = new HeapPeak
    val results = passes.map { ops =>
      val tracing = traced && ops.head.pass == 1
      val gc0 = gcMs()
      val jit0 = jitMs()
      val rdd0 = spark.sparkContext.getPersistentRDDs.size
      val stor0 = storageBytes(spark)
      if (tracing) { w.beginRegion(); tracer.begin(); Spans.on = true }
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val lat = ops.map { op =>
        val s = System.nanoTime()
        val err = try { Spans("op", op.name)(w.run(op)); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        (op, (System.nanoTime() - s) / 1e9, err)
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      Spans.on = false
      val layer = if (tracing) {
        val (c, jobBusy) = tracer.end(t0, t1)
        val extra = Map(
          "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
          "jvm.jit_s" -> (jitMs() - jit0) / 1e3,
          "cache.persisted_rdds_delta" ->
            (spark.sparkContext.getPersistentRDDs.size - rdd0).toDouble,
          "cache.storage_bytes_delta" -> (storageBytes(spark) - stor0).toDouble,
          "driver.only_s" -> (wall - jobBusy),
          "sched.slots" -> spark.sparkContext.defaultParallelism.toDouble)
        c ++ extra ++ w.layerMetrics()
      } else Map.empty[String, Double]
      (ops.head.pass, wall, lat, layer)
    }
    val heapPeakMb = heap.stop() / 1048576.0
    val heapLiveMb = liveHeapBytes() / 1048576.0

    val failures = try w.check(measured) catch {
      case e: Exception => measured.map(_.index -> s"check failed: ${e.getMessage}").toMap
    }
    json ++= s""""heap_peak_mb":$heapPeakMb,"heap_live_mb":$heapLiveMb,"passes":["""
    json ++= results.map { case (pass, wall, lat, layer) =>
      val ops = lat.map { case (op, s, err) =>
        val bad = Seq(err, failures.getOrElse(op.index, "")).filter(_.nonEmpty)
        s"""{"index":${op.index},"name":${q(op.name)},"latency_s":$s,""" +
          s""""error":${q(bad.mkString("; "))}}"""
      }.mkString(",")
      val lm = layer.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }
        .mkString(",")
      s"""{"pass":$pass,"traced":${layer.nonEmpty},"wall_s":$wall,""" +
        s""""ops":[$ops],"layer":{$lm}}"""
    }.mkString(",")
    json ++= "],\"spans\":["
    json ++= Spans.done.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":${q(s.kind)},""" +
        s""""name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString(",")
    json ++= "]}"
    Files.writeString(Paths.get(s"$work/result.json"), json.toString)
    spark.stop()
  }

  /** graft.Bench's session settings at local[4]; every directory the
    * session writes to lives under the run's work dir, the registry's
    * fixed roundtrip dir included (see [[RoundtripFs]]). */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.fs.file.impl", classOf[RoundtripFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[RoundtripFs],
      s"local file system is ${fs.getClass.getName}, not RoundtripFs: " +
        s"${RoundtripFs.From} would be written outside the work dir")
    spark
  }

  /** End of warm-up: wait (at most 10 s) until the JIT compilers have
    * been idle for half a second, so the timed region does not start
    * while warm-up compilations still occupy the cores. */
  def awaitQuietJit(): Unit = {
    val end = System.nanoTime() + 10000000000L
    var last = jitMs()
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < end) {
      Thread.sleep(250)
      val now = jitMs()
      quiet = if (now - last <= 2) quiet + 1 else 0
      last = now
    }
  }

  /** Heap the session retains. Spark's ContextCleaner drops the
    * blocks of an unreachable broadcast or shuffle only after a
    * collection has found it unreachable, so this collects again, a
    * moment apart, until the heap stops shrinking. */
  def liveHeapBytes(): Long = {
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var prev = Long.MaxValue
    var now = used()
    var rounds = 0
    while (prev - now > (1L << 20) && rounds < 5) {
      Thread.sleep(200)
      System.gc()
      prev = now
      now = used()
      rounds += 1
    }
    now
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Largest heap in use after a collection, from the collectors'
  * notifications, from construction until [[stop]]; `stop` forces one
  * last collection so a region without one still has a sample. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private var seen = 0L
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used); seen += 1 }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Long = {
    val seen0 = synchronized(seen)
    System.gc()
    // notifications arrive on their own thread
    val end = System.nanoTime() + 2000000000L
    while (synchronized(seen) == seen0 && System.nanoTime() < end) Thread.sleep(10)
    emitters.foreach(_.removeNotificationListener(listener))
    synchronized(peak)
  }
}

trait Workload {
  def run(op: Runner.Op): Unit
  /** The untimed warm-up before the measured passes. */
  def warmUp(ops: Seq[Runner.Op]): Unit = ops.foreach(run)
  /** Output checks, outside the timed region: op index → what is wrong. */
  def check(ops: Seq[Runner.Op]): Map[Int, String]
  def beginRegion(): Unit = ()
  def layerMetrics(): Map[String, Double] = Map.empty
}

/** `structure_interactive` and `corpus_export`: each operation calls a
  * `SparkEntry.queries` entry and writes its result as parquet, which
  * the oracle check compares with the entry's DuckDB oracle. */
final class Registry(spark: SparkSession, work: String) extends Workload {
  def run(op: Runner.Op): Unit = {
    val df = Spans("call", s"SparkEntry.queries(${op.name})") {
      SparkEntry.queries(op.name)(spark, op.input)
    }
    val out = s"$work/out/${if (op.pass == 0) "warm" else "op"}_${op.index}"
    Spans("action", "write.parquet") { df.write.mode("overwrite").parquet(out) }
  }

  /** Warm-up runs each query once from 4 client threads, one per
    * core: it only has to get every query's code compiled, and the
    * measured passes that follow keep to one client. */
  override def warmUp(ops: Seq[Runner.Op]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try ops.map(op => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = run(op)
    })).foreach(_.get())
    finally pool.shutdown()
  }

  def check(ops: Seq[Runner.Op]): Map[Int, String] = Map.empty
}

object StreamIngest {
  /** The sketch index holds the seed dir plus one dir per batch and is
    * folded back to one dir when it reaches this many dirs, so it folds
    * every 3 batches. A pass is 3 batches: every pass compacts exactly
    * once. */
  val CompactEvery = 4
}

/** `stream_ingest`: each operation lands one batch file, runs the
  * quality gate over the landing dir (resuming its checkpoint), hands
  * the batch's admitted documents to the near-duplicate gate, and
  * merges that gate's admitted documents into a bucketed table. */
final class StreamIngest(spark: SparkSession, work: String, corrupt: Boolean)
    extends Workload {
  private val landing = s"$work/landing"
  private val handoff = s"$work/nd_landing"
  private val qg = s"$work/quality"
  private val nd = s"$work/neardup"
  private val table = s"$work/table"
  private val baseDocs = spark.read.parquet(s"$work/data/documents.parquet")
  // models are fitted once on the base corpus and deployed from their
  // saved artifacts, as a long-running ingest would
  Corpus.saveLangIdModel(spark, Corpus.fitLangIdModel(baseDocs), s"$work/models/langid")
  Corpus.saveQualityModel(Corpus.fitQualityModel(baseDocs,
    col("source").isin("src0", "src1", "src2", "src3")), s"$work/models/quality")
  private val langModel = Corpus.loadLangIdModel(spark, s"$work/models/langid")
  private val qualityModel = Corpus.loadQualityModel(spark, s"$work/models/quality")
  private val seedSketch = Dedup.minhashSketch(baseDocs, numHashes = 16)
  private var files0 = 0

  private def latestBatch(dir: String): String =
    new File(dir).listFiles().map(_.getName).filter(_.startsWith("batch="))
      .maxBy(_.stripPrefix("batch=").toLong)

  def run(op: Runner.Op): Unit = {
    val src = new File(op.input)
    val name = f"b${op.index}%05d.parquet"
    Spans("land", "land") {
      new File(landing).mkdirs()
      Files.copy(src.toPath, Paths.get(s"$landing/$name"), StandardCopyOption.REPLACE_EXISTING)
      new File(s"$landing/$name").setLastModified(1600000000000L + op.index * 1000L)
    }
    Spans("call", "QualityGate.qualityGate") {
      QualityGate.qualityGate(spark, landing, langModel, qualityModel,
        qg, s"$work/quality_ckpt")
    }
    // the near-duplicate gate reads files, one batch per file: the
    // quality gate's admitted output for this batch becomes one file
    Spans("land", "handoff") {
      val admitted = s"$qg/admitted/${latestBatch(s"$qg/admitted")}"
      def parts(dir: String) = new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      val part = parts(admitted) match {
        case Array(one) => one
        case _ =>
          spark.read.parquet(admitted).coalesce(1).write.mode("overwrite")
            .parquet(s"$work/handoff_tmp")
          parts(s"$work/handoff_tmp").head
      }
      new File(handoff).mkdirs()
      Files.copy(part.toPath, Paths.get(s"$handoff/$name"), StandardCopyOption.REPLACE_EXISTING)
      new File(s"$handoff/$name").setLastModified(1600000000000L + op.index * 1000L)
    }
    Spans("call", "IngestGate.nearDupGate") {
      IngestGate.nearDupGate(spark, handoff, seedSketch, nd, s"$work/neardup_ckpt",
        threshold = 0.8, compactEvery = StreamIngest.CompactEvery)
    }
    val delta = spark.read.parquet(s"$nd/admitted/${latestBatch(s"$nd/admitted")}")
    val summary = Spans("call", "MergeTable.merge") {
      MergeTable.merge(spark, table, delta, Seq("doc_id"), nBuckets = 8)
    }
    Spans("action", "collect") { summary.collect() }
    ()
  }

  private def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isDirectory) dir.listFiles().toSeq.flatMap(files)
    else Seq(dir)

  private def parquetFiles(dirs: String*): Seq[File] =
    dirs.flatMap(d => files(new File(d))).filter(_.getName.endsWith(".parquet"))

  override def beginRegion(): Unit = files0 = parquetFiles(qg, handoff, nd, table).size

  override def layerMetrics(): Map[String, Double] = Map(
    "streaming.index_bytes" -> parquetFiles(s"$nd/sketch").map(_.length).sum.toDouble,
    "sinks.files_written" -> (parquetFiles(qg, handoff, nd, table).size - files0).toDouble)

  /** Word 3-shingle Jaccard, the similarity the near-duplicate gate
    * verifies its pairs with (generated text is lower-case words). */
  private def jaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split(' ').filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x & y).size.toDouble / (x | y).size
  }

  /** Every landed document must end in exactly one outcome: refused by
    * the quality gate, admitted, quarantined as a near-duplicate of the
    * corpus, or dropped as an in-batch near-duplicate of a smaller id
    * in its own batch (the near-duplicate gate's greedy rule, which
    * records no quarantine row; the check verifies the partner). The
    * merged table holds exactly the admitted ids, and the streamed
    * quality verdicts equal [[QualityGate.gateVerdict]] over the
    * landed files. The sketch index must have been compacted, and it
    * must hold each base-corpus and admitted id exactly once; a fault
    * there counts against the last operation. */
  def check(ops: Seq[Runner.Op]): Map[Int, String] = {
    import spark.implicits._
    def ids(df: DataFrame, c: String): Set[Long] =
      df.select(col(c).cast("long")).as[Long].collect().toSet
    def batchFile(dir: String, op: Runner.Op) = s"$dir/${f"b${op.index}%05d.parquet"}"
    val landed = spark.read.parquet(landing)
    val rejected = ids(spark.read.parquet(s"$qg/rejected"), "doc_id")
    val admitted = ids(spark.read.parquet(s"$nd/admitted"), "doc_id")
    val quarantined = ids(spark.read.parquet(s"$nd/quarantine"), "new_id")
    val merged = ids(MergeTable.snapshot(spark, table), "doc_id")
    val cols = Seq("doc_id", "lang_pred", "n_tokens", "gopher_keep",
      "clf_n_tokens", "clf_score_fp", "clf_keep", "keep")
    def verdicts(df: DataFrame): Map[Long, Row] =
      df.select(cols.map(col): _*).collect().map(r => r.getLong(0) -> r).toMap
    val streamed = verdicts(spark.read.parquet(s"$qg/verdict"))
    var expected = verdicts(QualityGate.gateVerdict(landed, langModel, qualityModel))
    if (corrupt) {
      // self-test: flip one expected verdict of the first measured batch
      val id = ids(spark.read.parquet(batchFile(landing, ops.head)), "doc_id").min
      val r = expected(id)
      expected = expected.updated(id,
        Row.fromSeq(r.toSeq.init :+ !r.getBoolean(r.length - 1)))
    }
    val indexed = spark.read.parquet(s"$nd/sketch").select(col("id").cast("long"))
      .as[Long].collect()
    val indexProblem = Seq(
      !new File(s"$nd/sketch").list().exists(_.startsWith("batch=c")) ->
        "the sketch index was never compacted",
      (indexed.length != indexed.distinct.length) ->
        "the sketch index holds an id twice",
      (indexed.toSet != ids(baseDocs, "doc_id") ++ admitted) ->
        "sketch index ids differ from the base corpus and admitted ids")
      .collect { case (true, msg) => msg }
    ops.flatMap { op =>
      val batch = ids(spark.read.parquet(batchFile(landing, op)), "doc_id")
      val handed = spark.read.parquet(batchFile(handoff, op))
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .collect().toMap
      def inBatchDup(i: Long): Boolean = handed.get(i).exists(t =>
        handed.exists { case (j, u) => j < i && jaccard(t, u) >= 0.8 })
      val outcomes = (i: Long) => Seq(rejected(i), admitted(i), quarantined(i),
        handed.contains(i) && !admitted(i) && !quarantined(i) && inBatchDup(i))
      val problems = Seq(
        batch.exists(i => outcomes(i).count(identity) != 1) ->
          "a landed doc is not in exactly one of rejected/admitted/quarantine/in-batch dup",
        ((merged & batch) != (admitted & batch)) ->
          "merged snapshot ids differ from admitted ids",
        batch.exists(i => streamed.get(i) != expected.get(i)) ->
          "streamed quality verdicts differ from QualityGate.gateVerdict")
        .collect { case (true, msg) => msg } ++
        (if (op == ops.last) indexProblem else Nil)
      if (problems.isEmpty) None else Some(op.index -> problems.mkString("; "))
    }.toMap
  }
}
