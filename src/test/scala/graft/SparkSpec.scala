package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide). */
object GraftSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4,
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Base class: shared spark + implicits. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpark.spark
  lazy val sqlImplicits = spark.implicits

  /** `body`'s result and the number of Spark jobs it started. */
  protected def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Ids of the RDDs the session holds persisted. */
  protected def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Whether the session's cache manager holds no cached plan. */
  protected def noCachedPlans: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
