package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM — same
  * session options the driver's Verify/Bench mains use (UTC, AQE,
  * nanos-as-long for the events table), so tests exercise the exact
  * runtime configuration the gates run under. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest driver-generated data; every table present. */
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  /** `body` run with AQE's partition coalescing off, so a small sort keeps
    * the session's 4 shuffle partitions instead of being merged into one. */
  def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s value and the ids of the persistent RDDs it left behind:
    * cached or checkpointed RDDs registered after it ran that were not
    * registered before. */
  def persistsOf[T](body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** `body`'s value and the number of Spark jobs it started, counted by a
    * listener on a job group of its own (broadcast jobs inherit the
    * group). AQE is off while `body` runs: its re-planning makes the count
    * depend on the order in which stages finish (the path graph of
    * ClusterSpec ran 23 or 24 jobs with it on), while a static plan runs
    * the same jobs every time. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = body
      org.apache.spark.graftspec.BusDrain(sc)
      (out, jobs.get)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
