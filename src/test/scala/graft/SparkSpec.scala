package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs launched while it ran, counted
    * by a job listener; a sentinel job queued behind them flushes the
    * listener's events before the count is read. */
  def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val group = s"counted-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    @volatile var sentinelJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => sentinelJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob) flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(sentinel, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job end")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run a plan-shape assertion under BOTH AQE settings (VERDICT r13
    * item 5): AQE re-plans at runtime and is the default in every
    * production deployment — a join hint or broadcast decision AQE
    * overrides would otherwise surface as a perf mystery at sf10, not a
    * red spec. The suite default (Spark 4: AQE on) is restored after. */
  def withAqeBothWays(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.getOption(key)
    try Seq("true", "false").foreach { v =>
      spark.conf.set(key, v)
      withClue(s"[aqe=$v] ")(body)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
