package graft.tools

import scala.util.chaining._

import org.apache.spark.sql.SparkSession

import graft.ops.Nsw

/** Build-and-commit one persisted NSW artifact — the builder half of
  * the [[NswTune]] diagnostic pair (NswTune reads only committed
  * artifacts by contract). Used by the descent-round rule-effect A/B
  * (VERDICT r14 item 6): build the declared-rule graph and a
  * `seedC:dRounds`-overridden one, then grid-search both with NswTune.
  *
  * Usage: runMain graft.tools.NswBuild <dir> <seedC>[:<dRounds>]
  */
object NswBuild {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val (seedC, dRounds) = args(1).split(":") match {
      case Array(c) => (c.toInt, None)
      case Array(c, dr) => (c.toInt, Some(dr.toInt))
    }
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the ONE definition of the big-build session confs (shuffle-GC
      // reap + ObjectHashAggregate fallback headroom) lives on
      // Nsw.BuildSessionConfs with the measured rationale
      .pipe(b => Nsw.BuildSessionConfs.foldLeft(b) {
        case (bb, (k, v)) => bb.config(k, v) })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val path = Nsw.ensureNswIndex(spark, dir, seedC, dRounds)
    println(f"[nswbuild] committed $path in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(seedC=$seedC, D=${dRounds.getOrElse(Nsw.descentRoundsFor(seedC))})")
    spark.stop()
  }
}
