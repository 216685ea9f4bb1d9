package graft.tools

import scala.util.chaining._

import org.apache.spark.sql.SparkSession

import graft.ops.Nsw

/** Build-and-commit one persisted NSW artifact at a given seed cell
  * count — the builder half of the [[NswTune]] diagnostic pair (NswTune
  * reads only committed artifacts by contract), and the tier-build
  * recipe of SCALE_r17.
  *
  * Usage: runMain graft.tools.NswBuild <dir> <seedC>
  */
object NswBuild {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val seedC = args(1).toInt
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
    val path = Nsw.ensureNswIndex(spark, dir, seedC)
    println(f"[nswbuild] committed $path in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(seedC=$seedC, D=${Nsw.DescentRounds})")
    spark.stop()
  }
}
