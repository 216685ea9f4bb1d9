package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev tool: repeat-time one declared query to separate fixed overhead
  * (first-run codegen/scan setup) from steady-state cost.
  * Usage: runMain graft.tools.ProfileQuery <name> [sfDir] [reps] [cpus] [cold]
  * Passing `cold` as the 5th arg runs the cold reset
  * (`PersistedCache.clearAll`) before each rep (Bench's cold
  * methodology) — steady-state COLD, i.e. JVM and codegen warm but
  * shared intermediates rebuilt every rep.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val cpus = args.lift(3).getOrElse("32")
    val cold = args.lift(4).contains("cold")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      if (cold) graft.PersistedCache.clearAll()
      val t0 = System.nanoTime()
      val n = fn(s, d).count()
      println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%6.3f s ($n rows, local[$cpus])")
    }
    s.stop()
  }
}
