package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev profiler: split ann_pq_topk's cold cost into its shared-state
  * phases — the sub-distance table, the code argmin, and the ADC scan +
  * re-rank on top — by forcing each cached stage in order. Diagnostic
  * only.
  *
  *   sbt "runMain graft.tools.PqProf [sfDir] [reps]"
  */
object PqProf {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    (1 to reps).foreach { i =>
      graft.PersistedCache.clearAll()
      val tSub = t(graft.ops.Ann.pqSubDists(s, d).count())
      val tCodes = t(graft.ops.Ann.pqCodes(s, d).count())
      val tQuery = t(graft.SparkEntry.queries("ann_pq_topk")(s, d).count())
      println(f"[pqprof] rep $i: subDists=$tSub%6.2f s  codes=$tCodes%6.2f s" +
        f"  adc+rerank=$tQuery%6.2f s")
    }
    s.stop()
  }
}
