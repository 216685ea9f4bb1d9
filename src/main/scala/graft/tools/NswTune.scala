package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.PersistedCache.Materialize
import graft.ops.{Ann, Nsw}

/** One-off sampled-recall grid over a big clustered tier's PERSISTED
  * graphs — the diagnostic that separates BUILD quality (which seeded
  * graph) from SEARCH budget (hops × beam) when a tier misses its bar.
  * Reads only committed `_BUILT` artifacts; builds nothing.
  *
  * Usage: runMain graft.tools.NswTune <dir> <seedC> <h1,b1 ...>
  * (build the `<seedC>` artifact first with [[NswBuild]].)
  */
object NswTune {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val seedC = args(1).toInt
    val grid = args.drop(2).map { s =>
      val Array(h, b) = s.split(","); (h.toInt, b.toInt)
    }
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = Ann.recallSampleOf(spark, dir, Ann.RecallSampleCap)
      .checkpointed
    val exact = Ann.sampledExact(spark, dir, qs).checkpointed
    val nq = exact.select(col("qid")).distinct().count()
    println(s"[tune] ground truth: $nq queries")

    // Fail fast when the (dir, seedC) artifact was never built:
    // storedAdjacency would otherwise silently launch a from-scratch
    // build — hours of unintended work on a big tier — for what is
    // almost certainly a typo'd seedC (ADVICE r14). This tool reads
    // only committed artifacts, per its contract above.
    val builtPath = new org.apache.hadoop.fs.Path(
      Nsw.livePath(spark, dir, seedC), graft.ops.IndexGc.BuiltMarker)
    val fs = builtPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(builtPath),
      s"no committed NSW artifact for (dir=$dir, seedC=$seedC) — " +
        s"expected $builtPath; NswTune builds nothing (run NswBuild " +
        "first, or fix the seedC argument)")
    val adj = Nsw.storedAdjacency(spark, dir, seedC)
      .checkpointed
    grid.foreach { case (h, b) =>
      val t0 = System.nanoTime()
      val approx = Nsw.nswTopkAt(spark, dir, qs, adj, h, b)
      val r = Ann.recall(approx, exact).head().getAs[Double]("recall")
      println(f"[tune] seedC=$seedC H=$h B=$b recall=$r%.4f " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    spark.stop()
  }
}
