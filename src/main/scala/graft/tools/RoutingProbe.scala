package graft.tools

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Ann, Nsw}

/** Pins the seedC-retirement decision (VERDICT r16 item 8) with an
  * archived number: the r16 capacity-rule autopsy measured routing
  * infeasibility only at the 2M tier (a scaladoc anecdote, not a
  * table row), so this tool times THE ROUTING PASS ALONE — the
  * n·seedC scored stream through the bounded-heap top-PAdj cut,
  * exactly `Ann.probesOf` as `Nsw.seedCandidates` calls it — at a
  * given tier for each candidate seedC, so the "4√n minimizes the
  * CPU terms" claim in `retunedSeedC`'s scaladoc is anchored by a
  * measurement beside a command (house doctrine).
  *
  * Usage: runMain graft.tools.RoutingProbe <dir> <seedC>[,<seedC>…]
  * A seedC suffixed `h` (e.g. `8192h`) times the HIERARCHICAL router
  * instead ([[graft.ops.Ann.hierProbesOf]] at the rule-derived
  * coarseC and pCoarse = PAdj — exactly the hier branch of
  * `seedCandidates`), so the flat-vs-hier routing cost claim can be
  * measured AT a hier tier rather than extrapolated.
  * Prints one JSON line per entry:
  * {"tool":"routing_probe","dir":…,"n":…,"seedC":…,"mode":…,
  *  "rows_scored":…,"probe_rows":…,"sec":…}
  * (min of 2 runs per entry; session caches cleared between runs so
  * every run re-scores its full stream).
  */
object RoutingProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RoutingProbe <dir> <seedC>[,<seedC>...]")
    val dir = args(0)
    val seedCs = args(1).split(",").map(_.trim).map { s =>
      if (s.endsWith("h")) (s.dropRight(1).toInt, true)
      else (s.toInt, false)
    }.toSeq
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .pipe(b => Nsw.BuildSessionConfs.foldLeft(b) {
        case (bb, (k, v)) => bb.config(k, v) })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = graft.Tables.embeddings(spark, dir)
    val n = corpus.count()
    seedCs.foreach { case (c, hier) =>
      def once(): (Long, Double) = {
        graft.PersistedCache.clearAll()
        val t0 = System.nanoTime()
        val rows =
          if (hier) Ann.hierProbesOf(spark, dir, corpus, c,
            Nsw.coarseCFor(c), Nsw.PAdj, Nsw.PAdj).count()
          else Ann.probesOf(spark, corpus,
            Ann.centroidsAt(spark, dir, c), Nsw.PAdj).count()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      val (rows1, t1) = once()
      val (_, t2) = once()
      val scored =
        if (hier) n * (Nsw.coarseCFor(c) +
          Nsw.PAdj.toLong * c / Nsw.coarseCFor(c))
        else n * c.toLong
      println(s"""{"tool":"routing_probe","dir":"$dir","n":$n,""" +
        s""""seedC":$c,"mode":"${if (hier) "hier" else "flat"}",""" +
        s""""rows_scored":$scored,""" +
        s""""probe_rows":$rows1,"sec":${math.min(t1, t2)}}""")
    }
    spark.stop()
  }
}
