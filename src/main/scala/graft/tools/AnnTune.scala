package graft.tools

import org.apache.spark.sql.SparkSession
import graft.ops.Ann

/** Print IVF recall@K (seed and trained) for the current Ann constants,
  * then sweep trained recall over a (C, P) grid — the measurement loop
  * behind the constants' tuning.
  * Usage: runMain graft.tools.AnnTune [sfDir] [sweep]
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sweep = args.lift(1).contains("sweep")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // recall@K of one NSW search configuration over every query
    def nswRecall(h: Int, b: Int, e: Int, f: Int,
        adj: Option[org.apache.spark.sql.DataFrame]) =
      Ann.recallOf(spark, sfDir, graft.ops.Nsw.nswTopkAt(spark, sfDir,
        graft.Tables.embeddings(spark, sfDir), h, b, e, f, adj))
    println(s"[anntune] C=${Ann.C} P=${Ann.P} K=${Ann.K} iters=${Ann.LloydIters}")
    val seed = Ann.recallSeed(spark, sfDir).collect()(0)
    println(s"[anntune] seed:    hits=${seed.getAs[Long]("n_hits")} recall=${seed.getAs[Double]("recall")}")
    val tr = Ann.recallTrained(spark, sfDir).collect()(0)
    println(s"[anntune] trained: hits=${tr.getAs[Long]("n_hits")} recall=${tr.getAs[Double]("recall")}")
    if (sweep) {
      for ((c, p) <- Seq((256, 96))) {
        val t0 = System.nanoTime()
        val r = Ann.recallTrainedAt(spark, sfDir, c, p).collect()(0)
        println(f"[anntune] C=$c%3d P=$p%3d scan=${p.toDouble / c}%.3f " +
          f"recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
      }
    }
    if (args.lift(1).contains("ivfpq")) {
      def show(tag: String, df: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val r = df.collect()(0)
        println(f"[anntune] $tag recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
      }
      show(s"ivfpq seed    P=${Ann.P}", Ann.ivfpqRecall(spark, sfDir))
      for (p <- Seq(128, 144)) {
        show(f"route seed    P=$p%3d", Ann.recallSeedAt(spark, sfDir, p))
        show(f"ivfpq seed    P=$p%3d", Ann.ivfpqRecallSeedAt(spark, sfDir, p))
      }
      for (p <- Seq(96, 128)) {
        show(f"ivfpq trained P=$p%3d",
          Ann.ivfpqRecallTrainedAt(spark, sfDir, Ann.C, p))
      }
    }
    if (args.lift(1).contains("budget")) {
      for (p <- Seq(16, 24, 50)) {
        val t0 = System.nanoTime()
        val r = Ann.recallTrainedAt(spark, sfDir, Ann.C, p).collect()(0)
        println(f"[anntune] ivf trained C=${Ann.C} P=$p%3d " +
          f"scan=${p.toDouble / Ann.C}%.3f " +
          f"recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
      }
    }
    if (args.lift(1).contains("rt")) {
      val c = args(2).toInt
      val p = args(3).toInt
      val t0 = System.nanoTime()
      val r = Ann.recallTrainedAt(spark, sfDir, c, p).collect()(0)
      println(f"[anntune] trained C=$c P=$p recall=${r.getAs[Double]("recall")}%.4f " +
        f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
    }
    if (args.lift(1).contains("nsw")) {
      for ((h, b, e, f) <- Seq((4, 48, 8, 0), (4, 48, 8, 8),
          (5, 48, 8, 8), (6, 48, 8, 8), (5, 48, 8, 16), (6, 64, 8, 16))) {
        val t0 = System.nanoTime()
        val r = nswRecall(h, b, e, f, None).collect()(0)
        println(f"[anntune] nsw H=$h B=$b E=$e F=$f " +
          f"recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
      }
    }
    if (args.lift(1).contains("nswat")) {
      // parametric single-point NSW measurement: nswat H B F
      val h = args(2).toInt
      val b = args(3).toInt
      val f = args(4).toInt
      val t0 = System.nanoTime()
      val r = nswRecall(h, b, graft.ops.Nsw.E, f, None).collect()(0)
      println(f"[anntune] nswat H=$h B=$b F=$f " +
        f"recall=${r.getAs[Double]("recall")}%.4f " +
        f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
    }
    if (args.lift(1).contains("tiers")) {
      // recall-vs-touch separation across ANN tiers on one corpus —
      // the clustered-vs-isotropic measurement (VERDICT r10 item 6)
      def show(tag: String, df: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val r = df.collect()(0)
        println(f"[anntune] $tag recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
      }
      val n = graft.Tables.embeddings(spark, sfDir).count()
      println(s"[anntune] tiers on $sfDir (n=$n)")
      for (p <- Seq(24, 50, 96)) {
        show(f"ivf trained C=${Ann.C} P=$p%3d touch=${p.toDouble / Ann.C}%.3f",
          Ann.recallTrainedAt(spark, sfDir, Ann.C, p))
      }
      show(f"ivfpq trained P=${Ann.PIvfpq}",
        Ann.ivfpqRecallTrainedAt(spark, sfDir, Ann.C, Ann.PIvfpq))
      for ((h, b, f) <- Seq((4, 48, 0), (4, 16, 0))) {
        show(f"nsw H=$h B=$b F=$f",
          nswRecall(h, b, graft.ops.Nsw.E, f, None))
      }
    }
    if (args.lift(1).contains("nswbuild")) {
      import graft.ops.Nsw
      val t0 = System.nanoTime()
      val approx = Nsw.adjacency(spark, sfDir)
      val nEdges = approx.count()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val exact = Nsw.exactAdjacency(spark, sfDir)
      val nExact = exact.count()
      val tExact = (System.nanoTime() - t1) / 1e9
      val hit = approx.join(exact, Seq("u", "v")).count()
      println(f"[anntune] nsw build: approx $nEdges edges in $tBuild%.1f s, " +
        f"exact $nExact in $tExact%.1f s, graph recall=${hit.toDouble / nExact}%.4f")
      for (exactG <- Seq(false, true)) {
        val t2 = System.nanoTime()
        val adjO = if (exactG) Some(Nsw.exactAdjacency(spark, sfDir)) else None
        val r = nswRecall(Nsw.H, Nsw.B, Nsw.E, Nsw.F, adjO).collect()(0)
        println(f"[anntune] nsw search exactGraph=$exactG " +
          f"recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t2) / 1e9}%5.1f s)")
      }
    }
    if (args.lift(1).contains("ivfpq2")) {
      def show(tag: String, df: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val r = df.collect()(0)
        println(f"[anntune] $tag recall=${r.getAs[Double]("recall")}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.1f s)")
      }
      for (p <- Seq(144, 160)) {
        show(f"ivfpq trained P=$p%3d",
          Ann.ivfpqRecallTrainedAt(spark, sfDir, Ann.C, p))
      }
    }
    spark.stop()
  }
}
