package graft.tools

import org.apache.spark.sql.SparkSession

import graft.PersistedCache.Materialize
import graft.ops.Nsw

/** Dev profiler: split ann_nsw_topk's cold cost into its phases —
  * adjacency build (seed + NN-descent rounds), far-link augmentation,
  * and the beam search itself — by forcing each session-cached stage in
  * order and timing the deltas. Diagnostic only; touches no declared
  * query.
  *
  *   sbt "runMain graft.tools.NswProf [sfDir] [reps]"
  */
object NswProf {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(3)
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
    if (args.lift(1).contains("build-split")) {
      // finer split of the adjacency-build phase (r18): seed-candidate
      // materialization, the seed best-M cut, each NN-descent round.
      // Reconstructs adjacency()'s chain step by step (same confs via the
      // noop-count trick: each stage localCheckpoint'd like the build).
      import org.apache.spark.sql.functions.col
      val reps2 = args.lift(2).filter(_.forall(_.isDigit)).map(_.toInt)
        .getOrElse(2)
      (1 to reps2).foreach { i =>
        graft.PersistedCache.clearAll()
        val tAssign = t(graft.ops.Ann.assignments(s, d).count())
        val seeds = Nsw.seedCandidates(s, d)
        val tSeed = t(seeds.write.format("noop").mode("overwrite").save())
        var g: org.apache.spark.sql.DataFrame = null
        val tG0 = t {
          g = Nsw.bestM(s, d, seeds).checkpointed
          g.count()
        }
        val tRounds = (1 to Nsw.DescentRounds).map { _ =>
          t {
            val sym = g.unionByName(
              g.select(col("v").as("u"), col("u").as("v"))).distinct()
            val hop2 = sym.as("a").join(sym.as("b"), col("a.v") === col("b.u"))
              .select(col("a.u").as("u"), col("b.v").as("v"))
            val cands = g.unionByName(hop2).where(col("u") =!= col("v"))
            g = Nsw.bestM(s, d, cands).checkpointed
            g.count()
          }
        }
        println(f"[nswprof] build rep $i: assign=$tAssign%5.2f s  " +
          f"seedNoop=$tSeed%5.2f s  g0=$tG0%5.2f s  " +
          tRounds.zipWithIndex.map { case (tt, j) =>
            f"round${j + 1}=$tt%5.2f s" }.mkString("  "))
      }
      s.stop(); return
    }
    if (args.lift(1).contains("dup-check")) {
      // one-hop candidate-stream census (r18): how many grown rows does
      // a hop score, and how many DISTINCT (qid, cand) pairs are under
      // them — the duplicate factor the post-scoring heap absorbs.
      import org.apache.spark.sql.functions._
      val adj = Nsw.adjacencyWithFar(s, d, Nsw.F)
      val b = Nsw.tunedB(s, d)
      var beam = Nsw.entryBeam(s, d, graft.Tables.embeddings(s, d)).checkpointed
      (1 to 2).foreach { h =>
        val grown = beam.join(adj, beam("cand") === adj("u"))
          .select(col("qid"), col("v").as("cand"))
          .unionByName(beam)
          .where(col("cand") =!= col("qid"))
        val tGrow = t(grown.write.format("noop").mode("overwrite").save())
        val total = grown.count()
        val dist = grown.distinct().count()
        println(f"[nswprof] hop $h: grown=$total%,d  distinct=$dist%,d  " +
          f"dup=${total.toDouble / dist}%.2f  growNoop=$tGrow%5.2f s")
        // advance the beam with the real hop's re-score and cut, timed
        // apart
        val scored = graft.ops.Ann.exactScored(s, d,
          grown.select(col("qid"), col("cand").as("cid")))
        val tScore = t(scored.write.format("noop").mode("overwrite").save())
        val heaped = scored
          .groupBy(col("qid"))
          .agg(graft.functions.TopKAgg.top_k_distinct_by(s,
            col("dist"), col("cid"), lit(0), b).as("top"))
          .select(col("qid"), explode(col("top")).as("t"))
          .select(col("qid"), col("t.id").as("cand"))
        val tHop = t { beam = heaped.checkpointed }
        println(f"[nswprof] hop $h: scoreNoop=$tScore%5.2f s  " +
          f"fullHop=$tHop%5.2f s")
      }
      s.stop(); return
    }
    if (args.lift(1).contains("explain-hop")) {
      // dump ONE hop's plan (the per-hop shape the checkpoint barrier
      // hides from a whole-query explain)
      Nsw.hop(s, d, Nsw.entryBeam(s, d, graft.Tables.embeddings(s, d)),
        far = Nsw.F).explain("formatted")
      s.stop(); return
    }
    (1 to reps).foreach { i =>
      graft.PersistedCache.clearAll()
      val tAdj = t(Nsw.adjacency(s, d).count())
      val tFar = t(Nsw.adjacencyWithFar(s, d, Nsw.F).count())
      val tSearch = t(graft.SparkEntry.queries("ann_nsw_topk")(s, d).count())
      println(f"[nswprof] rep $i: adjacency=$tAdj%6.2f s  " +
        f"farAug=$tFar%5.2f s  search=$tSearch%6.2f s")
    }
    s.stop()
  }
}
