package graft

import org.apache.spark.sql.functions._
import graft.functions.TopKAgg

/** The bounded-heap aggregate must agree exactly with the window-rank
  * formulation — including tie-breaks — and keep map-side partial
  * aggregation in its physical plan. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  /** The rank-window reference (ScaleCheck's third plan) as ordered rows. */
  private def windowRows =
    tools.ScaleCheck.windowTopk(spark, sf0001).orderBy($"qid", $"rnk")
      .select($"qid", $"rnk".cast("long"), $"cid", $"dist")
      .as[(Long, Long, Long, Double)].collect()

  test("top_k_by equals window row_number top-k on the embeddings pipeline") {
    val aggResult = ops.Knn.knnTopk(spark, sf0001)
      .select($"qid", $"rnk".cast("long"), $"cid", $"dist")
      .as[(Long, Long, Long, Double)].collect()
    val winResult = windowRows
    assert(aggResult.length === winResult.length)
    assert(aggResult.sameElements(winResult))
  }

  test("top_k_by breaks distance ties on the id") {
    val df = Seq(
      (1L, 0.5, 30L, 0), (1L, 0.5, 10L, 1), (1L, 0.5, 20L, 2), (1L, 0.1, 40L, 3),
    ).toDF("qid", "dist", "cid", "clabel")
    val out = df.groupBy($"qid")
      .agg(TopKAgg.top_k_by(spark, $"dist", $"cid", $"clabel", 3).as("nbrs"))
      .select(posexplode($"nbrs").as(Seq("pos", "nbr")))
      .select($"nbr.id").as[Long].collect()
    assert(out.sameElements(Array(40L, 10L, 20L))) // 0.1 first, then ties by id
  }

  test("top_k_by plans partial aggregation before the exchange") {
    val plan = ops.Knn.topkRanked(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_by") || plan.contains("partial_"), plan)
  }

  test("blocked variant plans CartesianProduct with partial top_k_by") {
    val plan = ops.Knn.knnTopkBlocked(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_top_k_by"), plan)
    // and must still equal the exact window form
    val blocked = ops.Knn.knnTopkBlocked(spark, sf0001)
      .select($"qid", $"rnk".cast("long"), $"cid", $"dist")
      .as[(Long, Long, Long, Double)].collect()
    val win = windowRows
    assert(blocked.sameElements(win))
  }

  test("blocked knn: block count follows the byte budget, results don't") {
    // tiny budget → many blocks; huge budget → the 2-block floor (one
    // block would mean the broadcast layout is the right operator)
    val rows = Tables.footerRowCount(spark, s"$sf0001/embeddings.parquet")
    val many = ops.Knn.blocksAt(rows, Tables.RowBytes.Embedding, 4096L).n
    val few = ops.Knn.blocksAt(rows, Tables.RowBytes.Embedding, 1L << 30).n
    assert(few == 2 && many > few, s"few=$few many=$many")
    // result invariance across block counts (the partial heaps merge to
    // the same total order no matter how the candidate side is cut)
    val win = windowRows
    for (budget <- Seq(4096L, 1L << 30)) {
      val blocked = ops.Knn.knnTopkBlockedAt(spark, sf0001, budget)
        .select($"qid", $"rnk".cast("long"), $"cid", $"dist")
        .as[(Long, Long, Long, Double)].collect()
      assert(blocked.sameElements(win), s"diverged at blockBytes=$budget")
    }
  }

  test("buffer serialization round-trips through sorted order") {
    val buf = new graft.functions.TopKBuffer(2)
    buf.insert(0.3, 1, 7); buf.insert(0.1, 2, 8); buf.insert(0.2, 3, 9)
    assert(buf.sorted.toSeq === Seq((0.1, 2L, 8), (0.2, 3L, 9)))
  }

  test("top_k_distinct_by on a multiset ≡ distinct() then top_k_by — " +
    "the law that let the NSW build drop its expansion exchanges") {
    // duplicates with identical (dist, id) — the NSW candidate shape
    // (dist is a pure function of the pair) — plus enough distinct ids
    // to force evictions past k
    val rows = for {
      q <- 1L to 5L; id <- 1L to 20L; dup <- 1 to (1 + (id % 3).toInt)
    } yield (q, (id * 7919 % 23).toDouble / 23.0 + q * 0.001, id * 100 + q, 0)
    val df = rows.toDF("qid", "dist", "cid", "clabel").repartition(8)
    val viaDistinct = df.distinct().groupBy($"qid")
      .agg(TopKAgg.top_k_by(spark, $"dist", $"cid", $"clabel", 7).as("nbrs"))
      .select($"qid", posexplode($"nbrs").as(Seq("pos", "nbr")))
      .select($"qid", $"pos", $"nbr.id", $"nbr.dist")
      .as[(Long, Int, Long, Double)].collect().sortBy(t => (t._1, t._2))
    val viaHeap = df.groupBy($"qid")
      .agg(TopKAgg.top_k_distinct_by(spark, $"dist", $"cid", $"clabel", 7)
        .as("nbrs"))
      .select($"qid", posexplode($"nbrs").as(Seq("pos", "nbr")))
      .select($"qid", $"pos", $"nbr.id", $"nbr.dist")
      .as[(Long, Int, Long, Double)].collect().sortBy(t => (t._1, t._2))
    assert(viaHeap.sameElements(viaDistinct))
  }

  test("distinct buffer: duplicate id keeps the smaller (dist, label); " +
    "eviction frees the id for a later better copy") {
    val buf = new graft.functions.TopKBuffer(2, distinctIds = true)
    buf.insert(0.3, 1, 7)
    buf.insert(0.3, 1, 7)            // exact duplicate — absorbed
    assert(buf.sorted.toSeq === Seq((0.3, 1L, 7)))
    buf.insert(0.2, 1, 5)            // better copy of id 1 — replaces
    assert(buf.sorted.toSeq === Seq((0.2, 1L, 5)))
    buf.insert(0.1, 2, 0); buf.insert(0.05, 3, 0) // evicts id 1
    assert(buf.sorted.toSeq === Seq((0.05, 3L, 0), (0.1, 2L, 0)))
    buf.insert(0.2, 1, 5)            // evicted id re-offered, still worse
    assert(buf.sorted.toSeq === Seq((0.05, 3L, 0), (0.1, 2L, 0)))
    buf.insert(0.01, 1, 5)           // re-offered BETTER — re-enters
    assert(buf.sorted.toSeq === Seq((0.01, 1L, 5), (0.05, 3L, 0)))
  }

  test("distinct buffer full-heap fast path (r17): a strictly-worse " +
    "candidate is dropped scan-free without corrupting the kept set; a " +
    "root tie still reconciles the label") {
    val buf = new graft.functions.TopKBuffer(3, distinctIds = true)
    buf.insert(0.1, 1, 0); buf.insert(0.2, 2, 0); buf.insert(0.3, 3, 9)
    // full heap, root = (0.3, 3). Strictly-worse duplicates of kept ids
    // cannot exist under the purity precondition, but strictly-worse NEW
    // ids must be dropped (fast path) with the kept set intact:
    buf.insert(0.4, 4, 0)
    buf.insert(0.31, 5, 0)
    assert(buf.sorted.toSeq === Seq((0.1, 1L, 0), (0.2, 2L, 0), (0.3, 3L, 9)))
    // (dist, id) EQUAL to the root ties the worse() compare — it must
    // take the scan path and reconcile the smaller label
    buf.insert(0.3, 3, 4)
    assert(buf.sorted.toSeq === Seq((0.1, 1L, 0), (0.2, 2L, 0), (0.3, 3L, 4)))
    // a better copy of a kept non-root id still replaces through the scan
    buf.insert(0.05, 2, 0)
    assert(buf.sorted.toSeq === Seq((0.05, 2L, 0), (0.1, 1L, 0), (0.3, 3L, 4)))
  }

  test("NaN dists sort greater-than-everything and are evictable — " +
    "the heap matches Spark's DoubleType total order (ADVICE r16)") {
    // buffer level: a NaN that enters a non-full heap must be the first
    // evicted, and arrival order must not matter
    val nan = Double.NaN
    for (order <- Seq(
        Seq((nan, 1L), (0.5, 2L), (0.3, 3L)),
        Seq((0.5, 2L), (nan, 1L), (0.3, 3L)),
        Seq((0.5, 2L), (0.3, 3L), (nan, 1L)))) {
      val buf = new graft.functions.TopKBuffer(2)
      order.foreach { case (d, id) => buf.insert(d, id, 0) }
      assert(buf.sorted.toSeq === Seq((0.3, 3L, 0), (0.5, 2L, 0)),
        s"order $order kept the NaN")
    }
    // a heap of ONLY NaNs still orders by id, and a real dist evicts one
    val buf = new graft.functions.TopKBuffer(2)
    buf.insert(nan, 5L, 0); buf.insert(nan, 4L, 0); buf.insert(nan, 6L, 0)
    assert(buf.sorted.toSeq.map(_._2) === Seq(4L, 5L))
    buf.insert(0.9, 7L, 0)
    assert(buf.sorted.toSeq.map(_._2) === Seq(7L, 4L))
    // distinct mode: a NaN copy of an id never beats a finite copy
    val dbuf = new graft.functions.TopKBuffer(2, distinctIds = true)
    dbuf.insert(0.4, 1L, 0); dbuf.insert(nan, 1L, 0)
    assert(dbuf.sorted.toSeq === Seq((0.4, 1L, 0)))
    // k=1 argmin (the IVF assignment shape): NaN loses to any finite
    // dist regardless of arrival order — min_by semantics
    for (order <- Seq(Seq((nan, 9L), (0.2, 8L)), Seq((0.2, 8L), (nan, 9L)))) {
      val m = new graft.functions.TopKBuffer(1)
      order.foreach { case (d, id) => m.insert(d, id, 0) }
      assert(m.sorted.toSeq === Seq((0.2, 8L, 0)), s"argmin broke at $order")
    }
    // SQL level: agrees with the window row_number form on a NaN fixture
    val df = Seq(
      (1L, nan, 10L, 0), (1L, 0.5, 20L, 0), (1L, 0.7, 30L, 0),
      (2L, nan, 40L, 0), (2L, nan, 50L, 0), (2L, 0.1, 60L, 0),
    ).toDF("qid", "dist", "cid", "clabel").repartition(4)
    val viaHeap = df.groupBy($"qid")
      .agg(TopKAgg.top_k_by(spark, $"dist", $"cid", $"clabel", 2).as("nbrs"))
      .select($"qid", posexplode($"nbrs").as(Seq("pos", "nbr")))
      .select($"qid", $"pos", $"nbr.id").as[(Long, Int, Long)]
      .collect().sortBy(t => (t._1, t._2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"dist".asc, $"cid".asc)
    val viaWin = df.withColumn("rn", row_number().over(w))
      .where($"rn" <= 2)
      .select($"qid", ($"rn" - 1).cast("int").as("pos"), $"cid")
      .as[(Long, Int, Long)].collect().sortBy(t => (t._1, t._2))
    assert(viaHeap.sameElements(viaWin))
  }

  test("distinct buffer merge preserves one-entry-per-id across partial " +
    "states (the map-side partial aggregation path)") {
    val a = new graft.functions.TopKBuffer(3, distinctIds = true)
    val b = new graft.functions.TopKBuffer(3, distinctIds = true)
    a.insert(0.3, 1, 0); a.insert(0.2, 2, 0)
    b.insert(0.3, 1, 0); b.insert(0.1, 3, 0)
    a.mergeFrom(b)
    assert(a.sorted.toSeq === Seq((0.1, 3L, 0), (0.2, 2L, 0), (0.3, 1L, 0)))
  }

  test("distinct buffer fed VARYING dists per id (the documented " +
    "precondition violation) still computes order-independent " +
    "min-(dist,label)-per-id-then-top-k (ADVICE r16: the precondition's " +
    "fallback semantics, pinned as an executable law)") {
    // top_k_distinct_by's `distinct ≡` equivalence REQUIRES (dist, label)
    // to be a pure function of id per group. This law pins what a caller
    // gets when that is violated: a well-defined, arrival-order-
    // independent "min per id, then top-k" — NOT garbage, and NOT the
    // distinct()+top_k_by multiset semantics. The r17 full-heap fast
    // path is included in the property: dropping a candidate strictly
    // worse than the root is exact even for varying dists, because the
    // root only ever improves.
    val rows = Seq( // (dist, id, label) with several ids repeated
      (0.9, 1L, 3), (0.2, 1L, 9), (0.5, 2L, 1), (0.5, 2L, 0),
      (0.7, 3L, 2), (0.1, 3L, 5), (0.4, 4L, 4), (0.3, 5L, 6),
      (0.05, 6L, 7), (0.8, 6L, 8), (0.6, 7L, 0), (0.6, 1L, 1))
    val expect = rows.groupBy(_._2).map { case (id, g) =>
      val m = g.map { case (d, _, l) => (d, l) }.min
      (m._1, id, m._2)
    }.toSeq.sortBy(t => (t._1, t._2)).take(4)
    (0 until 20).foreach { seed =>
      val buf = new graft.functions.TopKBuffer(4, distinctIds = true)
      new scala.util.Random(seed).shuffle(rows)
        .foreach { case (d, id, l) => buf.insert(d, id, l) }
      assert(buf.sorted.toSeq == expect, s"seed=$seed")
    }
  }
}
