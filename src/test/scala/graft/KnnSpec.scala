package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Distances

/** KNN pipeline unit tests on hand-computed fixtures (FIXTURES.md §"knn_tiny"). */
class KnnSpec extends SparkSpec {
  import spark.implicits._

  // 5 hand-placed 2-d points. Distances verified by hand.
  //   p0=(0,0,label 0) p1=(1,0,label 0) p2=(0,1,label 1)
  //   p3=(3,4,label 1) p4=(6,8,label 1)
  private lazy val tiny = Seq(
    (0L, Array(0f, 0f), 0), (1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1),
    (3L, Array(3f, 4f), 1), (4L, Array(6f, 8f), 1),
  ).toDF("vec_id", "embedding", "label")

  test("euclidean distance matches hand computation") {
    val d = tiny.as("a").crossJoin(tiny.as("b"))
      .select($"a.vec_id".as("i"), $"b.vec_id".as("j"),
        Distances.euclidean_distance($"a.embedding", $"b.embedding").as("d"))
      .where($"i" === 0L).orderBy($"j")
      .collect().map(_.getDouble(2))
    assert(d.sameElements(Array(0.0, 1.0, 1.0, 5.0, 10.0)))
  }

  test("cosine distance: parallel vectors -> 0, orthogonal -> 1") {
    val d = tiny.where($"vec_id".isin(1L, 2L, 3L, 4L))
      .as("a").crossJoin(tiny.where($"vec_id".isin(1L, 2L, 3L, 4L)).as("b"))
      .select($"a.vec_id".as("i"), $"b.vec_id".as("j"),
        Distances.cosine_distance($"a.embedding", $"b.embedding").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(d((3L, 4L))) < 1e-12)          // colinear (3,4) vs (6,8)
    assert(math.abs(d((1L, 2L)) - 1.0) < 1e-12)    // orthogonal axes
  }

  test("top-k=2 euclidean neighbors of p0, tie broken by cid") {
    // p0's neighbors: p1 d=1, p2 d=1 (tie -> cid order), p3 d=5, p4 d=10
    val pairs = tiny.as("q").crossJoin(tiny.as("c"))
      .where($"q.vec_id" =!= $"c.vec_id")
      .select($"q.vec_id".as("qid"), $"c.vec_id".as("cid"),
        Distances.euclidean_distance($"q.embedding", $"c.embedding").as("dist"))
    val w = Window.partitionBy($"qid").orderBy($"dist".asc, $"cid".asc)
    val top2 = pairs.withColumn("rnk", row_number().over(w)).where($"rnk" <= 2)
      .where($"qid" === 0L).orderBy($"rnk")
      .select($"cid").as[Long].collect()
    assert(top2.sameElements(Array(1L, 2L)))
  }

  test("flagship entry returns rows and sane accuracy on sf0.001") {
    val preds = SparkEntry.entry(spark)
    assert(preds.count() === 500)
    val acc = ops.Knn.knnAccuracy(spark, sf0001).collect()(0).getDouble(0)
    assert(acc > 0.0 && acc <= 1.0)
  }

  test("declared knn queries all have oracle twins and run on sf0.001") {
    ops.Knn.queries.foreach { case (name, fn) =>
      assert(ops.Knn.oracles.contains(name), s"$name missing oracle")
      assert(fn(spark, sf0001).count() >= 0)
    }
  }

  /** The vote tail built the way it was before the exploded-k pipeline:
    * per k, cut the ranked neighbors to rnk <= k, count votes, pick the
    * top (n desc, clabel asc) per query, join the embeddings labels, and
    * union the k's. Rows: (k, qid, pred, label). */
  private def perKReference(d: String, ks: Seq[Int]): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val ranked = ops.Knn.knnTopk(spark, d)
      .join(emb.select($"vec_id".as("cid"), $"label".as("clabel")), "cid")
    val truth = emb.select($"vec_id".as("qid"), $"label")
    ks.map { k =>
      val votes = ranked.where($"rnk" <= k)
        .groupBy($"qid", $"clabel").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"qid").orderBy($"n".desc, $"clabel".asc)
      votes.withColumn("vr", row_number().over(w)).where($"vr" === 1)
        .join(truth, "qid")
        .select(lit(k).as("k"), $"qid", $"clabel".as("pred"), $"label")
    }.reduce(_ unionByName _)
  }

  private def accuracyOf(ref: DataFrame): DataFrame =
    ref.groupBy($"k").agg(count(lit(1)).as("n_queries"),
      round(avg(when($"pred" === $"label", 1.0).otherwise(0.0)), 6)
        .as("accuracy"))
      .orderBy($"k")

  private def assertVoteTailMatchesReference(d: String): Unit = {
    val sweep = perKReference(d, Seq(1, 3, 5, 10))
    assert(ops.Knn.knnKSweep(spark, d).collect().toSeq ===
      accuracyOf(sweep).collect().toSeq)
    val atK = sweep.where($"k" === ops.Knn.K)
    assert(ops.Knn.knnAccuracy(spark, d).collect().toSeq ===
      accuracyOf(atK).select($"accuracy").collect().toSeq)
    assert(ops.Knn.knnClassify(spark, d).collect().toSeq ===
      atK.select($"qid", $"pred").orderBy($"qid").collect().toSeq)
  }

  test("vote pipeline: knn_ksweep, knn_accuracy and knn_classify equal the " +
    "per-k vote + label-join reference on sf0.001") {
    assertVoteTailMatchesReference(sf0001)
  }

  test("vote pipeline: knn_ksweep, knn_accuracy and knn_classify equal the " +
    "per-k reference on a fixture with a 2-2-1 tie at k=5 and a 5-5 tie " +
    "at k=10") {
    // Two clusters of unit vectors at opposite angles. Query 0 (label 1)
    // sees its 5 cluster-mates at 1°..5° with labels 2,1,3,2,1: a 2-2-1
    // vote at k=5 that only the smallest-label rule resolves to a hit.
    // Query 10 (label 4) sees its 10 mates at 181°..190° with labels
    // 5,5,4,4,5,4,5,4,5,4: a 5-5 vote at k=10, won by 4 the same way.
    def at(deg: Double) = Array(math.cos(deg.toRadians).toFloat,
      math.sin(deg.toRadians).toFloat)
    val a = Seq(1, 2, 1, 3, 2, 1).zipWithIndex
      .map { case (l, i) => (i.toLong, at(i.toDouble), l) }
    val b = Seq(4, 5, 5, 4, 4, 5, 4, 5, 4, 5, 4).zipWithIndex
      .map { case (l, i) => (10L + i, at(180.0 + i), l) }
    val dir = java.nio.file.Files.createTempDirectory("knn_votes").toString
    (a ++ b).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    try {
      val ref = perKReference(dir, Seq(5, 10))
      def votes(qid: Long, k: Int) = ops.Knn.knnTopk(spark, dir)
        .where($"qid" === qid && $"rnk" <= k)
        .join(Tables.embeddings(spark, dir), $"cid" === $"vec_id")
        .groupBy($"label").count().select($"count").as[Long].collect().sorted.toSeq
      assert(votes(0L, 5) === Seq(1L, 2L, 2L), "fixture lost its 2-2-1 tie")
      assert(votes(10L, 10) === Seq(5L, 5L), "fixture lost its 5-5 tie")
      val hits = ref.where(($"qid" === 0L && $"k" === 5) ||
        ($"qid" === 10L && $"k" === 10)).select($"pred" === $"label")
      assert(hits.as[Boolean].collect().toSeq === Seq(true, true))
      assertVoteTailMatchesReference(dir)
    } finally {
      ops.Knn.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("knn_ksweep over the cached ranked set: no join, no embeddings " +
    "scan, no exchange keyed on qid, at most 5 Spark jobs") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec

    ops.Knn.knnTopk(spark, sf0001).collect() // the shared ranked set
    // jobs launched while knn_ksweep is built and run
    val (q, jobs) = withJobCount {
      val q = ops.Knn.knnKSweep(spark, sf0001)
      q.collect()
      q
    }
    info(s"$jobs Spark jobs built and ran knn_ksweep")
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = q.queryExecution.executedPlan
    val joins = helper.collect(plan) { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"knn_ksweep joins: $joins\n$plan")
    val scans = helper.collect(plan) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.getName == "embeddings.parquet") => f
    }
    assert(scans.isEmpty, s"knn_ksweep re-reads embeddings.parquet\n$plan")
    // the cached set is already partitioned by qid: the vote aggregate and
    // window reuse it, and only the groupBy(k) and the sort shuffle
    val byQid = helper.collect(plan) {
      case x: ShuffleExchangeExec => x.outputPartitioning
    }.collect {
      case p: Expression if p.references.exists(_.name == "qid") => p
    }
    assert(byQid.isEmpty, s"knn_ksweep re-shuffles on qid: $byQid\n$plan")
    assert(jobs <= 5, s"knn_ksweep launched $jobs Spark jobs")
  }

  test("embeddings read: the declared schema is the one every fixture " +
    "tier infers, and building the relation starts no Spark job") {
    val fixtures = new java.io.File(sf0001).getParent
    for (tier <- Seq("sf0.001", "sf0.01", "sf0.1")) withClue(s"$tier: ") {
      assert(spark.read.parquet(s"$fixtures/$tier/embeddings.parquet")
        .schema === Tables.EmbeddingsSchema)
    }
    val (df, jobs) = withJobCount(Tables.embeddings(spark, sf0001))
    assert(jobs === 0, "building the embeddings relation launched a job")
    assert(df.schema === Tables.EmbeddingsSchema)
  }

  /** Join operators of an executed plan, the plans of cached relations
    * it reads included (knn_topk reads the session's cached ranked set). */
  private def joinsIn(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    new AdaptiveSparkPlanHelper {}.flatMap(plan) {
      case m: InMemoryTableScanExec => joinsIn(m.relation.cachedPlan)
      case j: BaseJoinExec => Seq(j.nodeName)
      case _ => Nil
    }
  }

  test("layout law: with broadcast turned off knn_topk plans the block " +
    "layout (CartesianProduct, no BroadcastNestedLoopJoin) with the " +
    "broadcast layout's rows, and knn_ksweep still re-shuffles nothing on qid") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val wide = ops.Knn.knnTopk(spark, sf0001)
    val wideRows = wide.collect().toSeq
    val wideJoins = joinsIn(wide.queryExecution.executedPlan)
    assert(wideJoins === Seq("BroadcastNestedLoopJoin"), wideJoins)
    assert(wideRows.length === 500 * ops.Knn.K)
    val off = spark.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = ops.Knn.knnTopk(off, sf0001)
      val rows = df.collect().toSeq
      val joins = joinsIn(df.queryExecution.executedPlan)
      assert(!joins.contains("BroadcastNestedLoopJoin"), joins)
      assert(joins.contains("CartesianProduct"), joins)
      assert(rows === wideRows)
      // the cached set keeps the cut's qid partitioning in this layout too
      val sweep = ops.Knn.knnKSweep(off, sf0001)
      sweep.collect()
      val byQid = new AdaptiveSparkPlanHelper {}
        .collect(sweep.queryExecution.executedPlan) {
          case x: ShuffleExchangeExec => x.outputPartitioning
        }.collect {
          case p: Expression if p.references.exists(_.name == "qid") => p
        }
      assert(byQid.isEmpty, s"knn_ksweep re-shuffles on qid: $byQid")
    } finally ops.Knn.clearCache()
  }
}
