package graft

import org.apache.spark.sql.functions._

import graft.ops.{Ann, Knn}

/** IVF ANN quality: recall against the exact brute-force top-k, and
  * cost reduction (candidates actually pruned). */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("ivf assignments cover every vector exactly once") {
    val n = Tables.embeddings(spark, sf0001).count()
    val a = Ann.assignments(spark, sf0001)
    assert(a.count() === n)
    assert(a.select($"vec_id").distinct().count() === n)
  }

  test("ivf top-k recall vs exact top-k is materially better than random") {
    val exact = Knn.knnTopk(spark, sf0001)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val approx = Ann.ivfTopk(spark, sf0001)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // P/C = 16/64 of the lists are probed; random pruning would give
    // recall ≈ 0.25. The index must do substantially better.
    assert(recall >= 0.4, s"IVF recall $recall")
    info(s"IVF recall@10 = $recall (probing ${Ann.P}/${Ann.C} lists)")
  }

  test("ivf probe join shuffles on cent_id instead of broadcasting the " +
    "lists (AQE on and off)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      ShuffledHashJoinExec}

    val helper = new AdaptiveSparkPlanHelper {}
    // a scan of inverted lists: a stored list file set (`…/lists`) or
    // the session-cached seed assignment table (its schema has cdist)
    def isListsScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName == "lists")
      case m: InMemoryTableScanExec =>
        m.relation.output.exists(_.name == "cdist")
      case _ => false
    }
    def readsLists(p: SparkPlan): Boolean = helper.find(p)(isListsScan).isDefined
    // the lists scan with no join between it and `p` (through AQE
    // stages and reused exchanges): the join above is THE probe join,
    // not one further up, e.g. ivfsq's code-table joins
    def feedsLists(p: SparkPlan): Boolean = isListsScan(p) || (p match {
      case _: BaseJoinExec => false
      case a: AdaptiveSparkPlanExec => feedsLists(a.executedPlan)
      case q: QueryStageExec => feedsLists(q.plan)
      case r: ReusedExchangeExec => feedsLists(r.child)
      case _ => p.children.exists(feedsLists)
    })
    // ivfpq legitimately broadcasts its LUT and code sides, so the law
    // is on the tree: no broadcast subtree may hold a lists scan
    val tiers = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "ivfTopk" -> Ann.ivfTopk, "ivfTopkIndexed" -> Ann.ivfTopkIndexed,
      "ivfTopkUpserted" -> Ann.ivfTopkUpserted, "ivfpqTopk" -> Ann.ivfpqTopk,
      "ivfsqTopk" -> Ann.ivfsqTopk,
      "nswSeedCells" -> ((s, d) =>
        graft.ops.Nsw.seedCandidates(s, d, Ann.C, None)))
    withAqeBothWays {
      tiers.foreach { case (name, q) =>
        val df = q(spark, sf0001)
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.executedPlan
        assert(readsLists(plan), s"$name: no lists scan found:\n$plan")
        assert(helper.collect(plan) { case j: ShuffledHashJoinExec => j }
            .exists(_.children.exists(feedsLists)),
          s"$name: the lists must feed a shuffled hash join directly:\n$plan")
        val broadcastLists = helper.collect(plan) {
          case b: BroadcastExchangeExec if readsLists(b) => b }
        assert(broadcastLists.isEmpty,
          s"$name: inverted lists must not be broadcast:\n$plan")
      }
    }
  }

  test("ivf probes prune the pair space") {
    val n = Tables.embeddings(spark, sf0001).count()
    val probedPairs = Ann.ivfTopk(spark, sf0001).count() // K per query
    assert(probedPairs === n * Ann.K)
  }

  test("embeddings are unit-norm (the PQ squared-L2 ≡ cosine premise)") {
    // ADC ranks by squared L2, the ground truth is cosine; the two agree
    // iff vectors are unit-norm (L2² = 2 − 2·cos). Pin the premise so a
    // fixture regeneration with unnormalized vectors fails HERE, not as
    // an inexplicable recall collapse.
    val offNorm = Tables.embeddings(spark, sf0001)
      .select(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2"))
      .where(abs(col("n2") - 1.0d) > 1e-5).count()
    assert(offNorm === 0, s"$offNorm vectors are not unit-norm")
  }

  test("pq codes: one row per vector, every subspace histogram sums to n") {
    val n = Tables.embeddings(spark, sf0001).count()
    assert(Ann.pqCodes(spark, sf0001).count() === n)
    val hist = Ann.pqCodeStats(spark, sf0001)
      .groupBy(col("m")).agg(sum(col("n")).as("tot")).collect()
    assert(hist.length === Ann.PqM)
    hist.foreach(r => assert(r.getAs[Long]("tot") === n))
  }

  test("pq re-rank recall clears the production bar") {
    val recall = Ann.pqRecall(spark, sf0001).head().getAs[Double]("recall")
    assert(recall >= 0.9, s"pq recall@10 = $recall")
  }

  test("ivfpq: composed recall is bounded by ITS routing tier (trained, " +
    "PIvfpq probes) and clears the production bar") {
    val ivfpq = Ann.ivfpqRecall(spark, sf0001).head().getAs[Double]("recall")
    // the r10 composition routes through the TRAINED index at PIvfpq
    // probes — the bound must be measured on the same routing tier
    val route = Ann.recallTrainedAt(spark, sf0001, Ann.C, Ann.PIvfpq)
      .head().getAs[Double]("recall")
    // PQ only re-scores what IVF routed: candidates are a subset, so
    // composed recall can never exceed the routing tier's
    assert(ivfpq <= route + 1e-9, s"ivfpq $ivfpq > routing $route")
    // the production bar the retune was for (0.969 sf0.1, see PIvfpq)
    assert(ivfpq >= 0.9, s"ivfpq recall $ivfpq")
    info(s"recall@10: ivfpq=$ivfpq routing=$route")
  }

  test("adc lut branch: broadcast vs qid-keyed shuffle-hash — same rows, " +
    "declared physical shapes") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // ann_pq_topk sizes its LUT join and both rerank embedding lookups
    // by Tables.sizedSide; ann_sq8_topk sizes its rerank lookups. A
    // session with broadcast off takes every sized side to shuffle-hash.
    // Both flat scans also size their corpus-wide code table: with
    // broadcast off it is never broadcast into the (qid, cid) pair scan.
    // (PQ's fixed 256-row codebook cross join stays a broadcast.)
    def joins(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val p = df.queryExecution.executedPlan.toString
      ("BroadcastHashJoin".r.findAllIn(p).size,
        "ShuffledHashJoin".r.findAllIn(p).size)
    }
    // nested-loop joins that emit (qid, cid) pairs with a broadcast side
    def broadcastPairScans(df: org.apache.spark.sql.DataFrame): Int =
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case j: BroadcastNestedLoopJoinExec
          if j.output.exists(_.name == "cid") => j
      }.size
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    for (name <- Seq("ann_pq_topk", "ann_sq8_topk")) withClue(s"$name: ") {
      val bc = Ann.queries(name)(spark, sf0001)
      val bcRows = bc.collect()
      val (bcB, _) = joins(bc)
      assert(bcB >= 1, s"default branch must broadcast the sized sides " +
        s"(saw $bcB broadcasts)")
      assert(broadcastPairScans(bc) === 1,
        s"default branch must broadcast the code table once:\n" +
          bc.queryExecution.executedPlan)
      try {
        spark.conf.set(bcKey, "-1")
        Ann.clearCache()
        val sh = Ann.queries(name)(spark, sf0001)
        val shRows = sh.collect()
        val (shB, shS) = joins(sh)
        assert(broadcastPairScans(sh) === 0, "broadcast off must not " +
          s"broadcast the code table:\n${sh.queryExecution.executedPlan}")
        assert(shS >= 1, s"broadcast-off branch must shuffle-hash the " +
          s"sized sides (saw $shS)")
        assert(shB < bcB, "broadcast off must remove the sized broadcasts")
        // identical results: same join, different exchange
        assert(shRows.map(_.toString).sorted.toSeq ===
          bcRows.map(_.toString).sorted.toSeq)
      } finally {
        spark.conf.unset(bcKey)
        Ann.clearCache()
      }
    }
  }

  test("broadcast size rule: every recorded tier decision, and a session " +
    "with broadcast off shuffle-hashes every side") {
    import Tables.RowBytes
    // the prices follow the sides' shapes
    assert(RowBytes.Adjacency === (ops.Nsw.M + ops.Nsw.F + 2) * 48L)
    assert(RowBytes.Lut >= Ann.PqM * Ann.PqCw * 8L)
    assert(RowBytes.Sq8Codes >= Ann.RpInDim * 8L)
    // (side, corpus rows, broadcast?) — sf0.1 is n = 2000
    val table = Seq(
      (RowBytes.Lut, 2000L, true),
      (RowBytes.Lut, 63000L, false),
      (RowBytes.Embedding, 2000L, true),
      (RowBytes.Embedding, 2000000L, true),
      (RowBytes.Embedding, 4000000L, false),
      (RowBytes.Embedding, Ann.RecallSampleCap.toLong, true),
      (RowBytes.PqCodes, 2000L, true),
      (RowBytes.PqCodes, 10000000L, false),
      (RowBytes.Sq8Codes, 2000L, true),
      (RowBytes.Sq8Codes, 2000000L, false),
      (RowBytes.Adjacency, 2000L, true),
      (RowBytes.Adjacency, 632000L, false),
      (RowBytes.Adjacency, 2000000L, false))
    def decisions = table.map { case (price, n, _) =>
      Tables.broadcastFits(spark, n, price) }
    // the pair scan's layout follows the same rule
    def layouts = table.map { case (price, n, _) =>
      Knn.layoutAt(spark, n, price) == Knn.Broadcast }
    assert(decisions === table.map(_._3))
    assert(layouts === table.map(_._3))
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    for (off <- Seq("-1", "0")) {
      spark.conf.set(bcKey, off)
      try {
        assert(decisions.forall(!_), s"threshold $off")
        assert(layouts.forall(!_), s"threshold $off")
        // blocks are counted from the priced size: the sample is 2 blocks
        assert(Knn.layoutAt(spark, Ann.RecallSampleCap.toLong,
          RowBytes.Embedding) === Knn.Blocks(2))
      } finally spark.conf.unset(bcKey)
    }
  }

  test("semdedup: stats agree with the audit; every dup cell keeps a member") {
    val audit = Ann.semdedup(spark, sf0001)
      .select($"vec_id", $"cent_id", $"kept").as[(Long, Long, Int)].collect()
    val st = Ann.semdedupStats(spark, sf0001)
      .select($"n_vecs", $"n_kept", $"n_dropped", $"n_dup_pairs",
        $"n_dup_cells")
      .as[(Long, Long, Long, Long, Long)].head()
    val nKept = audit.count(_._3 == 1).toLong
    assert(st._1 === audit.length.toLong)
    assert(st._2 === nKept)
    assert(st._3 === audit.length - nKept)
    assert(st._3 > 0, "fixture must exercise the drop path (see EmbedDupTau)")
    // survivor law: "beats" is a strict total order, so a dup chain's
    // maximum is never dropped — any cell that dropped members still
    // keeps at least one
    val byCell = audit.groupBy(_._2)
    audit.filter(_._3 == 0).map(_._2).distinct.foreach { cell =>
      assert(byCell(cell).exists(_._3 == 1), s"cell $cell lost every member")
    }
  }

  test("random projection: pair coverage and JL distortion sanity") {
    val bands = Ann.rpAudit(spark, sf0001)
      .select($"band", $"n_pairs", $"min_ppm", $"max_ppm", $"sum_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    val nPairs = bands.map(_._2).sum
    // all pairs of the 64-id sample, minus any with zero quantized
    // distance (none expected on this fixture)
    assert(nPairs === 64L * 63 / 2, s"pair coverage $nPairs")
    // JL: the grand mean ratio concentrates near 1e6; k=16 is noisy so
    // only a loose band is asserted — the band histogram itself is the
    // oracle-checked artifact
    val grand = bands.map(_._5).sum.toDouble / nPairs / 1e6
    assert(grand > 0.4 && grand < 2.5, s"grand mean distortion $grand")
    bands.foreach { case (b, _, lo, hi, _) =>
      assert(lo >= b * 100000 && hi < (b + 1) * 100000, s"band $b bounds")
    }
  }

  test("ann upsert: incrementally-maintained index ≡ rebuilt from scratch") {
    // the b40 monoid-merge law for the ANN index: appending the delta
    // batch under the frozen base quantizer must equal assigning the
    // whole corpus in one pass, BIT-exactly (same floats, same cells)
    val up = Ann.upsertedLists(spark, sf0001)
      .select(col("vec_id"), col("cent_id"), col("cdist"))
    val rebuilt = Ann.rebuiltLists(spark, sf0001)
      .select(col("vec_id"), col("cent_id"), col("cdist"))
    assert(up.except(rebuilt).count() == 0 &&
           rebuilt.except(up).count() == 0,
      "incremental base ∪ delta must equal the one-pass rebuild")

    // coverage: the maintained index holds every vector exactly once,
    // split at the declared 9/10 cut
    val n = Tables.embeddings(spark, sf0001).count()
    val cut = Ann.upsertCut(spark, sf0001)
    assert(cut > 0 && cut < n)
    assert(up.count() == n)
    assert(up.select("vec_id").distinct().count() == n)

    // and the maintained PQ code table equals the full-corpus encoding
    // (per-row pure function of (vector, seed codebook))
    val upCodes = Ann.upsertedCodes(spark, sf0001)
    val fullCodes = Ann.pqCodes(spark, sf0001)
    assert(upCodes.except(fullCodes).count() == 0 &&
           fullCodes.except(upCodes).count() == 0,
      "maintained codes must equal the full-corpus encoding")
  }

  test("ann retrain: post-retrain index ≡ fresh full-corpus build, bit-exact") {
    // the retrain lifecycle law: training over base ∪ delta read back
    // from the maintained artifact IS a fresh full-corpus train (the
    // lists hold exactly the corpus rows and the rule is a pure
    // function of the (vec_id, embedding) set)
    val re = Ann.retrainedCentroids(spark, sf0001)
    val fresh = Ann.storedCentroids(spark, sf0001)
    assert(re.except(fresh).count() == 0 && fresh.except(re).count() == 0,
      "retrained centroids must equal the fresh-build centroids")
    val reLists = Ann.retrainedLists(spark, sf0001)
      .select(col("vec_id"), col("cent_id"), col("cdist"))
    val freshLists = Ann.storedLists(spark, sf0001)
      .select(col("vec_id"), col("cent_id"), col("cdist"))
    assert(reLists.except(freshLists).count() == 0 &&
           freshLists.except(reLists).count() == 0,
      "retrained lists must equal the fresh-build lists")
    // and post-retrain search ≡ fresh-build search, row for row
    val a = Ann.ivfTopkRetrained(spark, sf0001).collect().map(_.toString)
    val b = Ann.ivfTopkIndexed(spark, sf0001).collect().map(_.toString)
    assert(a.sameElements(b), "post-retrain search must equal fresh-build")
  }

  test("ann index read-back ≡ recomputed: stored lists equal the trained " +
    "assignments, no cast") {
    val cols = Seq("vec_id", "cent_id", "embedding", "cdist").map(col)
    val stored = Ann.storedLists(spark, sf0001).select(cols: _*)
    val live = Ann.trainedAssignments(spark, sf0001).select(cols: _*)
    assert(stored.schema.map(_.dataType) === live.schema.map(_.dataType))
    assert(stored.except(live).count() == 0 &&
           live.except(stored).count() == 0,
      "inverted lists read back from disk must equal the recomputed ones")
  }

  test("ivf index layout: one flat list file set — no cent_id= " +
    "directories, no partition schema, no discovery job at query build") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

    Ann.indexBuild(spark, sf0001).collect()
    val lists = new Path(s"${Ann.livePaths(spark, sf0001).head}/lists")
    val fs = lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs = fs.listStatus(lists)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cent_id="))
    assert(partDirs.isEmpty,
      s"${partDirs.length} cent_id= directories under $lists")

    // tasks launched while the query DataFrame is BUILT (no action yet);
    // the group's events are flushed by a sentinel job queued behind them
    val group = s"layout-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    @volatile var sentinelJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageIds.foreach(stages.add)
          case Some(`sentinel`) => sentinelJob = e.jobId
          case _ =>
        }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob) flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val q = try {
      sc.setJobGroup(group, "build ann_ivf_topk_indexed")
      val q = Ann.ivfTopkIndexed(spark, sf0001)
      sc.setJobGroup(sentinel, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job end")
      q
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val built = s"${tasks.get} tasks launched while building the query DataFrame"
    info(built)
    assert(tasks.get < 16, built)

    val helper = new AdaptiveSparkPlanHelper {}
    q.write.format("noop").mode("overwrite").save()
    val listScans = helper.collect(q.queryExecution.executedPlan) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "lists") => f
    }
    assert(listScans.nonEmpty, "no scan of the inverted lists in the plan")
    listScans.foreach { f =>
      assert(f.relation.partitionSchema.isEmpty,
        s"lists scan has partition schema ${f.relation.partitionSchema}")
    }
  }

  test("sampled recall estimates full recall within a 4σ binomial envelope") {
    // the form that survives 100 TB: exact ground truth on the fnv
    // query sample only; the full-population recall must sit inside the
    // sampled estimate's binomial envelope
    val srow = Ann.recallSampled(spark, sf0001).head()
    val nq = srow.getAs[Long]("n_queries")
    val p = srow.getAs[Double]("recall")
    val full = Ann.recallTrained(spark, sf0001)
      .head().getAs[Double]("recall")
    val sigma = math.sqrt(p * (1 - p) / (nq * Ann.K))
    assert(math.abs(full - p) <= 4 * sigma + 1e-9,
      f"full recall $full%.4f outside sampled $p%.4f ± 4σ (σ=$sigma%.4f, " +
        f"n_queries=$nq)")
    // the sample is a real subsample, not degenerate
    val n = Tables.embeddings(spark, sf0001).count()
    assert(nq > 0 && nq < n / 4,
      s"sample of $nq from $n is not the ~1/${Ann.RecallSampleMod} carve")
    info(f"sampled $p%.4f (n=$nq) vs full $full%.4f; 4σ=${4 * sigma}%.4f")
  }

  test("sampled recall caps the eval set SIZE, keeping the smallest " +
    "(hash, vec_id) of the carve — the KMV rule") {
    // at 100 TB a 1/8 FRACTION is a billion-query eval set; the declared
    // estimator carves min(carve, RecallSampleCap). The cap is not
    // binding at graded tiers (carve < cap), so exercise the rule with a
    // tiny cap: n_queries must equal the cap exactly, and the kept qids
    // must be the cap-smallest (fnv hash, vec_id) within the carve.
    val cap = 2
    val row = Ann.recallSampledAt(spark, sf0001, cap).head()
    assert(row.getAs[Long]("n_queries") === cap.toLong,
      s"capped sample must have exactly $cap queries")
    // uncapped baseline: the carve is bigger than the tiny cap
    val fullRow = Ann.recallSampled(spark, sf0001).head()
    assert(fullRow.getAs[Long]("n_queries") > cap.toLong,
      "carve at sf0.001 should exceed the tiny test cap")
  }

  test("sampled recall fails loudly on an empty carve") {
    // ADVICE r12 (reworked r13: the guard now raises from INSIDE the
    // plan — assert_true, the DuckDB error() twin — instead of paying an
    // eager extra corpus scan per run): a corpus whose ids all miss
    // residue 0 must error at execution, not emit a NULL recall row.
    val tmp = java.nio.file.Files.createTempDirectory("graft_carve").toString
    // find a couple of vec_ids that are NOT in the carve (the one shared
    // predicate definition — no re-typed hash here)
    val miss = Tables.embeddings(spark, sf0001)
      .where(!Ann.recallCarvePred(spark)).limit(4)
    miss.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val ex = intercept[Throwable] {
      Ann.recallSampled(spark, tmp).head()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("recall sample is empty")),
      s"unexpected failure: ${messages(ex).mkString(" | ")}")
  }

  test("sampled recall plan: the exact arm is a broadcast of the query " +
    "SAMPLE against the streamed corpus, never a cartesian") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // the scale direction that matters at 100 TB: the small side (the
    // 1/8 fnv sample) broadcasts, the corpus scan streams against it;
    // a CartesianProduct anywhere means the sample restriction was lost
    val df = Ann.recallSampled(spark, sf0001)
    df.collect()
    val executed = df.queryExecution.executedPlan
    val plan = executed.toString
    // the exact arm is the one nested-loop join that scores corpus
    // vectors (cv) against query vectors (qv)
    val arms = new AdaptiveSparkPlanHelper {}.collect(executed) {
      case j: BroadcastNestedLoopJoinExec if j.output.exists(_.name == "cv") => j
    }
    assert(arms.size === 1, s"expected one exact-arm join:\n$plan")
    val j = arms.head
    val (build, stream) =
      if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
    assert(build.output.exists(_.name == "qv") &&
      stream.output.exists(_.name == "cv"),
      s"expected the sample to broadcast into the exact arm:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian leak:\n$plan")
    // the sample is materialized once, before both arms: no arm re-runs
    // its corpus scan, hash and top-N
    assert(!plan.contains("TakeOrderedAndProject"),
      s"the sample's top-N runs inside the plan:\n$plan")
  }

  test("sampled recall with broadcast off: no broadcast carries the " +
    "sample's vectors, and the row equals the default session's") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val bcRows = Ann.recallSampled(spark, sf0001).collect().toSeq
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    try {
      spark.conf.set(bcKey, "-1")
      val df = Ann.recallSampled(spark, sf0001)
      val rows = df.collect().toSeq
      val executed = df.queryExecution.executedPlan
      val qv = new AdaptiveSparkPlanHelper {}.collect(executed) {
        case b: BroadcastExchangeExec if b.output.exists(_.name == "qv") => b
      }
      assert(qv.isEmpty, s"broadcast off still broadcasts qv:\n$executed")
      assert(rows === bcRows)
    } finally spark.conf.unset(bcKey)
  }

  test("ivf query restriction is exact: searching a query subset ≡ the " +
    "full search semi-joined to the same qids, row for row") {
    // per-query independence is what lets the sampled recall search only
    // its sample (the IVF twin of NswSpec's restriction law)
    val queries = Tables.embeddings(spark, sf0001).where(col("vec_id") % 7 === 0)
    val cents = Ann.trainedCentroids(spark, sf0001)
    val lists = Ann.trainedAssignments(spark, sf0001)
    val restricted = Ann.ivfTopkFrom(spark, queries, cents, lists, Ann.P)
      .collect().map(_.toString)
    val filtered = Ann.ivfTopkFrom(spark, Tables.embeddings(spark, sf0001),
        cents, lists, Ann.P)
      .join(queries.select(col("vec_id").as("qid")), Seq("qid"), "left_semi")
      .orderBy(col("qid"), col("rnk"))
      .collect().map(_.toString)
    assert(restricted.nonEmpty && restricted.sameElements(filtered),
      "a query subset must equal the full search filtered to the same queries")
  }

  test("sq8: every dimension's codes hit the full 0..255 span") {
    // by construction the per-dim min quantum maps to code 0 and the max
    // to SqLevels-1 — a dimension missing either end means the span
    // arithmetic broke (and the quantizer silently lost resolution)
    val stats = Ann.sq8Stats(spark, sf0001).collect()
    assert(stats.length == 64, s"expected 64 dims, got ${stats.length}")
    stats.foreach { r =>
      assert(r.getAs[Long]("min_code") == 0L,
        s"dim ${r.getAs[Long]("i")} min_code ${r.getAs[Long]("min_code")}")
      assert(r.getAs[Long]("max_code") == (Ann.SqLevels - 1).toLong,
        s"dim ${r.getAs[Long]("i")} max_code ${r.getAs[Long]("max_code")}")
      assert(r.getAs[Long]("n_codes") > 1)
    }
  }

  test("sq8 re-rank recall clears the production bar") {
    val rec = Ann.sq8Recall(spark, sf0001)
      .select($"recall").as[Double].head()
    // 8-bit per-dim quantization is mild rank noise: with the n/10
    // re-rank the tier should sit at the top of the frontier (PQ at the
    // same cut measures 0.938 here)
    assert(rec >= 0.9, s"SQ8 recall@10 $rec")
    info(s"SQ8 recall@10 = $rec")
  }

  test("ivfsq: composed recall is bounded by its routing tier and " +
    "clears the production bar") {
    val composed = Ann.ivfsqRecall(spark, sf0001)
      .select($"recall").as[Double].head()
    val routing = Ann.recallTrained(spark, sf0001)
      .select($"recall").as[Double].head()
    // two error sources multiply: routing recall x SDC rank noise —
    // composed can never beat the lists it probes (the ivfpq law);
    // SQ8's noise is mild enough that it should track routing closely
    assert(composed <= routing + 1e-9,
      s"composed $composed > routing $routing")
    assert(composed >= 0.9, s"IVFSQ recall@10 $composed")
    info(s"IVFSQ recall@10 = $composed (routing $routing)")
  }

  test("ivfsq plan: the code-table lookups follow the size rule — " +
    "broadcast under the ceiling, shuffled hash with broadcast off, same " +
    "rows (AQE on and off)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    // the physical join of each code-table lookup: the join one of whose
    // inputs is exactly the (id, codes) side
    def lookups(p: SparkPlan): Seq[String] = helper.collect(p) {
      case j: BaseJoinExec if j.children.exists(c =>
          Seq(Set("qid", "qc"), Set("cid", "cc"))
            .contains(c.output.map(_.name).toSet)) => j.nodeName
    }.sorted
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    def run(): (Seq[String], Seq[String], String) = {
      val df = Ann.ivfsqTopk(spark, sf0001)
      val rows = df.collect().map(_.toString).toSeq
      val executed = df.queryExecution.executedPlan
      (rows, lookups(executed), executed.toString)
    }
    withAqeBothWays {
      val (bRows, bJoins, bPlan) = run()
      assert(bJoins === Seq("BroadcastHashJoin", "BroadcastHashJoin"),
        s"under the ceiling both lookups must broadcast:\n$bPlan")
      // the inverted lists are never broadcast: the probe join
      // shuffle-hashes in both branches
      assert(bPlan.contains("ShuffledHashJoin"),
        s"expected the shuffled hash probe join on cent_id:\n$bPlan")
      assert(!bPlan.contains("CartesianProduct"), s"cartesian leak:\n$bPlan")
      try {
        spark.conf.set(bcKey, "-1")
        val (sRows, sJoins, sPlan) = run()
        assert(sJoins === Seq("ShuffledHashJoin", "ShuffledHashJoin"),
          s"with broadcast off both lookups must shuffle-hash:\n$sPlan")
        assert(!sPlan.contains("CartesianProduct"), s"cartesian leak:\n$sPlan")
        assert(sRows === bRows, "lookup layout must not change the rows")
      } finally spark.conf.unset(bcKey)
    }
  }

  test("sq_dist_long kernel agrees with the declarative HOF fold") {
    // the codegen kernel is an optimization, not semantics: Σ(Δcode)²
    // computed by zip_with+aggregate over the same arrays must match
    import graft.functions.VectorExpressions
    val df = spark.range(100).select(
      expr("transform(sequence(0, 63), j -> CAST((id * 7 + j * 13) % 256 AS BIGINT))").as("a"),
      expr("transform(sequence(0, 63), j -> CAST((id * 11 + j * 5) % 256 AS BIGINT))").as("b"))
    val both = df.select(
      VectorExpressions.sq_dist_long(spark, col("a"), col("b")).as("kernel"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
        .as("fold"))
    assert(both.where($"kernel" =!= $"fold").count() == 0)
  }
}
