package graft

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Text/dedup surface tests: hand fixtures + sketch-vs-exact recall. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("dedup is idempotent and keeps the min doc_id survivor") {
    val docs = Seq(
      (3L, "spark join window", "en", "s1", 17L),
      (1L, "spark join window", "en", "s1", 17L),
      (2L, "  SPARK JOIN WINDOW ", "en", "s1", 20L), // normalizes equal
      (4L, "unique text", "en", "s1", 11L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("tmp_docs")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lower(trim($"text"))).orderBy($"doc_id".asc)
    val kept = docs.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L)))
  }

  test("minhash-LSH clustering co-locates exact near-dup pairs (recall)") {
    val exact = TextOps.jaccardNearDup(spark, sf0001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val cluster = TextOps.minhashLsh(spark, sf0001)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "fixture should contain near-dups")
    val recall = exact.count { case (a, b) => cluster(a) == cluster(b) }
      .toDouble / exact.length
    assert(recall >= 0.8, s"LSH cluster recall $recall over ${exact.length} pairs")
  }

  test("simhash: identical token sets hash identically; hamming<=6 finds dups") {
    val pairs = TextOps.simhashNearDup(spark, sf0001)
    assert(pairs.count() > 0)
    assert(pairs.where($"hamming" < 0 || $"hamming" > TextOps.SimhashMaxHamming).count() === 0)
  }

  test("fingerprint is deterministic across runs") {
    val a = TextOps.fingerprint(spark, sf0001).as[(Long, Long)].collect()
    val b = TextOps.fingerprint(spark, sf0001).as[(Long, Long)].collect()
    assert(a.sameElements(b))
  }

  test("quality score is bounded in [0,1] and ttr <= 1") {
    val q = TextOps.qualityScore(spark, sf0001)
    assert(q.where($"quality" < 0 || $"quality" > 1).count() === 0)
    assert(q.where($"ttr" > 1).count() === 0)
  }

  test("langid covers every doc with a prediction from the closed set") {
    val l = TextOps.langIdHeuristic(spark, sf0001)
    assert(l.count() === 500)
    assert(l.where(!$"pred_lang".isin("en", "fr", "es", "de", "zh")).count() === 0)
  }

  test("shingle-jaccard prefix filter joins on keys, never all pairs") {
    import org.apache.spark.sql.functions._
    val q = graft.ops.TextOps.shingleJaccard(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    // candidate generation must be the equi-join on prefix shingles — a
    // cartesian/BNLJ would mean the prefix filter silently degenerated
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // completeness is oracle/golden-proven; sanity-check soundness here:
    // every reported pair meets the threshold
    assert(q.where(col("jaccard") < graft.ops.TextOps.ShingleTau).count() === 0)
  }

  test("c34: subword estimate is bounded by pieces below and chars above") {
    import org.apache.spark.sql.functions._
    val q = graft.ops.TextOps.tokenEstimate(spark, sf0001)
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pieces = r.getAs[Long]("sum_pieces")
      val est = r.getAs[Long]("sum_est_tokens")
      // every piece is >=1 token; a piece of length L is <= L tokens
      assert(est >= pieces, r.toString)
      val cpt = r.getAs[Double]("chars_per_token")
      assert(cpt >= 1.0, s"chars per token below 1: $r")
      assert(r.getAs[Int]("max_piece_len") >= 1)
    }
    // the long-word branch must be LIVE: some piece longer than 7 chars
    // means est_tokens > pieces somewhere on this corpus
    assert(rows.exists(r =>
      r.getAs[Long]("sum_est_tokens") > r.getAs[Long]("sum_pieces")),
      "ceil(len/7) branch never fired — corpus has no words longer than 7?")
  }

  test("c35: weighted cosine candidates come from the posting equi-join") {
    import org.apache.spark.sql.functions._
    val q = graft.ops.TextOps.tfidfCosine(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the one-row n_docs scalar broadcasts as a conditionless BNLJ —
    // that's the bounded scalar join, fine; what must NOT happen is the
    // doc-PAIR space going through a nested loop (a BNLJ carrying the
    // a_id<b_id pair condition would mean the posting equi-join
    // degenerated to all-pairs)
    assert(!"""BroadcastNestedLoopJoin[^\n]*a_id""".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      "posting candidates must come from an equi-join")
    val rows = q.collect()
    assert(rows.nonEmpty, "τ=0.9 must be live on this corpus")
    // soundness: every reported pair meets the threshold, a<b canonical
    rows.foreach { r =>
      assert(r.getAs[Double]("cosine") >= graft.ops.TextOps.CosTau)
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
    }
    // weighted-vs-unweighted: cosine(doc,doc) would be 1; bounded above
    assert(rows.forall(_.getAs[Double]("cosine") <= 1.0))
  }

  test("c17: shingle_id_set counts code points on supplementary-plane " +
    "text, like the substring expression form it replaced") {
    // U+1F600 and U+10400 are two UTF-16 units each; Spark's length and
    // substring count each as one character, and so must the ids
    val k = TextOps.ShingleK
    val docs = Seq("a\uD83D\uDE00b\uD801\uDC00cdefgh\uD83D\uDE00ijk",
      "\u65E5\u672C\uD83D\uDE00 text \uD801\uDC00 \u00E9t\u00E9")
      .toDF("text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().groupMap(_._1)(_._2).view
        .mapValues(_.toSet).toMap
    val got = ids(docs.select(col("text"), explode(functions.TextHash
      .shingle_id_set(col("text"), lit(k)))))
    val viaExpr = ids(docs.select(col("text"), explode(array_distinct(expr(
        s"transform(sequence(1, length(text) - ${k - 1}), " +
          s"i -> substring(text, i, $k))"))).as("sg"))
      .select(col("text"),
        functions.HashExpressions.fnv1a64(spark, col("sg"))))
    assert(viaExpr.size == 2 && got == viaExpr)
    // 7 code points in 14 UTF-16 units: shorter than k, so no shingles
    val short = "\uD801\uDC00\uD83D\uDE00" * 3 + "\uD801\uDC00"
    assert(Seq(short).toDF("text").select(functions.TextHash
      .shingle_id_set(col("text"), lit(k))).head().getSeq[Long](0).isEmpty)
  }

  test("c17: FNV shingle ids are collision-free on this corpus") {
    import org.apache.spark.sql.functions._
    val sg = Tables.documents(spark, sf0001)
      .select(explode(array_distinct(expr(
        "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))")))
        .as("sg")).distinct()
    val nSg = sg.count()
    val nIds = sg.select(
      graft.functions.HashExpressions.fnv1a64(spark, col("sg"))).distinct().count()
    assert(nSg == nIds, s"$nSg shingles hash to $nIds ids — collision!")
  }

  test("fuzzy near-dup length-band join equals the all-pairs form") {
    import org.apache.spark.sql.functions._
    val q = graft.ops.TextOps.fuzzyNearDup(spark, sf0001)
    // the banded join must stay an equi-join on the bucket key
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // all-pairs reference (sound AND complete twin of the band join)
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars"), expr("left(text, 80)").as("p"))
    val ref = docs.toDF("a_id", "a_len", "a_p")
      .crossJoin(docs.toDF("b_id", "b_len", "b_p"))
      .where(col("a_id") < col("b_id") &&
        abs(col("a_len") - col("b_len")) <= graft.ops.TextOps.LevLenWindow &&
        levenshtein(col("a_p"), col("b_p")) <= graft.ops.TextOps.LevTau)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_p"), col("b_p")).as("lev"))
      .orderBy(col("a_id"), col("b_id"))
    assert(q.collect().toSeq === ref.collect().toSeq)
  }

  test("chunking covers every text byte with the declared size/stride") {
    import org.apache.spark.sql.functions._
    val q = graft.ops.TextOps.chunkDocuments(spark, sf0001)
    val n = Tables.documents(spark, sf0001).count()
    // per doc: starts 1, 151, … ≤ len — so chunk_no 0 exists for every doc
    assert(q.where(col("chunk_no") === 0).count() === n)
    // start positions follow the stride exactly...
    assert(q.where(col("start") =!=
      col("chunk_no") * graft.ops.TextOps.ChunkStride + 1).count() === 0)
    // ...and every chunk is exactly min(size, remaining-bytes) long
    val withLen = q.join(
      Tables.documents(spark, sf0001).select(col("doc_id"), length(col("text")).as("len")),
      "doc_id")
    assert(withLen.where(col("chunk_len") =!=
      least(lit(graft.ops.TextOps.ChunkSize), col("len") - col("start") + 1))
      .count() === 0)
  }

  test("declared text queries with oracles are consistent sets") {
    // Round 3: the sketch paths (c10 MinHash-LSH, c11 SimHash) carry
    // exact FNV-in-HUGEINT oracles too — every text query is oracled.
    val noOracle = TextOps.queries.keySet -- TextOps.oracles.keySet
    assert(noOracle === Set.empty)
  }

  test("lsh components: idempotent fixed point refining c10's labels") {
    val fixed = TextOps.lshComponents(spark, sf0001)
      .select(col("doc_id"), col("cluster_id")).cache()
    val bounded = TextOps.minhashLsh(spark, sf0001)
      .select(col("doc_id"), col("cluster_id").as("c10_id"))
    // min-label propagation only ever lowers labels, so the true fixed
    // point is pointwise <= any bounded-round approximation
    val worse = fixed.join(bounded, "doc_id")
      .where(col("cluster_id") > col("c10_id")).count()
    assert(worse == 0)
    // one-hop stability: docs sharing any (band, bucket) share a cluster
    val bands = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.functions.TextHash.minhash_signature(
          array_distinct(split(col("text"), " ")), lit(32)).as("sig"))
      .select(col("doc_id"),
        posexplode(graft.functions.TextHash.lsh_bands(col("sig"), lit(4)))
          .as(Seq("band", "bucket")))
    val labeled = bands.join(fixed, "doc_id")
    val splitBuckets = labeled.groupBy(col("band"), col("bucket"))
      .agg(countDistinct(col("cluster_id")).as("n"))
      .where(col("n") > 1).count()
    assert(splitBuckets == 0)
    fixed.unpersist()
  }

  test("containment pairs superset the jaccard pairs at the same tau") {
    // jac >= 0.9 implies max-containment >= 2*0.9/1.9 > 0.9, so every
    // c02 pair must reappear in c29 — a cross-operator consistency law.
    val jacPairs = TextOps.jaccardNearDup(spark, sf0001)
      .select("a_id", "b_id")
    val contPairs = TextOps.containmentNearDup(spark, sf0001)
      .select("a_id", "b_id")
    assert(jacPairs.join(contPairs, Seq("a_id", "b_id"), "left_anti")
      .count() == 0)
    // directional coefficients live in (0, 1] and at least one side
    // clears the threshold
    val bad = TextOps.containmentNearDup(spark, sf0001).where(
      col("cont_a") <= 0 || col("cont_a") > 1 ||
      col("cont_b") <= 0 || col("cont_b") > 1 ||
      (col("cont_a") < TextOps.ContainTau &&
        col("cont_b") < TextOps.ContainTau)).count()
    assert(bad == 0)
  }

  test("line dedup: reconstruction, live removal, and conservation") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).cache()
    val out = TextOps.lineDedup(spark, sf0001).cache()
    assert(out.count() == docs.count())
    // the corpus genuinely contains boilerplate at every SF tier — the
    // operator must remove something, or the query is a no-op in disguise
    assert(out.agg(sum(col("n_removed"))).head().getLong(0) > 0)
    // conservation: kept segments + removed segments = all segments, and
    // a doc with zero removals reconstructs its original text verbatim
    val joined = out.join(docs, "doc_id")
    val broken = joined.where(col("n_removed") === 0 &&
      col("clean_text") =!= col("text")).count()
    assert(broken == 0, "zero-removal docs must round-trip unchanged")
    // clean_text token count = 10·(full kept segs) bounded by original
    val overflow = joined.where(
      size(split(col("clean_text"), " ")) > size(split(col("text"), " "))).count()
    assert(overflow == 0)
    docs.unpersist(); out.unpersist()
  }

  test("cdc dedup: shift invariance, live detection, and conservation") {
    import spark.implicits._
    // SHIFT INVARIANCE — the property c36 exists for and c32 lacks: the
    // same span pasted at DIFFERENT token offsets in two documents must
    // still be caught, because chunk boundaries depend only on token
    // content. Doc 20 shares a 24-token span with doc 10 but shifted by
    // a 3-token prefix; doc 30 is all-unique (negative control).
    val span = (1 to 24).map(i => s"spanword$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("cdc_docs").toFile
    dir.deleteOnExit()
    Seq(
      (10L, span + " tail1 tail2 tail3 tail4"),
      (20L, "pre1 pre2 pre3 " + span + " other1 other2"),
      (30L, (1 to 30).map(i => s"unique$i").mkString(" ")),
    ).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dup = TextOps.cdcDedup(spark, dir.toString)
      .select("doc_id", "n_dup_tokens").as[(Long, Long)].collect().toMap
    assert(dup(10L) > 0, "shared span must be detected in doc 10")
    assert(dup(20L) > 0, "the SHIFTED copy must be detected in doc 20")
    assert(dup(30L) == 0, "all-unique doc must report zero dup tokens")
    // the live corpus: duplicated spans exist and are a minority signal
    val corpus = TextOps.cdcDedup(spark, sf0001).cache()
    val docs = corpus.count()
    val flagged = corpus.where(col("n_dup_chunks") > 0).count()
    assert(flagged > 0, "corpus must contain cross-doc spans")
    assert(flagged < docs / 2, "dup flag must be a discriminating signal")
    // conservation: every token is in exactly one chunk
    val totTok = corpus.agg(sum(col("n_tokens"))).head().getLong(0)
    val expected = Tables.documents(spark, sf0001)
      .where(length(col("text")) > 0)
      .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(totTok == expected, "chunks must partition the token stream")
    corpus.unpersist()
  }

  test("c17: prefix-filter join equals the quadratic all-pairs form") {
    // COMPLETENESS ANCHOR. The DuckDB oracle now runs the same
    // prefix-filter candidate generation as the engine (the all-pairs
    // SQL could not finish at sf0.1), so a shared algorithmic error in
    // the prefix scheme would pass the hash on identical wrong answers.
    // This test retains the independent proof where it is affordable:
    // brute-force every pair at sf0.001 and demand set equality.
    import spark.implicits._
    val sh = Tables.documents(spark, sf0001)
      .select(col("doc_id"), expr(
        s"""array_distinct(transform(
           |  sequence(1, length(text) - ${TextOps.ShingleK} + 1),
           |  i -> substring(text, i, ${TextOps.ShingleK})))""".stripMargin)
        .as("sgs"))
    val a = sh.select(col("doc_id").as("a_id"), col("sgs").as("a_sgs"))
    val b = sh.select(col("doc_id").as("b_id"), col("sgs").as("b_sgs"))
    val brute = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sgs"), col("b_sgs"))).cast("double")
          .as("inter"),
        size(col("a_sgs")).as("na"), size(col("b_sgs")).as("nb"))
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= TextOps.ShingleTau)
      .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val fast = TextOps.shingleJaccard(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == brute,
      s"prefix-filter missed ${(brute -- fast).size} pairs / " +
        s"invented ${(fast -- brute).size}")
  }

  test("lm score: totality, probability bounds, live buckets, bigram count") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).cache()
    val sc = TextOps.lmScore(spark, sf0001).cache()
    // totality: every document has >= 2 tokens in this corpus, so every
    // document is scored
    assert(sc.count() == docs.count())
    // a mean probability in nano-units lives in (0, 1e9]
    assert(sc.where(col("score_nano") <= 0 ||
      col("score_nano") > 1000000000L).count() == 0)
    // the calibrated cutoffs keep all three curation buckets live (a
    // bucket rule that never fires is a no-op in disguise)
    assert(sc.select("bucket").distinct().count() == 3)
    // conservation: a doc of t tokens has exactly t-1 scored bigrams
    val bad = sc.join(docs, "doc_id")
      .where(col("n_bigrams") =!= size(split(col("text"), " ")) - 1)
      .count()
    assert(bad == 0)
    docs.unpersist(); sc.unpersist()
  }

  test("repetition stats: bounds, known-answer, and flag consistency") {
    import spark.implicits._
    val df = TextOps.repetitionStats(spark, sf0001).cache()
    assert(df.count() == Tables.documents(spark, sf0001).count())
    val outOfRange = df.where(
      col("dup_tok_frac") < 0 || col("dup_tok_frac") > 1 ||
      col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1 ||
      col("top_bigram_frac") <= 0 || col("top_bigram_frac") > 1).count()
    assert(outOfRange == 0)
    // flag must equal the threshold predicate applied to the fractions
    // (tolerant form: recompute from the emitted rounded values with a
    // 1e-6 guard band around each threshold, exact elsewhere)
    val sus = df.where(
      (col("is_repetitive") === 1 && col("top_bigram_frac") < 0.1 - 1e-6 &&
        col("dup_tok_frac") < 0.68 - 1e-6) ||
      (col("is_repetitive") === 0 && (col("top_bigram_frac") >= 0.1 + 1e-6 ||
        col("dup_tok_frac") >= 0.68 + 1e-6))).count()
    assert(sus == 0)
    // known answer on a hand-built doc: "a b a b c" → bigrams
    // [a b, b a, a b, b c]: 4 total, 3 distinct, top "a b" ×2
    val tiny = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val got = tiny.select(
      size(toks).as("n"), size(array_distinct(toks)).as("nd")).head()
    assert(got.getInt(0) == 5 && got.getInt(1) == 3)
    df.unpersist()
  }

  test("c37: novelty conservation, bounds, and the first-doc law") {
    val df = ops.TextOps.ngramNovelty(spark, sf0001).cache()
    // bounds: 0 <= n_novel <= n_grams, ppm in [0, 1e6]
    assert(df.where(col("n_novel") > col("n_grams") ||
      col("n_novel") < 0 || col("novelty_ppm") < 0 ||
      col("novelty_ppm") > 1000000).count() == 0)
    // first-doc law: the smallest doc_id introduces every gram it has
    val first = df.orderBy(col("doc_id")).limit(1).head()
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_grams"))
    assert(first.getAs[Long]("novelty_ppm") == 1000000L)
    // conservation: total novel grams == distinct grams in the corpus
    // (each distinct gram is novel exactly once, at its first doc)
    val totalNovel = df.agg(sum(col("n_novel"))).head().getLong(0)
    val distinctGrams = Tables.documents(spark, sf0001)
      .where(col("text").isNotNull)
      .select(split(col("text"), " ").as("tok"))
      .where(size(col("tok")) >= 5)
      .select(explode(transform(
        sequence(lit(1), size(col("tok")) - 4),
        i => concat_ws(" ", (0 until 5).map(j =>
          element_at(col("tok"), i + j)): _*))).as("g"))
      .distinct().count()
    assert(totalNovel == distinctGrams,
      s"novel=$totalNovel distinct=$distinctGrams")
    df.unpersist()
  }

  test("c37/c41: the FNV-1a gram hash is injective on the fixture gram " +
    "set (the string-keyed oracle equivalence precondition)") {
    // r18: the c37/c41 oracles key novelty/postings by the gram STRING
    // while the engine keys by the 8-byte FNV hash. The two agree iff
    // the fold is injective on the corpus's gram set — asserted here at
    // sf0.001 (and by the value-exact oracle compare at sf0.01/sf0.1: a
    // collision would split/merge counts and fail the compare loudly).
    val grams = Tables.documents(spark, sf0001)
      .where(col("text").isNotNull)
      .select(split(col("text"), " ").as("tok"))
      .where(size(col("tok")) >= 5)
      .select(explode(transform(
        sequence(lit(1), size(col("tok")) - 4),
        i => concat_ws(" ", (0 until 5).map(j =>
          element_at(col("tok"), i + j)): _*))).as("g"))
      .distinct()
    val n = grams.count()
    val nh = grams.select(
        functions.HashExpressions.fnv1a64(spark, col("g")).as("gh"))
      .distinct().count()
    assert(n == nh, s"FNV collision on the fixture gram set: $n grams, " +
      s"$nh distinct hashes")
  }

  test("c41: every reported shared span is a real verbatim common " +
    "word-substring (soundness vs an exact DP recompute)") {
    val top = ops.TextOps.sharedSpans(spark, sf0001)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(top.nonEmpty, "fixture must contain shared spans")
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    top.take(5).foreach { case (a, b, nMatches, run, span) =>
      assert(span === run + 4)
      assert(nMatches >= run)
      val ta = docs(a).split(" "); val tb = docs(b).split(" ")
      // exact longest-common-word-substring DP: the operator's span is
      // sound if the true maximum is at least what it reported (it may
      // exceed it only when a df-capped boilerplate gram split a run)
      val dp = Array.ofDim[Int](ta.length + 1, tb.length + 1)
      var best = 0
      for (i <- 1 to ta.length; j <- 1 to tb.length)
        if (ta(i - 1) == tb(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          if (dp(i)(j) > best) best = dp(i)(j)
        }
      assert(best >= span,
        s"pair ($a,$b): true common run $best < reported span $span")
    }
  }

  test("c44 collocations: support floor holds and every reported lift " +
    "matches a driver-side recompute from raw token streams") {
    val rows = TextOps.collocations(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val lifts = rows.map(_.getAs[Long]("lift_ppm"))
    lifts.sliding(2).foreach {
      case Array(a, b) => assert(a >= b, s"lift order broken: ${lifts.toSeq}")
      case _ => ()
    }
    // independent recompute: unigram/bigram counts from the raw text
    val docs = Tables.documents(spark, sf0001)
      .select(col("text")).collect().map(_.getString(0).split(" ").toSeq)
    val uni = docs.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val big = docs.flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val tt = uni.values.sum
    val nb = big.values.sum
    rows.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      val np = r.getAs[Long]("n_pair")
      assert(np >= TextOps.CollocMinSupport)
      assert(big((w1, w2)) == np, s"pair count mismatch for ($w1,$w2)")
      assert(uni(w1) == r.getAs[Long]("n_w1"))
      assert(uni(w2) == r.getAs[Long]("n_w2"))
      val expected = (((np * 1000L * tt) / uni(w1)) * ((1000L * tt) / uni(w2))) / nb
      assert(r.getAs[Long]("lift_ppm") == expected,
        s"lift mismatch for ($w1,$w2)")
    }
  }

  test("c46 dsir: covers exactly the out-of-target corpus and a target " +
    "doc's own tokens would score the reference ceiling") {
    val rows = TextOps.dsirWeights(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect()
    val nonTarget = docs.filter(_._2 != TextOps.DsirTargetLang).map(_._1).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == nonTarget,
      "one weight row per out-of-target document")
    rows.foreach { r =>
      assert(r.getAs[String]("lang") != TextOps.DsirTargetLang)
      assert(r.getAs[Long]("n_tokens") > 0L)
      assert(r.getAs[Long]("score_ppm") >= 0L)
    }
    // direction: weights separate the corpus — if every doc scored the
    // same the model would carry no signal
    val scores = rows.map(_.getAs[Long]("score_ppm"))
    assert(scores.distinct.length > 1, "degenerate importance model")
    info(s"c46 score_ppm range: ${scores.min}..${scores.max}")
  }

  test("c46 dsir plan: the importance model is BROADCAST to the scoring " +
    "join (one map-side pass over the token stream)") {
    val plan = TextOps.dsirWeights(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model join must be broadcast (B-row table):\n$plan")
  }

  test("c47 rake: matches a full in-memory recompute of the RAKE chain") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val toks = docs.flatMap { case (id, t) =>
      t.split(" ", -1).zipWithIndex.map { case (w, p) => (id, p, w) } }
    val stop = toks.groupBy(_._3).view.mapValues(_.length).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(TextOps.RakeStops)
      .map(_._1).toSet
    // gaps-and-islands: phrase id = stops at positions <= pos
    val cand = docs.flatMap { case (id, t) =>
      var pid = 0L
      t.split(" ", -1).zipWithIndex.flatMap { case (w, p) =>
        if (stop(w)) { pid += 1; None } else Some((id, pid, p, w))
      }
    }
    val plen = cand.groupBy(c => (c._1, c._2)).view.mapValues(_.length.toLong)
    val wsc = cand.groupBy(_._4).view.mapValues { ws =>
      val freq = ws.length.toLong
      val deg = ws.map(c => plen((c._1, c._2))).sum
      deg * 1000000L / freq
    }.toMap
    val phrases = cand.groupBy(c => (c._1, c._2)).map { case ((id, pid), ws) =>
      val ordered = ws.sortBy(_._3)
      (id, pid, ordered.map(_._4).mkString(" "), ordered.length.toLong,
        ordered.map(c => wsc(c._4)).sum)
    }.toSeq
    val expected = phrases
      .sortBy { case (id, pid, ph, _, sc) => (-sc, ph, id, pid) }
      .take(TextOps.RakeTopK)
      .map { case (id, _, ph, nw, sc) => (id, ph, nw, sc) }
    val got = TextOps.rakeKeywords(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("phrase"),
        r.getAs[Long]("n_words"), r.getAs[Long]("score_ppm"))).toSeq
    assert(got == expected)
  }
}
