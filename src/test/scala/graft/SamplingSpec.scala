package graft

import org.apache.spark.sql.functions._

import graft.functions.HashExpressions
import graft.ops.Sampling

/** Deterministic sampling/split/mix operators (ops.Sampling) and their
  * hashing primitive (functions.Fnv1a64Expr). */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  /** Reference FNV-1a (the published algorithm, independent of the
    * Catalyst implementation under test). */
  private def fnvRef(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
    h
  }

  test("fnv1a64 matches the published algorithm, interpreted and codegen'd") {
    val inputs = Seq("", "a", "abc", "42", "strat:17", "mix:499")
    val df = inputs.toDF("s")
      .select(col("s"), HashExpressions.fnv1a64(spark, col("s")).as("h"))
    val got = df.as[(String, Long)].collect().toMap
    inputs.foreach(s => assert(got(s) == fnvRef(s), s"fnv1a64('$s')"))
    // SQL name resolves too (session-extension surface)
    HashExpressions.register(spark)
    val viaSql = spark.sql("SELECT fnv1a64('abc') AS h").as[Long].head()
    assert(viaSql == fnvRef("abc"))
    // null in → null out (nullIntolerant)
    val nullRow = Seq[Option[String]](None).toDF("s")
      .select(HashExpressions.fnv1a64(spark, col("s"))).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("split assignment is total, disjoint, and ~80/10/10") {
    val df = Sampling.splitAssign(spark, sf0001)
    val total = Tables.documents(spark, sf0001).count()
    assert(df.count() == total) // every doc gets exactly one split
    val counts = df.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    val train = counts("train").toDouble / total
    assert(train > 0.70 && train < 0.90, s"train fraction $train")
    // stable under growth: the sf0.001 assignment must agree with the
    // sf0.01 assignment on the shared doc_ids (pure function of the key)
    val small = df.select("doc_id", "split")
    val big = Sampling.splitAssign(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("split").as("split10"))
    val disagree = small.join(big, "doc_id")
      .where(col("split") =!= col("split10")).count()
    assert(disagree == 0)
  }

  test("split assignment is map-side only (no shuffle before the sort)") {
    val unordered = Tables.documents(spark, sf0001)
      .withColumn("bucket",
        pmod(HashExpressions.fnv1a64(spark, col("doc_id").cast("string")),
          lit(100L)))
      .select(col("doc_id"), col("bucket"))
    val plan = unordered.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    // "*(1)" = whole-stage-codegen stage 1: the hash projection fused
    // with the scan, proof Fnv1a64Expr's doGenCode is in the hot path
    assert(plan.contains("*(1) Project"), plan)
  }

  test("stratified sample respects per-language rates") {
    val docs = Tables.documents(spark, sf0001)
    val kept = Sampling.stratifiedSample(spark, sf0001)
    val keptByLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    val allByLang = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // en targeted at 20%, others at 50% — hash buckets are uniform only
    // in expectation, so allow wide slack at 500 docs
    val en = keptByLang.getOrElse("en", 0L).toDouble / allByLang("en")
    assert(en > 0.10 && en < 0.32, s"en rate $en")
    val restKept = (keptByLang - "en").values.sum.toDouble
    val restAll = (allByLang - "en").values.sum.toDouble
    assert(restKept / restAll > 0.38 && restKept / restAll < 0.62,
      s"tail rate ${restKept / restAll}")
  }

  test("source mix caps every source and pushes the cap below the exchange") {
    val mix = Sampling.sourceMix(spark, sf0001)
    val over = mix.groupBy("source").count().where(col("count") > 20).count()
    assert(over == 0)
    val plan = mix.queryExecution.executedPlan.toString
    // rank<=20 must run as a bounded per-group top-k, not a full sort+filter
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("decontam covers exactly the test split with fractions in [0,1]") {
    val con = Sampling.contamination(spark, sf0001).cache()
    val testIds = Sampling.splitAssign(spark, sf0001)
      .where(col("split") === "test").select("doc_id")
    // fixtures have >= 10 tokens per doc, so every test doc has shingles
    assert(con.count() == testIds.count())
    assert(con.join(testIds, Seq("doc_id"), "left_anti").count() == 0)
    val bad = con.where(col("n_hit") > col("n_grams") ||
      col("contamination") < 0 || col("contamination") > 1).count()
    assert(bad == 0)
    // a doc's contamination is n_hit/n_grams exactly
    val mismatch = con.where(
      abs(col("contamination") -
        round(col("n_hit").cast("double") / col("n_grams"), 6)) > 1e-12).count()
    assert(mismatch == 0)
    con.unpersist()
  }

  test("s09 weighted sample: πps branch laws and exact weight arithmetic") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect().toMap
    val kept = Sampling.weightedSample(spark, sf0001)
      .select(col("doc_id"), col("n_chars"), col("incl_ppm"), col("ht_ppm"))
      .as[(Long, Long, Long, Long)].collect()
    // both branches live: a strict subset was kept, nothing invented
    assert(kept.nonEmpty && kept.length < docs.size)
    assert(kept.forall { case (id, n, _, _) => docs.get(id).contains(n) })
    // capped branch: every doc at/above θ is ALWAYS kept, at weight 1
    val theta = Sampling.PpsTheta
    val bigDocs = docs.filter(_._2 >= theta).keySet
    assert(bigDocs.nonEmpty, "fixtures must exercise the p=1 branch")
    assert(bigDocs.subsetOf(kept.map(_._1).toSet))
    kept.foreach { case (id, n, incl, ht) =>
      if (n >= theta) assert(incl == 1000000L && ht == 1000000L, id)
      else {
        // proportional branch: exact integer formulas, HT ≈ 1/p
        assert(incl == n * 1000000L / theta, id)
        assert(ht == 1000000L * theta / n, id)
        assert(incl < 1000000L && ht > 1000000L, id)
      }
    }
    // determinism: membership is a pure function of the data
    val again = Sampling.weightedSample(spark, sf0001)
      .select(col("doc_id")).as[Long].collect()
    assert(again.toSeq == kept.map(_._1).toSeq)
  }

  test("s10 distribution match: rates derived exactly, masses land on target") {
    val rows = Sampling.distributionMatch(spark, sf0001)
      // lang, mass_before, n_before, target, rate_ppm, n_after, mass_after
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val target = rows.head._4
    assert(rows.forall(_._4 == target), "one global target")
    assert(target == rows.map(_._2).min, "target = smallest language mass")
    rows.foreach { case (lang, before, nb, _, rate, na, after) =>
      assert(rate == math.min(1000000L, 1000000L * target / before), lang)
      // the minority language is kept whole (rate 1M ⇒ bucket < 1M always)
      if (rate == 1000000L) { assert(after == before && na == nb, lang) }
      else {
        assert(after < before && na < nb, lang)
        // 4σ binomial envelope around the target mass: docs are accepted
        // i.i.d.-by-hash with p = rate/1M, so mass_after concentrates at
        // p·mass_before = ~target with σ ≤ avg_doc_chars·√(p·n_before)
        val p = rate.toDouble / 1e6
        val sigma = (before.toDouble / nb) * math.sqrt(p * nb)
        assert(math.abs(after.toDouble - p * before) <= 4 * sigma,
          s"$lang: after=$after expected=${p * before} sigma=$sigma")
      }
    }
    // the point of the operator: the achieved masses are far more
    // balanced than the input — max/min ratio shrinks toward 1
    val ratioBefore = rows.map(_._2).max.toDouble / rows.map(_._2).min
    val ratioAfter = rows.map(_._7).max.toDouble / rows.map(_._7).min
    assert(ratioAfter < ratioBefore && ratioAfter < 1.5,
      s"before $ratioBefore after $ratioAfter")
  }

  test("temperature mix: integer-exact allocation within budget, flattened") {
    val mix = Sampling.temperatureMix(spark, sf0001).cache()
    val rows = mix.as[(String, Long, Long, Long, Long, Double)].collect()
    // floor allocation never overshoots the 10k budget
    assert(rows.map(_._5).sum <= 10000L)
    rows.foreach { case (src, _, chars, w, alloc, frac) =>
      assert(w == math.floor(math.sqrt(chars.toDouble) * 1e6).toLong, src)
      assert(alloc >= 0 && frac >= 0 && frac <= 1, src)
    }
    // temperature flattens: the allocation ratio between the biggest and
    // smallest source is strictly below their volume ratio
    val byChars = rows.sortBy(_._3)
    val (lo, hi) = (byChars.head, byChars.last)
    if (lo._3 < hi._3) {
      val volRatio = hi._3.toDouble / lo._3
      val allocRatio = hi._5.toDouble / lo._5
      assert(allocRatio < volRatio,
        s"alloc ratio $allocRatio !< volume ratio $volRatio")
    }
    mix.unpersist()
  }

  test("s12: temporal split is leakage-free and carves ~80/10/10 by time") {
    val rows = ops.Sampling.temporalSplit(spark, sf0001)
      .as[(String, String, Long, String, String)].collect()
    val bySplit = rows.groupBy(_._1)
    assert(bySplit.keySet === Set("train", "val", "test"))
    val n = rows.map(_._3).sum
    val (nTr, nVa, nTe) = (bySplit("train").map(_._3).sum,
      bySplit("val").map(_._3).sum, bySplit("test").map(_._3).sum)
    // rank cuts land within one row of the 80/10/10 targets
    assert(math.abs(nTr - 0.8 * n) <= 1, s"train $nTr of $n")
    assert(math.abs(nVa - 0.1 * n) <= 1, s"val $nVa of $n")
    assert(nTr + nVa + nTe === n)
    // THE temporal-leakage law: every training timestamp precedes (or
    // ties at the cut row with) every val timestamp, and val precedes
    // test — string-sortable format makes lexicographic = chronological
    val trMax = bySplit("train").map(_._5).max
    val vaMin = bySplit("val").map(_._4).min
    val vaMax = bySplit("val").map(_._5).max
    val teMin = bySplit("test").map(_._4).min
    assert(trMax <= vaMin, s"train max $trMax > val min $vaMin")
    assert(vaMax <= teMin, s"val max $vaMax > test min $teMin")
  }

  test("s14 ipf: final source masses hit their target within the " +
    "integer-floor bound, and lang masses contract toward theirs") {
    val rows = ops.Sampling.ipfRaking(spark, sf0001).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("weight_ppm")))
    assert(rows.forall(_._4 > 0L), "non-positive weight")
    val ntot = rows.map(_._3).sum
    // the column (source) step runs LAST: each source's weighted mass is
    // T − Σ(per-cell floor remainders), so |mass − T| ≤ Σn of the source
    val ts = ntot * 1000000L / rows.map(_._2).distinct.length
    rows.groupBy(_._2).foreach { case (src, cs) =>
      val mass = cs.map(c => c._3 * c._4).sum
      val bound = cs.map(_._3).sum
      assert(math.abs(mass - ts) <= bound,
        s"source $src mass $mass vs target $ts (bound $bound)")
    }
    // the row step converges too: every lang mass must now sit closer to
    // its target than the unweighted corpus started (IPF contraction)
    val tl = ntot * 1000000L / rows.map(_._1).distinct.length
    rows.groupBy(_._1).foreach { case (lang, cs) =>
      val mass = cs.map(c => c._3 * c._4).sum
      val start = cs.map(_._3).sum * 1000000L
      assert(math.abs(mass - tl) <= math.abs(start - tl),
        s"lang $lang diverged: $start -> $mass (target $tl)")
    }
  }

  test("s13 kcenter: seeds at the min id, never repeats, and the greedy " +
    "maxmin radius is non-increasing") {
    val sel = ops.Sampling.kcenterSelect(spark, sf0001).collect()
    assert(sel.length == ops.Sampling.KcenterK)
    assert(sel.map(_.getAs[Long]("sel_rank")).toSeq == (1L to sel.length))
    val minId = Tables.embeddings(spark, sf0001)
      .agg(org.apache.spark.sql.functions.min(col("vec_id"))).head().getLong(0)
    assert(sel.head.getAs[Long]("vec_id") == minId)
    assert(sel.head.getAs[Double]("maxmin_dist") == 0.0)
    val ids = sel.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == ids.length, "repeated center")
    // adding a center can only SHRINK every candidate's min distance,
    // so the greedy picks' radii descend — the k-center invariant
    val radii = sel.drop(1).map(_.getAs[Double]("maxmin_dist"))
    radii.sliding(2).foreach {
      case Array(a, b) => assert(a >= b, s"radius rose: ${radii.toSeq}")
      case _ => ()
    }
    assert(radii.forall(r => r > 0.0 && r <= 2.0))
  }

  test("PrefixSum.strictlyBefore equals the single-partition window form " +
    "and s05 equals its literal ntile(10) rendering") {
    // law: the range-partitioned two-pass prefix sum (r18) is exactly
    // sum(c) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)
    // on a unique-keyed table — at several partition counts, including
    // ones that force multi-row and near-empty range partitions, and
    // with exchange reuse on and off. 20k rows: the range partitioner
    // samples about 60 rows per output partition (3,840 at 64), so the
    // boundaries come from a partial sample (at a few hundred rows it
    // takes every row, and two executions always agree)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20000).map(i => (rnd.nextInt(10000000).toLong, i.toLong))
      .distinctBy(_._1).map { case (k, _) => (k, (k % 7) + 1) }
    val df = rows.toDF("k", "c")
    val expect = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      df.withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    val reuse = "spark.sql.exchange.reuse"
    try for (r <- Seq("true", "false"); p <- Seq(1, 3, 8, 64)) {
      spark.conf.set(reuse, r)
      val got = ops.PrefixSum.strictlyBefore(df, Seq("k"), "c", "cb", p)
        .select(col("k"), col("c"), col("cb"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expect, s"partitions=$p exchange.reuse=$r")
    } finally spark.conf.unset(reuse)
    // s05's census must equal the literal ntile(10) form it replaced
    val viaNtile = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      Tables.documents(spark, sf0001)
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.min(col("n_chars")).as("min_chars"),
          org.apache.spark.sql.functions.max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("decile"))
        .as[(Int, Long, Long, Long, Long)].collect().toSeq
    }
    val got = ops.Sampling.curriculumBuckets(spark, sf0001)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == viaNtile)
  }
}
