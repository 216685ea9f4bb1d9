package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.PersistedCache.Materialize
import graft.Tables
import graft.functions.HashExpressions

/** Deterministic sampling / splitting / mixing — the selection operators
  * of a training-data pipeline (the steps between dedup and the trainer:
  * carve train/val/test, rebalance languages, cap per-source volume).
  *
  * Everything here keys on `fnv1a64` (a codegen'd Catalyst expression,
  * [[graft.functions.Fnv1a64Expr]]) over a salted string key instead of
  * `rand()`:
  *
  *  - Reproducible: membership is a pure function of the row key, so a
  *    re-run, a retried task, a different partitioning, or a different
  *    engine (the DuckDB oracles below) all pick the identical sample.
  *    `rand()`-based sampling can't promise any of that under retries.
  *  - Stable under growth: appending new documents never flips the
  *    assignment of existing ones — the property that keeps yesterday's
  *    eval set valid after today's ingest.
  *  - Scale shape: assignment/filtering is a stateless map-side
  *    projection (no shuffle at all); only the per-source capped mix
  *    needs one shuffle on `source` for its ranking window.
  *
  * Distinct salts ("", "strat:", "mix:") decorrelate the three uses —
  * reusing one hash would e.g. make the stratified sample preferentially
  * drain the train split.
  */
object Sampling {

  private def hashBucket(s: SparkSession, salt: String, mod: Int) =
    pmod(HashExpressions.fnv1a64(s,
      concat(lit(salt), col("doc_id").cast("string"))), lit(mod.toLong))

  /** The ONE definition of the 80/10/10 carve (salt, modulus, and
    * cut-points), shared by s01 and s02 so retuning the ratios can never
    * leave the assignment and its balance check describing different
    * splits. */
  private def withSplit(s: SparkSession, d: String) =
    Tables.documents(s, d)
      .withColumn("bucket", hashBucket(s, "", 100))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  /** 80/10/10 train/val/test assignment for every document. */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    withSplit(s, d)
      .select(col("doc_id"), col("lang"),
        col("bucket").cast("int").as("bucket"), col("split"))
      .orderBy(col("doc_id"))

  /** Balance check over the split — the query a pipeline runs to confirm
    * the carve is ~80/10/10 and every language appears in every split. */
  def splitStats(s: SparkSession, d: String): DataFrame =
    withSplit(s, d)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_sum"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))

  /** Per-language rate sampling: downsample the dominant language (en →
    * 20%) while keeping the tail at 50% — the language-rebalancing step
    * of corpus curation. Pure map-side filter; at 100 TB this runs inside
    * the scan with zero shuffle. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("b1000", hashBucket(s, "strat:", 1000))
      .where(col("b1000") < when(col("lang") === "en", 200).otherwise(500))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** Per-source capped mix: at most 20 docs per source, chosen by hash
    * order — deterministic sampling-without-replacement, the "no single
    * crawl domain dominates the mixture" rule. One shuffle on `source`;
    * on a cluster the rank is a bounded per-key top-k (WindowGroupLimit
    * pushes the cap below the exchange, so only ~cap rows per source
    * survive the partial sort). */
  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val h = HashExpressions.fnv1a64(s,
      concat(lit("mix:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("h", h)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 20)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Curriculum bucketing: ntile(10) over the global (n_chars, doc_id)
    * order — equal-population length deciles with per-bucket stats, the
    * "sort examples easy→hard, batch by difficulty" prep step. ntile's
    * distribution rule (first n mod b tiles get the extra row) is SQL
    * standard and identical in both engines; the doc_id tie-break makes
    * the decile edges exact.
    *
    * r18 (guide §2, VERDICT r17 item 5): the literal `ntile(10) OVER
    * (ORDER BY ...)` form moved ALL documents to ONE partition
    * (WindowExec's unpartitioned-window behavior — the previous scaladoc's
    * "orderBy range-partitions" claim was wrong for window sorts), a
    * scale-killer over the 100 TB documents table. The census never
    * needs per-DOC tiles: rows that share an n_chars value are
    * interchangeable for every reported stat (count / min / max / sum of
    * n_chars — the doc_id tie-break only decides WHICH equal-valued docs
    * straddle a boundary, never the census), so the per-VALUE count
    * table (one keyed aggregate, map-side partials) plus a
    * range-partitioned two-pass prefix sum ([[PrefixSum]]) places each
    * value run at its global row range, and exact integer ntile
    * arithmetic splits runs across decile boundaries. No single-partition
    * exchange anywhere; the only full-table pass is the map-side count.
    * Identical output to the ntile form (oracle-verified). */
  def curriculumBuckets(s: SparkSession, d: String): DataFrame = {
    val vc = Tables.documents(s, d)
      .groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val withCb = PrefixSum.strictlyBefore(vc, Seq("n_chars"), "c", "cb",
      graft.Tables.parallelism(s))
    val consts = vc.agg(sum(col("c")).as("n"))
    // SQL-standard ntile row ranges: tile t of b over n rows spans
    // [(t-1)·q + min(t-1, r) + 1, t·q + min(t, r)] with q = n DIV b,
    // r = n MOD b — the first r tiles get one extra row.
    val tiles = s.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(consts))
      .select(col("decile"),
        expr("(decile - 1) * (n DIV 10) + least(decile - 1, n % 10) + 1")
          .as("lo"),
        expr("decile * (n DIV 10) + least(decile, n % 10)").as("hi"))
    withCb.crossJoin(broadcast(tiles))
      .select(col("decile"), col("n_chars"),
        (least(col("hi"), col("cb") + col("c")) -
          greatest(col("lo"), col("cb") + 1) + 1).as("m"))
      .where(col("m") > 0)
      .groupBy(col("decile"))
      .agg(sum(col("m")).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars") * col("m")).as("sum_chars"))
      .select(col("decile").cast("int").as("decile"), col("n_docs"),
        col("min_chars"), col("max_chars"), col("sum_chars"))
      .orderBy(col("decile"))
  }

  /** Token length of a contamination shingle (s06). 5 is long enough to
    * discriminate on this corpus (~95% of 5-grams are unique) and is in
    * the range real decontamination pipelines use (8-13 tokens); the
    * fixtures' docs are 10-100 tokens, so 8+ would leave short docs with
    * almost no shingles. */
  val ContamG = 5

  /** s06: benchmark decontamination check — for every TEST-split
    * document, the fraction of its distinct token 5-grams that also
    * appear anywhere in the TRAIN split. This is the standard "is the
    * eval set leaked into the training corpus" audit (n-gram overlap
    * decontamination): frac ≈ 1 means the test doc is effectively IN
    * the training set and must be dropped from eval (or the train dup
    * removed).
    *
    * Scale shape: one equi-join on the shingle string. The train side is
    * projected to DISTINCT shingles (its only shuffle) — at 100 TB that
    * side would be hash-partitioned by shingle and is the natural place
    * for a bloom-filter pushdown onto the (small) test side's probe; the
    * test side is an eval set, i.e. tiny by construction, so Spark's AQE
    * broadcasts it and the train scan never shuffles full text. Nothing
    * in the plan is quadratic; contamination of M test docs against N
    * train docs costs one pass over N plus |shingles(M)| probe rows. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val g = ContamG
    val base = withSplit(s, d)
      .select(col("doc_id"), col("split"), split(col("text"), " ").as("toks"))
      // sequence(a, b) DESCENDS when b < a (unlike DuckDB's range, which
      // returns empty) — guard short docs explicitly so both engines
      // agree on "no shingles". Fixtures are all >= 10 tokens; the guard
      // is for the operator's contract, not this corpus.
      .withColumn("g5s",
        when(size(col("toks")) >= g,
          array_distinct(transform(
            sequence(lit(0), size(col("toks")) - g),
            i => array_join(slice(col("toks"), i + lit(1), lit(g)), " "))))
          .otherwise(array().cast("array<string>")))
    val test = base.where(col("split") === "test")
      .select(col("doc_id"), explode(col("g5s")).as("g"))
    val train = base.where(col("split") === "train")
      .select(explode(col("g5s")).as("g")).distinct()
    val totals = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val hits = test.join(train, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** s07: temperature-scaled source mixing (α = 0.5) — the UniMax /
    * multilingual-sampling rule: sampling weight ∝ n_docs^α flattens the
    * source distribution so head sources stop dominating while the tail
    * is upweighted, and α=1/2 (√n) is the canonical temperature. Emits
    * the per-source allocation of a 10,000-doc budget.
    *
    * Cross-engine exactness: √n is a single IEEE-754 operation (sqrt is
    * correctly rounded by spec, identical in JVM and DuckDB), then
    * floor(√n · 10⁶) quantizes the weight to a BIGINT. Everything after
    * is integer arithmetic — the normalizer is an exact integer SUM
    * (order-independent, unlike summing doubles), the allocation is
    * integer division. The only double in the output (mix_frac) is
    * computed from the two integers and rounded once. This is the same
    * "quantize early, aggregate integers" discipline the trained-IVF
    * centroids use.
    *
    * Scale shape: a count per source (one partial-agg shuffle of
    * key+count only) and a ~#sources-row global reduce. The allocation
    * table is what a weighted sampler consumes; the sampling itself
    * composes with s04's per-source hash-rank cap. */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val Budget = 10000L
    // Mass = character volume, not doc count: the fixtures draw a uniform
    // doc count per source (25 each at sf0.01), so count^α would be a
    // constant vector; char volume varies per source and is the more
    // faithful notion of "how much of the mixture a source supplies"
    // anyway (token budgets are what training mixtures allocate).
    val perSource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_sum"))
      .withColumn("weight", floor(sqrt(col("n_chars_sum")) * 1e6).cast("long"))
    val total = perSource.agg(sum(col("weight")).as("w_total"))
    perSource.crossJoin(total)
      .select(col("source"), col("n_docs"), col("n_chars_sum"), col("weight"),
        expr(s"$Budget * weight div w_total").as("alloc"),
        round(col("weight").cast("double") / col("w_total"), 6).as("mix_frac"))
      .orderBy(col("source"))
  }

  /** πps size threshold (chars): docs ≥ θ are always kept, shorter docs
    * kept with probability n_chars/θ. 500 sits inside the fixtures'
    * 47–558 char range so BOTH branches (capped p=1 and proportional)
    * are live at every SF tier. */
  val PpsTheta = 500L

  /** Membership granularity for s09 (ppm buckets). */
  private val PpsM = 1000000L

  /** s09: deterministic weighted sampling — inclusion probability
    * proportional to size (πps Poisson sampling, the survey-sampling
    * workhorse): p_i = min(1, n_chars/θ), membership decided by the
    * salted doc-id hash, so the sample is a pure function of the data
    * (same reproducibility contract as s01–s04) while LONGER documents
    * are proportionally more likely to be kept — the "sample by token
    * mass, not by doc count" selection a training-mixture builder wants
    * when docs differ 10× in length.
    *
    * The decision is one exact integer compare: keep ⇔
    * bucket·θ < n_chars·M (bucket uniform on [0,M)), which is exactly
    * P[keep] = min(1, n_chars/θ) with zero float arithmetic. Each kept
    * row carries its inclusion probability (ppm) and the
    * Horvitz–Thompson weight 1/p (ppm) — the weight an unbiased
    * downstream estimator multiplies by; for the proportional branch
    * n·(1/p) = θ identically, the πps self-normalizing property.
    *
    * Scale shape: stateless map-side filter+projection over the scan —
    * zero shuffle, composes with any downstream op. */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", hashBucket(s, "wt:", PpsM.toInt))
      .where(col("bucket") * PpsTheta < col("n_chars") * PpsM)
      .select(col("doc_id"), col("source"), col("n_chars"),
        least(lit(PpsM), expr(s"n_chars * $PpsM div $PpsTheta")).as("incl_ppm"),
        greatest(lit(PpsM), expr(s"$PpsM * $PpsTheta div n_chars")).as("ht_ppm"))
      .orderBy(col("doc_id"))

  /** s10: importance resampling to a TARGET MIXTURE — the step after s07
    * computes what the mixture should be: actually re-carve the corpus so
    * per-language character mass matches the target (here: balance every
    * language down to the smallest one, the multilingual-rebalancing
    * default). Unlike s03's constant rates, the acceptance rates are
    * DERIVED FROM CORPUS STATS — rate_ppm(lang) = min(1 M, target·1M DIV
    * mass(lang)) with target = min lang mass — then each doc is accepted
    * by the same exact integer hash compare as s09 (bucket < rate_ppm
    * over a salted fnv bucket). Zero float arithmetic anywhere, so the
    * resample is a pure function of the corpus.
    *
    * Output is the audit view: per language, the before/after doc counts
    * and masses plus the rate applied; the spec asserts every achieved
    * mass lands within a 4σ binomial envelope of the target. Scale: one
    * stats aggregate (L rows), one broadcast join-back, one map-side
    * filter — the corpus is touched twice, shuffled never. */
  def distributionMatch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mass = docs.groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("mass_before"),
        count(lit(1)).as("n_before"))
    val target = mass.agg(min(col("mass_before")).as("target"))
    val rates = mass.crossJoin(broadcast(target))
      .select(col("lang"), col("mass_before"), col("n_before"), col("target"),
        least(lit(PpsM), expr(s"($PpsM * target) DIV mass_before"))
          .as("rate_ppm"))
    // accepted docs aggregated per lang, then LEFT-joined back to the
    // rates so a language whose rate rounds to zero (or whose docs all
    // fail the hash) still shows an n_after = 0 audit row instead of
    // silently vanishing — the audit must cover exactly the languages
    // it downsamples hardest
    val accepted = docs.join(broadcast(rates.select(col("lang"), col("rate_ppm"))), "lang")
      .where(hashBucket(s, "s10:", PpsM.toInt) < col("rate_ppm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_after"), sum(col("n_chars")).as("mass_after"))
    rates.join(accepted, Seq("lang"), "left")
      .select(col("lang"), col("mass_before"), col("n_before"), col("target"),
        col("rate_ppm"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("mass_after"), lit(0L)).as("mass_after"))
      .orderBy(col("lang"))
  }

  /** S12: temporal holdout split — the TIME-based carve every
    * forecasting/eval pipeline needs beside the hash splits (s01):
    * train on the past, validate/test on the future, so no eval row
    * precedes a training row (the temporal form of leakage-safety;
    * s08 fences near-dup leakage, this fences time). Cuts are the
    * exact global 80th/90th order statistics of (ts, event_id) — the
    * b21 lower-percentile rank rule — so the carve is deterministic
    * and unique-key tie-broken.
    *
    * Scale shape (the reason this isn't one global row_number): a
    * global rank window would sort the corpus into a single reducer.
    * Instead the cut ROWS are located with a two-phase distributed
    * order statistic — per-day counts (bounded domain) + a cumulative
    * over that tiny table find WHICH day holds each target rank, a
    * rank window runs ONLY inside those ≤2 days, and the two cut rows
    * are broadcast back for a stateless map-side comparison over the
    * full table. The same shape d25 uses for its prefix sums. */
  def temporalSplit(s: SparkSession, d: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val e = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"))
    val perDay = e.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    // cumulative over the day-bounded table (tiny: one row per day)
    val wDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = perDay.withColumn("cum_before",
      coalesce(sum(col("c")).over(wDay), lit(0L)))
    val nAll = e.agg(count(lit(1)).as("n"))
    val cutDays = cum.crossJoin(broadcast(nAll))
      .select(col("day"), col("cum_before"), col("c"),
        explode(array(
          struct(lit("t80").as("name"),
            expr("(80 * (n - 1)) DIV 100 + 1").as("r")),
          struct(lit("t90").as("name"),
            expr("(90 * (n - 1)) DIV 100 + 1").as("r")))).as("cut"))
      .select(col("day"), col("cum_before"), col("cut.name").as("name"),
        col("cut.r").as("r"))
      .where(col("cum_before") < col("r") &&
        col("r") <= col("cum_before") + col("c"))
    // rank only within the (≤2) days that contain a cut
    val wIn = Window.partitionBy(col("name"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val cutRows = e.join(broadcast(cutDays),
        date_trunc("day", col("ts")) === col("day"))
      .withColumn("rn_in", row_number().over(wIn))
      .where(col("cum_before") + col("rn_in") === col("r"))
      .groupBy()
      .agg(
        max(when(col("name") === "t80",
          struct(col("ts").as("a"), col("event_id").as("b")))).as("c80"),
        max(when(col("name") === "t90",
          struct(col("ts").as("a"), col("event_id").as("b")))).as("c90"))
    e.crossJoin(broadcast(cutRows))
      .withColumn("key", struct(col("ts").as("a"), col("event_id").as("b")))
      .withColumn("split",
        when(col("key") <= col("c80"), "train")
          .when(col("key") <= col("c90"), "val")
          .otherwise("test"))
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        date_format(min(col("ts")), fmt).as("min_ts"),
        date_format(max(col("ts")), fmt).as("max_ts"))
      .orderBy(col("split"), col("event_type"))
  }

  /** Greedy k-center rounds for s13 (the selected-set size). */
  val KcenterK = 8

  /** s13: greedy k-center coreset selection (Gonzalez 1985) over the
    * embeddings — the diversity-first data-selection primitive (facility
    * location): each round adds the vector FARTHEST from everything
    * already selected, so the chosen set covers the corpus at the
    * minimax radius (2-approximation, the textbook bound). Training-data
    * pipelines run exactly this shape to pick maximally-diverse seed
    * sets, eval probes, and annotation batches from an embedded corpus.
    *
    * Determinism: the seed is the min vec_id, every round's argmax
    * breaks ties by min vec_id, and the min-distance fold is an exact
    * double MIN over the same IEEE cosines on both engines — the greedy
    * trajectory is a pure function of the corpus, replayed by the
    * oracle's unrolled CTEs (the c43 MMR pattern in vector space).
    *
    * Scale shape: each round is ONE broadcast of the ≤k selected
    * vectors (k·256 bytes) against the corpus — a map-side min — plus a
    * TakeOrdered(1); no shuffle of the corpus anywhere, k rounds total.
    * The per-round full scan is the algorithm (every candidate's
    * distance to the NEW center must be seen); at 100 TB the standard
    * production cut is to run the same greedy over an IVF-cell sample,
    * which this module's assignment table supplies for free. */
  def kcenterSelect(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val seed = emb.agg(min(col("vec_id")).as("svid"))
    var sel = emb.join(broadcast(seed), col("vec_id") === col("svid"))
      .select(lit(1L).as("sel_rank"), col("vec_id"), col("embedding"),
        lit(0.0).as("maxmin_dist"))
      .checkpointed
    for (r <- 2 to KcenterK) {
      val cents = sel.select(col("embedding").as("cvec"))
      val dmin = Tables.repartitioned(emb, s)
        .join(broadcast(sel.select(col("vec_id").as("svid"))),
          col("vec_id") === col("svid"), "left_anti")
        .crossJoin(broadcast(cents))
        .select(col("vec_id"),
          graft.functions.VectorExpressions.cosine_distance(s,
            col("embedding"), col("cvec")).as("dd"))
        .groupBy(col("vec_id")).agg(min(col("dd")).as("dmin"))
      val pickId = dmin.orderBy(col("dmin").desc, col("vec_id").asc)
        .limit(1)
      val pick = emb.join(broadcast(pickId), Seq("vec_id"))
        .select(lit(r.toLong).as("sel_rank"), col("vec_id"),
          col("embedding"), col("dmin").as("maxmin_dist"))
      sel = sel.unionAll(pick).checkpointed
    }
    sel.select(col("sel_rank"), col("vec_id"),
      round(col("maxmin_dist"), 6).as("maxmin_dist"))
      .orderBy(col("sel_rank"))
  }

  /** Fixed IPF rounds for s14 (row step then column step per round). */
  val IpfRounds = 4

  /** s14: iterative proportional fitting (raking) of the (lang, source)
    * mixture — the 2-D completion of this module's mixing ladder: s04
    * caps one dimension, s07 temperature-scales one, s10 accepts to ONE
    * target marginal; IPF finds per-cell weights hitting language AND
    * source targets SIMULTANEOUSLY (Deming–Stephan 1940, the survey
    * raking every stats office runs), here toward uniform marginals on
    * both axes — the balanced-corpus goal. Each round rescales rows to
    * the lang target then columns to the source target; 4 FIXED rounds
    * (the Lloyd/LPA determinism rule).
    *
    * Integer doctrine: weights live in ppm, each rescale is
    * w·T DIV M(axis) with T = (N·10⁶) DIV axis-cardinality — pure
    * BIGINT (products stay ≤ ~10¹⁸ at every fixture tier; a corpus
    * with deeper skew rides DECIMAL(38,0), the q09 doctrine). The
    * column step runs LAST, so final source masses match their target
    * exactly up to per-cell integer floors — a law the spec asserts
    * with the Σn-bounded error the floor analysis gives.
    *
    * Scale shape: ONE groupBy of the corpus builds the cell table
    * (|langs|·|sources| rows); every iteration is arithmetic on that
    * tiny table (axis masses are 5- and 20-row aggregates, joined back
    * broadcast); the weights then broadcast to whatever applies them —
    * the s09/s10 application path. Nothing rescans the corpus. */
  def ipfRaking(s: SparkSession, d: String): DataFrame = {
    var cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", lit(1000000L))
      .checkpointed
    val tot = cells.agg(sum(col("n")).as("ntot"),
      countDistinct(col("lang")).as("nl"),
      countDistinct(col("source")).as("ns"))
    for (_ <- 1 to IpfRounds) {
      val lm = cells.groupBy(col("lang")).agg(sum(col("n") * col("w")).as("m"))
      cells = cells.join(broadcast(lm), "lang").crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"),
          expr("w * ((ntot * 1000000) DIV nl) DIV m").as("w"))
        .checkpointed
      val sm = cells.groupBy(col("source")).agg(sum(col("n") * col("w")).as("m"))
      cells = cells.join(broadcast(sm), "source").crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"),
          expr("w * ((ntot * 1000000) DIV ns) DIV m").as("w"))
        .checkpointed
    }
    cells.select(col("lang"), col("source"), col("n").as("n_docs"),
      col("w").as("weight_ppm"))
      .orderBy(col("lang"), col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s14_ipf_raking" -> (ipfRaking _),
    "s13_kcenter_select" -> (kcenterSelect _),
    "s12_temporal_split" -> (temporalSplit _),
    "s10_distribution_match" -> (distributionMatch _),
    "s09_weighted_sample" -> (weightedSample _),
    "s07_temperature_mix" -> (temperatureMix _),
    "s06_decontam" -> (contamination _),
    "s05_curriculum_buckets" -> (curriculumBuckets _),
    "s01_split_assign" -> (splitAssign _),
    "s02_split_stats" -> (splitStats _),
    "s03_stratified_sample" -> (stratifiedSample _),
    "s04_source_mix" -> (sourceMix _),
  )

  // ---------------------------------------------------------------- SQL
  // DuckDB twins: fnv1a64 is TextOps.fnvFold (HUGEINT mod-2^64, proven
  // cell-identical on c08/c10/c11); Spark's pmod becomes ((x%m)+m)%m.

  private def hashedDocs(salt: String, mod: Int) = {
    val key =
      if (salt.isEmpty) "CAST(doc_id AS VARCHAR)"
      else s"'$salt' || CAST(doc_id AS VARCHAR)"
    s"""keyed AS (SELECT *, $key AS t FROM documents),
       |hashed AS (SELECT *, ${TextOps.toSigned(TextOps.fnvFold(TextOps.FnvOffU))} AS hs
       |  FROM keyed),
       |bucketed AS (SELECT *, ((hs % $mod) + $mod) % $mod AS bucket FROM hashed)"""
      .stripMargin
  }

  private val splitCase =
    "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END"

  /** One s13 greedy round: min distance of each unselected vector to
    * the selected set (via the selected ids → embeddings join), then
    * the (dmin DESC, vec_id ASC) argmax appended. MATERIALIZED — each
    * selection is referenced three times by the next round. */
  private def kcenterStepSql(r: Int): String =
    s"""kd$r AS (
       |  SELECT e.vec_id,
       |    min(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |          CAST(c.embedding AS DOUBLE[]))) AS dmin
       |  FROM embeddings e
       |  CROSS JOIN ks${r - 1} sl
       |  JOIN embeddings c ON c.vec_id = sl.vec_id
       |  WHERE e.vec_id NOT IN (SELECT vec_id FROM ks${r - 1})
       |  GROUP BY e.vec_id),
       |ks$r AS MATERIALIZED (
       |  SELECT * FROM ks${r - 1}
       |  UNION ALL
       |  (SELECT CAST($r AS BIGINT) AS sel_rank, vec_id, dmin
       |   FROM kd$r ORDER BY dmin DESC, vec_id ASC LIMIT 1))""".stripMargin

  private val kcenterOracle: String = {
    val steps = (2 to KcenterK).map(kcenterStepSql).mkString(",\n")
    s"""WITH ks1 AS (
       |  SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
       |    CAST(0.0 AS DOUBLE) AS dmin
       |  FROM embeddings
       |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
       |$steps
       |SELECT sel_rank, vec_id, round(dmin, 6) AS maxmin_dist
       |FROM ks$KcenterK ORDER BY sel_rank""".stripMargin
  }

  /** One s14 rescale step over axis `ax` from cell CTE `prev` to `next`:
    * axis masses, then w·T DIV M — `//` ≡ DIV on the positive operands,
    * sums CAST from HUGEINT back to BIGINT to match the engine's longs. */
  private def ipfStepSql(prev: String, next: String, ax: String,
      card: String): String =
    s"""${next}m AS (
       |  SELECT $ax, CAST(sum(n * w) AS BIGINT) AS m
       |  FROM $prev GROUP BY $ax),
       |$next AS MATERIALIZED (
       |  SELECT c.lang, c.source, c.n,
       |    CAST(c.w * ((t.ntot * 1000000) // t.$card) // z.m AS BIGINT) AS w
       |  FROM $prev c JOIN ${next}m z USING ($ax) CROSS JOIN t)""".stripMargin

  private val ipfOracle: String = {
    val steps = (1 to IpfRounds).flatMap { r =>
      Seq(ipfStepSql(if (r == 1) "ic0" else s"ic${2 * r - 2}",
            s"ic${2 * r - 1}", "lang", "nl"),
        ipfStepSql(s"ic${2 * r - 1}", s"ic${2 * r}", "source", "ns"))
    }.mkString(",\n")
    s"""WITH ic0 AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(1000000 AS BIGINT) AS w
       |  FROM documents GROUP BY lang, source),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
       |        count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns
       |      FROM ic0),
       |$steps
       |SELECT lang, source, n AS n_docs, w AS weight_ppm
       |FROM ic${2 * IpfRounds} ORDER BY lang, source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s14_ipf_raking" -> ipfOracle,
    "s13_kcenter_select" -> kcenterOracle,
    // s12: the oracle can afford the simple one-window form — split by
    // global (sts, event_id) rank against the same lower-percentile cut
    // ranks; rank-<= is equivalent to the engine's lexicographic
    // compare against the broadcast cut rows (total order, unique keys)
    "s12_temporal_split" ->
      s"""WITH e AS (SELECT event_id, event_type,
         |  ${EventOps.duckSecTs} AS sts FROM events),
         |r AS (SELECT event_id, event_type, sts,
         |    row_number() OVER (ORDER BY sts, event_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM e),
         |sp AS (SELECT event_type, sts,
         |    CASE WHEN rn <= (80 * (n - 1)) // 100 + 1 THEN 'train'
         |         WHEN rn <= (90 * (n - 1)) // 100 + 1 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM r)
         |SELECT split, event_type, count(*) AS n,
         |  strftime(min(sts), '%Y-%m-%d %H:%M:%S') AS min_ts,
         |  strftime(max(sts), '%Y-%m-%d %H:%M:%S') AS max_ts
         |FROM sp GROUP BY split, event_type
         |ORDER BY split, event_type""".stripMargin,
    "s10_distribution_match" ->
      s"""WITH mass AS (
         |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass_before,
         |    count(*) AS n_before
         |  FROM documents GROUP BY lang),
         |tgt AS (SELECT min(mass_before) AS target FROM mass),
         |rates AS (
         |  SELECT lang, mass_before, n_before, target,
         |    least($PpsM, ($PpsM * target) // mass_before) AS rate_ppm
         |  FROM mass CROSS JOIN tgt),
         |${hashedDocs("s10:", PpsM.toInt)},
         |accepted AS (
         |  SELECT b.lang, count(*) AS n_after,
         |    CAST(sum(b.n_chars) AS BIGINT) AS mass_after
         |  FROM bucketed b JOIN rates r USING (lang)
         |  WHERE b.bucket < r.rate_ppm GROUP BY b.lang)
         |SELECT r.lang, r.mass_before, CAST(r.n_before AS BIGINT) AS n_before,
         |  r.target, r.rate_ppm,
         |  coalesce(a.n_after, 0) AS n_after,
         |  coalesce(a.mass_after, 0) AS mass_after
         |FROM rates r LEFT JOIN accepted a USING (lang)
         |ORDER BY r.lang""".stripMargin,
    "s09_weighted_sample" ->
      s"""WITH ${hashedDocs("wt:", PpsM.toInt)}
         |SELECT doc_id, source, n_chars,
         |  least($PpsM, n_chars * $PpsM // $PpsTheta) AS incl_ppm,
         |  greatest($PpsM, $PpsM * $PpsTheta // n_chars) AS ht_ppm
         |FROM bucketed
         |WHERE bucket * $PpsTheta < n_chars * $PpsM
         |ORDER BY doc_id""".stripMargin,
    "s07_temperature_mix" ->
      """WITH per_source AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
        |    CAST(floor(sqrt(CAST(sum(n_chars) AS BIGINT)) * 1e6) AS BIGINT)
        |      AS weight
        |  FROM documents GROUP BY source)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_chars_sum, weight,
        |  CAST(10000 * weight // (SELECT sum(weight) FROM per_source)
        |    AS BIGINT) AS alloc,
        |  round(CAST(weight AS DOUBLE) /
        |    (SELECT sum(weight) FROM per_source), 6) AS mix_frac
        |FROM per_source ORDER BY source""".stripMargin,
    "s06_decontam" ->
      s"""WITH ${hashedDocs("", 100)},
         |tk AS (SELECT doc_id, bucket, string_split(text, ' ') AS toks
         |       FROM bucketed),
         |g AS (
         |  SELECT doc_id, bucket,
         |    unnest(list_distinct(list_transform(
         |      range(1, len(toks) - ${ContamG - 2}),
         |      i -> array_to_string(toks[i:i+${ContamG - 1}], ' ')))) AS g
         |  FROM tk),
         |train AS (SELECT DISTINCT g FROM g WHERE bucket < 80),
         |test AS (SELECT doc_id, g FROM g WHERE bucket >= 90),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM test GROUP BY doc_id),
         |hit AS (
         |  SELECT t.doc_id, count(*) AS n_hit
         |  FROM test t JOIN train USING (g) GROUP BY t.doc_id)
         |SELECT doc_id, n_grams, coalesce(n_hit, 0) AS n_hit,
         |  round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_grams, 6)
         |    AS contamination
         |FROM tot LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin,
    "s05_curriculum_buckets" ->
      """WITH t AS (
        |  SELECT n_chars,
        |    ntile(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS decile
        |  FROM documents)
        |SELECT decile, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,
    "s01_split_assign" ->
      s"""WITH ${hashedDocs("", 100)}
         |SELECT doc_id, lang, CAST(bucket AS INTEGER) AS bucket,
         |  $splitCase AS split
         |FROM bucketed ORDER BY doc_id""".stripMargin,
    "s02_split_stats" ->
      s"""WITH ${hashedDocs("", 100)}
         |SELECT $splitCase AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM bucketed GROUP BY 1 ORDER BY split""".stripMargin,
    "s03_stratified_sample" ->
      s"""WITH ${hashedDocs("strat:", 1000)}
         |SELECT doc_id, lang, source FROM bucketed
         |WHERE bucket < CASE WHEN lang = 'en' THEN 200 ELSE 500 END
         |ORDER BY doc_id""".stripMargin,
    "s04_source_mix" ->
      s"""WITH ${hashedDocs("mix:", 1)},
         |ranked AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY hs ASC, doc_id ASC)
         |      AS rk
         |  FROM bucketed)
         |SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
         |FROM ranked WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
  )
}
