package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Methodology matches BASELINE.md: headline queries (the shapes measured
  * there), wall-clock around .count(). Set SPARK_GRAFT_BENCH_ALL=1 to
  * time every declared query instead (single cold rep per query).
  *
  * Cache honesty: several queries share persisted intermediates (the KNN
  * ranked-neighbor set, the IVF assignment table, the LSH band table,
  * the components fixed point). Round 6 proved that letting those caches
  * leak across timed queries makes per-query numbers a function of RUN
  * ORDER — knn_classify "regressed" 3.2× round-over-round purely because
  * a different query had warmed its cache first. So every recorded
  * number here is COLD: `PersistedCache.clearAll()` drops every graft
  * cache and engine materialization before each timed rep, and each
  * query pays its own shared-state build. The warm number
  * (caches left standing) is reported alongside in "warm" — the
  * steady-state a real session sees — so both views stay visible and
  * neither depends on ordering.
  */
object Bench {
  /** The BASELINE.md headline set (same workload shapes, same order). */
  private val headline = Seq(
    "knn_topk",       // exact 10-NN cosine, heap top-k — 17.5 s baseline
    "knn_classify",   // full A1–A5 pipeline
    "knn_topk_agg",   // the same ranked set under its heap-form name
    "b07_agg_q1",     // TPC-H Q1-shape aggregate — 0.31 s baseline
    "b03_join_broadcast", // star join + agg — 0.48 s baseline
    "c01_dedup_exact",    // normalized-text dedup — 0.30 s baseline
    "d01_window_tumbling", // 1-h tumbling window — 0.87 s baseline
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val all = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query-name filter (local
    // iteration / the sf1 scale rehearsal); driver runs never set it
    val onlyFilter = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names0 =
      if (all) SparkEntry.queries.keys.toSeq.sorted
      else headline.filter(SparkEntry.queries.contains)
    val names = onlyFilter match {
      case Some(f) => SparkEntry.queries.keys.toSeq.sorted.filter(f)
      case None => names0
    }
    // Contention calibration (r13, VERDICT r12 item 3): rounds 3, 8 and
    // 12 all recorded 3–4× inflated numbers because the shared box was
    // co-loaded during the driver's window, and the skew was only
    // adjudicated a round later by cross-checking other artifacts. A
    // FIXED, data-free probe (1M-row range → sum, pure codegen, min of
    // 3) runs INTERLEAVED after each timed query block: the min across
    // probes is the box's steady state for THIS run, and any probe >2×
    // that min means external load hit its neighborhood — so the
    // artifact self-reports "contended" (with the probe series) instead
    // of the skewed numbers reading as a code regression. A before/after
    // pair can't do this: whole-run contention inflates both ends
    // (ratio ≈ 1) and JVM ramp inflates only the start (false alarm).
    def calProbe(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(1000000L).selectExpr("sum(id * 3 % 7)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      (1 to 3).map(_ => once()).min
    }
    var calSeries = List.empty[Double]
    var failed = List.empty[String]
    def timeOnce(name: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    }
    // Steady state is what BASELINE.md records and what regressions should
    // be judged on: 2 discarded warm-up executions absorb JVM/codegen/
    // page-cache ramp (one was not enough — sub-second queries still
    // carried ~0.5 s of residue into the recorded number), then MINIMUM
    // of 5 timed reps per view. Minimum, not median: on a co-loaded host
    // every rep can be inflated by external contention (round 3 recorded
    // 3× the locally reproducible steady state across the board), and min
    // is the standard estimator under additive positive noise — one clean
    // rep recovers the true cost, while no estimator can manufacture a
    // time below it.
    def timeSteady(name: String)
        : (Option[Double], Option[Double], Seq[Double]) = {
      (1 to 2).foreach { _ =>
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case _: Throwable => }
      }
      // Cold and warm reps are INTERLEAVED, not phased. Round 8's driver
      // run recorded knn_topk_agg warm=3.88 s vs cold=0.42 s, which is
      // impossible steady-state (the query then touched no session cache, so
      // warm and cold do identical work) and not reproducible locally
      // (warm ≈ cold ≈ 0.5 s in isolation and in full-bench reruns).
      // Cause: the 5 warm reps ran back-to-back in a ~3 s window AFTER
      // all cold reps, so one external contention burst covering that
      // window inflated every warm rep and min() had nothing clean left
      // to pick. Pairing each warm rep with the cold rep that precedes
      // it spreads both estimators across the same noise timeline — a
      // burst now hits neighbors of both kinds alike. The warm rep still
      // sees caches standing: its preceding cold rep just built them.
      val reps = (1 to 5).map { _ =>
        PersistedCache.clearAll()
        val c = timeOnce(name)
        val w = timeOnce(name)
        (c, w)
      }
      // a query failing all reps must surface as ONE failure, not ten
      failed = failed.distinct
      (reps.flatMap(_._1).minOption, reps.flatMap(_._2).minOption,
        reps.flatMap(_._1))
    }
    var warmResults = List.empty[(String, Double)]
    // Dispersion guard: BENCH_r09 recorded 2.4–2.9× baseline on queries
    // whose code had not changed, because one contention burst inflated
    // every rep in its window. A noisy run should SELF-REPORT instead of
    // reading as a regression: when a query's cold median diverges >2×
    // from its cold min, the reps disagreed beyond steady-state jitter
    // and the recorded min is the only trustworthy number — the ratio is
    // published per query under "noisy" so the reader sees which numbers
    // were measured under contention.
    var noisy = List.empty[(String, Double)]
    // in --all mode (single cold rep per query — the MOST
    // contention-sensitive artifact; r13 review) probe every 8th query:
    // ~30 probes across the inventory at ~3% time overhead, enough to
    // localize a burst without distorting the run
    var allIdx = 0
    def measureOnce(): Seq[(String, Double)] = names.flatMap { name =>
      if (all) {
        PersistedCache.clearAll()
        val r = timeOnce(name).map(name -> _)
        allIdx += 1
        if (allIdx % 8 == 0) calSeries ::= calProbe()
        r
      }
      else {
        val (cold, warm, coldReps) = timeSteady(name)
        warm.foreach(w => warmResults ::= name -> w)
        for (mn <- cold if coldReps.size >= 3) {
          val med = coldReps.sorted.apply(coldReps.size / 2)
          if (med > 2 * mn) noisy ::= name -> (med / mn)
        }
        calSeries ::= calProbe()
        cold.map(name -> _)
      }
    }
    def seriesContended(cs: Seq[Double]): (Double, Boolean) = {
      // Floor = MEDIAN of the probe series, not the min (r14): the
      // detector exists to catch BURSTS — probes inflated above the
      // run's own steady state. The min is fragile in the other
      // direction: one lucky-fast probe deflates the floor and flags a
      // quiet run. The median is the steady state under ≤50% burst
      // contamination; sustained whole-run load defeats min and median
      // equally — that case is caught by cross-run totals.
      val sorted = cs.sorted
      val floor = sorted(sorted.size / 2)
      val ratio = cs.max / floor
      (ratio, ratio > 2.0)
    }
    // Contended-run RERUN policy (r15, VERDICT r14 item 3a): two of the
    // last three rounds archived a contention-distorted HEADLINE artifact
    // — the instrument flagged its own run, but flagging isn't fixing.
    // In headline mode a contended attempt is discarded and the whole
    // timed block reruns (bounded attempts; per-attempt calibration is
    // archived under "attempts" so discarded runs stay auditable). The
    // archived numbers are the FIRST quiet attempt's — or, if every
    // attempt was contended, the last attempt's, still self-flagged
    // contended. --all mode keeps single-attempt semantics: a ~465 s
    // inventory rerun would multiply driver wall-clock for an artifact
    // whose per-query numbers are cross-checked by the A/B rig anyway.
    val MaxAttempts = if (all) 1 else 3
    var attemptLog = List.empty[(Int, Double, Boolean)]
    var results = Seq.empty[(String, Double)]
    var attempt = 0
    var done = false
    while (!done && attempt < MaxAttempts) {
      attempt += 1
      calSeries = Nil
      if (attempt > 1) { warmResults = Nil; noisy = Nil; failed = Nil }
      results = measureOnce()
      val (ratio, contended) =
        if (calSeries.nonEmpty) seriesContended(calSeries.reverse)
        else (1.0, false)
      attemptLog ::= ((attempt, ratio, contended))
      if (contended && attempt < MaxAttempts)
        System.err.println(f"[bench] attempt $attempt contended " +
          f"(probe ratio $ratio%.2f > 2.0) — discarding and rerunning")
      else done = true
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jsonMap(results)
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // total covers successful queries only; "failed" makes a fast-failing
    // regression visible instead of reading as a speedup.
    val total = results.map(_._2).sum
    val extras = new StringBuilder
    if (calSeries.nonEmpty) {
      val cs = calSeries.reverse
      val (ratio, contended) = seriesContended(cs)
      extras ++= ",\"calibration\":{" +
        s""""probes":[${cs.map(v => math.rint(v * 1e4) / 1e4)
          .mkString(",")}],""" +
        s""""ratio":${math.rint(ratio * 100) / 100},""" +
        s""""contended":$contended}"""
    }
    if (attemptLog.size > 1 || attemptLog.exists(_._3)) {
      // every attempt's verdict, so a discarded contended run is
      // auditable in the artifact it was discarded from
      extras ++= ",\"attempts\":" + attemptLog.reverse.map {
        case (i, r, c) =>
          s"""{"attempt":$i,"ratio":${math.rint(r * 100) / 100},""" +
            s""""contended":$c}"""
      }.mkString("[", ",", "]")
    }
    if (!all) {
      extras ++= ",\"warm\":" + jsonMap(warmResults.reverse)
      if (noisy.nonEmpty)
        extras ++= ",\"noisy\":" + jsonMap(noisy.reverse.map {
          case (k, r) => k -> math.rint(r * 100) / 100 })
      // continuity field for round-over-round artifacts: the recorded
      // cold knn_classify IS the uncached number earlier rounds broke out
      results.find(_._1 == "knn_classify").foreach { case (_, v) =>
        extras ++= ",\"uncached_knn_classify\":" + v
      }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs$extras,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
