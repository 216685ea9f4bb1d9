package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality validation — the constraint-audit layer every warehouse
  * and every training-data pipeline runs before consuming a drop
  * (dbt-test / Great-Expectations shape): each rule is a declarative
  * predicate whose VIOLATIONS are counted, and the suite emits one row
  * per rule. Rules are deliberately heterogeneous so the operator
  * exercises the full audit vocabulary: referential integrity
  * (anti-join), key uniqueness (count vs distinct), domain/range checks
  * (predicate counts), non-null/non-empty, and freshness bounds.
  *
  * Scale shape: every rule is either a map-side predicate count (one
  * partial-agg scan) or a single keyed anti-join/distinct — no rule is
  * quadratic, and independent rules run as independent jobs a scheduler
  * can overlap. The one-row-per-rule output is the contract dashboards
  * and CI gates consume.
  */
object Quality {

  private def rule(name: String, checked: DataFrame, violations: DataFrame) = {
    val n = checked.agg(count(lit(1)).as("n_checked"))
    val v = violations.agg(count(lit(1)).as("n_violations"))
    n.crossJoin(v).select(
      lit(name).as("rule"),
      col("n_checked"), col("n_violations"),
      when(col("n_violations") === 0, 1).otherwise(0).as("passed"))
  }

  /** q01: the constraint suite over the star schema + corpus tables. */
  def constraintChecks(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val lineitem = Tables.lineitem(s, d)
    val customer = Tables.customer(s, d)
    val documents = Tables.documents(s, d)
    val events = Tables.events(s, d)

    val fkLineOrder = rule("fk_lineitem_orders",
      lineitem.select(col("l_orderkey")),
      lineitem.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti"))
    val fkOrderCust = rule("fk_orders_customer",
      orders.select(col("o_custkey")),
      orders.select(col("o_custkey"))
        .join(customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti"))
    val pkOrders = rule("pk_orders_unique",
      orders.select(col("o_orderkey")),
      orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1))
    val qtyRange = rule("range_quantity_1_50",
      lineitem.select(col("l_quantity")),
      lineitem.where(col("l_quantity") < 1 || col("l_quantity") > 50))
    val docText = rule("nonempty_document_text",
      documents.select(col("text")),
      documents.where(col("text").isNull || length(col("text")) === 0))
    val tsBounds = rule("events_ts_in_2024_01",
      events.select(col("ts")),
      events.where(col("ts") < lit("2024-01-01 00:00:00").cast("timestamp") ||
        col("ts") >= lit("2024-02-01 00:00:00").cast("timestamp")))
    val discountDomain = rule("domain_discount_0_0q1",
      lineitem.select(col("l_discount")),
      lineitem.where(col("l_discount") < 0 || col("l_discount") > 0.1))

    // A rule that legitimately FAILS on this corpus at every fixture
    // tier (bag-of-words duplicates — the same key c21's incremental
    // dedup keys on), so the suite exercises the violation path, not
    // only green checks: each extra copy beyond a group's first counts
    // as one violation.
    val bow = array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
    val docUnique = rule("unique_document_bow",
      documents.select(col("text")),
      documents.groupBy(bow.as("t"))
        .agg((count(lit(1)) - 1).as("extra")).where(col("extra") > 0)
        .select(explode(sequence(lit(1), col("extra")))))

    // the ANN-family PRECONDITION as a declared constraint (VERDICT r11
    // item 7): the NSW id-ring/far-link formulas and the positional ADC
    // LUT assume vec_ids are contiguous 0..n−1 — a gapped or duplicated
    // id space must fail THIS audit (and then be dense-ranked) before
    // any index is built, rather than silently dropping ring edges.
    val embeddings = Tables.embeddings(s, d)
    val nEmb = embeddings.agg(count(lit(1)).as("nv"))
    val vecContig = rule("contiguous_vec_ids",
      embeddings.select(col("vec_id")),
      embeddings.crossJoin(broadcast(nEmb))
        .where(col("vec_id") < 0 || col("vec_id") >= col("nv"))
        .select(lit(1L).as("one"))
        .unionAll(embeddings.groupBy(col("vec_id"))
          .agg((count(lit(1)) - 1).as("extra")).where(col("extra") > 0)
          .select(explode(sequence(lit(1L), col("extra"))).as("one"))))

    Seq(fkLineOrder, fkOrderCust, pkOrders, qtyRange, docText, tsBounds,
        discountDomain, docUnique, vecContig)
      .reduce(_.unionAll(_))
      .orderBy(col("rule"))
  }

  /** q02: statistical outlier detection — the anomaly-audit companion
    * to q01's hard constraints: per-language z-scores of document
    * length, reporting the 20 most anomalous documents (the
    * "distribution drifted / garbage slipped in" detector every
    * training-data drop gets screened with).
    *
    * Cross-engine exactness: group moments are EXACT BIGINTs (Σx, Σx²
    * of integral n_chars), and z = (x·n − s1)/sqrt(n·s2 − s1²) — both
    * numerator and radicand are exact integers, and sqrt and divide are
    * IEEE-754 correctly-rounded ops, so the double z is bit-identical
    * in any engine (b24/b33's discipline, plus the fact that sqrt —
    * unlike ln/exp — is REQUIRED to be exactly rounded). The |z| DESC
    * ordering therefore agrees bitwise too; doc_id breaks ties.
    *
    * Scale: one map-side partial-agg pass for the per-group moments
    * (|langs| rows, broadcast back), one stateless projection, one
    * TakeOrderedAndProject for the top-20 — no window, no sort of the
    * corpus. */
  def lengthOutliers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val moments = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
    docs.join(broadcast(moments), "lang")
      .withColumn("z_raw",
        (col("n_chars") * col("n") - col("s1")).cast("double") /
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")))
      // flag and ordering BOTH use the raw (bit-identical) z; the
      // 6-dp rounding is display-only
      .withColumn("is_outlier", abs(col("z_raw")) > 3.0)
      .orderBy(abs(col("z_raw")).desc, col("doc_id").asc)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("z_raw"), 6).as("z"), col("is_outlier"))
      .limit(20)
  }

  /** MAD outlier fence: |x − med| > MadFence · MAD, with MadFence =
    * 3 · 1.4826 (the normal-consistency constant σ ≈ 1.4826·MAD, so the
    * fence is the robust analog of q02's 3σ). Written as ONE literal so
    * both engines multiply the identical double — a 3·1.4826 product
    * would be engine-parse-order dependent (DuckDB parses bare decimal
    * literals as DECIMAL; the b27 lesson). */
  val MadFence = 4.4478

  /** q03: robust outlier detection via the median absolute deviation —
    * the companion audit to q02's z-scores for the case q02 can't
    * handle: mean and stddev are themselves dragged by the outliers
    * they're supposed to flag (one 10⁶× corrupt value inflates σ until
    * nothing is 3σ out), while median and MAD have a 50% breakdown
    * point. Per event_type: median of `value`, MAD, and the count
    * outside the [[MadFence]] fence.
    *
    * Cross-engine exactness: both medians are RANK-SELECTED data values
    * (b21's integer-rank trick, lower median at rn = (n+1) div 2) — no
    * interpolation; the deviation |x − med| is one IEEE subtraction
    * (correctly rounded, bit-identical in any engine) of two exact
    * inputs, so the second rank selection orders identical doubles; the
    * fence compare multiplies the same two doubles on both sides.
    * 6-dp rounding on the reported median/MAD is display-only.
    *
    * Scale shape: two ranking windows partitioned by event_type (the
    * exact-robust-stats cost — each is one shuffle on the group key,
    * and WindowGroupLimit-style partial sorts don't apply because the
    * median needs full ranks) plus two broadcast joins of the tiny
    * per-group tables. At 100 TB the same query runs with groups
    * spread across executors; if even per-group sorts are too hot, the
    * b35 KMV rank sketch is the mergeable one-pass approximation of
    * exactly these medians. */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val byT = Window.partitionBy(col("event_type"))
    val wv = byT.orderBy(col("value").asc, col("event_id").asc)
    val med = ev
      .withColumn("rn", row_number().over(wv))
      .withColumn("n", count(lit(1)).over(byT))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("value"))).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val wd = byT.orderBy(col("dev").asc, col("event_id").asc)
    val mad = dev
      .withColumn("rn", row_number().over(wd))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("dev"))).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        round(max(col("med")), 6).as("median_v"),
        round(max(col("mad")), 6).as("mad_v"),
        count(when(col("dev") > lit(MadFence) * col("mad"), lit(1)))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** q04: corpus-composition drift — the chi-square independence
    * statistic of the lang × source contingency table, the monitoring
    * scalar a data pipeline alarms on when a crawl source suddenly
    * changes language mix (or vice versa). Everything before the final
    * display divide is EXACT BIGINT arithmetic: using
    * chi2 = N·(Σ o²/(rt·ct) − 1), each cell contributes
    * (o²·10⁶) div (rt·ct) in micro-units — o ≤ min(rt, ct) bounds every
    * per-cell value at 10⁶, the summation is an order-independent
    * integer sum (the d13/g02 quantization trick — a double Σ over 100
    * cells would be summation-order-dependent and fork the engines),
    * and the grand total N·(Σ − 10⁶) stays far under 2⁶³. Scale: the
    * contingency table is |langs|·|sources| rows — group-by shuffles of
    * count pairs with map-side partial aggregation, then broadcast-size
    * marginals; the statistic never touches base rows twice. At
    * extreme corpus sizes the o²·10⁶ product is the first to overflow
    * (N ≳ 3·10⁶ per cell) — there the same statistic runs on a
    * uniform row sample (s01/s09) without changing the contract. */
  def chiSquareDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val o = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rt = o.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val ct = o.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = docs.agg(count(lit(1)).as("n"))
    val sumContrib = o.join(broadcast(rt), "lang").join(broadcast(ct), "source")
      .select(expr("(o * o * 1000000) div (rt * ct)").as("contrib"))
      .agg(sum(col("contrib")).as("sum_contrib"))
    sumContrib.crossJoin(broadcast(n))
      .crossJoin(broadcast(rt.agg(count(lit(1)).as("n_langs"))))
      .crossJoin(broadcast(ct.agg(count(lit(1)).as("n_sources"))))
      .select(col("n").as("n_docs"), col("n_langs"), col("n_sources"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
        round((col("n") * (col("sum_contrib") - 1000000L)).cast("double") /
          lit(1000000.0), 6).as("chi2"))
  }

  /** Columns profiled by q05 (strings/ints/integral doubles: their
    * string casts — the hash input AND the min/max display — are
    * identical across engines; fractional doubles would gamble on
    * shortest-round-trip formatting corners). */
  private val StatCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")

  /** q05: ANALYZE-style column profiling — the statistics pass every
    * cost-based optimizer and every data catalog runs: per column, row
    * count, null count, exact NDV, a KMV-sketch NDV estimate, and
    * min/max. ONE scan computes all of it: per-column aggregates live
    * in a single wide aggregation row (count/min/max are plain partial
    * aggs; the KMV sketches are k-long mergeable states — b09b's
    * machinery pointed at seven columns at once), which `stack` then
    * unpivots to the one-row-per-column catalog shape. The exact NDVs
    * are the validation twin (they force a 7-way expand, the documented
    * cost of exact distinct); a production run at 100 TB keeps only the
    * sketch column — single pass, no expand, (7·k) longs of state.
    * Sub-k columns: kmv_kth is NULL below k, where the sketch IS exact,
    * so the estimate falls back to the exact count — both branches are
    * live on this column set and the CASE is spelled identically in the
    * oracle. */
  def columnStats(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{HashExpressions, KmvAgg}
    val li = Tables.lineitem(s, d)
    // TWO aggregates, not one: mixing 7 countDistincts with the other
    // 35 aggregates puts an Expand(×7) under ALL of them, so every
    // (non-codegen) KMV update ran on 4.2M gated rows instead of 600k
    // — measured 12.5 s. Split, the distinct-only aggregate keeps its
    // expand but carries just 7 cheap codegen counts, and the sketch/
    // min/max pass is a single expand-free scan (2.6 s total). The
    // one-row results recombine by broadcast cross join.
    val plainAggs = Seq(count(lit(1)).as("n_rows")) ++ StatCols.flatMap { c =>
      val h = HashExpressions.mix64(s,
        HashExpressions.fnv1a64(s, col(c).cast("string")))
      Seq(
        count(col(c)).as(s"nn_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"),
        KmvAgg.kmv_kth(s, h, Relational.KmvK).as(s"f_$c"))
    }
    val ndvAggs = StatCols.map(c =>
      countDistinct(col(c)).cast("long").as(s"nd_$c"))
    val wide = li.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(broadcast(li.agg(ndvAggs.head, ndvAggs.tail: _*)))
    val stackArgs = StatCols.map(c =>
      s"'$c', n_rows - nn_$c, nd_$c, mn_$c, mx_$c, f_$c").mkString(", ")
    wide.selectExpr("n_rows",
      s"stack(${StatCols.size}, $stackArgs)" +
        " AS (col_name, n_nulls, ndv_exact, min_s, max_s, f)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("ndv_exact"),
        when(col("f").isNull, col("ndv_exact").cast("double"))
          .otherwise(round(lit((Relational.KmvK - 1).toDouble) /
            (col("f").cast("double") * lit(math.pow(2, -64)) + lit(0.5)), 6))
          .as("ndv_kmv"),
        col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
  }

  /** q06: winsorized + trimmed means — where q02/q03 FLAG outliers,
    * this is the repair tier that bounds their influence: clamp each
    * value into [p10, p90] (winsorize) or drop everything outside
    * (trim), then average. The cut points are rank-SELECTED data values
    * (b21's (p·(n−1)) div 100 + 1 lower-percentile rank, pure integer),
    * clamping is least/greatest on raw doubles (no arithmetic), and
    * every mean is an exact lossless DECIMAL(9,2) sum with ONE double
    * divide (the b07 avg discipline) — nothing can fork the engines.
    * Clamped-row counts make the live outlier influence visible.
    * Scale: one rank window per group (the exact-percentile cost, same
    * frame as q03) + a broadcast of the per-group cut points into a
    * single re-scan — two passes total; b35's KMV sketch is the
    * one-pass mergeable approximation when even that is too hot. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val byT = Window.partitionBy(col("event_type"))
    val wv = byT.orderBy(col("value").asc, col("event_id").asc)
    val cuts = ev
      .withColumn("rn", row_number().over(wv))
      .withColumn("n", count(lit(1)).over(byT))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(10 * (n - 1)) div 100 + 1"),
          col("value"))).as("p10_v"),
        max(when(col("rn") === expr("(90 * (n - 1)) div 100 + 1"),
          col("value"))).as("p90_v"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("cl", least(greatest(col("value"), col("p10_v")), col("p90_v")))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(col("p10_v")).as("p10_v"), max(col("p90_v")).as("p90_v"),
        round(expr("CAST(sum(CAST(value AS DECIMAL(9,2))) AS DOUBLE)") /
          count(lit(1)), 6).as("mean_raw"),
        round(expr("CAST(sum(CAST(cl AS DECIMAL(9,2))) AS DOUBLE)") /
          count(lit(1)), 6).as("mean_winsor"),
        round(expr("CAST(sum(CASE WHEN value >= p10_v AND value <= p90_v" +
          " THEN CAST(value AS DECIMAL(9,2)) END) AS DOUBLE)") /
          count(when(col("value") >= col("p10_v") &&
            col("value") <= col("p90_v"), 1)), 6).as("mean_trim"),
        count(when(col("value") < col("p10_v"), 1)).as("n_lo"),
        count(when(col("value") > col("p90_v"), 1)).as("n_hi"))
      .orderBy(col("event_type"))
  }

  /** q07: SEASONALITY-ADJUSTED anomaly detection — the monitor that
    * answers "was 3 pm on Tuesday unusually busy *for a Tuesday 3 pm*".
    * A raw hourly threshold (d17's shape) fires every daily peak; the
    * right baseline is d23's seasonality profile. Composition: hourly
    * event counts → per-(day-of-week, hour-of-day) EXACT integer moments
    * (m, Σn, Σn²) across the weeks of the corpus → each concrete hour
    * scored z = (n·m − s1)/√(m·s2 − s1²) against its own seasonal
    * bucket — q02's bit-exact z discipline (integer numerator,
    * correctly-rounded sqrt/divide) on d23's grouping. Buckets with
    * fewer than 2 observed hours or zero variance cannot be scored and
    * are excluded IDENTICALLY in both engines (an explicit integer
    * predicate, not a NaN side-effect). Top-20 by |z| with the hour as
    * tie-break.
    *
    * Scale: one keyed aggregate to hours (the only pass over events),
    * one 168-row profile aggregate, one broadcast join-back — the
    * z-scoring never re-touches the event stream. */
  /** Session cache for q07's hourly aggregate: it feeds both the profile
    * build and the join probe side, and Spark does not reuse aliased
    * subtrees (the cdcCache/shingleIndex lesson) — uncached, the events
    * scan + hourly aggregate ran twice per query. */
  private val hourlyCache = new graft.PersistedCache(this)

  /** Drop cached Quality state (tests / long-lived sessions). */
  def clearCache(): Unit = graft.PersistedCache.clear(this)

  def seasonalOutliers(s: SparkSession, d: String): DataFrame = {
    val hourly = hourlyCache.getOrBuild(s, s"hourly:$d") {
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"))
        .select(col("hour_start"), col("n"),
          dayofweek(col("hour_start")).as("dow"),
          hour(col("hour_start")).as("hod"))
    }
    val profile = hourly.groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("m"),
        sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
    hourly.join(broadcast(profile), Seq("dow", "hod"))
      .where(col("m") >= 2 && col("m") * col("s2") - col("s1") * col("s1") > 0)
      .withColumn("z_raw",
        (col("n") * col("m") - col("s1")).cast("double") /
          sqrt((col("m") * col("s2") - col("s1") * col("s1")).cast("double")))
      .orderBy(abs(col("z_raw")).desc, col("hour_start").asc)
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("dow"), col("hod"), col("n"), col("m"),
        round(col("z_raw"), 6).as("z"))
      .limit(20)
  }

  /** Benford first-digit expectation in ppm per digit 1..9 — the SAME
    * integer constants are baked into the Spark plan and the DuckDB
    * oracle (computing log10(1+1/d) at runtime would bet on two libm
    * implementations rounding identically; hardcoding the 9 published
    * constants removes float parity from the contract entirely). */
  private[graft] val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Q08: Benford first-significant-digit audit — the classic fabricated-
    * data / corrupted-feed detector: naturally-grown multiplicative
    * quantities follow log10(1+1/d) first-digit frequencies, and a feed
    * whose digits drift from its own baseline (or sit suspiciously flat,
    * as TPC-H's uniform synthetic prices do) is flagged for review.
    * Digits are derived in exact integer arithmetic: price → cents
    * (round(p·100) — 2-decimal prices sit ~1e-10 from the integer, so
    * both engines land on the same BIGINT) → leading digit via decimal
    * string, never float log10. Observed shares are integer ppm against
    * a broadcast scalar total; expectation is the shared constant table.
    *
    * Scale: map-side digit projection, a 9-group aggregate with map-side
    * partials, one broadcast scalar — nothing grows with the table. */
  def benfordAudit(s: SparkSession, d: String): DataFrame = {
    val expCase = BenfordPpm
      .map { case (dg, ppm) => s"WHEN $dg THEN ${ppm}L" }
      .mkString("CASE digit ", " ", " END")
    val digits = Tables.lineitem(s, d)
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
    val total = digits.agg(count(lit(1)).as("total"))
    digits.groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("obs_ppm", expr("(n * 1000000) DIV total"))
      .withColumn("exp_ppm", expr(expCase))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"))
      .orderBy(col("digit"))
  }

  /** Q09: two-sample Kolmogorov–Smirnov drift per stratum — each
    * event_type's value distribution against the pooled corpus, the
    * distribution-shift audit run between ingest drops (χ² (q04) sees
    * only categorical composition; KS sees any shape change in a
    * numeric column: a new client version that doubles basket sizes
    * moves KS long before the mean alarms).
    *
    * Exactness: D = max_x |F_t(x) − F(x)| needs the ECDFs at every
    * pooled observation point. Values are mapped to cents (exact BIGINT,
    * the q08 argument), the comparison is cross-multiplied —
    * |c_t(x)·N − C(x)·n_t| over BIGINTs — so the max and the final ppm
    * are integer-exact; no float ECDFs, no libm.
    *
    * Scale shape: one (type, cents) count shuffle collapses the table to
    * the VALUE DOMAIN (bounded: cents of a bounded metric), the
    * domain×type grid restores the points a stratum never observed, and
    * the per-type cumulative runs as a window partitioned by type over
    * domain-sized partitions. The pooled ECDF is derived by summing the
    * per-type cumulatives (a domain-keyed aggregate) — no global
    * single-partition window anywhere. */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    // The per-type cumulative table feeds FOUR consumers (pooled ECDF,
    // per-type totals, grand total, final join probe) and Spark does not
    // reuse aliased subtrees — cached, events is scanned exactly once
    // per (session, dataset); the q07/hourlyCache lesson.
    val cum = hourlyCache.getOrBuild(s, s"ks_cum:$d") {
      val byTC = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("n"))
      val types = byTC.select(col("event_type")).distinct()
      val domain = byTC.select(col("cents")).distinct()
      domain.crossJoin(broadcast(types))
        .join(byTC, Seq("event_type", "cents"), "left")
        .select(col("event_type"), col("cents"),
          coalesce(col("n"), lit(0L)).as("n"))
        .withColumn("c", sum(col("n")).over(
          Window.partitionBy(col("event_type")).orderBy(col("cents"))))
    }
    // everything else derives from the cached cumulative: the pooled
    // ECDF is the sum of per-type cumulatives, a type's total is its
    // max cumulative, and the grand total is the sum of those
    val tot = cum.groupBy(col("cents")).agg(sum(col("c")).as("ctot"))
    val nT = cum.groupBy(col("event_type")).agg(max(col("c")).as("n_t"))
    val nAll = nT.agg(sum(col("n_t")).as("n_all"))
    cum.join(tot, "cents")
      .join(broadcast(nT), "event_type")
      .crossJoin(broadcast(nAll))
      .groupBy(col("event_type"))
      .agg(max(col("n_t")).as("n_type"), max(col("n_all")).as("n_total"),
        // cross-multiplies in DECIMAL(38,0): c*n_all reaches n_type*n_total,
        // which exceeds BIGINT once n_type*n_total > ~9.2e18 products — a few
        // million events. Spark would wrap silently (non-ANSI) while DuckDB
        // errors, so both engines compute the numerator exact and wide.
        max(abs(col("c").cast("decimal(38,0)") * col("n_all") -
          col("ctot").cast("decimal(38,0)") * col("n_t"))).as("raw"))
      .select(col("event_type"), col("n_type"), col("n_total"),
        expr("raw * 1000000 DIV (CAST(n_type AS DECIMAL(38,0)) * n_total)")
          .as("ks_ppm"))
      .orderBy(col("event_type"))
  }

  /** Q10: CUSUM change-point detection per stratum — WHERE in time a
    * series' level shifted, completing the drift family: q04 (χ², did
    * the categorical mix move), q09 (KS, did a numeric distribution's
    * shape move), q10 (WHEN did the rate move). The classic CUSUM
    * estimator: S_k = Σ_{i≤k}(x_i − μ) peaks at the change point; kept
    * in exact integers by scaling through the day count — D·S_k =
    * D·C_k − k·T over BIGINTs (C_k cumulative, T total, D days), so
    * argmax and magnitude are engine-exact, ties to the earliest day.
    *
    * Scale: one keyed aggregate collapses events to (type, day) — the
    * only pass over the stream; every window after that runs on the
    * day-bounded table. */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("ck", sum(col("x")).over(wOrd))
      .withColumn("k", row_number().over(wOrd))
      .withColumn("t", sum(col("x")).over(wAll))
      .withColumn("nd", count(lit(1)).over(wAll))
      // D·C_k and k·T in DECIMAL(38,0): both reach days×total, past BIGINT
      // range on a large-enough stream (DuckDB's windowed sums are already
      // HUGEINT on its side; this keeps Spark equally exact).
      .withColumn("dev", abs(col("nd").cast("decimal(38,0)") * col("ck") -
        col("k").cast("decimal(38,0)") * col("t")))
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(col("dev").desc, col("day").asc)
    scored.withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
      .select(col("event_type"), col("nd").as("n_days"), col("t").as("total"),
        date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
        col("dev").cast("long").as("peak_dev"),
        expr("dev * 1000000 DIV (CAST(nd AS DECIMAL(38,0)) * t)")
          .as("dev_ppm"))
      .orderBy(col("event_type"))
  }

  /** Q11: Simpson diversity of the corpus composition — the
    * concentration dashboard a data-mixing pipeline watches: Simpson's
    * λ = Σ nᵢ(nᵢ−1)/(N(N−1)) is the probability two random rows share
    * a category, Gini–Simpson 1−λ the diversity, and N(N−1)/Σnᵢ(nᵢ−1)
    * the EFFECTIVE number of categories (5 balanced languages → 5.0;
    * one dominating → →1). Chosen over Shannon entropy deliberately:
    * Simpson is a RATIONAL statistic — exact integer ppm on both
    * engines — where entropy would put libm's log into the contract.
    *
    * Scale: one keyed count per audited dimension + a k-row fold;
    * nothing grows past the category count. */
  def simpsonDiversity(s: SparkSession, d: String): DataFrame = {
    def dim(df: DataFrame, c: String, name: String): DataFrame =
      df.groupBy(col(c)).agg(count(lit(1)).as("ni"))
        // s2 and every ppm numerator in DECIMAL(38,0): s2 ≤ N² and
        // s2·10⁶ leaves BIGINT range near N ≈ 3M rows; DuckDB's integer
        // sums are HUGEINT already, so wide decimals keep the two engines
        // exact-equal instead of silently diverging at scale.
        .agg(sum(col("ni")).as("n"), count(lit(1)).as("k"),
          sum(col("ni").cast("decimal(38,0)") * (col("ni") - 1)).as("s2"))
        .select(lit(name).as("dim"), col("n").as("n_rows"),
          col("k").as("n_categories"),
          expr("s2 * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * (n - 1))")
            .as("simpson_ppm"),
          expr("1000000 - s2 * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * (n - 1))")
            .as("gini_simpson_ppm"),
          expr("CASE WHEN s2 = 0 THEN NULL " +
            "ELSE CAST(n AS DECIMAL(38,0)) * (n - 1) * 1000000 DIV s2 END")
            .as("eff_categories_ppm"))
    val docs = Tables.documents(s, d)
    dim(docs, "lang", "doc_lang")
      .unionAll(dim(docs, "source", "doc_source"))
      .unionAll(dim(Tables.events(s, d), "event_type", "event_type"))
      .orderBy(col("dim"))
  }

  /** q12: Gini concentration audit — "does 1% of the documents carry
    * half the characters?": the inequality coefficient of per-document
    * length within each language, the corpus-balance number a curation
    * dashboard tracks beside q11's Simpson diversity (q11 asks how
    * evenly CATEGORIES are represented; q12 asks how evenly VOLUME is
    * spread across members). Exact integer form of the rank formula
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) in ppm, ranks ascending by
    * length.
    *
    * Scale shape — no global sort anywhere: n_chars has a bounded
    * domain, so the rank sum is computed from the per-(lang, value)
    * count table (tiny) — a value-block holding c members after cb
    * predecessors contributes ranks cb+1..cb+c, i.e.
    * Σ i·x = Σ_v v·(c·cb + c(c+1)/2) — the d25/s12 two-phase
    * order-statistic trick. The only window runs over the value-domain
    * table, and the ppm numerators ride DECIMAL(38,0) (the q09/q11
    * overflow doctrine: Σi·x·10⁶ exits BIGINT near 10⁷ docs). */
  def giniAudit(s: SparkSession, d: String): DataFrame = {
    val vc = Tables.documents(s, d)
      .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = vc.withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
    cum.groupBy(col("lang")).agg(
        sum(col("c")).as("n"),
        sum(col("n_chars") * col("c")).as("sum_chars"),
        sum(expr("CAST(n_chars AS DECIMAL(38,0)) * " +
          "(c * cb + (c * (c + 1)) DIV 2)")).as("six"))
      .select(col("lang"), col("n"), col("sum_chars"),
        expr("CAST((2 * six - (CAST(n AS DECIMAL(38,0)) + 1) * sum_chars)" +
          " * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * sum_chars)" +
          " AS BIGINT)").as("gini_ppm"))
      .orderBy(col("lang"))
  }

  /** q13: Spearman rank agreement between two shipped quality signals —
    * c33's bigram-LM fluency score and c46's DSIR importance weight,
    * over their common domain (non-target docs with ≥2 tokens). The
    * audit every multi-signal curation pipeline needs: if two scorers
    * rank the corpus near-independently (ρ ≈ 0) they are complementary
    * filters; ρ ≈ 1 means one is redundant; ρ < 0 means they fight.
    * Spearman over Pearson deliberately: rank correlation is invariant
    * to each signal's arbitrary monotone scaling (nano vs ppm units),
    * which is exactly the comparison one wants between heterogeneous
    * scores.
    *
    * Exactness: tie-averaged ranks are kept as exact integers by
    * DOUBLING them (r2 = 2·cb + c + 1 for a value with c members after
    * cb predecessors — the doubling cancels in Pearson), moments ride
    * DECIMAL(38,0) (the g04 overflow lesson: each variance factor is
    * guarded positive separately), and the only IEEE arithmetic is the
    * one final cast/divide/sqrt sequence, written in the same order in
    * both engines.
    *
    * Scale shape: the rank windows run over the per-VALUE count tables
    * (the q12 two-phase order-statistic trick), never over the corpus;
    * everything else is two equi-joins and one global moment aggregate
    * (map-side partials, six numbers per partition). */
  def spearmanAudit(s: SparkSession, d: String): DataFrame = {
    val j = TextOps.lmScore(s, d).select(col("doc_id"), col("score_nano"))
      .join(TextOps.dsirWeights(s, d).select(col("doc_id"), col("score_ppm")),
        "doc_id")
    // r18 (guide §2, VERDICT r17 item 5): the running-count window here
    // had no PARTITION BY, so WindowExec moved the whole per-value count
    // table to ONE partition — and distinct score values grow with the
    // corpus (nano-scale scores are near-unique), making this a
    // single-task sort of ~n rows at scale. The range-partitioned
    // two-pass prefix sum computes the identical strictly-before count
    // with no single-partition exchange.
    def ranked2(vcol: String, out: String): DataFrame = {
      val vc = j.groupBy(col(vcol)).agg(count(lit(1)).as("c"))
      PrefixSum.strictlyBefore(vc, Seq(vcol), "c", "cb",
        graft.Tables.parallelism(s))
        .select(col(vcol), (lit(2L) * col("cb") + col("c") + 1).as(out))
    }
    j.join(ranked2("score_nano", "rx"), "score_nano")
      .join(ranked2("score_ppm", "ry"), "score_ppm")
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast("decimal(38,0)")).as("sx"),
        sum(col("ry").cast("decimal(38,0)")).as("sy"),
        sum(col("rx").cast("decimal(38,0)") * col("ry")).as("sxy"),
        sum(col("rx").cast("decimal(38,0)") * col("rx")).as("sxx"),
        sum(col("ry").cast("decimal(38,0)") * col("ry")).as("syy"))
      .select(col("n").as("n_docs"),
        when(expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx") > 0 &&
             expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy") > 0,
          round(expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy" +
              " AS DOUBLE)") /
            sqrt(expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx" +
                " AS DOUBLE)") *
              expr("CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy" +
                " AS DOUBLE)")), 6))
          .otherwise(lit(0.0)).as("spearman_rho"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q13_spearman" -> (spearmanAudit _),
    "q12_gini" -> (giniAudit _),
    "q08_benford" -> (benfordAudit _),
    "q09_ks_drift" -> (ksDrift _),
    "q10_cusum_changepoint" -> (cusumChangepoint _),
    "q11_simpson_diversity" -> (simpsonDiversity _),
    "q01_constraints" -> (constraintChecks _),
    "q02_outliers" -> (lengthOutliers _),
    "q03_mad_outliers" -> (madOutliers _),
    "q04_drift" -> (chiSquareDrift _),
    "q05_column_stats" -> (columnStats _),
    "q06_winsorize" -> (winsorize _),
    "q07_seasonal_outliers" -> (seasonalOutliers _))

  // passed derives from the counted value inside a subquery so the
  // (possibly expensive) violations query evaluates ONCE per rule —
  // DuckDB does not CSE repeated uncorrelated scalar subqueries.
  private def ruleSql(name: String, checked: String, violations: String) =
    s"""SELECT rule, n_checked, n_violations,
       |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
       |FROM (SELECT '$name' AS rule,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ($checked)) AS n_checked,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ($violations))
       |    AS n_violations)""".stripMargin

  // q05 oracle: the same seven-column profile in one wide aggregate,
  // with the KMV k-th hash reproduced in HUGEINT mod-2^64 arithmetic
  // over a LONG-format (col_name, value-string) table — one staged hash
  // pipeline partitioned by col_name instead of seven copies (the b09b
  // staging discipline: fnv into a column first, or the expanded
  // expression tree overflows a DuckDB worker stack).
  private def q05Sql: String = {
    val dvBranches = StatCols.map(c =>
      s"SELECT DISTINCT '$c' AS col_name, CAST($c AS VARCHAR) AS t FROM lineitem")
      .mkString("\n    UNION ALL ")
    val wideCols = StatCols.zipWithIndex.map { case (c, i) =>
      s"count($c) AS nn$i, CAST(count(DISTINCT $c) AS BIGINT) AS nd$i,\n" +
      s"  CAST(min($c) AS VARCHAR) AS mn$i, CAST(max($c) AS VARCHAR) AS mx$i"
    }.mkString(",\n  ")
    val longBranches = StatCols.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS col_name, n_rows, n_rows - nn$i AS n_nulls, " +
      s"nd$i AS ndv_exact, mn$i AS min_s, mx$i AS max_s FROM wide"
    }.mkString("\n  UNION ALL ")
    s"""WITH dv AS (
       |  SELECT col_name, t FROM (
       |    $dvBranches) WHERE t IS NOT NULL),
       |fv AS (SELECT col_name, (${TextOps.fnvFold(TextOps.FnvOffU)}) AS h0
       |       FROM dv),
       |m1 AS (SELECT col_name, ${TextOps.mix64Xs33("h0")} AS h1 FROM fv),
       |m2 AS (SELECT col_name, ${TextOps.mix64MulMod("h1",
                TextOps.Mix64C1._1, TextOps.Mix64C1._2)} AS h2 FROM m1),
       |m3 AS (SELECT col_name, ${TextOps.mix64Xs33("h2")} AS h3 FROM m2),
       |m4 AS (SELECT col_name, ${TextOps.mix64MulMod("h3",
                TextOps.Mix64C2._1, TextOps.Mix64C2._2)} AS h4 FROM m3),
       |hv AS (SELECT col_name, ${TextOps.mix64Xs33("h4")} AS u FROM m4),
       |du AS (SELECT DISTINCT col_name, u FROM hv),
       |rk AS (SELECT col_name, u,
       |         row_number() OVER (PARTITION BY col_name ORDER BY u) AS rn
       |       FROM du),
       |kth AS (SELECT col_name, CAST(u - ${TextOps.H63} AS BIGINT) AS f
       |        FROM rk WHERE rn = ${Relational.KmvK}),
       |wide AS (SELECT count(*) AS n_rows,
       |  $wideCols
       |  FROM lineitem),
       |lng AS (
       |  $longBranches)
       |SELECT l.col_name, l.n_rows, l.n_nulls, l.ndv_exact,
       |  CASE WHEN k.f IS NULL THEN CAST(l.ndv_exact AS DOUBLE)
       |       ELSE round(CAST(${Relational.KmvK - 1} AS DOUBLE) /
       |                  (CAST(k.f AS DOUBLE) * power(2.0, -64) + 0.5), 6)
       |  END AS ndv_kmv,
       |  l.min_s, l.max_s
       |FROM lng l LEFT JOIN kth k USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q13: the c33 chain (score_nano per doc) + the c46 chain (score_ppm
    // per out-of-target doc) joined on their common domain, tie-averaged
    // DOUBLED ranks from the per-value count tables, HUGEINT moments
    // (the engine's DECIMAL(38,0)), and the identical single IEEE
    // cast/divide/sqrt tail
    "q13_spearman" -> {
      val hb = s"((${TextOps.toSigned(TextOps.fnvFold(TextOps.FnvOffU))}" +
        s" % ${TextOps.DsirBuckets}) + ${TextOps.DsirBuckets})" +
        s" % ${TextOps.DsirBuckets}"
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |c1 AS (SELECT w, count(*) AS c1
         |       FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
         |vv AS (SELECT count(*) AS v FROM c1),
         |sp AS (
         |  SELECT doc_id, split_part(bgm, ' ', 1) AS w1,
         |         split_part(bgm, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |          i -> t[i] || ' ' || t[i+1])) AS bgm FROM tk)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM sp GROUP BY w1, w2),
         |qq AS (
         |  SELECT sp.doc_id,
         |    (1000000000 * (c12.c12 + 1)) // (c1.c1 + vv.v) AS q
         |  FROM sp JOIN c12 USING (w1, w2)
         |  JOIN c1 ON sp.w1 = c1.w CROSS JOIN vv),
         |lm AS (
         |  SELECT doc_id,
         |    CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT)
         |      AS score_nano
         |  FROM qq GROUP BY doc_id),
         |dt AS MATERIALIZED (
         |  SELECT doc_id, lang, $hb AS b FROM (
         |    SELECT doc_id, lang,
         |      'dsir:' || unnest(string_split(text, ' ')) AS t
         |    FROM documents) x),
         |cc AS (SELECT b, CAST(count(*) AS BIGINT) AS cc
         |       FROM dt GROUP BY b),
         |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
         |       FROM dt WHERE lang = '${TextOps.DsirTargetLang}' GROUP BY b),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nc,
         |    CAST(count(CASE WHEN lang = '${TextOps.DsirTargetLang}'
         |      THEN 1 END) AS BIGINT) AS nt
         |  FROM dt),
         |model AS (
         |  SELECT cc.b,
         |    CAST(CAST(coalesce(ct.ct, 0) + 1 AS HUGEINT)
         |        * (nc + ${TextOps.DsirBuckets}) * 1000000
         |      // (CAST(cc.cc + 1 AS HUGEINT) * (nt + ${TextOps.DsirBuckets}))
         |      AS BIGINT) AS lift_ppm
         |  FROM cc LEFT JOIN ct ON cc.b = ct.b CROSS JOIN tot),
         |ds AS (
         |  SELECT dt.doc_id,
         |    CAST(CAST(sum(m.lift_ppm) AS HUGEINT) // count(*) AS BIGINT)
         |      AS score_ppm
         |  FROM dt JOIN model m USING (b)
         |  WHERE dt.lang <> '${TextOps.DsirTargetLang}'
         |  GROUP BY dt.doc_id),
         |j AS MATERIALIZED (
         |  SELECT lm.doc_id, lm.score_nano, ds.score_ppm
         |  FROM lm JOIN ds ON lm.doc_id = ds.doc_id),
         |vx AS (
         |  SELECT score_nano, count(*) AS c,
         |    coalesce(sum(count(*)) OVER (ORDER BY score_nano
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM j GROUP BY score_nano),
         |vy AS (
         |  SELECT score_ppm, count(*) AS c,
         |    coalesce(sum(count(*)) OVER (ORDER BY score_ppm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM j GROUP BY score_ppm),
         |rr AS (
         |  SELECT j.doc_id,
         |    CAST(2 * vx.cb + vx.c + 1 AS BIGINT) AS rx,
         |    CAST(2 * vy.cb + vy.c + 1 AS BIGINT) AS ry
         |  FROM j JOIN vx USING (score_nano) JOIN vy USING (score_ppm)),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
         |    CAST(sum(rx * ry) AS HUGEINT) AS sxy,
         |    CAST(sum(rx * rx) AS HUGEINT) AS sxx,
         |    CAST(sum(ry * ry) AS HUGEINT) AS syy
         |  FROM rr)
         |SELECT n AS n_docs,
         |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0
         |        AND CAST(n AS HUGEINT) * syy - sy * sy > 0
         |    THEN round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
         |           * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 6)
         |    ELSE 0.0 END AS spearman_rho
         |FROM mo""".stripMargin
    },
    // the identical bounded-domain rank-sum chain; HUGEINT is DuckDB's
    // native wide integer (the engine's DECIMAL(38,0)), // ≡ DIV on the
    // non-negative Gini numerator
    "q12_gini" ->
      """WITH vc AS (
        |  SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (
        |  SELECT lang, n_chars, c,
        |    coalesce(sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM vc),
        |agg AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(n_chars * c) AS BIGINT) AS sum_chars,
        |    sum(CAST(n_chars AS HUGEINT) * (c * cb + (c * (c + 1)) // 2))
        |      AS six
        |  FROM cum GROUP BY lang)
        |SELECT lang, n, sum_chars,
        |  CAST((2 * six - (CAST(n AS HUGEINT) + 1) * sum_chars) * 1000000
        |    // (CAST(n AS HUGEINT) * sum_chars) AS BIGINT) AS gini_ppm
        |FROM agg ORDER BY lang""".stripMargin,
    // q11: identical rational Simpson arithmetic per audited dimension;
    // // ≡ DIV on non-negative operands, same zero guard
    "q11_simpson_diversity" -> {
      def dimSql(table: String, c: String, name: String) =
        s"""SELECT '$name' AS dim, CAST(sum(ni) AS BIGINT) AS n_rows,
           |  count(*) AS n_categories,
           |  CAST(sum(CAST(ni AS HUGEINT) * (ni - 1)) * 1000000
           |    // (sum(ni) * (sum(ni) - 1)) AS BIGINT) AS simpson_ppm,
           |  CAST(1000000 - sum(CAST(ni AS HUGEINT) * (ni - 1)) * 1000000
           |    // (sum(ni) * (sum(ni) - 1)) AS BIGINT) AS gini_simpson_ppm,
           |  CAST(CASE WHEN sum(CAST(ni AS HUGEINT) * (ni - 1)) = 0 THEN NULL
           |    ELSE sum(ni) * (sum(ni) - 1) * 1000000
           |      // sum(CAST(ni AS HUGEINT) * (ni - 1)) END AS BIGINT)
           |    AS eff_categories_ppm
           |FROM (SELECT $c, count(*) AS ni FROM $table GROUP BY $c) g"""
          .stripMargin
      s"""${dimSql("documents", "lang", "doc_lang")}
         |UNION ALL
         |${dimSql("documents", "source", "doc_source")}
         |UNION ALL
         |${dimSql("events", "event_type", "event_type")}
         |ORDER BY dim""".stripMargin
    },
    // q10: identical day truncation of the shared second-floored ts,
    // identical D-scaled integer CUSUM, same (dev desc, day asc) pick
    "q10_cusum_changepoint" ->
      s"""WITH daily AS (
         |  SELECT event_type, date_trunc('day', ${EventOps.duckSecTs}) AS day,
         |    count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |scored AS (
         |  SELECT event_type, day,
         |    sum(x) OVER (PARTITION BY event_type ORDER BY day) AS ck,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         |    sum(x) OVER (PARTITION BY event_type) AS t,
         |    count(*) OVER (PARTITION BY event_type) AS nd
         |  FROM daily),
         |dev AS (
         |  SELECT event_type, day, nd, t, abs(nd * ck - k * t) AS dev,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY abs(nd * ck - k * t) DESC, day ASC) AS rn
         |  FROM scored)
         |SELECT event_type, CAST(nd AS BIGINT) AS n_days,
         |  CAST(t AS BIGINT) AS total,
         |  strftime(day, '%Y-%m-%d') AS peak_day,
         |  CAST(dev AS BIGINT) AS peak_dev,
         |  CAST(dev * 1000000 // (nd * t) AS BIGINT) AS dev_ppm
         |FROM dev WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // q09: identical cents derivation (q08's round-to-BIGINT argument),
    // identical domain×type grid, cross-multiplied integer ECDF compare;
    // // ≡ DIV on the non-negative operands
    "q09_ks_drift" ->
      """WITH cents AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |bytc AS (SELECT event_type, cents, count(*) AS n
        |         FROM cents GROUP BY event_type, cents),
        |grid AS (
        |  SELECT t.event_type, d.cents
        |  FROM (SELECT DISTINCT cents FROM bytc) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM bytc) t),
        |filled AS (
        |  SELECT g.event_type, g.cents, coalesce(b.n, 0) AS n
        |  FROM grid g LEFT JOIN bytc b USING (event_type, cents)),
        |cum AS (
        |  SELECT event_type, cents,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS BIGINT) AS c
        |  FROM filled),
        |tot AS (SELECT cents, CAST(sum(c) AS BIGINT) AS ctot
        |        FROM cum GROUP BY cents),
        |nt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_t
        |       FROM bytc GROUP BY event_type),
        |na AS (SELECT count(*) AS n_all FROM cents)
        |SELECT c.event_type, max(nt.n_t) AS n_type, max(na.n_all) AS n_total,
        |  CAST(max(abs(CAST(c.c AS HUGEINT) * na.n_all
        |    - CAST(t.ctot AS HUGEINT) * nt.n_t)) * 1000000
        |    // (CAST(max(nt.n_t) AS HUGEINT) * max(na.n_all)) AS BIGINT)
        |    AS ks_ppm
        |FROM cum c JOIN tot t USING (cents) JOIN nt USING (event_type)
        |CROSS JOIN na
        |GROUP BY c.event_type ORDER BY event_type""".stripMargin,
    // q08: same cents derivation (round lands on the same BIGINT — see
    // the engine Scaladoc), same leading-digit-via-VARCHAR, same shared
    // expectation constants; // ≡ DIV on non-negative operands.
    "q08_benford" -> {
      val expCase = BenfordPpm
        .map { case (dg, ppm) => s"WHEN $dg THEN $ppm" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH digits AS (
         |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100)
         |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM lineitem),
         |tot AS (SELECT count(*) AS total FROM digits),
         |per AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit)
         |SELECT digit, n, (n * 1000000) // total AS obs_ppm,
         |  CAST($expCase AS BIGINT) AS exp_ppm,
         |  (n * 1000000) // total - $expCase AS dev_ppm
         |FROM per CROSS JOIN tot ORDER BY digit""".stripMargin
    },
    "q05_column_stats" -> q05Sql,
    // q07: DuckDB's 0-based dow shifted +1 to Spark's 1=Sunday (the d23
    // convention); the scoreability predicate is the same integer
    // comparison in both engines
    "q07_seasonal_outliers" ->
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ${EventOps.duckSecTs}) AS hour_start,
         |    count(*) AS n
         |  FROM events GROUP BY 1),
         |hk AS (
         |  SELECT hour_start, n, dayofweek(hour_start) + 1 AS dow,
         |    hour(hour_start) AS hod
         |  FROM hourly),
         |profile AS (
         |  SELECT dow, hod, count(*) AS m,
         |    CAST(sum(n) AS BIGINT) AS s1,
         |    CAST(sum(n * n) AS BIGINT) AS s2
         |  FROM hk GROUP BY dow, hod)
         |SELECT strftime(h.hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
         |  h.dow, h.hod, h.n, p.m,
         |  round(CAST(h.n * p.m - p.s1 AS DOUBLE) /
         |    sqrt(CAST(p.m * p.s2 - p.s1 * p.s1 AS DOUBLE)), 6) AS z
         |FROM hk h JOIN profile p USING (dow, hod)
         |WHERE p.m >= 2 AND p.m * p.s2 - p.s1 * p.s1 > 0
         |ORDER BY abs(CAST(h.n * p.m - p.s1 AS DOUBLE) /
         |  sqrt(CAST(p.m * p.s2 - p.s1 * p.s1 AS DOUBLE))) DESC,
         |  h.hour_start ASC LIMIT 20""".stripMargin,
    // q06: identical integer percentile ranks, identical least/greatest
    // clamp on raw doubles, exact DECIMAL sums, one divide per mean
    "q06_winsorize" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY value ASC, event_id ASC) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM e),
        |cuts AS (SELECT event_type, max(n) AS n,
        |    max(CASE WHEN rn = (10 * (n - 1)) // 100 + 1 THEN value END)
        |      AS p10_v,
        |    max(CASE WHEN rn = (90 * (n - 1)) // 100 + 1 THEN value END)
        |      AS p90_v
        |  FROM r GROUP BY event_type)
        |SELECT e.event_type, CAST(max(c.n) AS BIGINT) AS n,
        |  max(p10_v) AS p10_v, max(p90_v) AS p90_v,
        |  round(CAST(sum(CAST(value AS DECIMAL(9,2))) AS DOUBLE)
        |        / count(*), 6) AS mean_raw,
        |  round(CAST(sum(CAST(least(greatest(value, p10_v), p90_v)
        |        AS DECIMAL(9,2))) AS DOUBLE) / count(*), 6) AS mean_winsor,
        |  round(CAST(sum(CASE WHEN value >= p10_v AND value <= p90_v
        |        THEN CAST(value AS DECIMAL(9,2)) END) AS DOUBLE) /
        |        count(CASE WHEN value >= p10_v AND value <= p90_v
        |              THEN 1 END), 6) AS mean_trim,
        |  count(CASE WHEN value < p10_v THEN 1 END) AS n_lo,
        |  count(CASE WHEN value > p90_v THEN 1 END) AS n_hi
        |FROM e JOIN cuts c USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // q04: same micro-unit per-cell integer division, same
    // order-independent BIGINT sum, one display divide at the end
    "q04_drift" ->
      """WITH o AS (SELECT lang, source, count(*) AS o
        |           FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY lang),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY source),
        |n AS (SELECT count(*) AS n FROM documents),
        |c AS (SELECT CAST(sum((o.o * o.o * 1000000) // (rt.rt * ct.ct)) AS BIGINT)
        |        AS sum_contrib
        |      FROM o JOIN rt USING (lang) JOIN ct USING (source))
        |SELECT n.n AS n_docs,
        |  (SELECT count(*) FROM rt) AS n_langs,
        |  (SELECT count(*) FROM ct) AS n_sources,
        |  ((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1)
        |    AS dof,
        |  round(CAST(n.n * (c.sum_contrib - 1000000) AS DOUBLE) /
        |        CAST(1000000 AS DOUBLE), 6) AS chi2
        |FROM n CROSS JOIN c""".stripMargin,
    // q03: identical rank-selected medians (lower median, (n+1)//2),
    // identical IEEE |x−med| deviation, single-literal fence multiply
    "q03_mad_outliers" ->
      s"""WITH e AS (SELECT event_id, event_type, value FROM events),
         |r1 AS (
         |  SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type
         |                       ORDER BY value ASC, event_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM e),
         |med AS (
         |  SELECT event_type, max(n) AS n,
         |    max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
         |  FROM r1 GROUP BY event_type),
         |dev AS (
         |  SELECT e.event_type, e.event_id, med.n, med.med,
         |    abs(e.value - med.med) AS dev
         |  FROM e JOIN med USING (event_type)),
         |r2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |                               ORDER BY dev ASC, event_id ASC) AS rn
         |  FROM dev),
         |mad AS (
         |  SELECT event_type,
         |    max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
         |  FROM r2 GROUP BY event_type)
         |SELECT d.event_type, max(d.n) AS n,
         |  round(max(d.med), 6) AS median_v,
         |  round(max(mad.mad), 6) AS mad_v,
         |  count(*) FILTER (WHERE d.dev > CAST($MadFence AS DOUBLE) * mad.mad)
         |    AS n_outliers
         |FROM dev d JOIN mad USING (event_type)
         |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // q02: identical exact-integer moments, identical single-divide-
    // plus-sqrt sequence (both IEEE correctly-rounded), raw-z ordering
    "q02_outliers" ->
      """WITH m AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s1,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
        |  FROM documents GROUP BY lang),
        |z AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    CAST(d.n_chars * m.n - m.s1 AS DOUBLE) /
        |      sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)) AS z_raw
        |  FROM documents d JOIN m USING (lang))
        |SELECT doc_id, lang, n_chars, round(z_raw, 6) AS z,
        |  abs(z_raw) > 3.0 AS is_outlier
        |FROM z ORDER BY abs(z_raw) DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q01_constraints" -> Seq(
      // NOT EXISTS, not NOT IN: the Spark side is a left_anti join, and
      // NOT IN over a set containing NULL is never true (the b26 trap) —
      // the two halves must share anti-join NULL semantics.
      ruleSql("fk_lineitem_orders",
        "SELECT l_orderkey FROM lineitem",
        """SELECT l_orderkey FROM lineitem l
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_orderkey = l.l_orderkey)"""
          .stripMargin),
      ruleSql("fk_orders_customer",
        "SELECT o_custkey FROM orders",
        """SELECT o_custkey FROM orders r
          |WHERE NOT EXISTS (SELECT 1 FROM customer c
          |                  WHERE c.c_custkey = r.o_custkey)"""
          .stripMargin),
      ruleSql("pk_orders_unique",
        "SELECT o_orderkey FROM orders",
        """SELECT o_orderkey FROM orders
          |GROUP BY o_orderkey HAVING count(*) > 1""".stripMargin),
      ruleSql("range_quantity_1_50",
        "SELECT l_quantity FROM lineitem",
        "SELECT l_quantity FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50"),
      ruleSql("nonempty_document_text",
        "SELECT text FROM documents",
        "SELECT text FROM documents WHERE text IS NULL OR length(text) = 0"),
      // second-floored twin (EventOps.duckSecTs) like every other events
      // oracle: the bounds are whole-second-aligned today (so raw-ns
      // comparison would coincide), but the rule must stay faithful to
      // the ts the Spark side actually surfaces
      ruleSql("events_ts_in_2024_01",
        "SELECT ts FROM events",
        s"""SELECT sts FROM (
           |  SELECT ${EventOps.duckSecTs} AS sts FROM events)
           |WHERE sts < TIMESTAMP '2024-01-01 00:00:00'
           |   OR sts >= TIMESTAMP '2024-02-01 00:00:00'""".stripMargin),
      ruleSql("domain_discount_0_0q1",
        "SELECT l_discount FROM lineitem",
        "SELECT l_discount FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1"),
      ruleSql("unique_document_bow",
        "SELECT text FROM documents",
        """SELECT unnest(range(1, CAST(extra AS INTEGER) + 1)) FROM (
          |  SELECT count(*) - 1 AS extra FROM documents
          |  GROUP BY array_to_string(list_sort(list_distinct(
          |    string_split(text, ' '))), ' ')
          |  HAVING count(*) > 1)""".stripMargin),
      ruleSql("contiguous_vec_ids",
        "SELECT vec_id FROM embeddings",
        """SELECT 1 AS one FROM embeddings
          |WHERE vec_id < 0
          |   OR vec_id >= (SELECT count(*) FROM embeddings)
          |UNION ALL
          |SELECT unnest(range(1, CAST(extra AS INTEGER) + 1)) FROM (
          |  SELECT count(*) - 1 AS extra FROM embeddings
          |  GROUP BY vec_id HAVING count(*) > 1)""".stripMargin))
      .map(r => s"($r)").mkString("", "\nUNION ALL\n", "\nORDER BY rule"))
}
