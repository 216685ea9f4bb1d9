package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorExpressions

/** The reference's core surface: exact K-nearest-neighbors as a Spark
  * pipeline (SURVEY.md §2.A). The reference computes it twice — a
  * Hadoop-MapReduce job (mapper emits (test_id,(dist,label)), reducer
  * keeps a bounded priority queue + majority vote) and a CUDA kernel
  * (dense m×n distance matrix + per-row selection). Here the same WHAT
  * is declared once: one leave-one-out pair scan ([[scan]]) → compiled
  * distance kernel → bounded-heap `top_k_by` cut per query ([[ranked]])
  * → vote. The scan and the cut are also those of the ANN tiers' flat
  * PQ/SQ8 scans, their sampled exact recall arm and every ANN final cut.
  *
  * Scale design (100 TB / 1000 executors):
  *  - The caller streams one side, partitioned as it needs (Knn hashes
  *    the queries by qid); the built side is `broadcast()` while it
  *    fits the engine's broadcast ceiling ([[layoutAt]] over
  *    [[Tables.broadcastFits]]) — the analog of the reference's
  *    DistributedCache'd training set. Each task streams its partition
  *    against the in-memory built table.
  *  - Past the ceiling, or with broadcast turned off, the same scan is
  *    laid out block-nested-loop: the built side splits into blocks of
  *    a fixed byte budget and Spark's CartesianProduct runs the
  *    (streamed partition, block) products.
  *  - Either way `top_k_by` keeps ≤k rows per query per partition
  *    map-side and merges the partial heaps (a k-size state per query —
  *    see functions.TopKAgg): the reference's combiner→reducer split, so
  *    the O(m·n) pair stream is never shuffled.
  *  - The cut's ranked set is built once per (session, dataset) and
  *    cached; knn_topk, knn_topk_agg and every vote query read it. The
  *    rank window survives only in the DuckDB oracle SQL, in the SQL
  *    front-end smoke query [[sqlKnn]] and in ScaleCheck's agreement
  *    check.
  */
object Knn {
  val K = 10

  /** Layout of [[scan]]'s built side. */
  private[graft] sealed trait Layout
  /** Broadcast nested-loop: every task holds the whole built side. */
  private[graft] case object Broadcast extends Layout
  /** Block nested-loop: the built side split into `n` blocks. */
  private[graft] final case class Blocks(n: Int) extends Layout

  /** Byte budget per built-side block — sized so a block co-resides
    * comfortably with a streamed partition in executor memory (same
    * order as Spark's own broadcast threshold). */
  private val DefaultBlockBytes = 64L << 20

  /** The layout rule for a built side of `builtRows` rows at `rowBytes`
    * each: broadcast while it fits ([[Tables.broadcastFits]]), else
    * blocks of [[DefaultBlockBytes]] counted from that priced size — not
    * from Catalyst's estimate, which for a checkpointed side can be
    * Spark's default size. The layout never changes an answer. */
  private[graft] def layoutAt(s: SparkSession, builtRows: Long,
      rowBytes: Long): Layout =
    if (Tables.broadcastFits(s, builtRows, rowBytes)) Broadcast
    else blocksAt(builtRows, rowBytes, DefaultBlockBytes)

  /** The block layout of `builtRows` rows at `rowBytes` each: ceil(priced
    * size / `budget`) blocks, floored at 2 — a side that fits ONE block
    * belongs to the broadcast layout. */
  private[graft] def blocksAt(builtRows: Long, rowBytes: Long,
      budget: Long): Blocks =
    Blocks(((BigInt(builtRows) * rowBytes + budget - 1) / budget)
      .min(4096).max(2).toInt)

  /** THE nested-loop pair scan of the exact, flat and sampled tiers:
    * every `streamed` row against every `built` row, leave-one-out
    * (`qid ≠ cid`; one side carries qid, the other cid). Each caller
    * scores the joined columns itself. The broadcast join keeps the
    * streamed side's partitioning, so a side hashed by qid lets every
    * per-query operator downstream plan ZERO further exchanges (guide
    * §2.4). The block layout's CartesianProduct does not keep it; there
    * the heap cut exchanges only its partial heaps. */
  private[graft] def scan(streamed: DataFrame, built: DataFrame,
      layout: Layout): DataFrame = {
    val joined = layout match {
      case Broadcast => streamed.crossJoin(broadcast(built))
      // SHUFFLE_REPLICATE_NL forbids the broadcast fallback the optimizer
      // would otherwise pick at test scale, forcing the true block layout
      case Blocks(n) => streamed.hint("shuffle_replicate_nl")
        .crossJoin(built.repartition(n))
    }
    joined.where(col("qid") =!= col("cid"))
  }

  /** Knn's corpus × corpus [[scan]] under `distance`: (qid, qlabel, cid,
    * clabel, dist), the query side hashed BY qid. The query's own label
    * rides along (one int per row) so the vote tail compares a
    * prediction with it without re-reading and joining the labels. */
  private[graft] def corpusPairs(s: SparkSession, d: String,
      distance: (Column, Column) => Column, layout: Layout): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.repartition(Tables.parallelism(s), col("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("label").as("clabel"))
    scan(q, c, layout).select(col("qid"), col("qlabel"), col("cid"),
      col("clabel"), distance(col("qv"), col("cv")).as("dist"))
  }

  /** The corpus row count (footer metadata, no job). */
  private def corpusRows(s: SparkSession, d: String): Long =
    Tables.footerRowCount(s, s"$d/embeddings.parquet")

  /** [[layoutAt]] for the corpus. */
  private[graft] def corpusLayout(s: SparkSession, d: String): Layout =
    layoutAt(s, corpusRows(s, d), Tables.RowBytes.Embedding)

  /** THE per-query cut: each query's `k` nearest rows of `pairs` (qid,
    * cid, dist) in (dist, cid) order through the bounded-heap `top_k_by`
    * aggregate, exploded to (qid, perQuery…, rnk, cid, clabel, dist) at
    * full precision; `clabel` is each kept row's `label` and every
    * `perQuery` column is carried once per qid. Knn passes its labels;
    * the ANN tiers pass `lit(0)` and nothing per query, so their
    * aggregate is the heap alone. */
  private[graft] def ranked(pairs: DataFrame, k: Int, label: Column,
      perQuery: String*): DataFrame = {
    val carried = perQuery.map(col)
    pairs.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.top_k_by(pairs.sparkSession, col("dist"),
        col("cid"), label, k).as("nbrs"), perQuery.map(c => max(col(c)).as(c)): _*)
      .select(col("qid") +: carried :+ posexplode(col("nbrs")).as(Seq("pos", "nbr")): _*)
      .select(col("qid") +: carried :+ (col("pos") + 1).cast("int").as("rnk") :+
        col("nbr.id").as("cid") :+ col("nbr.label").as("clabel") :+
        col("nbr.dist").as("dist"): _*)
  }

  /** The cosine ranked set at [[K]], uncached, in the layout the rule
    * picks. */
  private[graft] def topkRanked(s: SparkSession, d: String): DataFrame =
    ranked(corpusPairs(s, d, VectorExpressions.cosine_distance(s, _, _),
      corpusLayout(s, d)), K, col("clabel"), "qlabel")

  // topk/classify/accuracy all consume the same ranked neighbor set; the
  // O(m·n) pair scan is its only expensive input, so share one persisted
  // copy (k rows per query — tiny) per (session, dataset). Harness-scoped
  // by design: entries live for the session (bounded by the handful of
  // sfDirs the harness touches) and assume the dataset files are
  // immutable for the session's lifetime — true for the read-only
  // test fixtures.
  private val topkCache = new graft.PersistedCache(this)
  private def topkRankedShared(s: SparkSession, d: String): DataFrame =
    topkCache.getOrBuild(s, d)(topkRanked(s, d))

  /** Drop cached per-session state (tests / long-lived sessions);
    * sessions also self-evict on application end. */
  def clearCache(): Unit = graft.PersistedCache.clear(this)

  /** A ranked set as a top-k answer: (qid, rnk, cid, dist rounded to 6
    * places) in (qid, rnk) order. */
  private[graft] def neighbors(ranked: DataFrame): DataFrame =
    ranked.select(col("qid"), col("rnk"), col("cid"), round(col("dist"), 6).as("dist"))
      .orderBy(col("qid"), col("rnk"))

  /** A1–A4: every embedding's 10 nearest (cosine, leave-one-out) — the
    * shared ranked set itself; knn_topk_agg names the same query. */
  def knnTopk(s: SparkSession, d: String): DataFrame =
    neighbors(topkRankedShared(s, d))

  /** Weighted vote over the first k ranked neighbors, for every k in
    * `ks` at once — THE vote pipeline (A5): one row per (qid, k) with the
    * query's own label `qlabel` and the winning `pred`; vote ties break
    * to the smallest label. `weight` is a per-neighbor vote column over
    * `rnk` (`lit(1)` is the plain majority vote). The k's explode over
    * the cached ≤K-row-per-query set, which is already partitioned by
    * qid, so the vote aggregate and window plan no exchange. */
  private def predictionsAt(s: SparkSession, d: String, ks: Seq[Int],
      weight: Column): DataFrame = {
    val votes = topkRankedShared(s, d)
      .withColumn("k", explode(array(ks.map(lit): _*)))
      .where(col("rnk") <= col("k"))
      .groupBy(col("qid"), col("qlabel"), col("k"), col("clabel"))
      .agg(sum(weight).as("n"))
    val w = Window.partitionBy(col("qid"), col("k"))
      .orderBy(col("n").desc, col("clabel").asc)
    votes.withColumn("vr", row_number().over(w)).where(col("vr") === 1)
      .select(col("qid"), col("qlabel"), col("k"), col("clabel").as("pred"))
  }

  /** Share of [[predictionsAt]] rows whose vote matches the query label. */
  private def accuracy =
    round(avg(when(col("pred") === col("qlabel"), 1.0).otherwise(0.0)), 6)
      .as("accuracy")

  /** A5: classify every embedding by majority vote of its 10 nearest
    * (leave-one-out). */
  def knnClassify(s: SparkSession, d: String): DataFrame =
    predictionsAt(s, d, Seq(K), lit(1)).select(col("qid"), col("pred"))
      .orderBy(col("qid"))

  /** A6: leave-one-out accuracy of the 10-NN cosine classifier. */
  def knnAccuracy(s: SparkSession, d: String): DataFrame =
    predictionsAt(s, d, Seq(K), lit(1)).agg(accuracy)

  /** A6-sweep: leave-one-out accuracy for k ∈ {1,3,5,10} — the
    * hyperparameter sweep the reference's coursework would run as four
    * separate jobs. One aggregate serves every k: each row of the shared
    * ranked set (session cache) is copied once per k, the vote runs per
    * (qid, k), and the accuracies are one `groupBy(k)` over the
    * predictions. */
  def knnKSweep(s: SparkSession, d: String): DataFrame =
    predictionsAt(s, d, Seq(1, 3, 5, 10), lit(1))
      .groupBy(col("k")).agg(count(lit(1)).as("n_queries"), accuracy)
      .orderBy(col("k"))

  /** A5-regression: the k-NN REGRESSOR sibling of the classifier —
    * predict each query's numeric target as the mean of its k
    * neighbors' labels (labels are small ints, so sum is exact and the
    * one division is engine-identical), with the per-query absolute
    * error against the held-out true label. Same shared ranked set. */
  def knnRegression(s: SparkSession, d: String): DataFrame =
    topkRankedShared(s, d)
      .groupBy(col("qid"), col("qlabel"))
      .agg((sum(col("clabel")).cast("double") / count(lit(1))).as("pred"))
      .select(col("qid"), round(col("pred"), 6).as("pred"),
        round(abs(col("pred") - col("qlabel")), 6).as("abs_err"))
      .orderBy(col("qid"))

  /** A8: radius / threshold similarity join — all pairs closer than tau
    * ([[scan]] with no cut). With ~random 64-d vectors cosine distance
    * concentrates near 1, so a small tau keeps the output to the
    * genuinely-near pairs. */
  val RadiusTau = 0.6 // ~100 pairs at sf0.01 — sparse but non-trivial
  def knnRadius(s: SparkSession, d: String): DataFrame =
    corpusPairs(s, d, VectorExpressions.cosine_distance(s, _, _),
      corpusLayout(s, d))
      .where(col("dist") < RadiusTau)
      .select(col("qid"), col("cid"), round(col("dist"), 6).as("dist"))
      .orderBy(col("qid"), col("cid"))

  /** Euclidean variant of the top-k (k=5) — the reference's canonical
    * squared-L2 path (sqrt kept so the oracle can use list_distance):
    * [[scan]] with the euclidean kernel and a 5-row heap. */
  def knnTopkL2(s: SparkSession, d: String): DataFrame =
    neighbors(ranked(corpusPairs(s, d,
      VectorExpressions.euclidean_distance(s, _, _), corpusLayout(s, d)), 5,
      col("clabel"), "qlabel"))

  /** knn_topk in the block layout, forced whatever the corpus size:
    * both sides partition, Spark's CartesianProduct runs partition-pair
    * (block-nested-loop) products, and `top_k_by` reduces each (query,
    * candidate-block) to k rows map-side before merging the partial
    * heaps in one k-row-per-query shuffle. Same results, same oracle —
    * only the physical layout differs, and the block count follows the
    * corpus's priced size ([[blocksAt]] at `RowBytes.Embedding`, the
    * same count [[layoutAt]] gives past the ceiling), not a constant. */
  def knnTopkBlocked(s: SparkSession, d: String): DataFrame =
    knnTopkBlockedAt(s, d, DefaultBlockBytes)

  /** [[knnTopkBlocked]] under an explicit block budget. */
  private[graft] def knnTopkBlockedAt(s: SparkSession, d: String,
      budget: Long): DataFrame =
    neighbors(ranked(corpusPairs(s, d,
      VectorExpressions.cosine_distance(s, _, _),
      blocksAt(corpusRows(s, d), Tables.RowBytes.Embedding, budget)), K,
      col("clabel"), "qlabel"))

  /** A5b: rank-weighted (Borda-count) vote — neighbor at rank r
    * contributes weight K-r+1. Integer weights keep the vote exactly
    * engine-portable (1/d weights would be order-dependent float sums). */
  def knnClassifyWeighted(s: SparkSession, d: String): DataFrame =
    predictionsAt(s, d, Seq(K), lit(K + 1) - col("rnk"))
      .select(col("qid"), col("pred")).orderBy(col("qid"))

  /** A6c: per-class precision/recall/F1 derived from the confusion
    * matrix — integer counts, single-division ratios. */
  def knnPrf(s: SparkSession, d: String): DataFrame = {
    val joined = predictionsAt(s, d, Seq(K), lit(1))
      .withColumnRenamed("qlabel", "label")
    val perPred = joined.groupBy(col("pred").as("cls"))
      .agg(count(lit(1)).as("n_pred"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("tp"))
    val perTruth = joined.groupBy(col("label").as("cls2"))
      .agg(count(lit(1)).as("n_truth"))
    perPred.join(perTruth, col("cls") === col("cls2"), "full")
      .select(
        coalesce(col("cls"), col("cls2")).as("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"))
      .withColumn("precision",
        round(col("tp").cast("double") / greatest(col("n_pred"), lit(1L)), 6))
      .withColumn("recall",
        round(col("tp").cast("double") / greatest(col("n_truth"), lit(1L)), 6))
      .withColumn("f1", round(
        lit(2.0) * col("tp") / greatest(col("n_pred") + col("n_truth"), lit(1L)), 6))
      .orderBy(col("cls"))
  }

  /** A6b: confusion matrix of the leave-one-out classifier. */
  def knnConfusion(s: SparkSession, d: String): DataFrame =
    predictionsAt(s, d, Seq(K), lit(1))
      .groupBy(col("qlabel").as("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))

  /** e04: the same exact-KNN semantics expressed ENTIRELY through the SQL
    * front end — temp view + a SQL string calling the injected codegen'd
    * `cosine_distance` — proving a SQL-only user of the library gets the
    * identical plan and results as the Column-API surface (restricted to
    * 50 query vectors to keep it a smoke-sized pair space). */
  def sqlKnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Tables.embeddings(s, d).where(col("vec_id") < 50)
      .createOrReplaceTempView("graft_sql_emb")
    s.sql("""
      WITH pairs AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               cosine_distance(q.embedding, c.embedding) AS dist
        FROM graft_sql_emb q CROSS JOIN graft_sql_emb c
        WHERE q.vec_id <> c.vec_id),
      ranked AS (
        SELECT qid, cid, dist,
          row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC)
            AS rnk
        FROM pairs)
      SELECT qid, rnk, cid, round(dist, 6) AS dist
      FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e04_sql_knn" -> (sqlKnn _),
    "knn_topk_agg" -> (knnTopk _),
    "knn_topk_blocked" -> (knnTopkBlocked _),
    "knn_confusion" -> (knnConfusion _),
    "knn_classify_weighted" -> (knnClassifyWeighted _),
    "knn_prf" -> (knnPrf _),
    "knn_topk" -> (knnTopk _),
    "knn_classify" -> (knnClassify _),
    "knn_accuracy" -> (knnAccuracy _),
    "knn_ksweep" -> (knnKSweep _),
    "knn_regression" -> (knnRegression _),
    "knn_radius" -> (knnRadius _),
    "knn_topk_l2" -> (knnTopkL2 _),
  )

  private[ops] val cosPairs =
    """SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS clabel,
      |       1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                    CAST(c.embedding AS DOUBLE[])) AS dist
      |FROM embeddings q CROSS JOIN embeddings c
      |WHERE q.vec_id <> c.vec_id""".stripMargin

  // shared oracle scaffolding: ranked neighbors and plain majority pred
  private def rankedCte = s"""ranked AS (SELECT qid, cid, clabel, dist,
    |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
    |  FROM pairs)""".stripMargin
  // ONE vote-pipeline CTE builder (suffix-parameterized so the k-sweep
  // can instantiate it per k) — the oracle mirror of predictionsAt.
  private def voteCtes(k: Int, sfx: String) =
    s"""votes$sfx AS (SELECT qid, clabel, count(*) AS n
       |  FROM ranked WHERE rnk <= $k GROUP BY qid, clabel),
       |pred$sfx AS (SELECT qid, clabel AS pred FROM (
       |  SELECT qid, clabel,
       |    row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel ASC) AS vr
       |  FROM votes$sfx) WHERE vr = 1)""".stripMargin
  private def predCte = voteCtes(K, "")
  // knn_topk's oracle; knn_topk_agg and knn_topk_blocked answer the same
  private def topkOracle =
    s"""WITH pairs AS ($cosPairs),
       |ranked AS (SELECT qid, cid, dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
       |  FROM pairs)
       |SELECT qid, rnk, cid, round(dist, 6) AS dist
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  val oracles: Map[String, String] = Map(
    "knn_classify_weighted" ->
      s"""WITH pairs AS ($cosPairs),
         |$rankedCte,
         |votes AS (SELECT qid, clabel, sum(${K + 1} - rnk) AS w
         |  FROM ranked WHERE rnk <= $K GROUP BY qid, clabel)
         |SELECT qid, clabel AS pred FROM (
         |  SELECT qid, clabel,
         |    row_number() OVER (PARTITION BY qid ORDER BY w DESC, clabel ASC) AS vr
         |  FROM votes) WHERE vr = 1 ORDER BY qid""".stripMargin,
    "knn_prf" ->
      s"""WITH pairs AS ($cosPairs),
         |$rankedCte,
         |$predCte,
         |j AS (SELECT p.qid, p.pred, e.label
         |  FROM pred p JOIN embeddings e ON p.qid = e.vec_id),
         |per_pred AS (SELECT pred AS cls, count(*) AS n_pred,
         |  sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS tp
         |  FROM j GROUP BY pred),
         |per_truth AS (SELECT label AS cls2, count(*) AS n_truth FROM j GROUP BY label)
         |SELECT coalesce(cls, cls2) AS cls,
         |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         |  CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
         |  CAST(coalesce(n_truth, 0) AS BIGINT) AS n_truth,
         |  round(CAST(coalesce(tp, 0) AS DOUBLE) / greatest(coalesce(n_pred, 0), 1), 6) AS precision,
         |  round(CAST(coalesce(tp, 0) AS DOUBLE) / greatest(coalesce(n_truth, 0), 1), 6) AS recall,
         |  round(2.0 * coalesce(tp, 0) / greatest(coalesce(n_pred, 0) + coalesce(n_truth, 0), 1), 6) AS f1
         |FROM per_pred FULL JOIN per_truth ON cls = cls2
         |ORDER BY cls""".stripMargin,
    "knn_topk_blocked" -> topkOracle,
    "knn_confusion" ->
      s"""WITH pairs AS ($cosPairs),
         |ranked AS (SELECT qid, cid, clabel, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
         |  FROM pairs),
         |votes AS (SELECT qid, clabel, count(*) AS n
         |  FROM ranked WHERE rnk <= $K GROUP BY qid, clabel),
         |pred AS (SELECT qid, clabel AS pred FROM (
         |  SELECT qid, clabel,
         |    row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel ASC) AS vr
         |  FROM votes) WHERE vr = 1)
         |SELECT e.label, p.pred, count(*) AS n
         |FROM pred p JOIN embeddings e ON p.qid = e.vec_id
         |GROUP BY e.label, p.pred ORDER BY e.label, p.pred""".stripMargin,
    "knn_topk_agg" -> topkOracle,
    "knn_topk" -> topkOracle,
    "e04_sql_knn" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                 CAST(c.embedding AS DOUBLE[])) AS dist
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id <> c.vec_id AND q.vec_id < 50 AND c.vec_id < 50),
        |ranked AS (SELECT qid, cid, dist,
        |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
        |  FROM pairs)
        |SELECT qid, rnk, cid, round(dist, 6) AS dist
        |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "knn_classify" ->
      s"""WITH pairs AS ($cosPairs),
         |ranked AS (SELECT qid, cid, clabel, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
         |  FROM pairs),
         |votes AS (SELECT qid, clabel, count(*) AS n
         |  FROM ranked WHERE rnk <= $K GROUP BY qid, clabel)
         |SELECT qid, clabel AS pred FROM (
         |  SELECT qid, clabel,
         |    row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel ASC) AS vr
         |  FROM votes) WHERE vr = 1 ORDER BY qid""".stripMargin,
    "knn_accuracy" ->
      s"""WITH pairs AS ($cosPairs),
         |ranked AS (SELECT qid, cid, clabel, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
         |  FROM pairs),
         |votes AS (SELECT qid, clabel, count(*) AS n
         |  FROM ranked WHERE rnk <= $K GROUP BY qid, clabel),
         |pred AS (SELECT qid, clabel AS pred FROM (
         |  SELECT qid, clabel,
         |    row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel ASC) AS vr
         |  FROM votes) WHERE vr = 1)
         |SELECT round(avg(CASE WHEN p.pred = e.label THEN 1.0 ELSE 0.0 END), 6)
         |  AS accuracy
         |FROM pred p JOIN embeddings e ON p.qid = e.vec_id""".stripMargin,
    "knn_ksweep" -> {
      val perK = Seq(1, 3, 5, 10).map { k =>
        s"""${voteCtes(k, s"_$k")},
           |acc_$k AS (SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_queries,
           |  round(avg(CASE WHEN p.pred = e.label THEN 1.0 ELSE 0.0 END), 6)
           |    AS accuracy
           |  FROM pred_$k p JOIN embeddings e ON p.qid = e.vec_id)"""
          .stripMargin
      }.mkString(",\n")
      val union = Seq(1, 3, 5, 10).map(k => s"SELECT * FROM acc_$k")
        .mkString(" UNION ALL ")
      s"""WITH pairs AS ($cosPairs),
         |ranked AS (SELECT qid, cid, clabel, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
         |  FROM pairs),
         |$perK
         |$union ORDER BY k""".stripMargin
    },
    "knn_regression" ->
      s"""WITH pairs AS ($cosPairs),
         |ranked AS (SELECT qid, cid, clabel, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
         |  FROM pairs),
         |agg AS (SELECT qid,
         |    CAST(sum(clabel) AS DOUBLE) / count(*) AS pred
         |  FROM ranked WHERE rnk <= $K GROUP BY qid)
         |SELECT a.qid, round(a.pred, 6) AS pred,
         |  round(abs(a.pred - e.label), 6) AS abs_err
         |FROM agg a JOIN embeddings e ON a.qid = e.vec_id
         |ORDER BY a.qid""".stripMargin,
    "knn_radius" ->
      s"""WITH pairs AS ($cosPairs)
         |SELECT qid, cid, round(dist, 6) AS dist FROM pairs
         |WHERE dist < $RadiusTau ORDER BY qid, cid""".stripMargin,
    "knn_topk_l2" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |         list_distance(CAST(q.embedding AS DOUBLE[]),
        |                       CAST(c.embedding AS DOUBLE[])) AS dist
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id <> c.vec_id),
        |ranked AS (SELECT qid, cid, dist,
        |  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
        |  FROM pairs)
        |SELECT qid, rnk, cid, round(dist, 6) AS dist
        |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
  )
}
