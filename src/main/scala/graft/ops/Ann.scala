package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.PersistedCache.Materialize
import graft.Tables
import graft.functions.VectorExpressions

/** Approximate nearest-neighbor search (SURVEY.md §2.C4). Brute force
  * (ops.Knn) is the exact baseline and the oracle-checked surface; this
  * module is the scale path: IVF (inverted-file) coarse quantization.
  *
  * Structure — the same three phases as production IVF indexes:
  *  1. Train: pick C seed centroids (deterministically: the C lowest-id
  *     vectors), then refine with a fixed number of Lloyd's iterations
  *     (`trainedCentroids`). The refinement is deliberately built from
  *     order-independent arithmetic (quantized integer sums) so the
  *     trained index is bit-reproducible on any engine — which is what
  *     lets even the TRAINED approximate query carry a DuckDB oracle.
  *  2. Assign: every candidate vector joins its nearest centroid — one
  *     broadcast join over C rows, O(n·C) distance evaluations; the
  *     inverted lists are the (vec_id, cent_id) rows grouped by cent_id.
  *  3. Probe: each query scores only the vectors of its P nearest
  *     inverted lists — O(n·P/C) of the pair space instead of O(n²).
  *
  * The probe join ([[probeJoin]]) still READS every list: no plan here
  * prunes lists by cent_id (measured on the stored index, whose lists
  * are one cent_id-clustered file set); the saving is in the pair space
  * scored, tuned with (C, P). Every query here is deterministic
  * end-to-end (fixed seed pick, exact arithmetic, total-order
  * tie-breaks) and oracle-checked; `ann_recall*` reports recall@K
  * against the exact ops.Knn top-k as integer counts.
  */
object Ann {
  /** (C, P) retuned in round 9 for the production recall bar: trained
    * recall@10 must clear 0.9, and does at every fixture tier (0.980 at
    * sf0.01, 0.975 at sf0.001, 0.911 at sf0.1 — the round-9 sweep).
    * The fixtures' embeddings are near-isotropic — ANN's hardest case:
    * measured recall ≈ scan fraction plus a quantization bonus that
    * GROWS with C (at a fixed 25% scan: 0.63 @ C=32, 0.73 @ C=64, 0.85
    * @ C=128), so the frontier point takes the finest index the seed
    * rule supports and P/C = 0.375. Real embedding corpora cluster, and
    * there the same index reaches the bar at far smaller P/C — C and P
    * are the two knobs a deployment retunes per corpus (index build is
    * amortized once; probe cost is per-query, so minimizing P/C is what
    * matters at 100 TB). The retune doctrine carries MEASURED evidence
    * as of r10 (SCALE_r10.md §3): at the 10× sf1 fixture the fixed
    * C=256 index decays to 0.880 (0.980 → 0.911 → 0.880 at 500/2k/20k
    * vectors) while the standard C ≈ 4√n retune (C=512, P=192 — the
    * same scan fraction) restores 0.915; tools.ScaleCheck asserts the
    * bar on the retuned index. */
  val C = 256 // coarse centroids
  val P = 96 // probed lists per query
  val K = 10
  /** Fixed Lloyd's refinement rounds — fixed (not convergence-tested) so
    * the computation is a pure function of the data on every engine. */
  val LloydIters = 4
  /** Centroid means are computed over floor(v·2^20) integer quanta:
    * multiplying by a power of two is exact in double, integer sums are
    * order-independent, and the single final division is one IEEE op —
    * so the mean is bit-identical regardless of partitioning/engine
    * (a plain float/double sum would vary with summation order). */
  private[ops] val Quant = 1L << 20

  private[ops] def centroids(s: SparkSession, d: String): DataFrame =
    centroidsAt(s, d, C)

  private[graft] def centroidsAt(s: SparkSession, d: String, c: Int): DataFrame =
    Tables.embeddings(s, d).where(col("vec_id") < c)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))

  // The assignment table is the index: built once per (session, dataset)
  // and shared by probes/stats — the local analog of a persisted IVF
  // index on a cluster. Fixture files are immutable for a session.
  // Keys carry the centroid count so ScaleCheck's retuned tiers
  // (C ≈ 4√n) and the NSW seed retune can hold several indexes side by
  // side.
  private val assignCache = new graft.PersistedCache(this)

  def assignments(s: SparkSession, d: String): DataFrame =
    assignmentsAt(s, d, C)

  private[graft] def assignmentsAt(s: SparkSession, d: String, c: Int): DataFrame =
    assignCache.getOrBuild(s, s"$d#assign#$c")(
      buildAssignments(s, d, centroidsAt(s, d, c)))

  /** Assignment table over the BASE slice only (`vec_id < cut`) — the
    * seeding index of the base-only NSW build behind
    * `ann_nsw_topk_upserted` (delta rows are IVF-served, never in the
    * graph). Same cells (centroid ids < C are inside every legal base by
    * the [[upsertCut]] guard), same argmin rule; cached per (c, cut). */
  private[graft] def assignmentsBaseAt(s: SparkSession, d: String,
      c: Int, cut: Long): DataFrame =
    assignCache.getOrBuild(s, s"$d#assignBase#$c#$cut")(
      buildAssignments(s, d, centroidsAt(s, d, c),
        Some(col("vec_id") < cut)))

  def trainedAssignments(s: SparkSession, d: String): DataFrame =
    trainedAssignmentsAt(s, d, C)

  private[graft] def trainedAssignmentsAt(s: SparkSession, d: String,
      c: Int): DataFrame =
    assignCache.getOrBuild(s, s"$d#trainedAssign#$c")(
      buildAssignments(s, d, trainedCentroidsAt(s, d, c)))

  /** Drop cached per-session index state (tests / long-lived sessions);
    * sessions also self-evict on application end. */
  def clearCache(): Unit = graft.PersistedCache.clear(this)

  /** (vec_id, cent_id) inverted-list assignment under `cents`; `rows`
    * optionally restricts WHICH vectors are assigned (the incremental-
    * maintenance path assigns only a delta batch) — the rule itself is
    * per-vector independent, which is exactly why incremental ≡ rebuilt
    * holds bit-for-bit under a frozen quantizer. */
  private def buildAssignments(s: SparkSession, d: String,
      cents: DataFrame, rows: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val all = Tables.embeddings(s, d)
    val e = Tables.repartitioned(
        rows.map(all.where).getOrElse(all), s)
      .select(col("vec_id"), col("embedding"))
    assignOver(s, e, cents)
  }

  /** The ONE argmin-assignment body, over any (vec_id, embedding) source
    * — the retrain lifecycle assigns rows read back from the persisted
    * index, not from the fixture table. */
  private def assignOver(s: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame = {
    // argmin as an AGGREGATE so the n·C candidate rows collapse
    // map-side and the exchange carries n rows, not n·C. The aggregate
    // must be the bounded HEAP at k=1, NOT min_by (r16, found by the 2M
    // tier's first build attempt): min_by's buffer holds a STRUCT,
    // which HashAggregateExec cannot mutate, and a DeclarativeAggregate
    // is not eligible for ObjectHashAggregate either — so Spark plans
    // SortAggregate, whose partial phase SORTS the full n·C scored
    // stream per partition (1.3·10¹¹ rows × ~300 B at n=2·10⁶,
    // seedC=65536 — ran the box's 77 GB of disk to zero in 9 minutes).
    // top_k_by(k=1) is a TypedImperativeAggregate → ObjectHashAggregate
    // → true map-side hash collapse; its (cdist, cent_id) order is
    // min_by's exact comparator, so the winner — and every hash — is
    // unchanged. The embedding rides through first() (r18: it used to be
    // part of the GROUPING KEY, so every one of the n·C candidate rows
    // paid a hash + equality over the ~260 B array; it is functionally
    // dependent on vec_id — all copies in a group are identical — so
    // first() is deterministic and the group key is the 8 B id alone).
    // cdist stays: consumers (e.g. the exact cell-blocked similarity
    // join) derive per-cell radii from the assignment angle.
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        VectorExpressions.cosine_distance(s, col("embedding"), col("cent_vec"))
          .as("cdist"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKAgg.top_k_by(s,
        col("cdist"), col("cent_id"), lit(0), 1).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("m").getItem(0).getField("id").as("cent_id"),
        col("embedding"), col("m").getItem(0).getField("dist").as("cdist"))
  }

  /** One Lloyd's round: argmin-assign to `cents` ([[assignOver]]; the
    * optimizer prunes the vec_id and cdist columns this round does not
    * read), then the quantized elementwise mean per
    * cluster (see `Quant`). Empty clusters keep their previous centroid.
    * The mean shuffles only (C·dim) partial sums — map-side combine does
    * the heavy lifting, the scale shape of distributed k-means. */
  private def refineOnce(s: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame = {
    val assign = assignOver(s, e, cents).select(col("cent_id"), col("embedding"))
    val means = quantizedMeans(assign, "cent_id").withColumnRenamed("mean_vec", "new_vec")
    cents.join(means, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("new_vec"), col("cent_vec")).as("cent_vec"))
  }

  /** Per-key quantized elementwise mean of `embedding` (see `Quant` for
    * why this is engine-exact) — the ONE definition of the mean
    * arithmetic, shared by Lloyd's refinement and the NCC prototypes so
    * the two families can never drift apart. Input: (keyCol, embedding);
    * output: (keyCol, mean_vec). */
  private def quantizedMeans(df: DataFrame, keyCol: String): DataFrame =
    df
      .select(col(keyCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(keyCol), col("pos"))
      .agg(sum(floor(col("v").cast("double") * lit(Quant.toDouble)).cast("long"))
        .as("sq"), count(lit(1)).as("n"))
      .withColumn("mval",
        (col("sq").cast("double") / (col("n") * lit(Quant)).cast("double"))
          .cast("float"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("mval")))).as("pm"))
      .select(col(keyCol),
        transform(col("pm"), x => x.getField("mval")).as("mean_vec"))

  /** `LloydIters` rounds of deterministic Lloyd's from the seed pick. */
  def trainedCentroids(s: SparkSession, d: String): DataFrame =
    trainedCentroidsAt(s, d, C)

  private[graft] def trainedCentroidsAt(s: SparkSession, d: String,
      c: Int): DataFrame =
    assignCache.getOrBuild(s, s"$d#trainedCents#$c") {
      trainOver(s, Tables.repartitioned(Tables.embeddings(s, d), s), c)
    }

  /** The ONE Lloyd's training loop over any (vec_id, embedding) corpus:
    * seed from the c lowest vec_ids IN THE CORPUS, then [[LloydIters]]
    * quantized-mean refinement rounds. Shared by the full-corpus index,
    * the upsert family's frozen base quantizer, and the retrain
    * lifecycle (which trains over rows read back from the persisted
    * artifact) so the training rule can never drift between them. */
  private def trainOver(s: SparkSession, e0: DataFrame, c: Int): DataFrame = {
    val e = e0.select(col("vec_id"), col("embedding"))
    val seeds = e.where(col("vec_id") < c)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
    // each round localCheckpoint'd: a lineage barrier per iteration. The
    // n·C assignment subtree dominates each round at C=256, so the
    // barrier beats the unrolled plan (sf0.1 cold: 4.9 s vs 7.5 s,
    // SURVEY §8); results are bit-identical either way.
    (1 to LloydIters).foldLeft(seeds)((cs, _) =>
      refineOnce(s, e, cs).checkpointed)
  }

  /** Probe routing — THE one definition of "which `p` inverted lists
    * does each query scan": every query crossed with the broadcast
    * centroids (C rows), ranked by (cosine distance, cent_id), keep the
    * top `p`. Returns (qid, qv, cent_id); consumers that don't need the
    * query vector drop `qv`. Shared by the exact-within-lists IVF tier
    * and the IVFPQ composition so a tie-break or P change can never
    * drift between them.
    *
    * `queries` are the query rows, (vec_id, embedding) rows of the
    * embeddings table: the whole table for every declared query, a
    * slice or a sample of it for the NSW base build and the sampled
    * recall. Queries are routed independently, so routing a subset
    * gives exactly the subset's rows of the full routing. */
  private[graft] def probesOf(s: SparkSession, queries: DataFrame,
      cents: DataFrame, p: Int): DataFrame = {
    // keyed repartition (r17, the Knn.pairs move): hashing the query
    // side by vec_id up front lets the broadcast cross join preserve the
    // partitioning, so the top-p heap below plans ONE complete
    // aggregation with zero exchanges (round-robin forced a
    // partial/final split around a buffer shuffle). Same one up-front
    // shuffle either way.
    val e = queries.repartition(Tables.parallelism(s), col("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // Top-p cut via the bounded heap, not a rank window (r16 — the r15
    // sort-free-bestM lesson applied to routing BEFORE the 2M tier
    // forces it): at build-tier seed counts the scored stream is
    // n·seedC rows (1.3·10¹¹ at n=2·10⁶, seedC=65536 — the capacity
    // rule makes seedC grow as n²/budget, so routing volume grows as
    // n³/budget), and the window form local-sorts that full volume for
    // WindowGroupLimit. The heap's map-side partial aggregation keeps
    // ≤ p entries per qid with no sort; the crossJoin emits each qid's
    // C rows contiguously, so the partial hash map holds only the
    // partition's own qids. Same (cdist, cent_id) total order as the
    // window ⇒ identical probe set (the knn_topk ≡ knn_topk_agg
    // precedent). qv rides through the GROUPING KEY — it is
    // functionally dependent on qid, so (qid, qv) groups ≡ qid groups
    // and no join is needed to re-attach it (a re-attach join would
    // either broadcast a corpus-sized side at test scale or add an
    // exchange of e at build scale).
    e.crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"),
        VectorExpressions.cosine_distance(s, col("qv"), col("cent_vec"))
          .as("cdist"),
        col("cent_id"))
      .groupBy(col("qid"), col("qv"))
      .agg(graft.functions.TopKAgg.top_k_by(s,
        col("cdist"), col("cent_id"), lit(0), p).as("pl"))
      .select(col("qid"), col("qv"), explode(col("pl")).as("t"))
      .select(col("qid"), col("qv"), col("t.id").as("cent_id"))
  }

  /** Hierarchical (two-stage) probe routing — the declared successor of
    * flat [[probesOf]] past the ~8M-vector tier (SCALE_r16 §3's
    * "IVF-on-the-centroids"; VERDICT r16 item 7). Flat routing scores
    * n·seedC rows, and under the 4√n retune that term grows as n^1.5 —
    * measured ~2h wall-clock per pass at n·seedC ≈ 1.3·10¹¹ (r16, the
    * capacity-rule autopsy). This form scores
    * n·(coarseC + pCoarse·seedC/coarseC) rows: route each query over a
    * COARSE prefix of the centroid set first, then score only the
    * centroids assigned to its pCoarse nearest coarse cells (~16× less
    * at seedC=8192, coarseC=256, pCoarse=8).
    *
    * Determinism is free: the coarse level is `centroidsAt(coarseC)` —
    * a PREFIX SUBSET of the seed centroids (`vec_id < coarseC <
    * seedC`), zero training, so the whole route is a pure function of
    * the corpus (the unrolled-CTE oracle discipline extends: both
    * stages are the same argmin-top-p with (dist, id) tie-breaks DuckDB
    * already mirrors for flat routing).
    *
    * Stage shapes, both scale-safe: stage 1 IS [[probesOf]] at
    * (coarseC, pCoarse) — one definition, no drift; the
    * centroid→coarse-cell assignment reuses [[assignOver]] (seedC
    * rows, ~2 MB at 8192 — broadcast), so stage 2 is a broadcast
    * equi-join of the n·pCoarse stage-1 rows against it and a second
    * bounded-heap cut. No exchange anywhere but the map-side-collapsed
    * heap aggregations.
    *
    * THE EXACTNESS LAW (spec-asserted): with `pCoarse = coarseC`
    * (probe every coarse cell) stage 2 scores ALL seedC centroids, so
    * the result is row-identical to flat `probesOf(seedC, p)` — the
    * reduced-pCoarse form is the measured approximation, gated by its
    * own tier recall row before any build relies on it. */
  private[graft] def hierProbesOf(s: SparkSession, d: String,
      queries: DataFrame, seedC: Int, coarseC: Int, pCoarse: Int,
      p: Int): DataFrame = {
    require(coarseC < seedC && Integer.bitCount(coarseC) == 1,
      s"coarseC=$coarseC must be a power of two below seedC=$seedC")
    val coarse = centroidsAt(s, d, coarseC)
    // stage 1: each query's pCoarse nearest coarse cells (n·coarseC
    // scored rows) — literally probesOf over the coarse prefix
    val s1 = probesOf(s, queries, coarse, pCoarse)
      .select(col("qid"), col("qv"), col("cent_id").as("coarse_id"))
    // the centroid→coarse inverted list: every seed centroid argmin-
    // assigned to a coarse cell (seedC·coarseC rows — trivial); the
    // seed centroids play the vector role in the ONE assignment body
    val centToCoarse = assignOver(s,
        centroidsAt(s, d, seedC)
          .select(col("cent_id").as("vec_id"), col("cent_vec").as("embedding")),
        coarse)
      .select(col("cent_id").as("coarse_id"),
        col("vec_id").as("fine_id"), col("embedding").as("fine_vec"))
    // stage 2: score only centroids inside the probed coarse cells,
    // keep the p nearest under the SAME (cdist, cent_id) order as flat
    // plain top_k_by, not the distinct mode: each seed centroid lives in
    // exactly ONE coarse cell (argmin assignment), so (qid, fine_id)
    // pairs are already unique and the cut is flat probesOf's exact twin.
    // `pos` (rank under the (cdist, cent_id) order) is emitted because
    // ONE routing pass serves both seed-candidate sides at a hier tier:
    // pos 0 IS the vector's hier cell ASSIGNMENT (argmin within the
    // probed coarse cells — the "changes the seed assignment" half of
    // SCALE_r16 §3: flat assignmentsAt is its own n·seedC scan, the
    // same volume hier routing exists to avoid), and all p rows are the
    // probe set. With pCoarse = coarseC, pos 0 equals the flat global
    // argmin exactly (spec law).
    s1.join(broadcast(centToCoarse), Seq("coarse_id"))
      .select(col("qid"), col("qv"),
        VectorExpressions.cosine_distance(s, col("qv"), col("fine_vec"))
          .as("cdist"),
        col("fine_id"))
      .groupBy(col("qid"), col("qv"))
      .agg(graft.functions.TopKAgg.top_k_by(s,
        col("cdist"), col("fine_id"), lit(0), p).as("pl"))
      .select(col("qid"), col("qv"), posexplode(col("pl")).as(Seq("pos", "t")))
      .select(col("qid"), col("qv"), col("pos"), col("t.id").as("cent_id"))
  }

  /** Final exact top-K per query over scored (qid, cid, dist) rows —
    * the ONE heap-form cut every ANN serving tier shares (r17,
    * optimization round; the knn_topk ≡ knn_topk_agg precedent applied
    * to the serving cuts). The window form this replaces local-sorted
    * the FULL scored candidate stream per partition (WindowGroupLimit
    * needs sorted input) and paid a second sort after its exchange; the
    * bounded heap keeps ≤ K entries per query map-side, so the exchange
    * carries partial heaps and nothing is ever sorted. Same NaN-total
    * (dist, cid) comparator as the window ⇒ identical rows, ranks and
    * hashes. */
  private[graft] def heapTopK(s: SparkSession, scored: DataFrame): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.top_k_by(s,
        col("dist"), col("cid"), lit(0), K).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "nbr")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rnk"),
        col("nbr.id").as("cid"), round(col("nbr.dist"), 6).as("dist"))
      .orderBy(col("qid"), col("rnk"))

  /** The quantized-scan cut limit — greatest(PqRerankMin,
    * n·cutNum DIV cutDen) — as a PLAN-TIME literal from the parquet
    * footer row count (driver metadata read, no job; footer count ≡
    * count(1) — no filter ever precedes it). r17: as a runtime column
    * (agg + crossJoin) no WindowGroupLimit/heap bound could see it, so
    * the ADC/SDC cut sorted and shuffled the FULL scored pair stream. */
  private def rerankLimit(s: SparkSession, d: String,
      cutNum: Int, cutDen: Int): Int = {
    val n = Tables.footerRowCount(s, s"$d/embeddings.parquet")
    math.max(PqRerankMin.toLong, n * cutNum / cutDen)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Scale-adaptive partition count for the qid-keyed flat quantized
    * scans (r18, VERDICT r17 item 4 — the measured rehearsal pathology):
    * their heap cuts group by qid with k = [[rerankLimit]] entries per
    * group, and at a FIXED parallelism groups-per-partition grows as
    * n/partitions. Two things then break at scale: (a) the group count
    * crosses ObjectHashAggregate's sort-based fallback threshold
    * (default 128), which silently LOCAL-SORTS the whole n² scored pair
    * stream — measured this round at a 63k-vector rehearsal tier
    * (12 GB heap, local[32]): ~80 GB of UnsafeExternalSorter spill
    * filled the disk and aborted the job (SCALE_r18.md — the r15 sq8
    * incident reproduced ON the heap form); (b) even under a raised
    * threshold, per-task buffer memory (groups · k · 20 B) grows without
    * bound (250 MB/task at 63k, 2.5 GB at 632k). Deriving the partition
    * count from (n, k) bounds both: ≤ 64 resident groups per partition
    * (half the default fallback threshold) and ≤ 16 MB of heap buffers
    * per task. At every graded tier the formula yields the session
    * parallelism at 32 cores — identical plans and bench; the 63k
    * rehearsal re-ran clean under the same constrained heap. */
  private def cutPartitions(s: SparkSession, n: Long, k: Long): Int = {
    val byGroups = (n + 63) / 64
    val byBytes = (n * k * 20 + (16L << 20) - 1) / (16L << 20)
    math.max(Tables.parallelism(s).toLong, math.max(byGroups, byBytes))
      .min(1L << 22).toInt
  }

  /** THE exact re-score of every ANN/NSW tier: (qid, cid) pairs →
    * (qid, cid, dist), the cosine distance of the two corpus vectors.
    * Both embedding lookups are sized by [[graft.Tables.sizedSide]], so
    * they broadcast while the corpus fits and shuffle-hash past it, and
    * never follow the planner's size ESTIMATE. r18, measured at the 63k
    * rehearsal: with neither hint that estimate crossed the 10 MB
    * auto-broadcast default (63k × ~300 B ≈ 19 MB) and flipped both
    * lookups to SORT-MERGE — which local-sorted the 400M-row (n·n/10)
    * rerank stream, with the 260 B query embedding attached after the
    * first join, into ~80 GB of UnsafeExternalSorter spill and a
    * disk-full abort (SCALE_r18.md §4). */
  private[graft] def exactScored(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    def lookup(id: String, vec: String) = Tables.sizedSide(s, d,
      Tables.embeddings(s, d).select(col("vec_id").as(id), col("embedding").as(vec)),
      Tables.RowBytes.Embedding)
    pairs.join(lookup("qid", "qv"), Seq("qid")).join(lookup("cid", "cv"), Seq("cid"))
      .select(col("qid"), col("cid"),
        VectorExpressions.cosine_distance(s, col("qv"), col("cv")).as("dist"))
  }

  /** Keep each query's `rlim` best candidates under the (score, cid)
    * total order — the quantized-tier pre-cut, heap form (map-side
    * partial collapse; nothing sorted, the exchange carries ≤ rlim
    * entries per query per partition). Long scores cast to double are
    * exact here (SDC ≤ dim·255² ≪ 2⁵³), so the order is unchanged. */
  private def heapCut(s: SparkSession, scored: DataFrame,
      score: String, rlim: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.top_k_by(s,
        col(score).cast("double"), col("cid"), lit(0), rlim).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"))

  /** THE quantized cut + exact rerank of every compressed tier (PQ,
    * IVFPQ, SQ8, IVF×SQ8): keep each query's
    * `greatest(PqRerankMin, n·cutNum DIV cutDen)` best candidates under
    * the quantized `score` ([[heapCut]], limit from [[rerankLimit]]),
    * then the exact re-score ([[exactScored]]) of the survivors and the
    * final heap top-K →
    * (qid, rnk, cid, dist). Both cuts are heap form with plan-time
    * limits (r17): the old runtime-column limit (agg + crossJoin)
    * blinded every bound pushdown, so the full scored pair stream was
    * sorted per partition, exchanged whole, and sorted again. The flat
    * scans cut n/10; the composed tiers cut to the PROBED volume — a
    * fixed global fraction would mis-size the cut once routing has
    * already discarded most of the corpus. */
  private def rerankTopk(s: SparkSession, d: String, scored: DataFrame,
      score: String, cutNum: Int, cutDen: Int): DataFrame = {
    val cands = heapCut(s, scored, score, rerankLimit(s, d, cutNum, cutDen))
    heapTopK(s, exactScored(s, d, cands))
  }

  /** The flat quantized scans' leave-one-out pair stream (PQ and SQ8):
    * every `queries` row (keyed qid) against every other `codes` row
    * (keyed cid).
    *
    * The query side is hashed by qid into [[cutPartitions]] partitions
    * for the n/10 cut. The keyed repartition (r17, the Knn.pairs move)
    * both parallelizes the n² scan — the bare scan arrives as ONE input
    * partition at fixture scale — and lets the qid-keyed heap cut
    * aggregate with zero exchanges below the scan's nested-loop join.
    *
    * The code side is broadcast explicitly while the corpus fits at
    * `rowBytes` per vector ([[Tables.corpusFits]]) (r18, guide §3.1):
    * left to its size estimates the planner broadcast the (smaller)
    * bare-qid QUERY side and streamed the codes, so the pair stream came
    * out cid-partitioned — the keyed repartition was discarded and the
    * heap cut paid a partial/final split whose exchange carried nearly
    * the full pre-cut volume. With the codes broadcast the query side
    * streams, stays qid-partitioned, and the cut plans as ONE complete
    * aggregation. Past the ceiling, or with broadcast off, the join is
    * left to the planner (a non-equi join has no shuffle-hash form): the
    * flat n² scan is not the at-scale serving tier (IVFPQ is). */
  private def flatPairs(s: SparkSession, d: String, queries: DataFrame,
      codes: DataFrame, rowBytes: Long): DataFrame = {
    val qside = queries.repartition(cutPartitions(s,
      Tables.footerRowCount(s, s"$d/embeddings.parquet"),
      rerankLimit(s, d, 1, PqRerankDiv)), col("qid"))
    val cside =
      if (Tables.corpusFits(s, d, rowBytes)) broadcast(codes) else codes
    qside.join(cside, col("qid") =!= col("cid"))
  }

  /** THE list-probe join of every IVF tier and of the NSW seed cells:
    * probe rows meet inverted-list rows on cent_id. The lists are the
    * DATASET, so they are never broadcast: the `shuffle_hash` hint
    * partitions both sides by cent_id and builds the hash side per
    * partition, and it stops the optimizer from broadcasting the lists
    * at test scale, keeping the physical shape scale-faithful. Every
    * list is still read — no plan prunes lists by cent_id. */
  private[graft] def probeJoin(probes: DataFrame, lists: DataFrame): DataFrame =
    probes.join(lists.hint("shuffle_hash"), Seq("cent_id"))

  /** Leave-one-out (qid, cid, listCols…) candidates: every probe row
    * (qid, qv, cent_id — [[probesOf]]) paired with the members of its
    * list. `listCols` are further list columns to carry. */
  private def probedCandidates(probes: DataFrame, lists: DataFrame,
      listCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    probeJoin(probes,
        lists.select(col("cent_id") +: col("vec_id").as("cid") +: listCols: _*))
      .where(col("qid") =!= col("cid"))

  /** IVF approximate top-k of the `queries` rows (see [[probesOf]])
    * under `cents`/`lists`: probe the `p` nearest lists per query, exact
    * cosine within the probed lists. Leave-one-out like knn_topk. Top-K
    * via the bounded heap (r17): the probed candidate stream is n·p/C
    * rows per query; see [[heapTopK]]. */
  private[graft] def ivfTopkFrom(s: SparkSession, queries: DataFrame,
      cents: DataFrame, lists: DataFrame, p: Int): DataFrame =
    heapTopK(s, probedCandidates(probesOf(s, queries, cents, p),
        lists, Seq(col("embedding").as("cv")))
      .select(col("qid"), col("cid"),
        VectorExpressions.cosine_distance(s, col("qv"), col("cv")).as("dist")))

  def ivfTopk(s: SparkSession, d: String): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), centroids(s, d),
      assignments(s, d), P)

  def ivfTopkTrained(s: SparkSession, d: String): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), trainedCentroids(s, d),
      trainedAssignments(s, d), P)

  private[graft] def ivfTopkTrainedAt(s: SparkSession, d: String,
      c: Int, p: Int): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), trainedCentroidsAt(s, d, c),
      trainedAssignmentsAt(s, d, c), p)

  private[graft] def recallTrainedAt(s: SparkSession, d: String,
      c: Int, p: Int): DataFrame =
    recallOf(s, d, ivfTopkTrainedAt(s, d, c, p))

  /** Per-label prototype centroids: the quantized elementwise mean of
    * every vector carrying the label (same engine-exact arithmetic as
    * `refineOnce`, keyed by label instead of cluster). One partial-agg'd
    * shuffle of (label·dim) sums. */
  private def labelCentroids(s: SparkSession, d: String): DataFrame =
    quantizedMeans(
      Tables.repartitioned(Tables.embeddings(s, d), s)
        .select(col("label"), col("embedding")), "label")
      .select(col("label").as("c_label"), col("mean_vec").as("cent_vec"))

  /** NCC: nearest-centroid (Rocchio/prototype) classification — the
    * O(n·L) companion to O(n²) KNN: every vector goes to its nearest
    * label prototype by cosine distance. The entire classifier is one
    * broadcast of L centroid rows + a map-side argmin; at 100 TB this is
    * the shape that classifies a corpus in a single scan. Deterministic
    * (quantized means, label-asc tie-break) → fully oracled. */
  def nccClassify(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cdist").asc, col("c_label").asc)
    Tables.repartitioned(Tables.embeddings(s, d), s)
      .select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(labelCentroids(s, d)))
      .select(col("vec_id"), col("label"), col("c_label"),
        VectorExpressions.cosine_distance(s, col("embedding"), col("cent_vec"))
          .as("cdist"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("pred"))
      .orderBy(col("vec_id"))
  }

  /** NCC confusion matrix — how the one-scan prototype classifier
    * confuses labels (compare with knn_confusion for the accuracy/cost
    * trade between O(n·L) and O(n²)). */
  def nccConfusion(s: SparkSession, d: String): DataFrame =
    nccClassify(s, d)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))

  // ------------------------------------------------------- product quant
  /** PQ geometry: M subspaces × SubDim dims (fixture embeddings are
    * 64-dim), Cw codewords per subspace → a vector compresses to M
    * small codes (here 4 × 4 bits vs 64 × 4 bytes = 128× less memory
    * traffic per scanned vector). Codebooks are the deterministic seed
    * pick (the first Cw vectors' subvectors — same rule as the IVF seed
    * centroids) so the whole index is a pure function of the data and
    * every PQ query carries a DuckDB oracle. */
  val PqM = 8
  val PqSubDim = 8
  val PqCw = 256
  /** Re-rank depth: R = max(PqRerankMin, n DIV PqRerankDiv) ADC-ranked
    * candidates per query get exact scoring — a FRACTION of the corpus,
    * not a constant, because ADC rank noise on these near-isotropic
    * embeddings scales with n (measured recall@10 at fixed R=50:
    * 0.938 at n=500, 0.620 at n=2000; with R=n/10: 0.938 / 0.917).
    * Re-ranking n/10 per query is still a 10× cut of the exact-distance
    * work vs brute force, on the hardest (clusterless) input; clustered
    * real corpora reach the same recall at far smaller fractions. */
  val PqRerankMin = 50
  val PqRerankDiv = 10

  /** (vec_id, cw_id, s0..s{M−1}) for M = [[PqM]]: per-subspace
    * euclidean distances of every vector against every codeword —
    * shared by encoding (argmin per subspace) and the query LUT
    * (squares). n·Cw map-side rows. */
  private[graft] def pqSubDists(s: SparkSession, d: String): DataFrame =
    // session-cached: every PQ query consumes this table TWICE (the
    // code argmin and the query LUT are both views of it) and Spark
    // does not reuse aliased subtrees — uncached, the n·Cw distance
    // evaluation ran twice per query (measured ≈3.2 → ≈2.2 s cold on
    // ann_pq_topk at sf0.01). Same lifecycle as the IVF index cache.
    assignCache.getOrBuild(s, s"$d#pqsub") {
      val cb = Tables.embeddings(s, d).where(col("vec_id") < PqCw)
        .select(col("vec_id").as("cw_id"), col("embedding").as("cw_vec"))
      val e = Tables.repartitioned(Tables.embeddings(s, d), s)
        .select(col("vec_id"), col("embedding"))
      val subCols = (0 until PqM).map { m =>
        VectorExpressions.euclidean_distance(s,
          slice(col("embedding"), m * PqSubDim + 1, PqSubDim),
          slice(col("cw_vec"), m * PqSubDim + 1, PqSubDim)).as(s"s$m")
      }
      e.crossJoin(broadcast(cb))
        .select(col("vec_id") +: col("cw_id") +: subCols: _*)
    }

  /** (vec_id, code0..code{M−1}): the compressed index — one argmin per
    * subspace over the shared sub-distance rows, collapsed map-side by
    * M bounded-heap argmins in ONE grouped pass (the exchange carries n
    * rows, not n·Cw). Heap at k=1, not min_by (r16): min_by's struct
    * buffer forces SortAggregate — a per-partition sort of the full
    * n·Cw sub-distance stream that a 100 TB PQ build cannot afford —
    * while the TypedImperativeAggregate heap hash-collapses map-side
    * with the identical (s_m, cw_id) comparator (same code words,
    * hash-verified). */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame = {
    val aggs = (0 until PqM).map { m =>
      element_at(graft.functions.TopKAgg.top_k_by(s,
        col(s"s$m"), col("cw_id"), lit(0), 1), 1)
        .getField("id").as(s"code$m")
    }
    pqSubDists(s, d).groupBy(col("vec_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The PQ tier: flat (IndexPQ-style) scan over asymmetric-distance
    * codes + exact re-rank → (qid, rnk, cid, dist) — the
    * memory-compression companion to IVF's list pruning. A PQ scan
    * still touches every vector, but reads M table lookups (the
    * per-query LUT is M·Cw distances, broadcast) instead of the full
    * float vector; the classic production composition is IVF to prune
    * lists THEN PQ within them (FAISS IVFPQ) — both halves exist here
    * independently, each oracled.
    *
    * Distance semantics: embeddings are unit-norm (asserted in AnnSpec),
    * so squared L2 = 2 − 2·cos is strictly monotone in cosine distance —
    * ADC = Σₘ ‖qₘ − codeword(codeₘ)‖² ranks candidates for the cosine
    * ground truth, and the exact cosine re-rank of the top
    * [[rerankLimit]] restores exact distances at the cut. Every float op
    * (subspace euclidean, square, the M-term left-fold sum, cosine) is
    * written in the same order in both engines, so results stay
    * hash-exact. */
  private def pqRerankTopk(s: SparkSession, d: String): DataFrame = {
    // the M-byte code table (n·~80 B) is the broadcast side; the ADC
    // LUT join keeps the pair stream qid-partitioned for the cut
    val pairs = flatPairs(s, d,
      Tables.embeddings(s, d).select(col("vec_id").as("qid")),
      pqCodes(s, d).withColumnRenamed("vec_id", "cid"),
      Tables.RowBytes.PqCodes)
    rerankTopk(s, d, adcScored(s, d, pairs), "adc", 1, PqRerankDiv)
  }

  /** ADC-score `pairs` (qid, cid, code0..codeM-1) → (qid, cid, adc):
    * the LUT half of the PQ tiers, shared by the flat scan (all pairs)
    * and the IVFPQ composition (probed pairs only); both then go
    * through [[rerankTopk]]. */
  private def adcScored(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    // The per-query LUT in the layout PQ serving engines actually use:
    // ONE row per query carrying M arrays of Cw squared sub-distances,
    // indexed positionally by codeword id (sort_array pins cw order).
    // Round 9 shipped this as M separate (qid, code_m)-keyed hash joins;
    // the sf1 rehearsal showed what that costs at scale — each of the M
    // joins re-shuffles the whole pair table (8 × 18 GB of shuffle at
    // 2.2·10⁸ probed pairs), and the run died on disk. One array-valued
    // join + map-side element_at lookups is the same arithmetic in the
    // same ((q0+q1)+…+q7) fold order — bit-identical ADC — with ONE
    // shuffle of the pair table instead of M.
    val lutArr = (0 until PqM).map { m =>
      transform(array_sort(collect_list(
        struct(col("cw_id"), (col(s"s$m") * col(s"s$m")).as(s"q$m")))),
        x => x.getField(s"q$m")).as(s"lut$m")
    }
    val lut = pqSubDists(s, d).groupBy(col("vec_id").as("qid"))
      .agg(lutArr.head, lutArr.tail: _*)
    // Broadcast is right for production ANN serving (a query batch is
    // small: Cw·M doubles ≈ 16 KB per query). The declared leave-one-out
    // form makes EVERY corpus row a query — at 100× the broadcast is
    // O(n·Cw·M) and becomes the scale-killer of the PQ tier, so past the
    // broadcast ceiling the join is a qid-keyed shuffle-hash: each pair
    // row meets exactly its own query's LUT row and nothing is
    // replicated to every executor. Results identical either way (same
    // join, different exchange) — plan-asserted in AnnSpec for both
    // branches.
    val lutSide = Tables.sizedSide(s, d, lut, Tables.RowBytes.Lut)
    // The positional element_at assumes codeword ids are contiguous from
    // 0 (true by construction: the codebook is `vec_id < PqCw`). If that
    // precondition ever broke — gapped ids after a fixture change — the
    // lookup would return null and nulls sort FIRST under the ascending
    // ADC window, silently corrupting the candidate set. Fail loudly
    // instead: a null ADC is always a bug, never data.
    val adcSum = (0 until PqM).map(m =>
        element_at(col(s"lut$m"), col(s"code$m").cast("int") + 1))
      .reduce(_ + _)
    pairs.join(lutSide, Seq("qid"))
      .select(col("qid"), col("cid"),
        coalesce(adcSum, raise_error(lit(
          "ADC LUT lookup returned null - non-contiguous codeword ids?"))
          .cast("double")).as("adc"))
  }

  def pqTopk(s: SparkSession, d: String): DataFrame = pqRerankTopk(s, d)

  /** The IVFPQ composition — the production ANN shape (FAISS IVFPQ):
    * IVF prunes WHICH vectors are examined (P/C of the inverted lists
    * per query), PQ compresses HOW each examined vector is scored (M
    * byte codes + a broadcast LUT instead of the full float vector),
    * and the exact re-rank restores true distances at the cut. At
    * 100 TB this is the only tier that is simultaneously sublinear in
    * vectors touched AND bytes per touch; the two error sources
    * (list recall × ADC rank noise) multiply, so its recall is bounded
    * by its routing tier's — measured alongside it by
    * `ann_ivfpq_recall`, law-tested ≤ routing recall. Candidates route
    * through [[probedCandidates]], like ivfTopk. */
  private[graft] def ivfpqTopkFrom(s: SparkSession, d: String,
      cents: DataFrame, lists: DataFrame, p: Int,
      codes: Option[DataFrame] = None, nLists: Int = C): DataFrame = {
    val cand = probedCandidates(
        probesOf(s, Tables.embeddings(s, d), cents, p), lists, Nil)
      .select(col("qid"), col("cid"))
    val scored = adcScored(s, d, cand.join(codes.getOrElse(pqCodes(s, d))
      .withColumnRenamed("vec_id", "cid"), Seq("cid")))
    // re-rank cut scaled to the PROBED pair count: each query carries
    // ≈ n·p/C candidates, and the exact re-rank takes half of them —
    // the flat-scan lesson (fixed cuts decay with n) applied to the
    // composed tier, where the decaying quantity is probed volume
    rerankTopk(s, d, scored, "adc", p, 2 * nLists)
  }

  /** Probed lists for the composed IVFPQ tier. Wider than plain IVF's P
    * because IVFPQ multiplies TWO error sources — routing recall × ADC
    * rank noise — and the production bar (recall@10 ≥ 0.9) must survive
    * the product on a near-isotropic corpus, ANN's hardest case.
    * Measured on the TRAINED index (round 9, sf0.1): P=96/128 with the
    * old global n/10 cut gave 0.883/0.912 — over the bar but thin; with
    * the probed-volume-scaled re-rank cut, P=144 reaches 0.9693 (P=160:
    * 0.9796; diminishing). Real clustered corpora reach the bar at far
    * smaller P; this is the knob a deployment retunes per corpus. */
  val PIvfpq = 144

  /** The composed production tier now runs BUILD-then-QUERY: coarse
    * quantizer TRAINED (Lloyd's), index persisted via [[ensureIndex]],
    * and the query side consumes the stored artifact — so a cold session
    * pays probe + ADC + re-rank only, never training. Results are
    * bit-identical to composing the live-computed index (the artifact is
    * exact arithmetic round-tripped through parquet), which keeps the
    * full DuckDB oracle. */
  def ivfpqTopk(s: SparkSession, d: String): DataFrame =
    ivfpqTopkFrom(s, d, storedCentroids(s, d), storedLists(s, d), PIvfpq,
      Some(storedCodes(s, d)))

  def ivfpqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(s, d, ivfpqTopk(s, d))

  private[graft] def ivfpqRecallTrainedAt(s: SparkSession, d: String,
      c: Int, p: Int): DataFrame =
    recallOf(s, d, ivfpqTopkFrom(s, d, trainedCentroidsAt(s, d, c),
      trainedAssignmentsAt(s, d, c), p, nLists = c))

  // ------------------------------------------------ stored index (r10)

  /** Root directory for persisted ANN indexes, read through
    * [[IndexGc.root]]: the write half of the production lifecycle —
    * TRAIN/ASSIGN/ENCODE once, persist, then every query session pays
    * probe cost only. */
  val IndexDirConf = "spark.graft.ann.indexDir"

  /** Cheap corpus fingerprint (row count + max vec_id + total parquet
    * byte length), memoized per (session, dataset): folded into the
    * index path so regenerating a fixture IN PLACE can't silently serve
    * a stale index. Count + max catch any size/id-range change; the
    * byte length (an fs metadata read) also catches the same-shape
    * regeneration — new VALUES at the same n compress to a different
    * file size in practice. Honest limit (r13 review): none of these is
    * a content hash, so a regeneration contrived to keep n, max id AND
    * byte length would still alias — a deployment that rewrites
    * corpora in place must clear the index root (or version the path
    * itself); the fixture contract here is that regeneration goes
    * through MakeSf, which changes at least the byte length. */
  private val fpCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[ops] def corpusFingerprint(s: SparkSession, d: String): String =
    fpCache.getOrElseUpdate((s, d), {
      val r = Tables.embeddings(s, d)
        .agg(count(lit(1)), max(col("vec_id"))).head()
      val p = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
      val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      s"n${r.getLong(0)}x${r.getLong(1)}b$bytes"
    })

  /** Versioned by every constant the artifact depends on AND a corpus
    * fingerprint, so neither retuning C/P/M nor an in-place fixture
    * regeneration can silently serve a stale index. `v2_` is the list
    * layout ([[writeLists]]; v1 was `cent_id=` directories), so a
    * leftover v1 index is only ever a superseded [[IndexGc]] version. */
  private def indexPath(s: SparkSession, d: String): String =
    s"${IndexGc.root(s)}/v2_C${C}_L${LloydIters}_M${PqM}_Cw${PqCw}_" +
      s"${corpusFingerprint(s, d)}_${graft.Tables.dirTag(d)}"

  /** Every path the CURRENT resolution rule can hand a reader for this
    * dataset — the IVF lifecycle's serving set, protected absolutely by
    * [[IndexGc]]'s retention rule. Pure function of (constants, corpus
    * fingerprint); resolving it never builds anything. */
  private[graft] def livePaths(s: SparkSession, d: String): Seq[String] = {
    val base = indexPath(s, d)
    Seq(base, s"${base}_upsert", s"${base}_retrain")
  }

  /** BUILD once, idempotently: trained centroids, the inverted lists
    * (one flat file set clustered by cent_id — see [[writeLists]] for
    * why not a directory per list), and the PQ code table, committed by
    * [[IndexGc.commitOnce]] only after all three tables are fully
    * written, so a killed build re-runs instead of serving a torso.
    * Everything written is bit-exact arithmetic
    * (quantized means, IEEE distances), so index-from-disk ≡
    * index-recomputed — which is what lets the indexed queries keep
    * full DuckDB oracles. */
  private def ensureIndex(s: SparkSession, d: String): String =
    IndexGc.commitOnce(s, indexPath(s, d)) { tmp =>
      trainedCentroids(s, d)
        .write.mode("overwrite").parquet(s"$tmp/centroids")
      writeLists(trainedAssignments(s, d), s"$tmp/lists")
      pqCodes(s, d).write.mode("overwrite").parquet(s"$tmp/codes")
    }

  private[graft] def storedCentroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${ensureIndex(s, d)}/centroids")

  private[graft] def storedLists(s: SparkSession, d: String): DataFrame =
    listsAt(s, s"${ensureIndex(s, d)}/lists")

  private[graft] def storedCodes(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${ensureIndex(s, d)}/codes")

  /** Inverted-list census — (cent_id, list_size) per list, ordered. */
  private def listCensus(lists: DataFrame): DataFrame =
    lists.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("list_size"))
      .orderBy(col("cent_id"))

  /** ann_index_build: run the BUILD half and describe the artifact —
    * the trained inverted-list census, read back from the files just
    * written (so the declared row is a fact about the persisted index,
    * not about an in-memory intermediate). */
  def indexBuild(s: SparkSession, d: String): DataFrame =
    listCensus(storedLists(s, d))

  /** ann_ivf_topk_indexed: the QUERY half — identical semantics (and
    * oracle SQL) to ann_ivf_topk_trained, but consuming the persisted
    * index, so a cold session pays probe cost only. */
  def ivfTopkIndexed(s: SparkSession, d: String): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), storedCentroids(s, d),
      storedLists(s, d), P)

  // -------------------------------------------- incremental maintenance

  /** Incremental index maintenance (VERDICT r10 item 5): the upsert
    * split point — the first [[UpsertNum]]/[[UpsertDen]] of the corpus
    * is the BASE the index was built on; the tail is the arriving batch
    * the maintainer appends WITHOUT a rebuild. From the parquet footer
    * (vec_ids are contiguous 0..n−1, the fixture contract). */
  val UpsertNum = 9
  val UpsertDen = 10
  private[graft] def upsertCut(s: SparkSession, d: String): Long = {
    val cut = Tables.footerRowCount(s, s"$d/embeddings.parquet") *
      UpsertNum / UpsertDen
    // the frozen quantizer must be fully trainable from the base alone
    require(cut >= C && cut >= PqCw,
      s"upsert base of $cut vectors cannot seed C=$C/Cw=$PqCw quantizers")
    cut
  }

  /** Lloyd's-trained centroids over the BASE slice only — the frozen
    * coarse quantizer an incremental maintainer keeps serving while
    * batches arrive (retraining is a separate, rarer lifecycle event).
    * Same seed rule and quantized arithmetic as [[trainedCentroidsAt]];
    * the seed pick (vec_id < C) is inside the base by the [[upsertCut]]
    * guard. */
  private[graft] def baseTrainedCentroids(s: SparkSession, d: String)
      : DataFrame =
    assignCache.getOrBuild(s, s"$d#baseTrainedCents#$C") {
      val cut = upsertCut(s, d)
      trainOver(s, Tables.repartitioned(
        Tables.embeddings(s, d).where(col("vec_id") < cut), s), C)
    }

  /** BUILD the base index, then APPEND the delta batch as a new file
    * set — the LSM shape every table format gives a streaming MERGE
    * (d33's version rule applied to the ANN artifact). The base phase
    * persists centroids trained on the base slice plus its lists/codes;
    * the INCREMENTAL phase assigns ONLY the delta rows against the
    * centroids READ BACK FROM DISK (proving maintenance needs the
    * stored artifact, not the training lineage) and writes them under
    * `delta/` — the base files are never rewritten. Because assignment
    * and PQ encoding are per-row pure functions of (vector, frozen
    * quantizer), incrementally-maintained ≡ rebuilt-from-scratch
    * BIT-EXACT (the b40 monoid-merge story for the index; law-tested in
    * AnnSpec, ScaleCheck-gated at sf1) — which is what lets the
    * upserted queries keep full DuckDB oracles. Committed by
    * [[IndexGc.commitOnce]], like [[ensureIndex]]. */
  private def ensureUpsertedIndex(s: SparkSession, d: String): String =
    IndexGc.commitOnce(s, s"${indexPath(s, d)}_upsert") { tmp =>
      val cut = upsertCut(s, d)
      baseTrainedCentroids(s, d)
        .write.mode("overwrite").parquet(s"$tmp/base/centroids")
      val stored = s.read.parquet(s"$tmp/base/centroids")
      def writeSlice(rows: org.apache.spark.sql.Column, dir: String): Unit = {
        writeLists(buildAssignments(s, d, stored, Some(rows)),
          s"$tmp/$dir/lists")
        pqCodes(s, d).where(rows)
          .write.mode("overwrite").parquet(s"$tmp/$dir/codes")
      }
      writeSlice(col("vec_id") < cut, "base")
      // the incremental phase: ONLY the arriving batch is scored
      writeSlice(col("vec_id") >= cut, "delta")
    }

  /** One inverted-list file set: flat parquet, `cent_id` a plain long
    * column, rows clustered by list. Not `partitionBy("cent_id")`: every
    * probe join reads all lists, and at C = 256 that layout cost each
    * read a 256-task partition-discovery job plus ~400 tiny-file opens
    * (measured: most of `ann_ivf_topk_indexed`'s time at n = 500). */
  private def writeLists(lists: DataFrame, path: String): Unit =
    lists.select(col("vec_id"), col("cent_id"), col("embedding"), col("cdist"))
      .repartition(col("cent_id"))
      .sortWithinPartitions(col("cent_id"), col("vec_id"))
      .write.mode("overwrite").parquet(path)

  private def listsAt(s: SparkSession, p: String): DataFrame =
    s.read.parquet(p)

  /** The maintained inverted lists: base file set ∪ appended delta file
    * set (never a rewrite — reading both IS the merge). */
  private[graft] def upsertedLists(s: SparkSession, d: String): DataFrame = {
    val p = ensureUpsertedIndex(s, d)
    listsAt(s, s"$p/base/lists").unionByName(listsAt(s, s"$p/delta/lists"))
  }

  private[graft] def upsertedCentroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${ensureUpsertedIndex(s, d)}/base/centroids")

  private[graft] def upsertedCodes(s: SparkSession, d: String): DataFrame = {
    val p = ensureUpsertedIndex(s, d)
    s.read.parquet(s"$p/base/codes")
      .unionByName(s.read.parquet(s"$p/delta/codes"))
  }

  /** The rebuilt-from-scratch twin: every row assigned against the same
    * frozen base quantizer in one pass — the reference side of the
    * incremental ≡ rebuilt law (AnnSpec / ScaleCheck). */
  private[graft] def rebuiltLists(s: SparkSession, d: String): DataFrame =
    buildAssignments(s, d, upsertedCentroids(s, d))

  /** ann_index_upsert: the incrementally-maintained list census — the
    * declared fact about the post-upsert artifact (every row of base ∪
    * delta, keyed by the frozen quantizer's cells). */
  def indexUpsert(s: SparkSession, d: String): DataFrame =
    listCensus(upsertedLists(s, d))

  /** ann_ivf_topk_upserted: IVF search over the maintained index —
    * probes route through the FROZEN base-trained centroids into the
    * base ∪ delta lists, so arriving vectors are immediately
    * searchable without a rebuild. */
  def ivfTopkUpserted(s: SparkSession, d: String): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), upsertedCentroids(s, d),
      upsertedLists(s, d), P)

  /** The delta file set alone — the arriving batch the graph tier's
    * delta-serving union reads (never the base files). */
  private[graft] def deltaLists(s: SparkSession, d: String): DataFrame =
    listsAt(s, s"${ensureUpsertedIndex(s, d)}/delta/lists")

  /** Delta-only IVF serving (the graph tier's between-retrains path,
    * Nsw upsert contract → `ann_nsw_topk_upserted`): every query
    * probes the FROZEN base-trained quantizer, but candidates come
    * from the delta lists ONLY — O(n · P · |delta|/C) work, the term
    * that stays cheap while the base graph serves the bulk. */
  private[graft] def ivfTopkDelta(s: SparkSession, d: String): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), upsertedCentroids(s, d),
      deltaLists(s, d), P)

  // ------------------------------------------------ retrain lifecycle

  /** Retrain trigger: once the appended delta reaches
    * [[RetrainNum]]/[[RetrainDen]] of the base row count, the frozen
    * coarse quantizer has drifted from the corpus it routes and the
    * maintainer RETRAINS — the rarer lifecycle event the upsert path's
    * scaladoc promises. The fixture's 1/9 delta:base ratio is above
    * this 1/20 threshold, so the declared queries exercise a TRIGGERED
    * retrain; ScaleCheck reports the measured fraction at sf1. */
  val RetrainNum = 1
  val RetrainDen = 20

  /** RETRAIN + COMPACT: read base ∪ delta back from the persisted
    * upserted index (the maintainer owns the artifact, not the source
    * table), retrain the coarse quantizer over ALL of it with the same
    * seed rule and quantized arithmetic, reassign every row, and commit
    * a NEW index version — base and delta compact into one file set.
    * Because the maintained lists hold exactly the corpus rows and the
    * training rule is a pure function of the (vec_id, embedding) set,
    * the retrained index ≡ the fresh full-corpus build BIT-EXACT
    * (post-retrain search ≡ fresh-build search — the lifecycle law
    * AnnSpec asserts and the DuckDB oracle certifies). Committed by
    * [[IndexGc.commitOnce]], like [[ensureIndex]]. */
  private def ensureRetrainedIndex(s: SparkSession, d: String): String = {
    val upPath = ensureUpsertedIndex(s, d)
    IndexGc.commitOnce(s, s"${indexPath(s, d)}_retrain") { tmp =>
      // the trigger is a fact about the maintained artifact itself
      val nBase = listsAt(s, s"$upPath/base/lists").count()
      val nDelta = listsAt(s, s"$upPath/delta/lists").count()
      require(nDelta * RetrainDen >= nBase * RetrainNum,
        s"retrain not triggered: delta $nDelta < " +
          s"$RetrainNum/$RetrainDen of base $nBase")
      val rows = listsAt(s, s"$upPath/base/lists")
        .unionByName(listsAt(s, s"$upPath/delta/lists"))
        .select(col("vec_id"), col("embedding"))
      trainOver(s, Tables.repartitioned(rows, s), C)
        .write.mode("overwrite").parquet(s"$tmp/centroids")
      val stored = s.read.parquet(s"$tmp/centroids")
      writeLists(assignOver(s, Tables.repartitioned(rows, s), stored),
        s"$tmp/lists")
      // the fine (PQ) codebook is a separate quantizer family; the
      // new version re-encodes under it unchanged, like ensureIndex
      pqCodes(s, d).write.mode("overwrite").parquet(s"$tmp/codes")
    }
  }

  private[graft] def retrainedCentroids(s: SparkSession, d: String)
      : DataFrame =
    s.read.parquet(s"${ensureRetrainedIndex(s, d)}/centroids")

  private[graft] def retrainedLists(s: SparkSession, d: String): DataFrame =
    listsAt(s, s"${ensureRetrainedIndex(s, d)}/lists")

  /** ann_index_retrain: the post-retrain list census, read back from the
    * newly-committed version — bit-identical to the fresh full-corpus
    * build's census (the lifecycle law), which is exactly what its
    * oracle asserts. */
  def indexRetrain(s: SparkSession, d: String): DataFrame =
    listCensus(retrainedLists(s, d))

  /** ann_ivf_topk_retrained: search over the retrained version — must
    * equal fresh-build search bit-exactly (shares the trained oracle). */
  def ivfTopkRetrained(s: SparkSession, d: String): DataFrame =
    ivfTopkFrom(s, Tables.embeddings(s, d), retrainedCentroids(s, d),
      retrainedLists(s, d), P)

  /** recall@K of the PQ→re-rank pipeline vs the exact top-k. */
  def pqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(s, d, pqRerankTopk(s, d))

  /** Code histogram per subspace — quantization balance (a subspace
    * whose codes collapse onto few codewords carries no information). */
  def pqCodeStats(s: SparkSession, d: String): DataFrame = {
    val long = (0 until PqM).map { m =>
      pqCodes(s, d).select(lit(m).as("m"), col(s"code$m").as("code"))
    }.reduce(_ unionAll _)
    long.groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("m"), col("code"))
  }

  /** The seed index's list census (skew visibility). */
  def ivfStats(s: SparkSession, d: String): DataFrame =
    listCensus(assignments(s, d))

  /** recall@K of an approximate top-k against the exact ops.Knn top-k
    * over every query: [[recall]] with the session-cached exact ranked
    * set as its exact arm. */
  private[graft] def recallOf(s: SparkSession, d: String,
      approx: DataFrame): DataFrame =
    recall(approx, Knn.knnTopk(s, d))

  /** THE recall tail of every ANN/NSW tier: recall@K of the `approx`
    * top-K against the `exact` top-K over the same queries, both read
    * as (qid, cid) rows — (n_queries, n_hits, recall), pure integer
    * counts plus one division, so the quality of an approximate index
    * is itself an oracle-checked number.
    *
    * Loud empty guard, IN the plan: a tiny or adversarial id set can
    * hash nobody to the sampled residue, and a silent NULL recall row
    * would poison the envelope checks downstream. assert_true returns
    * NULL when the query set is non-empty, so the recall value is
    * unchanged, and an empty one fails the job (the DuckDB `error()`
    * twin) at no extra scan; an eager count() would pay a corpus pass
    * per call. */
  private[graft] def recall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select(col("qid"), col("cid"))
    val hits = approx.select(col("qid"), col("cid"))
      .join(e, Seq("qid", "cid"))
      .agg(count(lit(1)).as("n_hits"))
    val nq = e.agg(countDistinct(col("qid")).as("n_queries"))
    hits.crossJoin(nq).select(col("n_queries"), col("n_hits"),
      when(assert_true(col("n_queries") > 0, lit(
        s"recall sample is empty: no vec_id hashes to residue 0 mod " +
          s"$RecallSampleMod under salt '$RecallSampleSalt' - change the " +
          "salt or evaluate full recall")).isNull,
        round(col("n_hits").cast("double") / (col("n_queries") * lit(K)), 6))
        .as("recall"))
  }

  /** Query-sample modulus/salt for scale-safe recall evaluation: the
    * recall harness keeps a deterministic 1/[[RecallSampleMod]] fnv
    * carve of the queries (the s01 rule applied to vec_id) and computes
    * EXACT ground truth only on that sample — n_s·n distance
    * evaluations, the form that survives 100 TB, where the full n²
    * ground truth of `ann_recall_trained` cannot run. The binomial
    * envelope law (AnnSpec): full recall lies within 4σ of the sampled
    * estimate, σ = √(p(1−p)/(K·n_s)). */
  val RecallSampleMod = 8
  val RecallSampleSalt = "recallq"

  /** Eval-set size ceiling (r13, VERDICT r12 item 5): a bare 1/8
    * FRACTION is a billion-query eval set at 100 TB. The sample is now
    * min(carve, [[RecallSampleCap]]): within the fnv carve, keep the
    * [[RecallSampleCap]] smallest (hash, vec_id) — the KMV rule, so the
    * capped set is still a pure deterministic function of the ids that
    * both engines compute identically (signed-64 ordering on the same
    * fnv value), and a distributed sort+limit (TakeOrderedAndProject —
    * per-partition top-N then one merge, never a global sort). Not
    * binding at the graded tiers (carve ≈ n/8 < cap), binding at sf1. */
  val RecallSampleCap = 1024

  /** The ONE definition of the recall-carve hash — shared by the
    * estimator, ScaleCheck's cap-binding assertion, and AnnSpec's
    * empty-carve fixture (r13 review: three re-typed copies can drift). */
  private[graft] def recallSampleHash(s: SparkSession) =
    graft.functions.HashExpressions.fnv1a64(s,
      concat(lit(RecallSampleSalt), col("vec_id").cast("string")))

  /** The carve membership predicate over [[recallSampleHash]]. */
  private[graft] def recallCarvePred(s: SparkSession) =
    pmod(recallSampleHash(s), lit(RecallSampleMod.toLong)) === 0

  /** The capped deterministic query sample: ≤ cap (vec_id, embedding)
    * rows of the embeddings table — a query set for [[ivfTopkFrom]],
    * [[Nsw.nswTopkAt]] and [[sampledExact]]. */
  private[graft] def recallSampleOf(s: SparkSession, d: String,
      cap: Int): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("hs", recallSampleHash(s))
      .where(pmod(col("hs"), lit(RecallSampleMod.toLong)) === 0)
      .orderBy(col("hs").asc, col("vec_id").asc).limit(cap)
      .select(col("vec_id"), col("embedding"))

  /** The sampled exact arm of [[recall]]: each `sample` query's exact
    * top-K (qid, cid) over the whole corpus. The sample is the small
    * side, so it broadcasts and the corpus streams against it — n_s·n
    * distance evaluations, never n² — and [[heapCut]] cuts at K (r17:
    * the scored stream is never sorted; same (dist, cid) order as a
    * rank window). `Knn.scan` does not fit: it broadcasts the corpus. */
  private[graft] def sampledExact(s: SparkSession, d: String,
      sample: DataFrame): DataFrame = {
    val c = Tables.repartitioned(Tables.embeddings(s, d), s)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val q = sample.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    heapCut(s, c.crossJoin(broadcast(q))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorExpressions.cosine_distance(s, col("qv"), col("cv"))
          .as("dist")), "dist", K)
  }

  /** ann_recall_sampled: recall@K of the trained IVF tier over the
    * deterministic query sample, with exact ground truth computed ONLY
    * for sampled queries ([[sampledExact]]). The approximate side also
    * searches only the sampled queries (per-query independence makes
    * the restriction exact, not an approximation). */
  def recallSampled(s: SparkSession, d: String): DataFrame =
    recallSampledAt(s, d, RecallSampleCap)

  private[graft] def recallSampledAt(s: SparkSession, d: String,
      cap: Int): DataFrame = {
    // materialized once: both arms read the sample, and unmaterialized
    // each would re-run the corpus scan, the fnv hash and the top-N
    val qs = recallSampleOf(s, d, cap).checkpointed
    recall(ivfTopkFrom(s, qs, trainedCentroids(s, d),
      trainedAssignments(s, d), P), sampledExact(s, d, qs))
  }

  def recallSeed(s: SparkSession, d: String): DataFrame =
    recallOf(s, d, ivfTopk(s, d))

  def recallTrained(s: SparkSession, d: String): DataFrame =
    recallOf(s, d, ivfTopkTrained(s, d))

  // ------------------------------------------------------------ SemDeDup

  /** C38: SemDeDup (Abbas et al., 2023) — the cluster-then-pairwise
    * semantic dedup used to prune web-scale embedding corpora: instead
    * of an exact all-pairs (or even triangle-pruned, c12) similarity
    * join, pairs are only examined WITHIN each IVF cell, trading a
    * bounded recall loss (cross-cell near-dups are simply not looked
    * at — that is the algorithm, not a bug) for a pair space of
    * Σ|cell|² ≪ n². Keep rule, made deterministic: within a dup pair
    * the member FARTHER from its centroid survives (the paper keeps the
    * low-centroid-similarity "outlier" as the cluster representative),
    * ties broken to the lower vec_id. "Beats" is a strict total order
    * on (cdist asc, vec_id desc), so every dup chain keeps at least its
    * order-maximum — a survivor always exists (law-tested).
    *
    * Scale shape: the pair generator is a self-equi-join on cent_id —
    * Σ|cell|² pairs, no all-pairs anywhere. Nothing stores the
    * assignment table bucketed by cent_id; the planner chooses how this
    * join moves it.
    */
  private def semdedupDup(s: SparkSession, d: String): DataFrame = {
    val a = assignments(s, d)
    val l = a.select(col("cent_id"), col("vec_id").as("i"),
      col("embedding").as("ei"), col("cdist").as("di"))
    val r = a.select(col("cent_id"), col("vec_id").as("j"),
      col("embedding").as("ej"), col("cdist").as("dj"))
    l.join(r, Seq("cent_id"))
      .where(col("i") =!= col("j"))
      .withColumn("pdist",
        VectorExpressions.cosine_distance(s, col("ei"), col("ej")))
      .where(col("pdist") < lit(TextOps.EmbedDupTau))
      .select(col("cent_id"), col("i"), col("di"), col("j"), col("dj"))
  }

  /** Per-vector SemDeDup audit table: kept=0 iff some same-cell near-dup
    * outranks it under the keep order. */
  def semdedup(s: SparkSession, d: String): DataFrame = {
    val dropped = semdedupDup(s, d)
      .where(col("dj") > col("di") ||
        (col("dj") === col("di") && col("j") < col("i")))
      .select(col("i").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1))
    assignments(s, d)
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), round(col("cdist"), 6).as("cdist"),
        when(col("is_dropped").isNull, 1).otherwise(0).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Corpus-level SemDeDup summary (the number a pipeline dashboard
    * tracks per ingest drop). All four dup-derived counts come from ONE
    * pass over the pair table (conditional aggregates over the
    * both-directions join) — a naive dropped-set + pair-count pair of
    * subqueries would run the candidate join twice. */
  def semdedupStats(s: SparkSession, d: String): DataFrame = {
    val nv = assignments(s, d).agg(count(lit(1)).as("n_vecs"))
    val agg = semdedupDup(s, d).agg(
      count(when(col("i") < col("j"), 1)).as("n_dup_pairs"),
      countDistinct(when(col("i") < col("j"), col("cent_id")))
        .as("n_dup_cells"),
      countDistinct(when(col("dj") > col("di") ||
        (col("dj") === col("di") && col("j") < col("i")), col("i")))
        .as("n_dropped"))
    nv.crossJoin(agg)
      .select(col("n_vecs"), (col("n_vecs") - col("n_dropped")).as("n_kept"),
        col("n_dropped"), col("n_dup_pairs"), col("n_dup_cells"))
  }

  // ------------------------------------- random projection (JL) audit

  /** Output dimensionality of the Johnson–Lindenstrauss projection. */
  val RpOutDim = 16
  /** Input dim of the embeddings fixture (asserted in AnnSpec). */
  val RpInDim = 64
  /** Quantization for the RP integer arithmetic. 2^12 keeps every
    * intermediate provably inside BIGINT: unit norm ⇒ Σ|v_i| ≤ √64·1
    * (Cauchy–Schwarz) ⇒ |p_j| ≤ 8·2^12 = 2^15, pair diff² ≤ 2^32,
    * proj2 ≤ 16·2^32 = 2^36, and the ppm numerator 3·proj2·10^6 < 2^58. */
  private val RpQuant = 1L << 12
  /** Audit sample: all pairs of this fixed id range — constant work
    * regardless of corpus size. */
  private val RpSampleIds = 64

  /** C40: deterministic sparse random projection (Achlioptas 2003 /
    * Johnson–Lindenstrauss) with a distance-preservation audit — the
    * dimensionality-reduction tier a 100 TB vector pipeline runs before
    * ANN indexing: 64-d float vectors become 16-d integer sketches (4×
    * fewer dims, and ±1/0 arithmetic instead of float multiply), and
    * pairwise L2 is preserved up to JL distortion. The projection
    * matrix entries are hashed, not sampled: sign(j,i) derives from
    * fnv1a64("rp:j:i") mod 6 → {+1 w.p. 1/6, −1 w.p. 1/6, 0 w.p. 2/3},
    * so the matrix is a pure function of (j, i) on any engine, any
    * cluster layout — no rand(), no stored matrix to ship. The
    * projection itself is posexplode → broadcast-join the ~1/3-dense
    * sign matrix → partial-agg'd (vec, j) sums: one map-side-combined
    * shuffle of n·16 rows.
    *
    * The audit reports the distortion histogram over all pairs of a
    * fixed id-range sample (constant work regardless of corpus size):
    * ratio = (3/k)·||Rx−Ry||² / ||x−y||² in integer ppm, banded by 0.1.
    * JL says the mass concentrates at 1e6; the bands make a fat tail
    * visible. All arithmetic is quantized-integer (see [[RpQuant]]) —
    * exact on both engines. */
  def rpAudit(s: SparkSession, d: String): DataFrame = {
    val mat = s.range(RpOutDim.toLong).select(col("id").as("j"))
      .crossJoin(s.range(RpInDim.toLong).select(col("id").as("i")))
      .withColumn("sgn", {
        val hm = pmod(graft.functions.HashExpressions.fnv1a64(s,
          concat(lit("rp:"), col("j").cast("string"), lit(":"),
            col("i").cast("string"))), lit(6))
        when(hm === 0, 1).when(hm === 1, -1).otherwise(0)
      })
      .where(col("sgn") =!= 0)
    val qe = Tables.repartitioned(Tables.embeddings(s, d), s)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        expr(s"CAST(floor(CAST(v AS DOUBLE) * $RpQuant) AS BIGINT)").as("q"))
    val proj = qe.join(broadcast(mat), Seq("i"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("sgn") * col("q")).as("p"))
    val qs = qe.where(col("vec_id") < RpSampleIds)
    val ps = proj.where(col("vec_id") < RpSampleIds)
    val o2 = qs.select(col("vec_id").as("ia"), col("i"), col("q").as("qa"))
      .join(qs.select(col("vec_id").as("ib"), col("i"), col("q").as("qb")),
        Seq("i"))
      .where(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("orig2"))
    val p2 = ps.select(col("vec_id").as("ia"), col("j"), col("p").as("pa"))
      .join(ps.select(col("vec_id").as("ib"), col("j"), col("p").as("pb")),
        Seq("j"))
      .where(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb"))).as("proj2"))
    o2.join(p2, Seq("ia", "ib"))
      .where(col("orig2") > 0)
      .select(expr(s"3 * proj2 * 1000000 DIV ($RpOutDim * orig2)")
        .as("ratio_ppm"))
      .groupBy(expr("ratio_ppm DIV 100000").as("band"))
      .agg(count(lit(1)).as("n_pairs"), min(col("ratio_ppm")).as("min_ppm"),
        max(col("ratio_ppm")).as("max_ppm"), sum(col("ratio_ppm")).as("sum_ppm"))
      .orderBy(col("band"))
  }

  // ------------------------------------------------ scalar quant (SQ8)

  /** Quantization levels per dimension: 8-bit codes, 0..255. */
  val SqLevels = 256

  /** C4-SQ8: the scalar-quantization tier (FAISS IndexScalarQuantizer
    * QT_8bit shape) — the third point on the memory/recall frontier:
    * flat float (exact, 4 B/dim) → SQ8 (1 B/dim, per-dim linear
    * quantization, mild rank noise) → PQ (½ bit/dim here, subspace
    * codebooks, more noise). Each dimension is quantized independently
    * against the CORPUS per-dim [min, max] span:
    *
    *   code_i = (q_i − mn_i) · 255 DIV (mx_i − mn_i),  q_i = ⌊v_i·2²⁰⌋
    *
    * — all BIGINT (the [[Quant]] trick makes the float→integer step
    * exact), so the codes, the symmetric code distance, and therefore
    * the candidate ranking are bit-reproducible on any engine with NO
    * float arithmetic anywhere in the scan hot path (the only IEEE ops
    * in the whole query are the final exact re-rank cosines). Candidate
    * scoring is SDC (symmetric distance): Σ(code_q − code_c)² via the
    * codegen [[graft.functions.SquaredDiffLongExpr]] kernel — bounded by
    * 64·255² ≈ 4.2·10⁶, nowhere near overflow.
    *
    * Scale shape: the code table is the compressed corpus — 64 B/vector
    * vs 256 B float, a 4× cut in scan memory traffic with ~n/10 of the
    * exact-distance work surviving to the re-rank (same R policy as PQ,
    * see [[PqRerankMin]]). The declared leave-one-out form scans all
    * pairs (the flat-index shape, like ann_pq_topk); in production the
    * tier rides IVF routing exactly as PQ does — SQ8-within-lists is
    * FAISS's IndexIVFScalarQuantizer, and this module's trained routing
    * ([[ivfpqTopkFrom]]) composes with any within-list scorer. The
    * per-dim (mn, mx) stats table is 64 rows — a broadcast, recomputed
    * in one map-side-combined pass per index build. */
  private def sq8Codes(s: SparkSession, d: String): DataFrame =
    // session-cached like the IVF assignment: topk/recall/stats all
    // consume it, and recall additionally re-runs topk's whole chain
    assignCache.getOrBuild(s, s"$d#sq8codes") {
      val qe = Tables.repartitioned(Tables.embeddings(s, d), s)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("vec_id"), col("i"),
          expr(s"CAST(floor(CAST(v AS DOUBLE) * $Quant) AS BIGINT)").as("q"))
      val st = qe.groupBy(col("i"))
        .agg(min(col("q")).as("mn"), max(col("q")).as("mx"))
      // degenerate span (mx = mn) → code 0: a constant dimension carries
      // no ranking information either way, but DIV 0 must not be reachable
      qe.join(broadcast(st), Seq("i"))
        .select(col("vec_id"), col("i"),
          when(col("mx") > col("mn"),
            expr(s"((q - mn) * ${SqLevels - 1}) DIV (mx - mn)"))
            .otherwise(lit(0L)).as("code"))
        .groupBy(col("vec_id"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("code")))),
          x => x.getField("code")).as("codes"))
    }

  /** SQ8 top-K: SDC scan over the code table, top-R cut, exact cosine
    * re-rank — (qid, rnk, cid, dist), the ann_*_topk contract. */
  def sq8Topk(s: SparkSession, d: String): DataFrame = {
    val codes = sq8Codes(s, d)
    // the knn_topk shape: repartitioned queries × the compressed corpus;
    // the SDC kernel runs inside codegen on the pair stream
    val scored = flatPairs(s, d,
        codes.select(col("vec_id").as("qid"), col("codes").as("qc")),
        codes.select(col("vec_id").as("cid"), col("codes").as("cc")),
        Tables.RowBytes.Sq8Codes)
      .select(col("qid"), col("cid"),
        VectorExpressions.sq_dist_long(s, col("qc"), col("cc")).as("sdc"))
    rerankTopk(s, d, scored, "sdc", 1, PqRerankDiv)
  }

  def sq8Recall(s: SparkSession, d: String): DataFrame =
    recallOf(s, d, sq8Topk(s, d))

  /** The IVF×SQ8 composition (FAISS IndexIVFScalarQuantizer): the
    * TRAINED coarse quantizer routes each query into [[P]] of the
    * persisted inverted lists (the stored-index artifact ivfpq already
    * consumes), SQ8's integer SDC scores only the probed candidates
    * (1 B/dim scanned instead of 4), and the exact re-rank — cut scaled
    * to the PROBED volume, the ivfpq lesson — restores true distances.
    * Beside ann_ivfpq_topk this is the second composed production tier:
    * same routing, milder compression (SQ8's rank noise is far below
    * PQ's — flat recall 1.0 at the graded tiers — so composed recall
    * tracks the routing tier's almost exactly; law-tested ≤ routing in
    * AnnSpec). Candidates route through [[probedCandidates]], like
    * ivfTopk; both code-table lookups are sized by
    * [[graft.Tables.sizedSide]] at [[graft.Tables.RowBytes.Sq8Codes]]
    * per vector (broadcast while the corpus fits, qid-/cid-keyed
    * shuffle-hash past it). */
  def ivfsqTopk(s: SparkSession, d: String): DataFrame = {
    val cand = probedCandidates(
        probesOf(s, Tables.embeddings(s, d), storedCentroids(s, d), P),
        storedLists(s, d), Nil)
      .select(col("qid"), col("cid"))
    def codes(id: String, c: String) = Tables.sizedSide(s, d,
      sq8Codes(s, d).select(col("vec_id").as(id), col("codes").as(c)),
      Tables.RowBytes.Sq8Codes)
    val scored = cand.join(codes("qid", "qc"), Seq("qid"))
      .join(codes("cid", "cc"), Seq("cid"))
      .select(col("qid"), col("cid"),
        VectorExpressions.sq_dist_long(s, col("qc"), col("cc")).as("sdc"))
    rerankTopk(s, d, scored, "sdc", P, 2 * C)
  }

  def ivfsqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(s, d, ivfsqTopk(s, d))

  /** Per-dimension code census — quantization balance (a dimension whose
    * codes collapse onto few levels carries no ranking information; the
    * sq8 analog of [[pqCodeStats]]). */
  def sq8Stats(s: SparkSession, d: String): DataFrame =
    sq8Codes(s, d)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("i", "code")))
      .groupBy(col("i").cast("long").as("i"))
      .agg(countDistinct(col("code")).as("n_codes"),
        min(col("code")).as("min_code"), max(col("code")).as("max_code"),
        sum(col("code")).as("sum_code"))
      .orderBy(col("i"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_topk" -> (ivfTopk _),
    "ann_ivf_topk_trained" -> (ivfTopkTrained _),
    "ann_ivf_stats" -> (ivfStats _),
    "ann_recall" -> (recallSeed _),
    "ann_recall_trained" -> (recallTrained _),
    "ncc_classify" -> (nccClassify _),
    "ncc_confusion" -> (nccConfusion _),
    "ann_pq_topk" -> (pqTopk _),
    "ann_pq_recall" -> (pqRecall _),
    "ann_pq_codes" -> (pqCodeStats _),
    "c38_semdedup" -> (semdedup _),
    "c38_semdedup_stats" -> (semdedupStats _),
    "c40_random_projection" -> (rpAudit _),
    "ann_ivfpq_topk" -> (ivfpqTopk _),
    "ann_ivfpq_recall" -> (ivfpqRecall _),
    "ann_index_build" -> (indexBuild _),
    "ann_ivf_topk_indexed" -> (ivfTopkIndexed _),
    "ann_index_upsert" -> (indexUpsert _),
    "ann_ivf_topk_upserted" -> (ivfTopkUpserted _),
    "ann_index_retrain" -> (indexRetrain _),
    "ann_ivf_topk_retrained" -> (ivfTopkRetrained _),
    "ann_recall_sampled" -> (recallSampled _),
    "ann_sq8_topk" -> (sq8Topk _),
    "ann_sq8_recall" -> (sq8Recall _),
    "ann_sq8_stats" -> (sq8Stats _),
    "ann_ivfsq_topk" -> (ivfsqTopk _),
    "ann_ivfsq_recall" -> (ivfsqRecall _),
  )

  // ---------------------------------------------------------------- SQL

  /** Seed centroids as a CTE named `cents` (REAL[] vectors). */
  private[ops] val seedCentsCte =
    s"""cents0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_vec
       |  FROM embeddings WHERE vec_id < $C)""".stripMargin

  /** `LloydIters` unrolled refinement rounds, mirroring refineOnce():
    * argmin assignment, then list(mean) per cluster where the mean is the
    * same quantized-integer arithmetic (exact on both engines). `src` is
    * the training corpus — `embeddings` for the full-corpus index, the
    * `base` CTE for the upsert family's frozen base quantizer. */
  private def lloydCtes: String = lloydCtesOver("embeddings")
  // MATERIALIZED (r18): without the hint DuckDB inlines each round's
  // assignment/mean/centroid CTE into its consumers and re-evaluates the
  // n·C argmin window per reference — measured 4.5 s → 1.2 s on
  // ann_ivf_topk_trained at sf0.01 (identical rows). Pure evaluation
  // hint; the chain's arithmetic is untouched.
  private def lloydCtesOver(src: String): String =
    (1 to LloydIters).map { t =>
      s"""a$t AS MATERIALIZED (
         |  SELECT vec_id, embedding, cent_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                     CAST(c.cent_vec AS DOUBLE[])) ASC,
         |        c.cent_id ASC) AS crn
         |    FROM $src e CROSS JOIN cents${t - 1} c) z WHERE crn = 1),
         |m$t AS MATERIALIZED (
         |  SELECT cent_id, i AS pos,
         |    CAST(CAST(sum(CAST(floor(
         |        CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * $Quant)
         |      AS BIGINT)) AS DOUBLE)
         |      / CAST(count(*) * $Quant AS DOUBLE) AS REAL) AS mval
         |  FROM (SELECT cent_id, embedding,
         |          unnest(range(1, len(embedding) + 1)) AS i FROM a$t) x
         |  GROUP BY cent_id, i),
         |cents$t AS MATERIALIZED (
         |  SELECT c.cent_id, coalesce(v.vec, c.cent_vec) AS cent_vec
         |  FROM cents${t - 1} c LEFT JOIN
         |    (SELECT cent_id, list(mval ORDER BY pos) AS vec
         |     FROM m$t GROUP BY cent_id) v USING (cent_id))""".stripMargin
    }.mkString(",\n")

  /** The upsert family's training corpus: the base slice (vec_id below
    * the [[UpsertNum]]/[[UpsertDen]] cut — `//` is DuckDB integer
    * division, matching the engine's Long arithmetic) with the seed
    * pick and Lloyd's rounds run over it. The downstream assignment
    * CTEs still range over ALL of `embeddings` — base rows and the
    * appended delta batch under one frozen quantizer. */
  private[ops] def upsertBaseCtes: String =
    s"""base AS (
       |  SELECT * FROM embeddings
       |  WHERE vec_id < (SELECT (count(*) * $UpsertNum) // $UpsertDen
       |                  FROM embeddings)),
       |cents0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_vec
       |  FROM base WHERE vec_id < $C),
       |${lloydCtesOver("base")}""".stripMargin

  /** assignment + probe CTEs against centroid CTE `from` — the IVF
    * routing half, shared by the exact-within-lists chain ([[ivfCtes]])
    * and the IVFPQ composition. `src` is the table the ASSIGNED rows
    * come from (the base slice for the NSW upsert family) and `probeSrc`
    * the table queries come from; `prefix` renames the emitted CTEs so
    * two instantiations can coexist in one statement (the upserted-NSW
    * oracle routes build seeding AND delta serving in one query). All
    * defaults preserve every existing oracle byte for byte. */
  private[ops] def assignProbeCtes(from: String, p: Int = P,
      src: String = "embeddings", probeSrc: String = "embeddings",
      prefix: String = ""): String =
    s"""${prefix}assign AS (
       |  SELECT vec_id, embedding, cent_id FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                     CAST(c.cent_vec AS DOUBLE[])) ASC,
       |        c.cent_id ASC) AS crn
       |    FROM $src e CROSS JOIN $from c) z WHERE crn = 1),
       |${prefix}probes AS (
       |  SELECT qid, cent_id FROM (
       |    SELECT e.vec_id AS qid, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                     CAST(c.cent_vec AS DOUBLE[])) ASC,
       |        c.cent_id ASC) AS prn
       |    FROM $probeSrc e CROSS JOIN $from c) z WHERE prn <= $p)"""
      .stripMargin

  /** assignment + probe + ranked-topk CTE chain against centroid CTE
    * `from`; leaves a `ranked` CTE with (qid, cid, dist, rnk). */
  private def ivfCtes(from: String): String =
    s"""${assignProbeCtes(from)},
       |cand AS (
       |  SELECT p.qid, a.vec_id AS cid,
       |    1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                 CAST(a.embedding AS DOUBLE[])) AS dist
       |  FROM probes p
       |  JOIN assign a ON p.cent_id = a.cent_id
       |  JOIN embeddings q ON q.vec_id = p.qid
       |  WHERE a.vec_id <> p.qid),
       |ranked AS (
       |  SELECT qid, cid, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rnk
       |  FROM cand)""".stripMargin

  private val topkSelect =
    s"""SELECT qid, rnk, cid, round(dist, 6) AS dist
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  /** exact-vs-approx recall: `ranked` (approx) must already be in scope. */
  private[ops] def recallSelect: String =
    s"""ivf AS (SELECT qid, cid FROM ranked WHERE rnk <= $K),
       |pairs AS (${Knn.cosPairs}),
       |exact AS (SELECT qid, cid FROM (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS xrnk
       |  FROM pairs) x WHERE xrnk <= $K),
       |hits AS (SELECT count(*) AS n_hits FROM ivf JOIN exact USING (qid, cid)),
       |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM exact)
       |SELECT CAST(n_queries AS BIGINT) AS n_queries,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  round(CAST(n_hits AS DOUBLE) / ($K * n_queries), 6) AS recall
       |FROM hits, nq""".stripMargin

  /** DuckDB twin of [[labelCentroids]] + argmin assignment, leaving a
    * `pred` CTE with (vec_id, label, pred). */
  private val nccCtes: String =
    s"""cm AS (
       |  SELECT label, i AS pos,
       |    CAST(CAST(sum(CAST(floor(
       |        CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * $Quant)
       |      AS BIGINT)) AS DOUBLE)
       |      / CAST(count(*) * $Quant AS DOUBLE) AS REAL) AS mval
       |  FROM (SELECT label, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i FROM embeddings) x
       |  GROUP BY label, i),
       |cents AS (
       |  SELECT label AS c_label, list(mval ORDER BY pos) AS cent_vec
       |  FROM cm GROUP BY label),
       |pred AS (
       |  SELECT vec_id, label, c_label AS pred FROM (
       |    SELECT e.vec_id, e.label, c.c_label,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                     CAST(c.cent_vec AS DOUBLE[])) ASC,
       |        c.c_label ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c) z WHERE rn = 1)""".stripMargin

  /** PQ CTE chain: shared sub-distance table → per-subspace argmin
    * codes → ADC pairs via LUT joins → top-R → exact cosine re-rank.
    * Leaves a `ranked` CTE with (qid, cid, dist, rnk) — the same
    * contract as [[ivfCtes]], so [[topkSelect]]/[[recallSelect]]
    * compose unchanged. Every float op mirrors the engine's order:
    * sqrt'd subspace euclideans, s*s squares, ((q0+q1)+q2)+q3. */
  private def pqCtes: String = pqCtesWith(
    s"""ppairs AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, x.vec_id AS cid,
       |    ${(0 until PqM).map(m => s"x.code$m").mkString(", ")}
       |  FROM embeddings q JOIN pcodes x ON q.vec_id <> x.vec_id)"""
      .stripMargin)

  /** PQ chain with the candidate-pair CTE injected: the flat scan pairs
    * every query with every code row; the IVFPQ composition pairs only
    * within probed inverted lists. (cutNum, cutDen) mirror the engine's
    * probed-volume-scaled re-rank cut. */
  private def pqCtesWith(ppairsCte: String, cutNum: Int = 1,
      cutDen: Int = PqRerankDiv): String = {
    val subExprs = (0 until PqM).map { m =>
      val a = m * PqSubDim + 1
      val b = (m + 1) * PqSubDim
      s"""list_distance(CAST(e.embedding[$a:$b] AS DOUBLE[]),
         |               CAST(c.cw_vec[$a:$b] AS DOUBLE[])) AS s$m""".stripMargin
    }.mkString(",\n    ")
    val codeCtes = (0 until PqM).map { m =>
      s"""pc$m AS (
         |  SELECT vec_id, cw_id AS code$m FROM (
         |    SELECT vec_id, cw_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s$m ASC, cw_id ASC) AS rn FROM psd) z WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    // ADC accumulated over CHAINED MATERIALIZED steps — one hash join of
    // the pair table per subspace. A single 2·M-way join tree (pairs +
    // M lut aliases) sends DuckDB's join reorderer into a cross-product
    // plan that never finishes; the explicit barriers pin one join per
    // step and keep the ((q0+q1)+…)+qM-1 sum order identical to the
    // engine's fold.
    val adcSteps = (0 until PqM).map { m =>
      val prev = if (m == 0) "ppairs" else s"padc${m - 1}"
      val acc = if (m == 0) s"a$m.q$m"
        else s"($prev.acc + a$m.q$m)"
      val carry = (m + 1 until PqM).map(j => s"$prev.code$j").mkString(", ")
      val carrySel = if (carry.isEmpty) "" else s", $carry"
      s"""padc$m AS MATERIALIZED (
         |  SELECT $prev.qid, $prev.cid$carrySel, $acc AS acc
         |  FROM $prev JOIN lut a$m
         |    ON a$m.qid = $prev.qid AND a$m.cw_id = $prev.code$m)""".stripMargin
    }.mkString(",\n")
    s"""pcb AS (
       |  SELECT vec_id AS cw_id, embedding AS cw_vec
       |  FROM embeddings WHERE vec_id < $PqCw),
       |psd AS (
       |  SELECT e.vec_id, c.cw_id,
       |    $subExprs
       |  FROM embeddings e CROSS JOIN pcb c),
       |$codeCtes,
       |pcodes AS (
       |  SELECT pc0.vec_id, ${(0 until PqM).map(m => s"code$m").mkString(", ")}
       |  FROM pc0 ${(1 until PqM).map(m => s"JOIN pc$m USING (vec_id)").mkString(" ")}),
       |lut AS MATERIALIZED (
       |  SELECT vec_id AS qid, cw_id,
       |    ${(0 until PqM).map(m => s"s$m*s$m AS q$m").mkString(", ")} FROM psd),
       |$ppairsCte,
       |$adcSteps,
       |adc AS (SELECT qid, cid, acc AS adc FROM padc${PqM - 1}),
       |cands AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc ASC, cid ASC) AS arn FROM adc) z
       |  WHERE arn <= greatest($PqRerankMin,
       |    (SELECT count(*) FROM embeddings) * $cutNum // $cutDen)),
       |ranked AS (
       |  SELECT qid, cid, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC)
       |      AS rnk
       |  FROM (
       |    SELECT k.qid, k.cid,
       |      1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                   CAST(c.embedding AS DOUBLE[])) AS dist
       |    FROM cands k
       |    JOIN embeddings q ON q.vec_id = k.qid
       |    JOIN embeddings c ON c.vec_id = k.cid) y)""".stripMargin
  }

  /** DuckDB twin of the SemDeDup chain: seed assignment WITH its cdist,
    * the within-cell dup pairs under the same unrounded τ cut (the c35
    * precedent: both engines compute the identical double cosine over
    * the same floats), and the dropped set under the same strict
    * (cdist, −vec_id) keep order. */
  private def semdedupCtes: String =
    s"""$seedCentsCte,
       |sa AS (
       |  SELECT vec_id, embedding, cent_id, cdist FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                   CAST(c.cent_vec AS DOUBLE[])) AS cdist,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                     CAST(c.cent_vec AS DOUBLE[])) ASC,
       |        c.cent_id ASC) AS crn
       |    FROM embeddings e CROSS JOIN cents0 c) z WHERE crn = 1),
       |dup AS (
       |  SELECT a.cent_id, a.vec_id AS i, a.cdist AS di,
       |    b.vec_id AS j, b.cdist AS dj
       |  FROM sa a JOIN sa b ON a.cent_id = b.cent_id
       |    AND a.vec_id <> b.vec_id
       |  WHERE 1.0 - list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |          CAST(b.embedding AS DOUBLE[])) < ${TextOps.EmbedDupTau}),
       |drop0 AS (
       |  SELECT DISTINCT i FROM dup
       |  WHERE dj > di OR (dj = di AND j < i))""".stripMargin

  /** DuckDB twin of the RP audit: same fnv-hashed sign matrix
    * (TextOps.fnvFold over the same key strings), same quantized-integer
    * projection and pair arithmetic; // ≡ DIV on the non-negative
    * operands. */
  private def rpOracle: String =
    s"""WITH keys AS (
       |  SELECT jj.j, ii.i,
       |    'rp:' || CAST(jj.j AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR) AS t
       |  FROM range(0, $RpOutDim) jj(j) CROSS JOIN range(0, $RpInDim) ii(i)),
       |hm AS (SELECT j, i,
       |  ${TextOps.toSigned(TextOps.fnvFold(TextOps.FnvOffU))} AS h
       |  FROM keys),
       |mat AS (
       |  SELECT j, i,
       |    CASE ((h % 6) + 6) % 6 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END
       |      AS sgn
       |  FROM hm),
       |qe AS (
       |  SELECT vec_id, i - 1 AS i,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
       |      * $RpQuant) AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings) x),
       |proj AS (
       |  SELECT e.vec_id, m.j, CAST(sum(m.sgn * e.q) AS BIGINT) AS p
       |  FROM qe e JOIN mat m ON m.i = e.i AND m.sgn <> 0
       |  GROUP BY e.vec_id, m.j),
       |o2 AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS orig2
       |  FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id < b.vec_id
       |  WHERE a.vec_id < $RpSampleIds AND b.vec_id < $RpSampleIds
       |  GROUP BY a.vec_id, b.vec_id),
       |p2 AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS proj2
       |  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
       |  WHERE a.vec_id < $RpSampleIds AND b.vec_id < $RpSampleIds
       |  GROUP BY a.vec_id, b.vec_id),
       |r AS (
       |  SELECT (3 * p2.proj2 * 1000000) // ($RpOutDim * o2.orig2)
       |    AS ratio_ppm
       |  FROM o2 JOIN p2 ON o2.ia = p2.ia AND o2.ib = p2.ib
       |  WHERE o2.orig2 > 0)
       |SELECT ratio_ppm // 100000 AS band, count(*) AS n_pairs,
       |  min(ratio_ppm) AS min_ppm, max(ratio_ppm) AS max_ppm,
       |  CAST(sum(ratio_ppm) AS BIGINT) AS sum_ppm
       |FROM r GROUP BY band ORDER BY band""".stripMargin

  /** IVFPQ: the TRAINED IVF routing CTEs (Lloyd's unrolled, PIvfpq
    * probes) + the PQ chain with its pair CTE restricted to probed
    * inverted lists — the oracle recomputes exactly what the stored
    * index holds, because the artifact is bit-exact arithmetic. */
  private def ivfpqCtes: String =
    s"""$seedCentsCte,
       |$lloydCtes,
       |${assignProbeCtes(s"cents$LloydIters", PIvfpq)},
       |${pqCtesWith(
        s"""ppairs AS MATERIALIZED (
           |  SELECT p.qid, a.vec_id AS cid,
           |    ${(0 until PqM).map(m => s"x.code$m").mkString(", ")}
           |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           |  JOIN pcodes x ON x.vec_id = a.vec_id
           |  WHERE a.vec_id <> p.qid)""".stripMargin,
        cutNum = PIvfpq, cutDen = 2 * C)}""".stripMargin

  /** SQ8 code CTEs (shared by the stats census and the search chain):
    * quantized per-dim values → corpus spans → 8-bit codes, the same
    * BIGINT arithmetic as the engine (`//` ≡ DIV on the non-negative
    * operands: q − mn ≥ 0, mx − mn > 0 inside the branch). */
  private def sq8CodeCtes: String =
    s"""sqe AS (
       |  SELECT vec_id, i - 1 AS i,
       |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
       |      * $Quant) AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings) x),
       |sst AS (SELECT i, min(q) AS mn, max(q) AS mx FROM sqe GROUP BY i),
       |scode AS (
       |  SELECT vec_id, e.i,
       |    CASE WHEN mx > mn THEN ((q - mn) * ${SqLevels - 1}) // (mx - mn)
       |         ELSE 0 END AS code
       |  FROM sqe e JOIN sst USING (i))""".stripMargin

  /** SQ8 search chain: SDC scan → top-R → exact cosine re-rank; leaves
    * `ranked` like the other ANN chains so topkSelect/recallSelect
    * compose. The oracle ranks candidates by list_distance — the double
    * sqrt of the same integer sum: every Σ(Δcode)² ≤ 64·255² is exactly
    * representable in double and sqrt is strictly monotone, so the
    * candidate order (and hence the final output) is identical to the
    * engine's BIGINT SDC order, tie-break included. */
  private def sq8Ctes: String = sq8CtesWith(
    s"""ssd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    list_distance(a.cl, b.cl) AS sd
       |  FROM scl a JOIN scl b ON a.vec_id <> b.vec_id)""".stripMargin)

  /** SQ8 chain with the SDC pair CTE injected (must leave `ssd` with
    * (qid, cid, sd)): the flat scan pairs every code row with every
    * other; the IVF×SQ8 composition pairs only within probed inverted
    * lists. (cutNum, cutDen) mirror the engine's probed-volume-scaled
    * re-rank cut. */
  private def sq8CtesWith(ssdCte: String, cutNum: Int = 1,
      cutDen: Int = PqRerankDiv): String =
    s"""$sq8CodeCtes,
       |scl AS MATERIALIZED (
       |  SELECT vec_id, list(CAST(code AS DOUBLE) ORDER BY i) AS cl
       |  FROM scode GROUP BY vec_id),
       |$ssdCte,
       |scand AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY sd ASC, cid ASC) AS srn FROM ssd) z
       |  WHERE srn <= greatest($PqRerankMin,
       |    (SELECT count(*) FROM embeddings) * $cutNum // $cutDen)),
       |ranked AS (
       |  SELECT qid, cid, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC)
       |      AS rnk
       |  FROM (
       |    SELECT k.qid, k.cid,
       |      1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                   CAST(c.embedding AS DOUBLE[])) AS dist
       |    FROM scand k
       |    JOIN embeddings q ON q.vec_id = k.qid
       |    JOIN embeddings c ON c.vec_id = k.cid) y)""".stripMargin

  /** IVF×SQ8: the TRAINED routing CTEs (Lloyd's unrolled, P probes) +
    * the SQ8 chain with its pair CTE restricted to probed inverted
    * lists — the oracle recomputes what the stored index holds (the
    * artifact is bit-exact arithmetic, the ivfpq precedent). */
  private def ivfsqCtes: String =
    s"""$seedCentsCte,
       |$lloydCtes,
       |${assignProbeCtes(s"cents$LloydIters", P)},
       |${sq8CtesWith(
        s"""ssd AS MATERIALIZED (
           |  SELECT p.qid, a.vec_id AS cid, list_distance(q.cl, c.cl) AS sd
           |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           |  JOIN scl q ON q.vec_id = p.qid
           |  JOIN scl c ON c.vec_id = a.vec_id
           |  WHERE a.vec_id <> p.qid)""".stripMargin,
        cutNum = P, cutDen = 2 * C)}""".stripMargin

  /** The trained index's list census: what ann_index_build reads back
    * from the stored index, and what ann_index_retrain reads back from
    * the retrained version (retraining over base ∪ delta IS a fresh
    * full-corpus train). */
  private def trainedCensusOracle: String =
    s"""WITH $seedCentsCte,
       |$lloydCtes,
       |${assignProbeCtes(s"cents$LloydIters")}
       |SELECT cent_id, count(*) AS list_size FROM assign
       |GROUP BY cent_id ORDER BY cent_id""".stripMargin

  /** Trained-index IVF search: ann_ivf_topk_trained and its stored
    * (_indexed) and retrained (_retrained) forms, which are
    * bit-identical to it. */
  private def trainedTopkOracle: String =
    s"""WITH $seedCentsCte,
       |$lloydCtes,
       |${ivfCtes(s"cents$LloydIters")}
       |$topkSelect""".stripMargin

  /** Every ANN query is deterministic (fixed seed pick, fixed iteration
    * count, exact order-independent arithmetic, total-order tie-breaks),
    * so every one carries a full DuckDB oracle — including the
    * Lloyd's-trained index, whose quantized means are engine-exact by
    * construction. */
  val oracles: Map[String, String] = Map(
    "ann_sq8_topk" ->
      s"""WITH $sq8Ctes
         |$topkSelect""".stripMargin,
    "ann_sq8_recall" ->
      s"""WITH $sq8Ctes,
         |$recallSelect""".stripMargin,
    "ann_sq8_stats" ->
      s"""WITH $sq8CodeCtes
         |SELECT i, count(DISTINCT code) AS n_codes, min(code) AS min_code,
         |  max(code) AS max_code, CAST(sum(code) AS BIGINT) AS sum_code
         |FROM scode GROUP BY i ORDER BY i""".stripMargin,
    "ann_ivfsq_topk" ->
      s"""WITH $ivfsqCtes
         |$topkSelect""".stripMargin,
    "ann_ivfsq_recall" ->
      s"""WITH $ivfsqCtes,
         |$recallSelect""".stripMargin,
    "ann_ivfpq_topk" ->
      s"""WITH $ivfpqCtes
         |$topkSelect""".stripMargin,
    "ann_ivfpq_recall" ->
      s"""WITH $ivfpqCtes,
         |$recallSelect""".stripMargin,
    "c38_semdedup" ->
      s"""WITH $semdedupCtes
         |SELECT sa.vec_id, sa.cent_id, round(sa.cdist, 6) AS cdist,
         |  CASE WHEN d.i IS NULL THEN 1 ELSE 0 END AS kept
         |FROM sa LEFT JOIN drop0 d ON sa.vec_id = d.i
         |ORDER BY sa.vec_id""".stripMargin,
    "c38_semdedup_stats" ->
      s"""WITH $semdedupCtes
         |SELECT (SELECT count(*) FROM sa) AS n_vecs,
         |  (SELECT count(*) FROM sa) - (SELECT count(*) FROM drop0)
         |    AS n_kept,
         |  (SELECT count(*) FROM drop0) AS n_dropped,
         |  (SELECT count(*) FROM dup WHERE i < j) AS n_dup_pairs,
         |  (SELECT count(DISTINCT cent_id) FROM dup WHERE i < j)
         |    AS n_dup_cells""".stripMargin,
    "c40_random_projection" -> rpOracle,
    "ann_pq_topk" ->
      s"""WITH $pqCtes
         |$topkSelect""".stripMargin,
    "ann_pq_recall" ->
      s"""WITH $pqCtes,
         |$recallSelect""".stripMargin,
    "ann_pq_codes" -> {
      val branches = (0 until PqM).map(m =>
        s"SELECT vec_id, $m AS m, code$m AS code FROM pcodes")
        .mkString("\n    UNION ALL ")
      s"""WITH $pqCtes
         |SELECT m, code, count(*) AS n FROM (
         |    $branches) u
         |GROUP BY m, code ORDER BY m, code""".stripMargin
    },
    "ncc_classify" ->
      s"""WITH $nccCtes
         |SELECT vec_id, label, pred FROM pred ORDER BY vec_id""".stripMargin,
    "ncc_confusion" ->
      s"""WITH $nccCtes
         |SELECT label, pred, CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY label, pred ORDER BY label, pred""".stripMargin,
    "ann_ivf_stats" ->
      s"""WITH $seedCentsCte,
         |${ivfCtes("cents0")}
         |SELECT cent_id, count(*) AS list_size FROM assign
         |GROUP BY cent_id ORDER BY cent_id""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH $seedCentsCte,
         |${ivfCtes("cents0")}
         |$topkSelect""".stripMargin,
    "ann_ivf_topk_trained" -> trainedTopkOracle,
    "ann_recall" ->
      s"""WITH $seedCentsCte,
         |${ivfCtes("cents0")},
         |$recallSelect""".stripMargin,
    "ann_recall_trained" ->
      s"""WITH $seedCentsCte,
         |$lloydCtes,
         |${ivfCtes(s"cents$LloydIters")},
         |$recallSelect""".stripMargin,
    // ann_index_build: the artifact's list census ≡ the trained
    // assignment census (the stored index is bit-exact recomputation)
    "ann_index_build" -> trainedCensusOracle,
    // ann_ivf_topk_indexed: identical semantics to the trained live
    // form — the oracle is shared verbatim
    "ann_ivf_topk_indexed" -> trainedTopkOracle,
    // the upsert family: the quantizer is trained over the BASE slice
    // only (the first 9/10 of the corpus — the frozen index arriving
    // batches append under), then EVERY row is assigned against it.
    // Because assignment is a per-row pure function of (vector, frozen
    // quantizer), this rebuilt-form SQL is bit-identical to the
    // engine's incremental base ∪ delta artifact (the law AnnSpec and
    // ScaleCheck assert engine-side).
    "ann_index_upsert" ->
      s"""WITH $upsertBaseCtes,
         |${assignProbeCtes(s"cents$LloydIters")}
         |SELECT cent_id, count(*) AS list_size FROM assign
         |GROUP BY cent_id ORDER BY cent_id""".stripMargin,
    "ann_ivf_topk_upserted" ->
      s"""WITH $upsertBaseCtes,
         |${ivfCtes(s"cents$LloydIters")}
         |$topkSelect""".stripMargin,
    // the retrain lifecycle: retraining over base ∪ delta IS a fresh
    // full-corpus train (the maintained lists hold exactly the corpus),
    // so the post-retrain census and search share the fresh-build
    // oracles verbatim — the bit-exact lifecycle law, oracle-certified
    "ann_index_retrain" -> trainedCensusOracle,
    "ann_ivf_topk_retrained" -> trainedTopkOracle,
    // sampled recall: the same fnv carve (TextOps.fnvFold is the proven
    // cell-identical twin of the engine's fnv1a64), capped to the
    // RecallSampleCap smallest (hash, vec_id) — the KMV rule, identical
    // signed-64 ordering on both engines — exact ground truth computed
    // over sampled queries only, IVF side filtered to the same sample
    // (per-query independence makes the restriction exact)
    "ann_recall_sampled" ->
      s"""WITH keyed AS (
         |  SELECT vec_id,
         |    '$RecallSampleSalt' || CAST(vec_id AS VARCHAR) AS t
         |  FROM embeddings),
         |qsamp AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, hs FROM (
         |      SELECT vec_id,
         |        ${TextOps.toSigned(TextOps.fnvFold(TextOps.FnvOffU))} AS hs
         |      FROM keyed) z
         |    WHERE ((hs % $RecallSampleMod) + $RecallSampleMod)
         |      % $RecallSampleMod = 0
         |    ORDER BY hs ASC, vec_id ASC
         |    LIMIT $RecallSampleCap) zc),
         |$seedCentsCte,
         |$lloydCtes,
         |${ivfCtes(s"cents$LloydIters")},
         |ivf AS (
         |  SELECT qid, cid FROM ranked
         |  WHERE rnk <= $K AND qid IN (SELECT vec_id FROM qsamp)),
         |spairs AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                 CAST(c.embedding AS DOUBLE[])) AS dist
         |  FROM embeddings q
         |  JOIN qsamp ON q.vec_id = qsamp.vec_id
         |  CROSS JOIN embeddings c
         |  WHERE q.vec_id <> c.vec_id),
         |exact AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |      ORDER BY dist ASC, cid ASC) AS xrnk
         |    FROM spairs) x WHERE xrnk <= $K),
         |hits AS (
         |  SELECT count(*) AS n_hits FROM ivf JOIN exact USING (qid, cid)),
         |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM exact)
         |SELECT CAST(n_queries AS BIGINT) AS n_queries,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  round(CAST(n_hits AS DOUBLE) / ($K * n_queries), 6) AS recall
         |FROM hits, nq""".stripMargin,
  )
}
