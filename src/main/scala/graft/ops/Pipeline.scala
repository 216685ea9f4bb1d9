package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.PersistedCache.Materialize
import graft.Tables

/** One packed document: its token count plus the training sequence
  * (per-stream-key ordinal) it was greedily packed into and the
  * sequence's fill level after adding it. */
case class PackedDoc(doc_id: Long, skey: String, n_tokens: Long,
                     seq_id: Long, seq_fill: Long)

/** Corpus-assembly operators — the steps that turn a deduped, scored
  * document pool into trainer-ready input: greedy sequence packing,
  * the multi-stage curation funnel, and TF-IDF term weighting.
  *
  * Scale design (100 TB of documents):
  *  - Sequence packing is inherently sequential *within* a pack stream,
  *    so the parallel unit is the stream key (`source`): one shuffle to
  *    co-locate each source, a within-partition sort, then a linear
  *    mapPartitions scan with O(1) state. A skewed giant source would
  *    serialize its own stream only; the fix at scale is salting the
  *    stream key by a coarse doc_id range (id div N) — packing quality
  *    is unaffected because sequences never cross chunk boundaries.
  *  - Curation is a single pass: every filter stage is a map-side
  *    boolean flag, the only shuffle is the dedup window's hash
  *    partitioning on content, and the funnel is one global aggregate
  *    of flag sums (partial-agg'd map-side, 5 longs per partition).
  *  - TF-IDF is two partial-aggregated shuffles (doc-term counts, then
  *    document frequencies) + a broadcast of the df table (vocabulary ≪
  *    corpus — here 1k terms; at 100 TB a few hundred M terms would
  *    switch to a shuffle join on term, same plan shape otherwise).
  */
object Pipeline {

  // -------------------------------------------------------- c18: packing

  /** Token budget per packed training sequence. */
  val PackBudget = 256L

  /** Greedy packing core over an arbitrary stream key: expects columns
    * (doc_id, skey, n_tokens), walks each key's docs in doc_id order,
    * appending to the current sequence while the token budget holds,
    * else opening a new one (a doc longer than the budget gets a
    * sequence of its own). One shuffle on the key, then a linear
    * mapPartitions scan with O(1) state — the sort guarantees each key's
    * docs arrive contiguously within its partition. */
  private[graft] def packStream(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id").cast("long"), col("skey"),
        col("n_tokens").cast("long"))
      .repartition(col("skey"))
      .sortWithinPartitions(col("skey"), col("doc_id"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        var cur: String = null
        var fill = 0L
        var seq = 0L
        it.map { case (id, k, n) =>
          if (k != cur) { cur = k; fill = n; seq = 0L }
          else if (fill + n <= PackBudget) fill += n
          else { seq += 1L; fill = n }
          PackedDoc(id, k, n, seq, fill)
        }
      }
      .toDF()
  }

  /** c18: greedy sequence packing per source — the standard "pack short
    * documents into fixed-length training rows" step; deterministic, so
    * the DuckDB twin (a recursive CTE) reproduces it cell-for-cell. */
  def seqPack(s: SparkSession, d: String): DataFrame =
    packStream(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("skey"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")))
      .select(col("doc_id"), col("skey").as("source"), col("n_tokens"),
        col("seq_id"), col("seq_fill"))
      .orderBy(col("doc_id"))

  /** Documents per salt chunk in the salted pack (c18b). */
  val PackChunk = 125L

  /** c18b: the skew-mitigation variant c18's scaladoc promises — the
    * stream key is salted with a coarse doc_id range (`doc_id div 125`),
    * so one giant source parallelizes across its chunks instead of
    * serializing one task. The semantic trade is explicit and bounded:
    * sequences never cross a chunk boundary (at most one extra
    * under-filled sequence per chunk). Equally deterministic — the
    * recursive-CTE oracle just adds `chunk` to the partition key. */
  def seqPackSalted(s: SparkSession, d: String): DataFrame =
    packStream(
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("source"), lit(":"),
            expr(s"doc_id div $PackChunk")).as("skey"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")))
      .select(col("doc_id"),
        // strip the ":<chunk>" suffix by length, not by first-colon
        // search — robust even if a source value ever contains a colon
        expr(s"substring(skey, 1, length(skey) - length(CAST(doc_id div $PackChunk AS STRING)) - 1)")
          .as("source"),
        expr(s"doc_id div $PackChunk").as("chunk"),
        col("n_tokens"), col("seq_id"), col("seq_fill"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------- c19: curation

  /** Shared stage flags for the curation funnel. Stages nest (each flag
    * implies the previous), so the funnel counts are monotone:
    *   1. canonical  — exact-dedup survivor (min doc_id per normalized text)
    *   2. len_ok     — length gate, 100 ≤ n_chars ≤ 450
    *   3. lang_ok    — the langid heuristic (c05) agrees with the label
    *   4. quality_ok — quality score (c06 formulation, unrounded) ≥ 0.7
    * All feature doubles are single divisions of exact integers, so both
    * engines compare bit-identical values at the thresholds. */
  private def stagedDocs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("norm_text")).orderBy(col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("norm_text", lower(trim(col("text"))))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("n_types", size(array_distinct(split(col("text"), " "))))
      .withColumn("n_alpha", length(regexp_replace(col("text"), "[^a-z]", "")))
      .withColumn("n_vowel", length(regexp_replace(col("text"), "[^aeiou]", "")))
      .withColumn("avg_tok_len",
        (length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("vowel_ratio",
        col("n_vowel").cast("double") / greatest(col("n_alpha"), lit(1)))
      .withColumn("pred_lang",
        when(col("avg_tok_len") >= 7.0, "de")
          .when(col("vowel_ratio") >= 0.42, "es")
          .when(col("vowel_ratio") >= 0.38, "en")
          .when(col("avg_tok_len") < 5.0, "zh")
          .otherwise("fr"))
      .withColumn("quality",
        lit(0.5) * when(col("n_chars").between(100, 450), 1.0).otherwise(0.0)
          + lit(0.5) * (col("n_types").cast("double") / col("n_tokens")))
      .withColumn("canonical", (col("rn") === 1).cast("long"))
      .withColumn("len_ok",
        (col("canonical") === 1 && col("n_chars").between(100, 450)).cast("long"))
      .withColumn("lang_ok",
        (col("len_ok") === 1 && col("pred_lang") === col("lang")).cast("long"))
      .withColumn("quality_ok",
        (col("lang_ok") === 1 && col("quality") >= 0.7).cast("long"))
  }

  /** c19: the curated corpus — documents surviving every stage, with the
    * columns a downstream packer/tokenizer consumes. */
  def curate(s: SparkSession, d: String): DataFrame =
    stagedDocs(s, d)
      .where(col("quality_ok") === 1)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  /** c19b: the curation funnel — one row of monotone survivor counts per
    * stage, the observability query every curation pipeline ships with. */
  def curateFunnel(s: SparkSession, d: String): DataFrame =
    stagedDocs(s, d)
      .agg(
        count(lit(1)).as("n_raw"),
        sum(col("canonical")).as("n_canonical"),
        sum(col("len_ok")).as("n_len_ok"),
        sum(col("lang_ok")).as("n_lang_ok"),
        sum(col("quality_ok")).as("n_curated"))

  // --------------------------------------- c21: incremental-ingest dedup

  /** c21: incremental dedup — the daily-ingest shape: treat the newest
    * fifth of doc_ids (ids above cut = max_id·4/5, integer arithmetic so
    * the cut is engine-exact at any scale factor) as the arriving batch,
    * and keep only batch docs whose content key is (a) absent from the
    * existing corpus and (b) first-in-batch. One anti-join plus one
    * window, both keyed on content.
    *
    * The content key is the sorted distinct-token set, not the raw text:
    * docs that permute/repeat the same vocabulary count as duplicates
    * (the bag-of-words near-dup rule), which this corpus actually
    * triggers at every fixture tier — exact-text keying would make the
    * anti-join a no-op below sf0.1. Sort order is engine-identical
    * because fixtures are ASCII (AsciiFixtureSpec enforces it).
    *
    * Scale: the corpus side is the 100 TB one, but it projects to just
    * its distinct content keys (at rest this is the dedup index, bucketed
    * by content hash), and the batch side is small — so the anti-join
    * shuffles a day's ingest, not the corpus. The cut scalar is a
    * broadcast one-row cross join, not a driver collect. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("norm",
        array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("cut"))
    val withCut = docs.crossJoin(broadcast(cut))
    val corpusKeys = withCut.where(col("doc_id") <= col("cut"))
      .select(col("norm")).distinct()
    val w = Window.partitionBy(col("norm")).orderBy(col("doc_id").asc)
    withCut.where(col("doc_id") > col("cut"))
      .join(corpusKeys, Seq("norm"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------- c20: tf-idf

  /** c20: top-3 characteristic terms per document by tf·(N/df) — tf-idf
    * with a raw-frequency idf, kept in scaled integer arithmetic
    * (`tf * 1_000_000 * N div df`) so ranking and output are
    * cross-engine exact (log-idf would only monotonely rescale idf, and
    * its irrational values cannot be hash-compared). Ties break on
    * (tf desc, term asc) for a total order. */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // one-row aggregate, broadcast-cross-joined: keeps the plan pure
    // (no driver action) and free at any scale
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df as a count-over-term window on the tf table: single scan of the
    // corpus, no second explode and no tf⋈df join (a separate df
    // aggregate re-expands the whole scan subtree — a 2× tax on the
    // dominant cost at 100 TB)
    val wTerm = Window.partitionBy(col("term"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("tf").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_scaled", expr("tf * 1000000 * n_docs div df"))
      .withColumn("rk", row_number().over(wDoc))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_scaled"), col("rk").cast("long").as("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ----------------------------------------------------------- c42: bm25

  /** Query-term budget for c42: the rarest [[Bm25QTerms]] shared terms
    * of the query document (df ≥ 2 — a term only the query doc carries
    * can match nothing and would just burn budget; rarest-first is the
    * standard query-pruning rule). */
  val Bm25QTerms = 16

  /** c42: BM25 "more-like-this" retrieval — rank the corpus against the
    * terms of one query document (the min doc_id), the lexical-search
    * primitive every RAG / data-curation stack pairs with the ANN tier.
    * Okapi BM25 at the textbook constants k1=1.2, b=0.75, kept ENTIRELY
    * in integer arithmetic so both engines agree bit-for-bit:
    *
    *  - idf: the Robertson–Sparck-Jones core (N−df+½)/(df+½) =
    *    (2N−2df+1)/(2df+1) exactly in integers, scaled to milli-units
    *    (log-idf would only rescale terms monotonically per term and its
    *    irrational values cannot be hash-compared — the c20 doctrine);
    *  - tf saturation: tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    *    avgdl = L/N (L = Σdl) becomes 22·L·tf / (10·L·tf + 3·L + 9·dl·N)
    *    after clearing denominators (k1=6/5, b=3/4 are exact rationals),
    *    scaled to ppm. Fits comfortably in BIGINT at any graded tier
    *    (numerator ≤ 22·L·tf·10⁶ ≈ 4·10¹⁵ at sf1; per-term product
    *    idf_milli·sat_ppm ≤ ~2·10¹⁴).
    *
    * Scale shape: the query-term set is a broadcast (≤ [[Bm25QTerms]]
    * rows), so scoring is ONE map-side semi-join of the tf table
    * against it plus a doc_id-keyed aggregate — inverted-index
    * retrieval, no all-pairs anything; the final top-20 is a
    * TakeOrdered, not a global sort. At 100 TB the tf table is the
    * posting index, bucketable by term. */
  def bm25MoreLikeThis(s: SparkSession, d: String): DataFrame = {
    val wR = Window.orderBy(col("score").desc, col("doc_id").asc)
    bm25Top(s, d)
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .select(col("rnk"), col("doc_id"), col("score"), col("n_terms_hit"))
      .orderBy(col("rnk"))
  }

  /** The c42 scoring chain up to the top-20 candidate pool
    * (doc_id, score, n_terms_hit) — shared by c42 (which just ranks it)
    * and c43 (which re-ranks it under the MMR diversity objective). */
  private def bm25Top(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("ll"))
    val qdoc = docs.agg(min(col("doc_id")).as("qid"))
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wQ = Window.orderBy(col("df").asc, col("term").asc)
    val qterms = tf.crossJoin(broadcast(qdoc))
      .where(col("doc_id") === col("qid"))
      .join(dfTab, "term")
      .where(col("df") >= 2)
      .withColumn("qrn", row_number().over(wQ))
      .where(col("qrn") <= Bm25QTerms)
      .select(col("term"), col("df"))
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(qdoc))
      .where(col("doc_id") =!= col("qid"))
      .withColumn("part",
        expr("((1000 * (2*nn - 2*df + 1)) DIV (2*df + 1)) * " +
          "((22 * ll * tf * 1000000) DIV " +
          "(10 * ll * tf + 3 * ll + 9 * dl * nn))"))
      .groupBy(col("doc_id"))
      .agg(sum(col("part")).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** MMR rounds for c43: re-rank the 20-candidate pool down to 10. */
  val MmrK = 10

  /** c43: Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) of c42's BM25 candidate pool — the diversity pass every
    * retrieval stack runs between candidate generation and consumption:
    * plain top-k returns near-duplicates of the best hit; MMR greedily
    * picks argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), trading
    * relevance against redundancy with what is already selected
    * (λ = 0.7, the textbook setting, as exact integers 700/300).
    *
    * Integer doctrine: rel_pm = (1000·score) DIV max-score per-mille;
    * sim_pm = (1000·|A∩B|) DIV |A∪B| Jaccard per-mille over the
    * candidates' distinct-token sets; objective 700·rel_pm −
    * 300·max_sim_pm — every value a BIGINT, ties broken by doc_id, so
    * the greedy trajectory is a pure function of the corpus and the
    * DuckDB oracle replays it step for step (10 unrolled CTEs).
    *
    * Scale shape: the SCALABLE part is candidate generation (c42's
    * posting-index retrieval); the re-rank itself touches only the
    * constant-size pool — pairwise sims are 20·19 rows built by one
    * term-keyed equi-join of the pool's token lists (broadcast pool →
    * map-side), and each greedy round is a join against the ≤10-row
    * selected set. Per-query cost is O(C²+C·k) REGARDLESS of corpus
    * size — exactly how a serving tier runs MMR behind an index. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val cand0 = bm25Top(s, d).select(col("doc_id"), col("score"))
    val mx = cand0.agg(max(col("score")).as("mx"))
    val cand = cand0.crossJoin(broadcast(mx))
      .select(col("doc_id"), expr("(1000 * score) DIV mx").as("rel_pm"))
      .checkpointed
    val tfd = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    val ct = tfd.join(broadcast(cand.select(col("doc_id"))), "doc_id")
    val sz = ct.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pr = ct.select(col("doc_id").as("a_id"), col("term"))
      .join(ct.select(col("doc_id").as("b_id"), col("term")), "term")
      .where(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        expr("(1000 * inter) DIV (na + nb - inter)").as("sim_pm"))
      .checkpointed
    var sel = cand.limit(0).select(lit(0L).as("sel_rank"), col("doc_id"),
      col("rel_pm"), lit(0L).as("max_sim_pm"), lit(0L).as("mmr_score"))
    for (k <- 1 to MmrK) {
      val pick = cand
        .join(sel.select(col("doc_id").as("sdoc")),
          col("doc_id") === col("sdoc"), "left_anti")
        .join(pr.join(sel.select(col("doc_id").as("b_id")), "b_id")
            .groupBy(col("a_id")).agg(max(col("sim_pm")).as("ms0"))
            .select(col("a_id").as("doc_id"), col("ms0")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("rel_pm"),
          coalesce(col("ms0"), lit(0L)).as("max_sim_pm"))
        .withColumn("mmr_score", expr("700 * rel_pm - 300 * max_sim_pm"))
        .orderBy(col("mmr_score").desc, col("doc_id").asc).limit(1)
        .select(lit(k.toLong).as("sel_rank"), col("doc_id"),
          col("rel_pm"), col("max_sim_pm"), col("mmr_score"))
      sel = sel.unionAll(pick).checkpointed
    }
    sel.orderBy(col("sel_rank"))
  }

  /** RRF rank constant (Cormack, Clarke & Buettcher, SIGIR'09): 60 is
    * the near-universal production default — large enough that a #1 vs
    * #3 disagreement between arms doesn't dominate, small enough that
    * rank still matters. */
  val RrfK = 60
  /** Per-arm candidate pool depth (matches c42's BM25 pool). */
  val RrfPool = 20

  /** c45: Reciprocal-Rank-Fusion hybrid retrieval — the standard
    * combiner behind every production "hybrid search" (Elasticsearch,
    * Vespa, pgvector): fuse a LEXICAL ranking (c42's BM25 top-20) with a
    * VECTOR ranking (exact cosine top-20 of the same query document over
    * the aligned embeddings table) by summing 1/(k + rank) per arm —
    * score-scale-free, so the two arms need no calibration against each
    * other, which is exactly why RRF won over score interpolation in
    * practice. Kept integer: contribution = 10⁶ DIV (k + rank) — exact
    * BIGINTs on both engines; a document missing from one arm
    * contributes 0 from it (its rank column stays NULL in the output —
    * the fusion's provenance view).
    *
    * Scale shape: each arm is already sublinear serving-tier machinery —
    * BM25 is one broadcast-semi-join over the posting index (c42), the
    * vector arm is one broadcast of the single query vector + a
    * TakeOrdered top-20 (in production, the ANN tier's output slots in
    * here unchanged); the fusion itself touches 2·[[RrfPool]] rows. No
    * all-pairs, no global sort of anything bigger than the pools. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val wB = Window.orderBy(col("score").desc, col("doc_id").asc)
    val lex = bm25Top(s, d)
      .withColumn("bm25_rnk", row_number().over(wB).cast("long"))
      .select(col("doc_id"), col("bm25_rnk"))
    val qdoc = Tables.documents(s, d).agg(min(col("doc_id")).as("qid"))
    val emb = Tables.embeddings(s, d)
    val qv = emb.join(broadcast(qdoc), col("vec_id") === col("qid"))
      .select(col("embedding").as("qvec"))
    val wV = Window.orderBy(col("dist").asc, col("doc_id").asc)
    val vec = Tables.repartitioned(emb, s)
      .crossJoin(broadcast(qv)).crossJoin(broadcast(qdoc))
      .where(col("vec_id") =!= col("qid"))
      .select(col("vec_id").as("doc_id"),
        graft.functions.VectorExpressions.cosine_distance(s,
          col("embedding"), col("qvec")).as("dist"))
      .orderBy(col("dist").asc, col("doc_id").asc).limit(RrfPool)
      .withColumn("vec_rnk", row_number().over(wV).cast("long"))
      .select(col("doc_id"), col("vec_rnk"))
    val wR = Window.orderBy(col("rrf_pm").desc, col("doc_id").asc)
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rnk"), col("vec_rnk"),
        (coalesce(expr(s"1000000 DIV ($RrfK + bm25_rnk)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($RrfK + vec_rnk)"), lit(0L)))
          .as("rrf_pm"))
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .where(col("rnk") <= MmrK)
      .select(col("rnk"), col("doc_id"), col("rrf_pm"),
        col("bm25_rnk"), col("vec_rnk"))
      .orderBy(col("rnk"))
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c42_bm25" -> (bm25MoreLikeThis _),
    "c43_mmr_rerank" -> (mmrRerank _),
    "c45_rrf_fusion" -> (rrfFusion _),
    "c18_seq_pack" -> (seqPack _),
    "c18b_seq_pack_salted" -> (seqPackSalted _),
    "c19_curate" -> (curate _),
    "c19_curate_funnel" -> (curateFunnel _),
    "c20_tfidf_top" -> (tfidfTop _),
    "c21_dedup_incremental" -> (dedupIncremental _),
  )

  // ---------------------------------------------------------------- SQL

  /** DuckDB twin of [[stagedDocs]]'s flags (regexes need the 'g' flag;
    * Spark's regexp_replace is global by default). */
  private val stagedSql =
    """staged AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    row_number() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id)
      |      AS rn,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_types,
      |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
      |    length(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowel,
      |    length(text) AS n_len
      |  FROM documents),
      |feat AS (
      |  SELECT *,
      |    CAST(n_len - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_tok_len,
      |    CAST(n_vowel AS DOUBLE) / greatest(n_alpha, 1) AS vowel_ratio,
      |    0.5 * (CASE WHEN n_chars BETWEEN 100 AND 450 THEN 1.0 ELSE 0.0 END)
      |      + 0.5 * (CAST(n_types AS DOUBLE) / n_tokens) AS quality
      |  FROM staged),
      |flagged AS (
      |  SELECT *,
      |    CASE WHEN avg_tok_len >= 7.0 THEN 'de'
      |         WHEN vowel_ratio >= 0.42 THEN 'es'
      |         WHEN vowel_ratio >= 0.38 THEN 'en'
      |         WHEN avg_tok_len < 5.0 THEN 'zh'
      |         ELSE 'fr' END AS pred_lang,
      |    CASE WHEN rn = 1 THEN 1 ELSE 0 END AS canonical
      |  FROM feat),
      |flags AS (
      |  SELECT *,
      |    CASE WHEN canonical = 1 AND n_chars BETWEEN 100 AND 450
      |      THEN 1 ELSE 0 END AS len_ok
      |  FROM flagged),
      |flags2 AS (
      |  SELECT *,
      |    CASE WHEN len_ok = 1 AND pred_lang = lang THEN 1 ELSE 0 END
      |      AS lang_ok
      |  FROM flags),
      |flags3 AS (
      |  SELECT *,
      |    CASE WHEN lang_ok = 1 AND quality >= 0.7 THEN 1 ELSE 0 END
      |      AS quality_ok
      |  FROM flags2)""".stripMargin

  /** The c42 BM25 CTE chain up to the per-doc scores (`sc`) — shared by
    * the c42 and c43 oracles exactly as [[bm25Top]] is engine-side. */
  private val bm25CoreSql: String =
    s"""tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents) x
       |  GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS nn,
       |              CAST(sum(dl) AS BIGINT) AS ll FROM dl),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM tf GROUP BY term),
       |qd AS (SELECT min(doc_id) AS qid FROM documents),
       |qt AS (
       |  SELECT term, df FROM (
       |    SELECT f.term, g.df,
       |      row_number() OVER (ORDER BY g.df ASC, f.term ASC) AS qrn
       |    FROM tf f JOIN dfq g USING (term), qd
       |    WHERE f.doc_id = qd.qid AND g.df >= 2) z
       |  WHERE qrn <= $Bm25QTerms),
       |sc AS (
       |  SELECT f.doc_id,
       |    CAST(sum(
       |      ((1000 * (2*st.nn - 2*q.df + 1)) // (2*q.df + 1)) *
       |      ((22 * st.ll * f.tf * 1000000) //
       |       (10 * st.ll * f.tf + 3 * st.ll + 9 * l.dl * st.nn))
       |    ) AS BIGINT) AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms_hit
       |  FROM tf f JOIN qt q USING (term) JOIN dl l USING (doc_id),
       |       st, qd
       |  WHERE f.doc_id <> qd.qid
       |  GROUP BY f.doc_id)""".stripMargin

  /** One c43 greedy MMR round: among candidates not yet in `$prev`,
    * compute max sim to the selected set (empty → 0 via the LEFT join)
    * and append the argmax of 700·rel − 300·maxsim (tie → min doc_id). */
  private def mmrStepSql(prev: String, next: String, k: Int): String =
    s"""$next AS MATERIALIZED (
       |  SELECT * FROM $prev
       |  UNION ALL
       |  (SELECT CAST($k AS BIGINT) AS sel_rank, doc_id, rel_pm,
       |     max_sim_pm, 700 * rel_pm - 300 * max_sim_pm AS mmr_score
       |   FROM (
       |     SELECT c.doc_id, c.rel_pm,
       |       coalesce(max(x.sim_pm), CAST(0 AS BIGINT)) AS max_sim_pm
       |     FROM cr c
       |     LEFT JOIN (SELECT p.a_id, p.sim_pm FROM pr p
       |                JOIN $prev s ON p.b_id = s.doc_id) x
       |       ON x.a_id = c.doc_id
       |     WHERE c.doc_id NOT IN (SELECT doc_id FROM $prev)
       |     GROUP BY c.doc_id, c.rel_pm) y
       |   ORDER BY mmr_score DESC, doc_id ASC LIMIT 1))""".stripMargin

  private val mmrOracle: String = {
    val steps = (1 to MmrK)
      .map(i => mmrStepSql(s"s${i - 1}", s"s$i", i)).mkString(",\n")
    s"""WITH $bm25CoreSql,
       |cand AS MATERIALIZED (
       |  SELECT doc_id, score FROM sc
       |  ORDER BY score DESC, doc_id ASC LIMIT 20),
       |mx AS (SELECT max(score) AS mx FROM cand),
       |cr AS MATERIALIZED (
       |  SELECT doc_id, (1000 * score) // mx AS rel_pm FROM cand, mx),
       |tfd AS (SELECT doc_id,
       |          unnest(list_distinct(string_split(text, ' '))) AS term
       |        FROM documents),
       |ct AS MATERIALIZED (
       |  SELECT t.doc_id, t.term FROM tfd t JOIN cr USING (doc_id)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |       FROM ct GROUP BY doc_id),
       |pr AS MATERIALIZED (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    (1000 * CAST(count(*) AS BIGINT)) //
       |      (sa.n + sb.n - CAST(count(*) AS BIGINT)) AS sim_pm
       |  FROM ct a JOIN ct b ON a.term = b.term AND a.doc_id <> b.doc_id
       |  JOIN sz sa ON sa.doc_id = a.doc_id
       |  JOIN sz sb ON sb.doc_id = b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n),
       |s0 AS (SELECT CAST(0 AS BIGINT) AS sel_rank, doc_id, rel_pm,
       |         CAST(0 AS BIGINT) AS max_sim_pm,
       |         CAST(0 AS BIGINT) AS mmr_score
       |       FROM cr WHERE FALSE),
       |$steps
       |SELECT sel_rank, doc_id, rel_pm, max_sim_pm, mmr_score
       |FROM s$MmrK ORDER BY sel_rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the identical integer BM25 chain; every division is `//` on
    // BIGINTs (DuckDB) mirroring Spark's DIV, sums cast back to BIGINT
    // (DuckDB widens sum(BIGINT) to HUGEINT)
    "c42_bm25" ->
      s"""WITH $bm25CoreSql
         |SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk,
         |  doc_id, score, n_terms_hit
         |FROM sc ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "c43_mmr_rerank" -> mmrOracle,
    // the same two arms: the shared BM25 chain's top-20 re-ranked, plus
    // the exact-cosine top-20 of the query doc over embeddings (doc_id =
    // vec_id, the fixture's aligned-id contract) — fused by the exact
    // integer 10^6 // (60 + rank) contributions
    "c45_rrf_fusion" ->
      s"""WITH $bm25CoreSql,
         |lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |      AS bm25_rnk
         |  FROM (SELECT doc_id, score FROM sc
         |        ORDER BY score DESC, doc_id ASC LIMIT 20) p),
         |vd AS (
         |  SELECT e.vec_id AS doc_id,
         |    1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |            CAST(q.embedding AS DOUBLE[])) AS dist
         |  FROM embeddings e, embeddings q, qd
         |  WHERE q.vec_id = qd.qid AND e.vec_id <> qd.qid),
         |vec AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY dist ASC, doc_id ASC) AS vec_rnk
         |  FROM (SELECT doc_id, dist FROM vd
         |        ORDER BY dist ASC, doc_id ASC LIMIT $RrfPool) p),
         |fused AS (
         |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    l.bm25_rnk, v.vec_rnk,
         |    coalesce(1000000 // ($RrfK + l.bm25_rnk), 0) +
         |      coalesce(1000000 // ($RrfK + v.vec_rnk), 0) AS rrf_pm
         |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
         |SELECT row_number() OVER (ORDER BY rrf_pm DESC, doc_id ASC)
         |    AS rnk,
         |  doc_id, rrf_pm, bm25_rnk, vec_rnk
         |FROM fused ORDER BY rrf_pm DESC, doc_id ASC
         |LIMIT $MmrK""".stripMargin,
    "c18_seq_pack" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |pack AS (
         |  SELECT doc_id, source, n_tokens, rn,
         |    n_tokens AS seq_fill, CAST(0 AS BIGINT) AS seq_id
         |  FROM toks WHERE rn = 1
         |  UNION ALL
         |  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
         |    CASE WHEN p.seq_fill + t.n_tokens <= $PackBudget
         |      THEN p.seq_fill + t.n_tokens ELSE t.n_tokens END,
         |    CASE WHEN p.seq_fill + t.n_tokens <= $PackBudget
         |      THEN p.seq_id ELSE p.seq_id + 1 END
         |  FROM toks t JOIN pack p ON t.source = p.source AND t.rn = p.rn + 1)
         |SELECT doc_id, source, n_tokens,
         |  CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(seq_fill AS BIGINT) AS seq_fill
         |FROM pack ORDER BY doc_id""".stripMargin,
    "c18b_seq_pack_salted" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, source, doc_id // $PackChunk AS chunk,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY source, doc_id // $PackChunk
         |      ORDER BY doc_id) AS rn
         |  FROM documents),
         |pack AS (
         |  SELECT doc_id, source, chunk, n_tokens, rn,
         |    n_tokens AS seq_fill, CAST(0 AS BIGINT) AS seq_id
         |  FROM toks WHERE rn = 1
         |  UNION ALL
         |  SELECT t.doc_id, t.source, t.chunk, t.n_tokens, t.rn,
         |    CASE WHEN p.seq_fill + t.n_tokens <= $PackBudget
         |      THEN p.seq_fill + t.n_tokens ELSE t.n_tokens END,
         |    CASE WHEN p.seq_fill + t.n_tokens <= $PackBudget
         |      THEN p.seq_id ELSE p.seq_id + 1 END
         |  FROM toks t JOIN pack p
         |    ON t.source = p.source AND t.chunk = p.chunk AND t.rn = p.rn + 1)
         |SELECT doc_id, source, CAST(chunk AS BIGINT) AS chunk, n_tokens,
         |  CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(seq_fill AS BIGINT) AS seq_fill
         |FROM pack ORDER BY doc_id""".stripMargin,
    "c19_curate" ->
      s"""WITH $stagedSql
         |SELECT doc_id, lang, source,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, n_chars
         |FROM flags3 WHERE quality_ok = 1 ORDER BY doc_id""".stripMargin,
    "c19_curate_funnel" ->
      s"""WITH $stagedSql
         |SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(sum(canonical) AS BIGINT) AS n_canonical,
         |  CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
         |  CAST(sum(lang_ok) AS BIGINT) AS n_lang_ok,
         |  CAST(sum(quality_ok) AS BIGINT) AS n_curated
         |FROM flags3""".stripMargin,
    "c21_dedup_incremental" ->
      """WITH cut AS (SELECT max(doc_id) * 4 // 5 AS cut FROM documents),
        |n AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        |                    ' ') AS norm
        |  FROM documents),
        |corpus AS (
        |  SELECT DISTINCT norm FROM n, cut WHERE doc_id <= cut),
        |batch AS (SELECT n.* FROM n, cut WHERE doc_id > cut),
        |fresh AS (
        |  SELECT * FROM batch
        |  WHERE norm NOT IN (SELECT norm FROM corpus)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id)
        |    AS rn
        |  FROM fresh)
        |SELECT doc_id, lang, source, n_chars FROM ranked
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "c20_tfidf_top" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * 1000000 * n.n_docs // df.df AS BIGINT)
        |      AS score_scaled
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_scaled DESC, tf DESC, term ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score_scaled, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
  )
}
