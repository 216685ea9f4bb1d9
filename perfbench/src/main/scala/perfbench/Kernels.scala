package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HashExpressions, JaroWinklerFunctions,
  SketchExpressions, TextHash, TopKAgg, VectorExpressions}

/** Kernel harness: each hot kernel runs through its public Column
  * builder over a fixed synthetic batch held in memory in ONE partition,
  * and is timed net of the same plan with the kernel replaced by an
  * identity (or trivial) expression. The batch does not depend on the
  * workload seed, so kernel numbers compare across runs and commits.
  */
object Kernels {
  private val Vocab = ("a agg batch big column customer data dup fast " +
    "filter group hash join key line merge order part query row scan slow " +
    "small sort spark stream table the value vector window").split(" ")

  final case class Result(name: String, nsPerRow: Double, bytesPerRow: Double)

  private def u(salt: String, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(1000000L)) / 1e6

  private def words(n: Column, salt: String): Column = {
    val vocab = array(Vocab.map(lit).toIndexedSeq: _*)
    transform(sequence(lit(1), n), i => element_at(vocab,
      (pmod(xxhash64(col("id"), i, lit(salt)), lit(Vocab.length.toLong)) + 1)
        .cast("int")))
  }

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Time `kernel` against `identity` over a cached batch; `bytes` is an
    * aggregate giving the input bytes each row reads. */
  private def measure(name: String, batch: DataFrame, kernel: DataFrame,
      identity: DataFrame, bytes: Column, reps: Int): Result = {
    val b = batch.persist(StorageLevel.MEMORY_ONLY)
    val rows = b.count()
    val bytesPerRow = b.agg(avg(bytes)).head().getDouble(0)
    noop(identity); noop(kernel) // warm the generated code
    val pairs = (1 to reps).map(_ => (noop(kernel), noop(identity)))
    b.unpersist(blocking = true)
    val net = Stats.median(pairs.map(_._1)) - Stats.median(pairs.map(_._2))
    Result(name, net * 1e9 / rows, bytesPerRow)
  }

  def run(s: SparkSession, tracer: Tracer, reps: Int = 3): Seq[Result] = {
    def one(n: Long) = s.range(0L, n, 1L, 1)
    def traced(name: String)(r: => Result): Result =
      tracer.span(s"kernel.$name", s"kernels/$name")(r)

    val vec = (salt: String) => transform(sequence(lit(0), lit(63)),
      j => (u(salt, col("id"), j) * 2.0 - 1.0).cast("float"))
    val vecs = one(50000L).select(vec("ka").as("a"), vec("kb").as("b"))
    val cos = traced("cosine_distance")(measure("cosine_distance", vecs,
      vecs.select(VectorExpressions.cosine_distance(s, col("a"), col("b"))),
      vecs.select(col("a"), col("b")), lit(2 * 64 * 4), reps))

    val cand = one(200000L).select(
      pmod(col("id"), lit(2000L)).as("g"), u("kd", col("id")).as("dist"),
      col("id").as("cid"), pmod(col("id"), lit(10L)).cast("int").as("label"))
    val topk = traced("top_k_by")(measure("top_k_by", cand,
      cand.groupBy(col("g")).agg(
        TopKAgg.top_k_by(s, col("dist"), col("cid"), col("label"), 10)),
      cand.groupBy(col("g")).agg(max(col("dist"))),
      lit(8 + 8 + 4), reps))

    val docs = one(10000L).select(col("id"),
      array_join(words((u("kl", col("id")) * 91 + 10).cast("int"), "kw"), " ")
        .as("text"))
      .select(col("text"), split(col("text"), " ").as("tokens"))
    val shingle = traced("shingle_id_set")(measure("shingle_id_set", docs,
      docs.select(TextHash.shingle_id_set(col("text"), lit(8))),
      docs.select(col("text")), length(col("text")), reps))
    val minhash = traced("minhash_signature")(measure("minhash_signature",
      docs,
      docs.select(SketchExpressions.minhash_signature(s, col("tokens"),
        lit(64))),
      docs.select(col("tokens")),
      aggregate(col("tokens"), lit(0), (a, t) => a + length(t)), reps))

    val keys = one(200000L).select(
      array_join(words((u("fl", col("id")) * 4 + 1).cast("int"), "fw"), " ")
        .as("k"))
    val fnv = traced("fnv1a64")(measure("fnv1a64", keys,
      keys.select(HashExpressions.fnv1a64(s, col("k"))),
      keys.select(col("k")), length(col("k")), reps))

    val names = one(100000L).select(
      array_join(words(lit(3), "ja"), " ").as("a"),
      array_join(words(lit(3), "jb"), " ").as("b"))
    val jw = traced("jaro_winkler")(measure("jaro_winkler", names,
      names.select(JaroWinklerFunctions.jaro_winkler(s, col("a"), col("b"))),
      names.select(col("a"), col("b")), length(col("a")) + length(col("b")),
      reps))

    Seq(cos, topk, fnv, shingle, minhash, jw)
  }
}
