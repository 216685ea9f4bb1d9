package perfbench

import org.apache.spark.sql.SparkSession

/** A set-up step: materialise `query` (as the parquet its oracle check
  * reads) and record its time as `span`. */
final case class SetupStep(span: String, query: String)

/** One benchmark workload: the queries a pass runs, whether each pass
  * starts cold in a fresh session, and the shared state set-up builds.
  *
  * @param passQueries the timed query list, run in this order each pass
  * @param setupSteps  the shared-state build, in order; the step
  *                    queries' outputs are checked like pass outputs
  * @param cold        each pass runs in `spark.newSession()` and every
  *                    module cache is dropped after it
  * @param recall      pass queries whose `recall` column feeds recall@10
  */
final case class Workload(
    name: String,
    passQueries: Seq[String],
    setupSteps: Seq[SetupStep],
    cold: Boolean,
    recall: Seq[String] = Nil) {
  def checked: Seq[String] = (setupSteps.map(_.query) ++ passQueries).distinct
}

object Workloads {
  val knnExact = Workload("knn_exact",
    passQueries = Seq("knn_topk", "knn_topk_agg", "knn_topk_blocked",
      "knn_classify", "knn_ksweep"),
    setupSteps = Nil,
    cold = true)

  val annServe = Workload("ann_serve",
    passQueries = Seq("ann_ivf_topk_indexed", "ann_recall"),
    setupSteps = Seq(
      SetupStep("ann.index_build", "ann_index_build"),
      SetupStep("knn.exact_cache", "knn_topk")),
    cold = false,
    recall = Seq("ann_recall"))

  val all: Seq[Workload] = Seq(knnExact, annServe)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Every query any workload times; a traced run reports q.<query>.*
    * for all of them so each run prints the same metric names. */
  def allPassQueries: Seq[String] = all.flatMap(_.passQueries).distinct

  /** Drop every module cache reachable through the public API. */
  def clearModuleCaches(): Unit = {
    graft.ops.Knn.clearCache()
    graft.ops.Ann.clearCache()
    graft.ops.Nsw.clearCache()
    graft.ops.TextOps.clearCache()
    graft.ops.Quality.clearCache()
  }

  /** Register the engine's SQL functions on a session (idempotent). */
  def registerFunctions(s: SparkSession): Unit = {
    graft.functions.VectorExpressions.register(s)
    graft.functions.TopKAgg.register(s)
    graft.functions.HashExpressions.register(s)
    graft.functions.SketchExpressions.register(s)
    graft.functions.JaroWinklerFunctions.register(s)
  }
}
