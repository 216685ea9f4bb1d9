package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

import graft.PersistedCache.Materialize
import graft.ops.{Knn, TextOps}

/** The cache registry: one cold reset (`PersistedCache.clearAll`) that
  * reaches every cache and engine materialization by construction, and
  * module resets scoped to the caches their module declares. */
class PersistedCacheSpec extends SparkSpec {

  /** Does a fresh plan over `df` read a cached relation? (A new
    * projection re-runs the cache lookup, so a dropped entry shows.) */
  private def readsCache(df: DataFrame): Boolean =
    df.select("*").queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }.isDefined

  private def persisted(rddId: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId)

  test("a cache built in a test and a materialization are released by " +
    "clearAll with no edit anywhere else") {
    val before = spark.sparkContext.getPersistentRDDs.keys.toSet
    val cache = new PersistedCache(this)
    val df = cache.getOrBuild(spark, "k")(spark.range(100).toDF("id"))
    assert(df.count() == 100)
    assert(df.storageLevel != StorageLevel.NONE)
    val cp = spark.range(50).toDF("id").checkpointed
    // the entry's column buffers and the checkpoint
    val held = spark.sparkContext.getPersistentRDDs.keys.toSet -- before
    assert(held.size == 2, held)
    assert(cp.count() == 50)
    PersistedCache.clearAll()
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!held.exists(persisted), held.filter(persisted))
  }

  test("a module's clearCache() drops its own entries and leaves other " +
    "modules' entries and every materialization standing") {
    PersistedCache.clearAll()
    val before = spark.sparkContext.getPersistentRDDs.keys.toSet
    val knn = Knn.knnTopk(spark, sf0001)
    val tfidf = TextOps.tfidfCosine(spark, sf0001)
    assert(readsCache(knn) && readsCache(tfidf))
    val cp = spark.range(10).toDF("id").checkpointed
    val held = spark.sparkContext.getPersistentRDDs.keys.toSet -- before
    Knn.clearCache()
    assert(!readsCache(knn), "Knn.clearCache() left the ranked set cached")
    assert(readsCache(tfidf), "Knn.clearCache() dropped a TextOps entry")
    assert(cp.count() == 10, "a module reset released a checkpoint")
    PersistedCache.clearAll()
    assert(!readsCache(tfidf))
    assert(!held.exists(persisted), held.filter(persisted))
  }

  test("TextOps.clearCache() empties every TextOps cache, tfidf and dsir " +
    "included") {
    val built = Seq(
      "shingle index" -> TextOps.shingleJaccard _,
      "lsh bands" -> TextOps.lshComponents _,
      "cdc chunks" -> TextOps.cdcDedup _,
      "lm bigrams" -> TextOps.lmScore _,
      "tfidf weights" -> TextOps.tfidfCosine _,
      "dsir tokens" -> TextOps.dsirWeights _,
    ).map { case (name, f) => name -> f(spark, sf0001) }
    built.foreach { case (name, df) =>
      assert(readsCache(df), s"$name: built without its cache") }
    TextOps.clearCache()
    val left = built.collect { case (name, df) if readsCache(df) => name }
    assert(left.isEmpty, s"still cached after TextOps.clearCache(): $left")
  }
}
