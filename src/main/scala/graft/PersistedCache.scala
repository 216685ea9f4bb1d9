package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache of persisted DataFrames (shared intermediate
  * results like the KNN ranked-neighbor set or the IVF assignment table).
  *
  * Hygiene guarantees (vs a bare TrieMap.getOrElseUpdate):
  *  - entries of a session are unpersisted and dropped when that session's
  *    application ends (SparkListenerApplicationEnd), so long-lived JVMs
  *    hosting many short sessions do not leak persisted state;
  *  - a racing first access builds twice but persists once: the loser of
  *    the putIfAbsent is unpersisted immediately and the winner is shared;
  *  - every instance registers itself on construction under its `owner`
  *    (the module object that declares it), so `PersistedCache.clear(owner)`
  *    and `PersistedCache.clearAll()` reach it with no list to maintain.
  */
final class PersistedCache(private val owner: AnyRef) {
  private val map = TrieMap.empty[(SparkSession, String), DataFrame]
  private val hooked = TrieMap.empty[SparkSession, Unit]
  PersistedCache.instances.add(this)

  def getOrBuild(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    map.get((s, key)) match {
      case Some(df) => df
      case None =>
        val df = build.persist()
        map.putIfAbsent((s, key), df) match {
          case Some(winner) => PersistedCache.quietly(df.unpersist()); winner
          case None => hook(s); df
        }
    }

  /** Install the end-of-application eviction listener once per session. */
  private def hook(s: SparkSession): Unit =
    if (hooked.putIfAbsent(s, ()).isEmpty) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          evict(s)
          // the application is over — this session can never build again,
          // so dropping the marker here leaks nothing and releases the
          // last strong reference to the (now dead) session
          hooked.remove(s)
        }
      })
    }

  /** Drop (and unpersist) every entry belonging to one session. The
    * `hooked` marker is NOT dropped for a LIVE session: the listener
    * stays registered (it is idempotent), so repeated evict/build cycles
    * never stack up duplicate listeners; the marker is released only in
    * the application-end path above, where the session is dead. */
  def evict(s: SparkSession): Unit = map.keys.filter(_._1 eq s).foreach(drop)

  /** Drop every cached entry. Listeners stay — see evict(). */
  def clear(): Unit = map.keys.toSeq.foreach(drop)

  private def drop(k: (SparkSession, String)): Unit =
    map.remove(k).foreach(df => PersistedCache.quietly(df.unpersist()))
}

/** The registry of every [[PersistedCache]] and of every per-execution
  * materialization, and the one cold reset over both.
  *
  * Engine code materializes intermediates (lineage barriers, multi-use
  * subtrees) through [[Materialize]] rather than calling
  * `localCheckpoint`/`persist` directly, so the reset can release them.
  * Checkpoints are held weakly: one that nothing references any more is
  * still released by Spark's ContextCleaner on GC, as before. Persisted
  * DataFrames are held until the reset, since the cleaner never drops a
  * cache entry. */
object PersistedCache {
  private val instances = new ConcurrentLinkedQueue[PersistedCache]
  private val checkpoints = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Boolean])
  private val frames = new ConcurrentLinkedQueue[DataFrame]

  /** Drop every entry of every cache `owner` declared — a module's own
    * reset. Materializations stay: a surviving entry of another module
    * may read from one of them. */
  def clear(owner: AnyRef): Unit =
    instances.asScala.filter(_.owner eq owner).foreach(_.clear())

  /** The cold reset: drop every entry of every cache, then release every
    * materialization still held (after the caches, since a cache entry
    * can sit on top of a checkpoint). Call it between queries — a
    * DataFrame built before the reset may read a released checkpoint. */
  def clearAll(): Unit = {
    instances.asScala.foreach(_.clear())
    val rdds = checkpoints.synchronized {
      val all = checkpoints.keySet.asScala.toList
      checkpoints.clear()
      all
    }
    rdds.foreach(rdd => quietly(rdd.unpersist(blocking = false)))
    Iterator.continually(frames.poll()).takeWhile(_ != null)
      .foreach(df => quietly(df.unpersist()))
  }

  /** `localCheckpoint`/`persist` for engine intermediates, recorded so
    * that [[clearAll]] releases them. */
  implicit final class Materialize(private val df: DataFrame) extends AnyVal {
    /** `df.localCheckpoint(eager = true)`: materializes AND cuts lineage. */
    def checkpointed: DataFrame = {
      val cp = df.localCheckpoint(true)
      cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
        .foreach(checkpoints.put(_, true))
      cp
    }

    /** `df.persist(MEMORY_AND_DISK)`. */
    def persisted: DataFrame = {
      frames.add(df)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  // unpersist on a stopped session throws — a reset must stay silent
  private def quietly(release: => Any): Unit =
    try release catch { case _: Throwable => () }
}
