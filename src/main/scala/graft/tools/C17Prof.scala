package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev profiler for c17's pipeline stages (VERDICT r10 item 9: find
  * where the 127.7 s at sf1 actually goes). Times, cold each:
  *   1. the shingle INDEX build (explode + df join-back + two windows),
  *   2. candidate generation on top of the cached index,
  *   3. the full declared query (index + candidates + exact recheck).
  * Stage 1 is shared state; 2−1 and 3−2 are the marginal costs.
  *
  * Usage: runMain graft.tools.C17Prof [sfDir] [dfBroadcast=true|false]
  * The second arg A/Bs the document-frequency join-back strategy: the
  * declared query broadcasts the vocabulary-sized df table (right at
  * small vocabularies); at sf1's 2.4M-shingle vocabulary the broadcast
  * is ~100 MB to every task — the shuffled join may win there.
  */
object C17Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("localdata/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.lift(1).foreach(v =>
      spark.conf.set(graft.ops.TextOps.DfBroadcastConf, v))
    def time(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[c17prof] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.1f s  ($n rows)")
    }
    locally {
      // r18 sub-split of the index build: gram explode+hash (map), df
      // census, join-back, then the full windowed index
      import org.apache.spark.sql.functions._
      val post = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(graft.functions.TextHash
          .shingle_id_set(col("text"), lit(8))).as("sg"))
      time("0a post (explode+fnv) noop") {
        post.write.format("noop").mode("overwrite").save(); post.count()
      }
      val dfTab = post.groupBy(col("sg")).agg(count(lit(1)).as("df"))
      time("0b df census")(dfTab.count())
      val withDf = post.join(broadcast(dfTab), "sg")
      time("0c df join-back noop") {
        withDf.write.format("noop").mode("overwrite").save(); withDf.count()
      }
    }
    graft.PersistedCache.clearAll()
    time("1 shingle index build")(
      graft.ops.TextOps.shingleIndex(spark, sfDir).count())
    time("1b prefix rows")(
      graft.ops.TextOps.shinglePrefix(spark, sfDir).count())
    time("1c raw join pairs (pre-agg)") {
      import org.apache.spark.sql.functions.col
      val p = graft.ops.TextOps.shinglePrefix(spark, sfDir)
      p.alias("a").join(p.alias("b"),
          col("a.sg") === col("b.sg") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("a.n") >= col("b.n") * graft.ops.TextOps.ShingleTau &&
            col("b.n") >= col("a.n") * graft.ops.TextOps.ShingleTau)
        .count()
    }
    locally {
      import org.apache.spark.sql.functions.{col, count, lit, sum, expr}
      val buckets = graft.ops.TextOps.shinglePrefix(spark, sfDir)
        .groupBy(col("sg")).agg(count(lit(1)).as("m"))
      val top = buckets.orderBy(col("m").desc).limit(10)
        .collect().map(_.getLong(1))
      val pairs = buckets.agg(
        sum(expr("m * (m - 1) DIV 2"))).head().getLong(0)
      println(s"[c17prof] 1d bucket skew: top-10 m = ${top.mkString(",")}; " +
        s"sum C(m,2) = $pairs")
    }
    time("2 candidates (index cached)")(
      graft.ops.TextOps.shingleCandidates(spark, sfDir).count())
    time("3 full query (both cached)")(
      graft.ops.TextOps.shingleJaccard(spark, sfDir).count())
    graft.PersistedCache.clearAll()
    time("4 full query COLD")(
      graft.ops.TextOps.shingleJaccard(spark, sfDir).count())
    spark.stop()
  }
}
