package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Centralized table access for the test corpus
  * (`$sfDir/<table>.parquet`, see TESTDATA.md / FIXTURES.md).
  *
  * Scale notes (100 TB design): every reader returns a plain lazy
  * DataFrame so Catalyst predicate pushdown / column pruning reach the
  * parquet scan untouched. On a real cluster these would be partitioned
  * directories (e.g. lineitem partitioned by ship month) and the same
  * code would get partition pruning for free — nothing here assumes a
  * single file except `repartitioned`, which papers over the local
  * fixture's single-row-group layout.
  */
object Tables {
  def region(s: SparkSession, d: String): DataFrame   = s.read.parquet(s"$d/region.parquet")
  def nation(s: SparkSession, d: String): DataFrame   = s.read.parquet(s"$d/nation.parquet")
  def customer(s: SparkSession, d: String): DataFrame = s.read.parquet(s"$d/customer.parquet")
  def supplier(s: SparkSession, d: String): DataFrame = s.read.parquet(s"$d/supplier.parquet")
  def part(s: SparkSession, d: String): DataFrame     = s.read.parquet(s"$d/part.parquet")
  def orders(s: SparkSession, d: String): DataFrame   = s.read.parquet(s"$d/orders.parquet")
  def lineitem(s: SparkSession, d: String): DataFrame = s.read.parquet(s"$d/lineitem.parquet")
  def documents(s: SparkSession, d: String): DataFrame = s.read.parquet(s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame = s.read.parquet(s"$d/embeddings.parquet")

  /** `events.ts` has shipped in two parquet encodings across fixture
    * regenerations: TIMESTAMP(NANOS) (Spark 4 reads it as LONG under the
    * legacy conf) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark
    * reads TIMESTAMP_NTZ). We branch on the read schema so either works,
    * and surface the same two columns in both cases: `ts` floored to
    * WHOLE SECONDS (every events oracle rebuilds exactly this
    * second-precision value — see EventOps) plus raw nanos `ts_ns` for
    * tie-breaking. All graft sessions pin spark.sql.session.timeZone=UTC,
    * so the NTZ→TIMESTAMP cast below is the identity on the epoch value —
    * the same interpretation DuckDB's `epoch_ns(ts)` oracle twin uses.
    */
  /** `spark.sql.legacy.parquet.nanosAsLong` is the ONLY way Spark 4
    * reads TIMESTAMP(NANOS) parquet — ParquetOptions exposes no
    * per-read twin (verified against the 4.1.2 jars), so the events
    * readers cannot scope it to the scan. Least-intrusive correct form:
    * written at most once per session, only if currently unset, never
    * toggled back — a shared long-lived session sees one stable value
    * instead of a write per read. */
  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"
  private[graft] def ensureNanosConf(s: SparkSession): Unit =
    if (!s.conf.getOption(NanosConf).contains("true"))
      s.conf.set(NanosConf, "true")

  def events(s: SparkSession, d: String): DataFrame = {
    ensureNanosConf(s)
    normalizeEventTs(s.read.parquet(s"$d/events.parquet"))
  }

  /** Normalize a raw events frame (batch or streaming) to the canonical
    * `ts` (second-floored TIMESTAMP) + `ts_ns` (epoch nanos, tie-break)
    * pair, whichever encoding `ts` arrived in. Shared by [[events]] and
    * `streaming.Streams.eventStream` so a future fixture change breaks
    * in exactly one place.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as raw nanos
      raw.withColumnRenamed("ts", "ts_ns")
        // exact integer floor to seconds (double division would round and
        // could disagree with the oracle's truncation near boundaries)
        .withColumn("ts", timestamp_seconds(expr("ts_ns div 1000000000")))
    case _ => // TimestampType or TimestampNTZType, micros precision
      raw
        .withColumn("ts_ns", unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
        .withColumn("ts", timestamp_seconds(expr("ts_ns div 1000000000")))
  }

  /** The parquet-declared type of `events.ts` — a streaming file source
    * must declare its schema up front, so it probes this via a cheap
    * batch footer read, memoized per (session, dir): the fixture files
    * are immutable for a session, and three call sites re-probing the
    * footer on every streaming-query construction was pure waste.
    */
  private val tsTypeCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), org.apache.spark.sql.types.DataType]
  def eventsTsType(s: SparkSession, d: String): org.apache.spark.sql.types.DataType =
    tsTypeCache.getOrElseUpdate((s, d), {
      ensureNanosConf(s)
      s.read.parquet(s"$d/events.parquet").schema("ts").dataType
    })

  /** Collision-free identifier tag for a dataset dir: the full path
    * with every non-word character mapped to '_'. Used wherever a temp
    * view or memory-sink name must be unique per dataset — the previous
    * Integer.toHexString(d.hashCode) tags could collide across two
    * dirs in one session and silently cross-wire one run's view into
    * another's reader. */
  def dirTag(d: String): String = d.replaceAll("[^A-Za-z0-9_]", "_")

  /** Default parallelism for explicit repartitions. Single-file parquet
    * fixtures arrive as 1 input partition, which would serialize any
    * heavy downstream operator (measured 63 s vs 17.5 s on the KNN
    * cross-join, BASELINE.md). On a real cluster the scan itself is
    * already split, so this is a no-op-ish rebalance, not a bottleneck.
    */
  def parallelism(s: SparkSession): Int =
    s.sparkContext.defaultParallelism.max(4)

  /** Rebalance a (possibly single-partition) scan across the cluster. */
  def repartitioned(df: DataFrame, s: SparkSession): DataFrame =
    df.repartition(parallelism(s))

  /** Total row count of a parquet file from its footer — a driver-side
    * METADATA read (no Spark job, no data pages touched), for sizing
    * decisions that only need an upper bound (e.g. b38's bloom-filter
    * capacity). Directories sum their part files' footers. */
  def footerRowCount(s: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.globStatus(new Path(p, "part-*.parquet")).map(_.getPath)
      else Array(p)
    // fail loudly on a layout the glob can't see (nested/partitioned
    // directories): a silent 0 would quietly floor b38's bloom capacity
    // at 1000 keys and blow the documented 1% FPP target
    require(files.nonEmpty,
      s"no parquet part files directly under $path — nested/partitioned " +
        "layouts need a recursive listing, not the flat part-* glob")
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The engine's ceiling on the estimated BUILT size of a broadcast
    * join side (see [[broadcastFits]]). 700 MiB keeps every side the
    * rehearsals measured as broadcast-right under it and every side they
    * had to force off over it: the 2M-vector embedding lookup (≈0.6 GB)
    * broadcasts — its shuffle-hash branch exchanged ≈137 GB of seed
    * pairs with the embedding payload attached — while the 63k-query ADC
    * LUT (≈1.05 GB), the 632k-vertex NSW adjacency (≈0.79 GB) and the
    * ≥4M-vector embedding lookup (≥1.2 GB) shuffle-hash. Spark's 10 MB
    * auto-broadcast default prices arbitrary plan-estimated relations and
    * is far too low for these: it would flip the sf0.1 LUT (≈33 MB) to
    * shuffle-hash, measured slower there (ann_pq_topk 6.8–7.9 s vs
    * 4.0–5.4 s broadcast, local[4]). */
  val BroadcastCeilingBytes: Long = 700L << 20

  /** Estimated built bytes per corpus row of each join side the KNN scan
    * and the ANN/NSW tiers size with [[broadcastFits]]. */
  object RowBytes {
    /** One query's ADC lookup table: 8 subspaces × 256 codewords of
      * doubles, plus array and row headers. */
    val Lut = 16600L
    /** One (vec_id, 64-float embedding) lookup row. */
    val Embedding = 300L
    /** One (cid, code0..code7) PQ code row. */
    val PqCodes = 80L
    /** One (vec_id, 64 SQ8 codes) row: the row's null word and two
      * fixed slots (the id, the array's offset and size), then the
      * array's element count, its null word and 64 longs. */
    val Sq8Codes = 8 + 2 * 8 + 8 + 8 + 64 * 8L
    /** One vertex's NSW search adjacency: at most M + F + 2 = 26 edges
      * of two longs (+1 absorbs rounding in the ring arithmetic, +1 is
      * the self-loop row), at 48 B per row of the built HashedRelation
      * rather than the raw payload, so the estimate errs toward
      * shuffle-hash. */
    val Adjacency = 26 * 48L
  }

  /** The one broadcast-or-partition rule for the KNN candidate side and
    * the ANN/NSW join sides, whose sizes are known by construction:
    * broadcast while `rows` × `rowBytes` fits [[BroadcastCeilingBytes]],
    * unless the session has turned broadcast off
    * (`spark.sql.autoBroadcastJoinThreshold` ≤ 0). The choice only picks
    * the layout of the same join, so it never changes an answer. */
  private[graft] def broadcastFits(s: SparkSession, rows: Long,
      rowBytes: Long): Boolean =
    s.sessionState.conf.autoBroadcastJoinThreshold > 0 &&
      rows * rowBytes <= BroadcastCeilingBytes

  /** [[broadcastFits]] for a side of `rowBytes` per corpus vector of
    * dataset `d`; the vector count is the embeddings footer, no job. */
  private[graft] def corpusFits(s: SparkSession, d: String,
      rowBytes: Long): Boolean =
    broadcastFits(s, footerRowCount(s, s"$d/embeddings.parquet"), rowBytes)

  /** `side` broadcast when the corpus fits at `rowBytes` per vector
    * ([[corpusFits]]), else hinted `shuffle_hash`: key-partitioned,
    * nothing replicated per executor, and no sort of the big side as a
    * sort-merge join would do. */
  private[graft] def sizedSide(s: SparkSession, d: String, side: DataFrame,
      rowBytes: Long): DataFrame =
    if (corpusFits(s, d, rowBytes)) broadcast(side)
    else side.hint("shuffle_hash")
}
