package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Golden-output hashes: a cheap regression net over EVERY declared query
  * (oracle-checked or not — sketches and ANN are deterministic too).
  *
  * Canonical form: columns sorted by name, every row rendered to a string
  * (Spark's Row.toString — deterministic for our flat schemas), rows
  * sorted, SHA-256 over the concatenation.
  *
  * Usage: runMain graft.tools.Golden <sfDir> <outJson>   (regenerate)
  * GoldenSpec recomputes the hashes and compares with the checked-in file.
  */
object Golden {

  def hashOf(df: DataFrame): String = {
    val cols = df.columns.sorted.toIndexedSeq
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One declared query's hash, or `ERROR: <exception class>`. */
  def hashQuery(spark: SparkSession, sfDir: String, name: String): String =
    try hashOf(SparkEntry.queries(name)(spark, sfDir)) catch {
      case e: Throwable => s"ERROR: ${e.getClass.getSimpleName}"
    }

  def computeAll(spark: SparkSession, sfDir: String): Map[String, String] =
    SparkEntry.queries.keys.map(n => n -> hashQuery(spark, sfDir, n)).toMap

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args.take(2)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val hashes = computeAll(spark, sfDir)
    val json = hashes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(outFile), json)
    println(s"[golden] wrote ${hashes.size} hashes to $outFile")
    spark.stop()
  }
}
