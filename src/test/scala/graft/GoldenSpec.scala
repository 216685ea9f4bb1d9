package graft

import scala.jdk.CollectionConverters._

/** Regression net: every declared query's canonical output hash on
  * sf0.001 must match the checked-in golden file. Regenerate after an
  * intentional semantics change with:
  *   sbt "runMain graft.tools.Golden /root/testdata/sf0.001 src/test/resources/golden_sf0.001.json"
  */
class GoldenSpec extends SparkSpec {

  private lazy val golden: Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/golden_sf0.001.json")), "UTF-8")
    // minimal flat-object JSON parse (keys and values are hex/word strings)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  test("golden file covers every declared query") {
    val missing = SparkEntry.queries.keySet -- golden.keySet
    assert(missing.isEmpty, s"regenerate golden file; missing: $missing")
  }

  test("all query outputs match their golden hashes on sf0.001") {
    // hygiene law in the same pass: after each query the one cold reset
    // leaves no persisted RDD behind (relative to what was already
    // persisted, so another suite's fixtures and an earlier query's leak
    // are not charged to this query)
    val sc = spark.sparkContext
    PersistedCache.clearAll()
    var known = sc.getPersistentRDDs.keys.toSet
    val leaks = Map.newBuilder[String, Int]
    val current = SparkEntry.queries.keys.map { name =>
      val h = tools.Golden.hashQuery(spark, sf0001, name)
      PersistedCache.clearAll()
      val left = sc.getPersistentRDDs.keys.toSet -- known
      if (left.nonEmpty) { leaks += name -> left.size; known ++= left }
      name -> h
    }.toMap
    val bad = current.filter { case (name, h) => golden.get(name).exists(_ != h) }
    assert(bad.isEmpty,
      s"outputs drifted for: ${bad.keys.toSeq.sorted.mkString(", ")}")
    assert(current.values.forall(!_.startsWith("ERROR")),
      current.filter(_._2.startsWith("ERROR")).toString)
    val leaked = leaks.result()
    assert(leaked.isEmpty, "persisted RDDs left after PersistedCache.clearAll(): " +
      leaked.toSeq.sorted.map { case (q, n) => s"$q ($n)" }.mkString(", "))
  }
}
