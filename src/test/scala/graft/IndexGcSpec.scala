package graft

import org.apache.hadoop.fs.{FileUtil, Path}

import graft.ops.{Ann, IndexGc, Nsw}

/** Laws of the persisted-index retention GC (VERDICT r13 item 1): GC can
  * never delete a version the path-resolution rule can still hand to a
  * reader, and post-GC search is bit-identical to pre-GC search. Runs
  * against a SCOPED index root (the d33 per-run isolation rule) so the
  * shared warehouse other suites lean on is never mutated.
  */
class IndexGcSpec extends SparkSpec {

  test("family classification: kind/role/tag, temp dirs unclassified") {
    val ivf = "v1_C256_L4_M8_Cw256_n500x499b193646__root_testdata_sf0_001"
    assert(IndexGc.familyOf(ivf) ===
      Some("ivf/main/_root_testdata_sf0_001"))
    assert(IndexGc.familyOf(s"${ivf}_upsert") ===
      Some("ivf/upsert/_root_testdata_sf0_001"))
    assert(IndexGc.familyOf(s"${ivf}_retrain") ===
      Some("ivf/retrain/_root_testdata_sf0_001"))
    val nsw = "nsw_v3_M16_F8_P8_R8_D2_B48bs0123456789abm3d4c256_" +
      "n500x499b193646__root_testdata_sf0_001"
    assert(IndexGc.familyOf(nsw) === Some("nsw/main/_root_testdata_sf0_001"))
    // versions of one family differ by constants/fingerprint but share
    // the family key — the property the retention grouping rides on
    val retuned = "v1_C512_L6_M8_Cw256_n600x599b200000__root_testdata_sf0_001"
    assert(IndexGc.familyOf(retuned) === IndexGc.familyOf(ivf))
    // crashed-build temps and foreign names are not versions
    assert(IndexGc.familyOf(s"${ivf}__build_deadbeef").isEmpty)
    assert(IndexGc.familyOf("li_bucketed").isEmpty)
  }

  test("commit protocol: a crashed build commits nothing and leaves only " +
    "unclassified temp debris; the next call rebuilds; a committed path " +
    "never rebuilds") {
    val root = "spark-warehouse/graft_commit_test_" +
      java.util.UUID.randomUUID.toString.take(8)
    val name = "v2_C256_L4_M8_Cw256_n10x9b100__commit_law"
    val path = s"$root/$name"
    val marker = new Path(path, IndexGc.BuiltMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def build(tmp: String): Unit = {
      builds.incrementAndGet()
      spark.range(3).write.parquet(s"$tmp/data")
    }
    try {
      // (1) a build that throws midway, after writing part of its output
      val ex = intercept[IllegalStateException] {
        IndexGc.commitOnce(spark, path) { tmp =>
          build(tmp)
          throw new IllegalStateException("killed mid-build")
        }
      }
      assert(ex.getMessage === "killed mid-build")
      assert(!fs.exists(marker) && !fs.exists(new Path(path)),
        "a crashed build must leave nothing at the committed path")

      // (2) its debris is one temp sibling the GC never reads as a version
      val debris = fs.listStatus(new Path(root)).map(_.getPath.getName).toSeq
      assert(debris.size === 1, debris.mkString(", "))
      assert(debris.head.startsWith(name + IndexGc.BuildTmpTag), debris.head)
      assert(IndexGc.familyOf(debris.head).isEmpty)
      assert(IndexGc.familyOf(name).isDefined)

      // (3) the next call runs the build again and commits it
      assert(IndexGc.commitOnce(spark, path)(build) === path)
      assert(builds.get === 2)
      assert(fs.exists(marker))
      assert(spark.read.parquet(s"$path/data").count() === 3)

      // (4) with the marker present the build never runs
      assert(IndexGc.commitOnce(spark, path)(build) === path)
      assert(builds.get === 2, "a committed path must not rebuild")
    } finally fs.delete(new Path(root), true)
  }

  test("a v1 (partitioned-lists) index beside the v2 serving index is a " +
    "superseded ivf version, never serving") {
    val oldRoot = spark.conf.getOption(Ann.IndexDirConf)
    val root = "spark-warehouse/graft_gc_test_" +
      java.util.UUID.randomUUID.toString.take(8)
    spark.conf.set(Ann.IndexDirConf, root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    try {
      val v2 = new Path(Ann.livePaths(spark, sf0001).head).getName
      assert(v2.startsWith("v2_"), s"serving index $v2 is not layout v2")
      val v1 = "v1_" + v2.stripPrefix("v2_")
      // GC reads only names and _BUILT markers, never the data files
      Seq(v1, v2).foreach(n => fs.create(new Path(s"$root/$n/_BUILT")).close())
      assert(IndexGc.familyOf(v1) === IndexGc.familyOf(v2))

      val kept = IndexGc.gcIndexRoot(spark, Seq(sf0001), keepN = 1,
        graceMs = 0L).map(a => new Path(a.path).getName -> a).toMap
      assert(kept(v2).action === "kept_serving")
      assert(kept(v1).action === "kept_recent", kept(v1).toString)
      assert(kept(v1).family.startsWith("ivf/main/"))

      val swept = IndexGc.gcIndexRoot(spark, Seq(sf0001), keepN = 0,
        graceMs = 0L).map(a => new Path(a.path).getName -> a.action).toMap
      assert(swept === Map(v2 -> "kept_serving", v1 -> "deleted"))
    } finally {
      oldRoot match {
        case Some(v) => spark.conf.set(Ann.IndexDirConf, v)
        case None => spark.conf.unset(Ann.IndexDirConf)
      }
      fs.delete(new Path(root), true)
    }
  }

  test("retention GC: serving protected absolutely, keepN then grace " +
    "protect superseded, deletions beyond both; search bit-identical") {
    val oldRoot = spark.conf.getOption(Ann.IndexDirConf)
    val root = "spark-warehouse/graft_gc_test_" +
      java.util.UUID.randomUUID.toString.take(8)
    spark.conf.set(Ann.IndexDirConf, root)
    try {
      // build the full persisted lifecycle at the scoped root
      assert(Ann.storedLists(spark, sf0001).count() > 0)
      assert(Ann.upsertedLists(spark, sf0001).count() > 0)
      assert(Ann.retrainedLists(spark, sf0001).count() > 0)
      Nsw.ensureNswIndex(spark, sf0001)
      val preIvf = Ann.ivfTopkIndexed(spark, sf0001).collect().map(_.toString)
      val preNsw = Nsw.nswTopkIndexed(spark, sf0001).collect().map(_.toString)

      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val liveNames = (Ann.livePaths(spark, sf0001) :+
        Nsw.livePath(spark, sf0001)).map(p => new Path(p).getName).toSet
      liveNames.foreach { n =>
        assert(fs.exists(new Path(s"$root/$n/_BUILT")), s"live $n unbuilt") }

      // fabricate history: TWO superseded versions per family (a mutated
      // corpus fingerprint — exactly what an in-place regeneration or a
      // constant retune leaves behind), plus one crashed-build temp dir
      def mutate(name: String, bump: Int): String = {
        val m = "b(\\d+)_".r.findFirstMatchIn(name).get
        name.substring(0, m.start(1)) + (m.group(1).toLong + bump) +
          name.substring(m.end(1))
      }
      val conf = spark.sparkContext.hadoopConfiguration
      val fakes = liveNames.flatMap { n => Seq(mutate(n, 1), mutate(n, 2)) }
      fakes.foreach { f =>
        assert(FileUtil.copy(fs, new Path(s"$root/${liveNames.find(
          l => IndexGc.familyOf(l) == IndexGc.familyOf(f)).get}"),
          fs, new Path(s"$root/$f"), false, conf))
      }
      val tmpName = s"${liveNames.head}__build_deadbeef"
      fs.mkdirs(new Path(s"$root/$tmpName"))
      // a FOREIGN directory the sweep cannot classify: never ours to
      // delete, at any grace (VERDICT r14 item 5)
      val foreignName = "li_bucketed"
      fs.mkdirs(new Path(s"$root/$foreignName"))

      // (1) grace protects everything superseded, serving always kept
      val a1 = IndexGc.gcIndexRoot(spark, Seq(sf0001), keepN = 0,
        graceMs = Long.MaxValue)
      assert(!a1.exists(_.action.startsWith("deleted")), a1.mkString("\n"))
      assert(a1.count(_.action == "kept_serving") === liveNames.size)

      // (2) grace 0, keepN 1: per family the newest superseded survives,
      // the older one and the temp dir are deleted
      val a2 = IndexGc.gcIndexRoot(spark, Seq(sf0001), keepN = 1,
        graceMs = 0L)
      assert(a2.count(_.action == "kept_serving") === liveNames.size)
      assert(a2.count(_.action == "kept_recent") === liveNames.size,
        a2.mkString("\n"))
      assert(a2.count(_.action == "deleted") === liveNames.size)
      assert(a2.count(_.action == "deleted_tmp") === 1)
      assert(a2.count(_.action == "kept_unknown") === 1,
        "foreign dir must be reported kept_unknown, never deleted")
      assert(!a2.exists(a => a.action.startsWith("deleted") &&
        liveNames(new Path(a.path).getName)),
        "GC deleted a resolvable (serving) version")

      // (3) keepN 0, grace 0: only the serving set remains
      val a3 = IndexGc.gcIndexRoot(spark, Seq(sf0001), keepN = 0,
        graceMs = 0L)
      assert(a3.count(_.action == "deleted") === liveNames.size)
      val left = fs.listStatus(new Path(root)).map(_.getPath.getName).toSet
      assert(left === liveNames + foreignName,
        s"post-GC root must hold exactly the serving set plus the " +
          s"untouchable foreign dir, got $left")

      // (4) post-GC search is bit-identical (the committed serving
      // versions were never touched)
      val postIvf = Ann.ivfTopkIndexed(spark, sf0001).collect().map(_.toString)
      val postNsw = Nsw.nswTopkIndexed(spark, sf0001).collect().map(_.toString)
      assert(postIvf.sameElements(preIvf), "IVF search changed across GC")
      assert(postNsw.sameElements(preNsw), "NSW search changed across GC")

      // (5) idempotent: a second sweep deletes nothing
      val a4 = IndexGc.gcIndexRoot(spark, Seq(sf0001), keepN = 0,
        graceMs = 0L)
      assert(!a4.exists(_.action.startsWith("deleted")), a4.mkString("\n"))

      // (6) an unclassifiable SERVING name aborts the sweep loudly —
      // serving protection must never silently lapse into aging
      val ex = intercept[IllegalArgumentException] {
        IndexGc.assertServingClassifiable(
          Set(liveNames.head, "v9_FUTURE_FORMAT_no_fingerprint"))
      }
      assert(ex.getMessage.contains("v9_FUTURE_FORMAT_no_fingerprint"))
    } finally {
      oldRoot match {
        case Some(v) => spark.conf.set(Ann.IndexDirConf, v)
        case None => spark.conf.unset(Ann.IndexDirConf)
      }
      val p = new Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
