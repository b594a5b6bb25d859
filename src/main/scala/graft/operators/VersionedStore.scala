package graft.operators

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A store of versions keyed by batch id, committed exactly once: the
  * idempotent sink plus manifest log of *Structured Streaming* (SIGMOD
  * 2018). This class alone knows the layout under `root`:
  *
  *   - `v<id>/` (the id zero-padded to 9 digits) holds one version's
  *     data. It is WHOLE iff it carries the `_SUCCESS` marker, which
  *     [[stage]] writes into the staging dir before the rename that
  *     installs it (Spark's writers leave the same marker).
  *   - `_manifest/v<id>.json` is the commit point: a version exists
  *     iff its manifest does. [[publish]] writes it to a temp name and
  *     commits it with one atomic rename.
  *   - `.staging-v<id>-<nonce>/` is a version being written.
  *
  * The commit rule is data first, then the manifest. Every crash
  * window replays idempotently:
  *   - killed mid-write: a staging dir, or a partial `v<id>` without
  *     the marker. [[stage]] rebuilds the version from scratch.
  *   - killed between the data rename and the manifest: `v<id>` is
  *     whole and unmanifested. It was computed from the same committed
  *     versions the redelivered batch sees, so [[stage]] returns false
  *     without rewriting it, and [[publish]] commits the manifest.
  *   - manifest committed: [[isCommitted]] is true, so a redelivered
  *     batch is a no-op.
  *
  * Readers resolve versions from the manifest dir alone, a bounded
  * metadata listing of one small file per version. Data dirs are never
  * listed: a whole-looking but unmanifested tree is not a version, and
  * a listing of in-progress data dirs is the operation an object store
  * can serve inconsistently mid-write (the Delta/Iceberg transaction-log
  * discipline, scaled down).
  */
final case class VersionedStore(root: String) {
  import VersionedStore._

  private def dir(v: Long) = new File(root, f"v$v%09d")
  private def manifest(v: Long) = new File(new File(root, ManifestDir), f"v$v%09d.json")
  private def isWhole(v: Long) = new File(dir(v), Marker).exists()

  def isCommitted(v: Long): Boolean = manifest(v).exists()

  /** Write version `v` into a staging dir and rename it to `v<id>`.
    * Returns false, and writes nothing, when `v<id>` is already whole; a
    * partial `v<id>` is deleted first. The staging dir is deleted if
    * `write` throws.
    */
  def stage(v: Long)(write: String => Unit): Boolean = {
    if (isWhole(v)) return false
    deleteRecursively(dir(v).toPath)
    val staging = new File(root, s"${Staging}v$v-$nonce")
    try {
      write(staging.getPath)
      staging.mkdirs()
      new File(staging, Marker).createNewFile()
      if (!staging.renameTo(dir(v))) sys.error(s"could not install version ${dir(v)}")
    } catch { case t: Throwable => deleteRecursively(staging.toPath); throw t }
    true
  }

  /** Commit the whole version `v`: the manifest goes to a temp name,
    * then one atomic rename. Re-publishing is idempotent, since a
    * version's manifest content is always the same.
    */
  def publish(v: Long): Unit = {
    require(isWhole(v), s"cannot publish ${dir(v)}: it is not whole")
    val mf = manifest(v)
    mf.getParentFile.mkdirs()
    val tmp = new File(mf.getParentFile, s"$ManifestTmp$nonce")
    Files.write(tmp.toPath, s"""{"version":$v,"data":"${dir(v).getName}"}""".getBytes("UTF-8"))
    if (!tmp.renameTo(mf) && !mf.exists()) {
      tmp.delete()
      sys.error(s"could not commit manifest $mf")
    }
    tmp.delete(): Unit // no-op if the rename consumed it
  }

  /** Exactly-once commit of version `v`: a no-op once it is committed. */
  def commit(v: Long)(write: String => Unit): Unit =
    if (!isCommitted(v)) { stage(v)(write); publish(v) }

  /** Committed versions, ascending. Orphan manifest temp files from a
    * killed [[publish]] do not match the name pattern.
    */
  def committed: Seq[Long] =
    Option(new File(root, ManifestDir).list()).toSeq.flatten
      .collect { case ManifestName(id) => id.toLong }.sorted

  def latest: Option[Long] = committed.lastOption

  /** The data dir of committed version `v`; fails on any other. */
  def path(v: Long): String = {
    require(isCommitted(v),
      s"store $root has no committed version $v (committed: ${committed.mkString(",")})")
    dir(v).getPath
  }

  /** The data dir of a whole version that may not be published yet,
    * for a writer that acts on its data between [[stage]] and
    * [[publish]]; fails unless `v<id>` is whole.
    */
  def staged(v: Long): String = {
    require(isWhole(v), s"store $root has no whole version $v")
    dir(v).getPath
  }

  /** Structural audit (fsck) of the store after a crash. Findings:
    *   - `dangling_manifest` (CORRUPT): a manifest whose `v<id>/` data
    *     dir is missing. Reads resolve a version that has no data; it
    *     must be repaired before serving.
    *   - `orphan_version` (debris): a `v<id>/` dir with no manifest, a
    *     crash between the data write and the manifest. Invisible to
    *     readers by design, safe to delete.
    *   - `stale_staging` (debris): a `.staging-v<id>-*` dir inside the
    *     root, a `_manifest/.tmp-*` file, or a `<root>.staging-*` /
    *     `.swap-*` / `.old-*` / `.trash-*` / `.compact-*` sibling of
    *     the root: the transient files of [[stage]], [[publish]],
    *     [[VersionedStore.swapTree]], `IndexStore.ensure` and earlier
    *     compactions, which a killed process strands.
    *
    * Metadata-only: one listing of the root, the manifest dir and the
    * parent, bounded by version count, never data-sized. Returns
    * (check_name, entry, severity) sorted; entries are relative to the
    * store root (or, for siblings, its parent), so results are
    * location-independent.
    */
  def fsck(spark: SparkSession): DataFrame = {
    import spark.implicits._
    findings.map { case (check, entry, severity, _) => (check, entry, severity) }
      .sorted.toDF("check_name", "entry", "severity")
  }

  /** Repair pass over [[fsck]]'s findings: DEBRIS is deleted, since it
    * is invisible to readers by protocol; CORRUPT entries are REFUSED,
    * since deleting a manifest rewrites committed history, and the fix
    * (restore the data dir, or roll the store back) is an operator
    * decision. Returns the findings with an `action` column (`deleted`
    * / `kept`), so the audit trail is the output.
    */
  def fsckRepair(spark: SparkSession): DataFrame = {
    import spark.implicits._
    findings.map { case (check, entry, severity, target) =>
      val action =
        if (severity == "debris") { deleteRecursively(target.toPath); "deleted" }
        else "kept"
      (check, entry, severity, action)
    }.sorted.toDF("check_name", "entry", "severity", "action")
  }

  /** (check_name, entry, severity, the file the entry names). */
  private def findings: Seq[(String, String, String, File)] = {
    val rootF = new File(root)
    def names(f: File): Seq[String] = Option(f.list()).toSeq.flatten
    val top = names(rootF)
    val versionDirs = top.filter {
      case n @ VersionName(_) => new File(rootF, n).isDirectory
      case _ => false
    }.toSet
    val manifestDir = new File(rootF, ManifestDir)
    val manifests = names(manifestDir)
      .collect { case ManifestName(id) => s"v$id" }.toSet
    // a root with no parent (filesystem root, or a bare relative name)
    // has no sibling namespace to scan
    val parent = Option(rootF.getParentFile)
    val siblings = parent.map(names).getOrElse(Seq.empty)
      .filter(n => Transient.exists(t => n.startsWith(rootF.getName + t)))
    (manifests -- versionDirs).toSeq
      .map(v => ("dangling_manifest", v, "corrupt", new File(manifestDir, s"$v.json"))) ++
    (versionDirs -- manifests).toSeq
      .map(v => ("orphan_version", v, "debris", new File(rootF, v))) ++
    top.filter(_.startsWith(s"${Staging}v"))
      .map(n => ("stale_staging", n, "debris", new File(rootF, n))) ++
    names(manifestDir).filter(_.startsWith(ManifestTmp))
      .map(n => ("stale_staging", s"$ManifestDir/$n", "debris", new File(manifestDir, n))) ++
    siblings.map(n => ("stale_staging", n, "debris", new File(parent.get, n)))
  }
}

object VersionedStore {
  private val ManifestDir = "_manifest"
  private val Marker = "_SUCCESS"
  private val ManifestTmp = ".tmp-"
  private val VersionName = """v(\d{9})""".r
  private val ManifestName = """v(\d{9})\.json""".r

  /** Prefixes of the transient dirs the commit machinery names after
    * the tree they replace: a staging build, a swap's replacement and
    * retired trees, a damaged tree captured for removal, and the
    * replacement tree of compactions written before [[swapTree]].
    */
  private[graft] val Staging = ".staging-"
  private val Swap = ".swap-"
  private val Old = ".old-"
  private[graft] val Trash = ".trash-"
  private val Transient = Seq(Staging, Swap, Old, Trash, ".compact-")

  private[graft] def nonce: String = java.util.UUID.randomUUID().toString.take(8)

  /** Replace the tree at `path` with the one `write` builds: the
    * replacement is written in full to a sibling, then OLD→retired and
    * REPLACEMENT→live are two renames. A crash leaves the old tree or
    * the new one, never a half-rewrite, and a failed install rolls the
    * old tree back. The replacement is deleted if `write` throws, as
    * `stage` deletes its staging dir.
    */
  def swapTree(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val staging = path + Swap + nonce
    try write(staging)
    catch { case t: Throwable => fs.delete(new org.apache.hadoop.fs.Path(staging), true); throw t }
    val old = new org.apache.hadoop.fs.Path(path + Old + nonce)
    if (!fs.rename(root, old))
      throw new java.io.IOException(s"tree swap: could not retire $path")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), root)) {
      fs.rename(old, root) // roll back to the intact old tree
      throw new java.io.IOException(s"tree swap: could not install $staging")
    }
    fs.delete(old, true)
  }

  /** A no-op on a missing path, so a `finally` that cleans up after a
    * failed start never replaces that failure with its own.
    */
  def deleteRecursively(dir: Path): Unit = if (Files.exists(dir)) {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
