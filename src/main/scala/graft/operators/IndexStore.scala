package graft.operators

import java.io.File

import graft.operators.VersionedStore.deleteRecursively

/** Build-once lifecycle for persisted index artifacts (the minhash and
  * IVF indexes of ext/Dedup.scala and ext/SimSearch.scala).
  *
  * Two production hazards this closes (round-6 advisor findings):
  *
  *  1. ATOMIC COMMIT. An index is only valid once every table under its
  *     directory is complete, but a multi-step build (write base index,
  *     then append a delta) can crash between steps. If the presence
  *     marker (`params/`) lands before the last step, every later run
  *     sees a "complete" index that is silently missing rows and
  *     diverges from the oracle until tmp is cleaned by hand. The fix is
  *     the standard staging-directory commit: the WHOLE build — however
  *     many steps — runs inside `<path>.staging-<nonce>`, and only a
  *     fully built tree is renamed into place. The rename is a
  *     same-filesystem directory move (atomic on POSIX), so readers see
  *     either no index or a whole one, never a partial.
  *
  *  2. CONTENT KEYING. A cache path derived from the DATA DIRECTORY
  *     string alone outlives the data: regenerate the dataset in place
  *     (or collide two dirs on String.hashCode) and later runs probe a
  *     stale index with no error. [[fingerprint]] folds the source
  *     files' names, sizes, and mtimes into the path, so regenerated
  *     inputs get a fresh index automatically. Metadata-only — no data
  *     is read, so it stays O(#files) however large the table is (at
  *     100 TB a content hash of the data would itself be a full scan;
  *     name+size+mtime is the same freshness contract object stores and
  *     build systems use).
  */
object IndexStore {

  /** Cheap content fingerprint of one or more table paths (files or
    * directories, RECURSIVE — a partitioned parquet layout's data files
    * live under `col=value/` subdirectories and must all contribute):
    * 16 hex chars of md5 over the sorted `relpath:size:mtime` lines of
    * every data file. Hidden and `_*` entries (parquet `_SUCCESS`,
    * checksums) are skipped so a rewrite that produces identical data
    * files with new commit markers still changes mtimes — which is
    * exactly the conservative direction. A path with NO data files
    * (missing, empty, or marker-only) is an error: returning a
    * constant md5("") would silently collide every such dataset onto
    * one cache key — the stale-index hazard this function exists to
    * close.
    */
  def fingerprint(paths: String*): String = {
    def walk(f: File, rel: String): Seq[String] =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Seq.empty
      else if (f.isFile) Seq(s"$rel:${f.length}:${f.lastModified}")
      else if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq.empty
    val lines = paths.flatMap { p =>
      val f = new File(p)
      if (f.isFile) Seq(s"${f.getName}:${f.length}:${f.lastModified}")
      else walk(f, f.getName)
    }.sorted
    require(lines.nonEmpty,
      s"no data files under ${paths.mkString(", ")} — refusing a constant fingerprint")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Ensure a committed index exists at `path`, building it at most once.
    *
    * `build` receives a STAGING path and must write the complete index
    * there (any number of steps — build + append is fine). On return the
    * staging tree is atomically renamed to `path`. If a concurrent run
    * committed first, our staging tree is discarded and theirs wins —
    * both were built from the same inputs, so either is valid.
    *
    * `marker` is the subpath whose existence certifies a committed
    * index (the params table every index format here writes); a `path`
    * that exists WITHOUT its marker is a damaged artifact from a
    * pre-staging writer and is removed before rebuilding — by ATOMIC
    * RENAME to a trash name, never an in-place recursive delete, so a
    * tree that a concurrent run committed between our marker check and
    * the removal is captured whole and reinstated instead of destroyed
    * (round-7 advisory TOCTOU), and concurrent readers never observe a
    * half-deleted tree. Expected deployment is still one writer per
    * index path; the rename discipline just makes concurrent misuse
    * non-destructive.
    */
  def ensure(path: String, marker: String = "params")(build: String => Unit): String = {
    val dest = new File(path)
    if (new File(dest, marker).exists()) return path
    if (dest.exists() && removeDamaged(dest, marker)) return path
    val staging = new File(path + VersionedStore.Staging + VersionedStore.nonce)
    try {
      build(staging.getPath)
      require(new File(staging, marker).exists(),
        s"index build did not produce its commit marker '$marker' under $staging")
      if (!staging.renameTo(dest)) {
        // lost a commit race (dest now exists) — keep the winner's tree
        require(new File(dest, marker).exists(),
          s"could not commit index to $path and no valid index is present")
        deleteRecursively(staging.toPath)
      }
    } catch {
      case t: Throwable => deleteRecursively(staging.toPath); throw t
    }
    path
  }

  /** Remove a presumed-damaged (marker-less) tree at `dest` via atomic
    * rename-to-trash. Returns true iff a VALID tree is at `dest` on
    * return — i.e. a concurrent commit landed inside the check→remove
    * window and was preserved (reinstated from trash, or a newer winner
    * already took `dest`). Package-visible so the race arm is testable
    * without a real race.
    */
  private[graft] def removeDamaged(dest: File, marker: String): Boolean = {
    val trash = new File(dest.getPath + VersionedStore.Trash + VersionedStore.nonce)
    if (!dest.renameTo(trash))
      // rename refused: dest vanished or was atomically replaced under
      // us — valid iff the replacement carries the marker
      return new File(dest, marker).exists()
    if (new File(trash, marker).exists()) {
      // captured a concurrently committed valid tree — put it back; if
      // yet another commit already took dest, keep that winner instead
      if (trash.renameTo(dest)) return true
      if (new File(dest, marker).exists()) { deleteRecursively(trash.toPath); return true }
      throw new IllegalStateException(
        s"valid index tree for $dest stranded at $trash during damaged-artifact removal")
    }
    deleteRecursively(trash.toPath)
    false
  }
}
