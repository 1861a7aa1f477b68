package graft.operators

import java.io.File

import graft.core.Scratch

/** Build-once / reuse-many cache for local index-at-rest artifacts
  * ([[DedupIndex.ensure]], [[IvfIndex.ensure]]), hardened beyond a bare
  * completion-marker check in two ways:
  *
  *   1. The cache key includes a fingerprint of the source data's file
  *      metadata (paths, lengths, mtimes), so regenerated testdata MISSES
  *      the cache and rebuilds instead of silently serving yesterday's
  *      fingerprints — a stale index would surface as an inexplicable
  *      oracle mismatch two gate rows away from the actual cause.
  *   2. Builds land in a unique scratch dir and are renamed into place.
  *      Directory rename is atomic on a local filesystem, so concurrent
  *      JVMs (the Verify gate racing an sbt test run) can both build:
  *      one rename wins, the loser discards its scratch dir, and readers
  *      only ever observe complete indexes. `this.synchronized`
  *      serializes within a JVM to avoid duplicate work, and a
  *      cross-process file lock serializes the failed-rename RECOVERY
  *      path (which deletes a marker-less occupant — unserialized, it
  *      could delete an index a racing JVM committed between check and
  *      delete). At warehouse scale the same protocol is "write to a
  *      staging prefix, commit via manifest swap".
  */
private[graft] object IndexCache {

  /** Returns the path of a complete index for (`family`, `tag`, current
    * content of `dataDir`), running `build` into a scratch dir first if
    * no complete index exists. `marker` is the relative path of the LAST
    * artifact `build` writes (its existence == build complete).
    */
  def ensure(family: String, dataDir: String, tag: String, marker: String)
            (build: String => Unit): String = {
    val path =
      s"${sys.props("java.io.tmpdir")}/$family/$tag-${fingerprint(dataDir)}"
    this.synchronized {
      // cross-PROCESS advisory lock alongside the JVM-local one: the
      // failed-rename recovery below deletes a marker-less occupant,
      // and without cross-process serialization a racing JVM could
      // commit a complete index between this JVM's marker check and
      // its delete — yanking files from under the winner's readers.
      // All mutations of `path` go through ensure, so the lock closes
      // that TOCTOU for every cooperating process; rename atomicity
      // still protects against non-cooperating interference.
      val lockFile = new File(s"$path.lock")
      lockFile.getParentFile.mkdirs()
      val ch = new java.io.RandomAccessFile(lockFile, "rw").getChannel
      val lock = ch.lock()
      try ensureLocked(path, marker, build)
      finally { lock.release(); ch.close() }
    }
    path
  }

  private def ensureLocked(path: String, marker: String,
                           build: String => Unit): Unit = {
    {
      if (!new File(s"$path/$marker").exists()) {
        val scratch = s"$path.build-${java.util.UUID.randomUUID().toString.take(8)}"
        build(scratch)
        if (!new File(scratch).renameTo(new File(path))) {
          // A failed rename is only benign if what occupies `path` is a
          // COMPLETE index (lost cross-JVM race). A marker-less occupant
          // (stale partial copy, older layout, external interference)
          // must be cleared and the rename retried — discarding the
          // fresh build there would return a broken index forever.
          if (new File(s"$path/$marker").exists())
            Scratch.delete(new File(scratch))
          else {
            Scratch.delete(new File(path))
            if (!new File(scratch).renameTo(new File(path))) {
              val rescued = new File(s"$path/$marker").exists()
              Scratch.delete(new File(scratch))
              if (!rescued)
                sys.error(s"IndexCache: cannot install index at $path " +
                  "(occupied by an unremovable non-index directory)")
            }
          }
        }
      }
    }
  }

  private def fingerprint(dataDir: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.sortBy(_.getName).toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    val listing = walk(new File(dataDir))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }
}
