package graft.core

import java.io.File
import java.util.UUID

/** Small scratch directories for streaming checkpoints and per-query
  * sinks, placed on a RAM-backed tmpfs when the box offers one.
  *
  * Why: a micro-batch writes a dozen small checkpoint files (offset,
  * commit and source logs, state-store deltas and their checksums).
  * The round-9 bench measured the streaming query family drifting
  * +25 s on IDENTICAL plans, with 5–12 foreign busy cores charged to
  * the checkpoint path. Spark's local checkpoint writes do not fsync;
  * the foreign cores were this JVM's own `chmod`/`readlink` child
  * processes, one per file, which Hadoop's local file system forks
  * without `libhadoop`. [[GraftSession]] now routes local I/O through
  * [[NioLocalFileSystem]] and [[LocalCheckpointFileManager]], which
  * fork no process per file. Checkpoint state for the replay fixtures
  * is kilobytes and its durability is irrelevant to a bench/test run,
  * so tmpfs still keeps the commit path memory-speed and independent
  * of the box's page-cache state.
  *
  * On a real cluster the checkpoint location is a caller decision
  * (HDFS/object store for durability) — every operator takes it as a
  * parameter or writes under the caller's sink; this helper only
  * decides where THIS process's ephemeral replay scratch lives.
  */
object Scratch {

  /** Preferred scratch root: /dev/shm (Linux tmpfs) when writable,
    * else java.io.tmpdir.
    */
  def root: File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm
    else new File(System.getProperty("java.io.tmpdir"))
  }

  /** Fresh uniquely-named scratch dir under [[root]]. */
  def dir(prefix: String): File = {
    val d = new File(root, prefix + UUID.randomUUID().toString.replace("-", ""))
    require(d.mkdirs() || d.isDirectory, s"cannot create scratch dir $d")
    d
  }

  /** Fresh scratch dir named `<prefix><pid>_<uuid>`, registered for
    * deletion at JVM exit. The embedded pid is what makes cross-process
    * cleanup SAFE: [[reapDead]] can tell a dead process's leftovers
    * from a live sibling's working sink, where a bare prefix glob
    * cannot — /dev/shm is box-wide, and a glob reap deletes the live
    * parquet sink of any concurrent process using the same prefix (and
    * any earlier frame in THIS process still lazily reading its sink).
    */
  def pidDir(prefix: String): File = {
    val d = dir(s"$prefix${ProcessHandle.current().pid()}_")
    synchronized { owned += d }
    d
  }

  private val owned = scala.collection.mutable.ArrayBuffer.empty[File]
  locally {
    // one hook for every pidDir this process ever creates; best-effort
    // (tmpfs contents die with the box anyway — this just keeps a
    // long-lived box tidy across many short verify/bench processes)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      synchronized { owned.foreach(delete) }))
  }

  /** Delete `<prefix><pid>_<uuid>` dirs under [[root]] whose embedded
    * pid is provably dead. Dirs without a parseable pid (foreign
    * naming) and live-pid dirs are left alone; a dir this process owns
    * is never reaped here (its pid is alive by definition).
    */
  def reapDead(prefix: String): Unit = {
    val re = (java.util.regex.Pattern.quote(prefix) + "(\\d+)_.*").r
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case re(pid) =>
          // ProcessHandle.of is empty iff no such native process exists
          val alive = try ProcessHandle.of(pid.toLong).isPresent
          catch { case _: Exception => true } // out-of-range pid: assume live
          if (!alive) delete(f)
        case _ => ()
      }
    }
  }

  /** Best-effort recursive delete — scratch cleanup must never fail
    * the query whose results are already produced.
    */
  def delete(f: File): Unit = {
    try {
      val children = Option(f.listFiles()).getOrElse(Array.empty)
      children.foreach(delete)
      f.delete()
      ()
    } catch { case _: Exception => () }
  }
}
