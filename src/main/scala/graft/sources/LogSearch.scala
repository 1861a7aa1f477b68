package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's headline query engine: distributed regex grep over
  * per-machine log files returning (source, line number, line) tuples
  * (`mp0/src/finder/finder.go:19-44`, `mp3/src/logs.go:170-195`).
  */
object LogSearch {

  /** One grep match, the reference's MatchRes (`mp3/src/logs.go:26-30`). */
  case class MatchRes(source: String, lineNo: Long, line: String)

  /** Per-file byte cap [[grepFiles]] enforces by default: a whole-file
    * read at this size costs a task ~3× in heap (bytes → UTF-16 string
    * → split line array), comfortably inside a local[32] executor
    * share and far above the reference's per-machine logs (~60 MB).
    */
  val DefaultMaxFileBytes: Long = 128L * 1024 * 1024

  /** Exact-line-number grep. Reads each file whole and splits lines —
    * the SAME I/O shape as the reference, which ioutil.ReadFiles the
    * entire log before splitting (`mp3/src/logs.go:179-188`); one task
    * per file, no shuffle, results stream back as they match. Right for
    * the reference's per-machine-log use case (files that fit in one
    * task's memory) — and ONLY that case, which the signature now
    * enforces: the matched files are size-audited up front (one
    * metadata pass, no data read) and any file past `maxFileBytes`
    * fails the call loudly BEFORE a task OOMs an executor on a silent
    * whole-file materialization. Large files belong on the splittable
    * [[grepLines]] path; callers with genuinely bigger per-task memory
    * raise the cap explicitly.
    */
  def grepFiles(spark: SparkSession, glob: String, pattern: String,
                maxFileBytes: Long = DefaultMaxFileBytes): Dataset[MatchRes] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // expand exactly what wholeTextFiles will read: glob matches, one
    // level of directory listing for matched dirs — MINUS hidden files
    // (`_`/`.` prefixes): FileInputFormat's hiddenFileFilter never
    // reads those, so an oversized _SUCCESS/.crc must not fail an
    // audit of files that will never be materialized
    def visible(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .flatMap { s =>
        if (s.isDirectory)
          fs.listStatus(s.getPath).filter(f => f.isFile && visible(f))
        else Array(s).filter(visible)
      }
    val oversized = files.filter(_.getLen > maxFileBytes)
    if (oversized.nonEmpty)
      throw new IllegalArgumentException(
        s"grepFiles reads each file WHOLE (one task per file) and " +
          s"${oversized.length} matched file(s) exceed maxFileBytes=" +
          s"$maxFileBytes: " +
          oversized.take(3).map(s => s"${s.getPath} (${s.getLen} B)")
            .mkString(", ") +
          (if (oversized.length > 3) ", …" else "") +
          ". Use LogSearch.grepLines (splittable scan, any size; no " +
          "line numbers) or raise maxFileBytes if the executors are " +
          "sized for it.")
    val regex = pattern // serialized to tasks as a plain string
    spark.sparkContext.wholeTextFiles(glob)
      .flatMap { case (file, content) =>
        val r = regex.r
        content.split("\n", -1).iterator.zipWithIndex.collect {
          // 1-based line numbers, like the reference's finder
          case (line, i) if r.findFirstIn(line).isDefined =>
            MatchRes(file, i + 1L, line)
        }
      }.toDS()
  }

  /** Line-number-free grep for files too large to read whole: a plain
    * splittable text scan + rlike filter — one stage, no shuffle, any
    * scale. `source` is the originating file. The newline-aligned block
    * splitting the reference hand-rolls (`mp3/src/sdfs.go:94-106`) is
    * what Hadoop text input splits do natively: records never span
    * splits, and splits parallelize one file.
    */
  def grepLines(spark: SparkSession, glob: String, pattern: String): DataFrame =
    spark.read.textFile(glob)
      .select(input_file_name().as("source"), col("value").as("line"))
      .filter(col("line").rlike(pattern))

  /** Tail: the reference's `print logs -n N` (`mp3/src/logs.go:59-85`)
    * — last n lines of one log file, with line numbers.
    */
  def tail(spark: SparkSession, path: String, n: Int): Dataset[MatchRes] = {
    import spark.implicits._
    grepFiles(spark, path, ".*").orderBy(col("lineNo").desc).limit(n)
      .orderBy(col("lineNo"))
  }
}
