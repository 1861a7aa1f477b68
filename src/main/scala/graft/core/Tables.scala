package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Lazy handles to the star-schema + document corpus parquet tables
  * (TESTDATA.md). Each accessor is still a fresh declarative scan, so
  * Catalyst can prune columns / push filters per query; only the
  * parquet schema is cached ([[Tables.parquet]]).
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * accessors keep that swap localized to this one class.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Operators resolve the engine's native functions (token_count,
  // array_dot, minhash_sig, simhash_fp, rolling_hash) through the
  // session registry; a FOREIGN session (built without
  // spark.sql.extensions=graft.plans.GraftExtensions) would fail
  // analysis on them. Registration is idempotent and cheap, and every
  // catalog query reads through this accessor — so this is the one
  // chokepoint that makes the library work on any session.
  graft.plans.GraftExtensions.ensureRegistered(spark)

  private def read(name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame = read("region")
  def nation: DataFrame = read("nation")
  def customer: DataFrame = read("customer")
  def supplier: DataFrame = read("supplier")
  def part: DataFrame = read("part")
  def orders: DataFrame = read("orders")
  def lineitem: DataFrame = read("lineitem")
  /** events.parquet has shipped `ts` both as TIMESTAMP(NANOS) (read as
    * raw int64 under GraftSession's nanosAsLong flag) and as plain
    * timestamp[us]; [[EventTime.normalize]] branches on the actual file
    * schema so either encoding lands as TimestampType.
    */
  def events: DataFrame = EventTime.normalize(read("events"))
  def documents: DataFrame = read("documents")
  def embeddings: DataFrame = read("embeddings")
}

object Tables {

  private val MaxSchemas = 256

  /** Everything parquet schema inference depends on: the qualified
    * path, every leaf file under it (path, length, mtime) and
    * the session's explicitly set parquet / case-sensitivity confs
    * (`nanosAsLong` alone flips the inferred `ts` type).
    */
  private final case class SchemaKey(
      path: String,
      leaves: Seq[(String, Long, Long)],
      conf: Seq[(String, String)])

  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size() > MaxSchemas
    }

  /** `spark.read.parquet(path)` with the schema inferred once per JVM.
    * Spark's inference launches a one-task job on every read, even for
    * one file with `mergeSchema` off; on small queries that barrier
    * job is a large share of the build. The scan itself stays a fresh
    * declarative relation, planned and pruned per query. A rewritten
    * file or directory, or a changed parquet conf, is a different key,
    * so it is inferred anew; a path that matches no file is never
    * cached (inference throws Spark's own error).
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = schemaKey(spark, path)
    val schema = schemas.synchronized(Option(schemas.get(key))).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.synchronized(schemas.put(key, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  private def schemaKey(spark: SparkSession, path: String): SchemaKey = {
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(raw)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq(st)
    val files = Option(fs.globStatus(root)).toSeq.flatten.flatMap(leaves)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sorted
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted
    SchemaKey(root.toString, files, conf)
  }
}
