package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CatalogQuery, QueryModule}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers one `CatalogQuery` in its module;
  * this object just flattens the catalog into the driver's two maps.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    graft.queries.Relational,
    graft.queries.Parity,
    graft.queries.DedupQueries,
    graft.queries.SimilarityQueries,
    graft.queries.TextQueries,
    graft.queries.MapReduceQueries,
    graft.queries.MultimodalQueries,
    graft.queries.TemporalQueries,
    graft.queries.ChangelogQueries,
    graft.queries.GraphQueries,
    graft.queries.StreamingQueries,
    graft.queries.PipelineQueries
  )

  private val catalog: Seq[CatalogQuery] = {
    val qs = modules.flatMap(_.queries)
    val dupes = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    catalog.head.build(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  val oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
