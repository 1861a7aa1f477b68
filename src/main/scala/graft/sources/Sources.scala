package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV and JSON-lines sources with the reference's exact read semantics. */
object Sources {

  /** Per-line CSV parse (SURVEY §2.1 S4): the reference parses each
    * LINE as a CSV record (`mp3/src/mj_wine/wine_maple.go:9-13`), so a
    * quoted field containing a newline breaks the parse and the row is
    * silently dropped. Spark's multiLine=false + DROPMALFORMED
    * reproduces exactly that behavior — documented reference parity,
    * deliberately NOT "fixed" (set multiLine=true for real CSV files).
    */
  def csvPerLine(spark: SparkSession, path: String, schema: StructType,
                 header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("multiLine", "false")
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)

  /** Real-CSV scan — the "fixed" mode csvPerLine's scaladoc points
    * users at: multiLine=true parses RFC-4180 quoted fields that span
    * physical lines, so no row is dropped. The cost at scale is real
    * and documented: a multiLine CSV file is NOT splittable (records
    * can span any byte offset, so one file = one task), whereas
    * csvPerLine parallelizes by newline-aligned block splits. Use
    * per-line mode for machine-written newline-free CSV at 100 TB;
    * reserve this for genuinely quoted-multiline inputs.
    */
  def csvMultiLine(spark: SparkSession, path: String, schema: StructType,
                   header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("multiLine", "true")
      .schema(schema)
      .csv(path)

  /** JSON-lines scan — the ingestion format of most training-data
    * drops. Schema is REQUIRED: schema inference reads the data twice
    * and is nondeterministic under corrupt rows, both wrong at scale.
    * Malformed lines land in `_corrupt_json` instead of killing the
    * job or being silently dropped (PERMISSIVE) — the pipeline decides
    * whether to count, quarantine, or drop them. (Spark refuses a
    * query that references ONLY the corrupt column; keep a data column
    * in any quarantine projection.)
    */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    // a round-tripped schema may already carry the quarantine column
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_json")) schema
      else schema.add("_corrupt_json", org.apache.spark.sql.types.StringType)
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_json")
      .schema(withCorrupt)
      .json(path)
  }
}
