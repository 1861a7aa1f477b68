package graft

import org.apache.spark.sql.functions._

/** Smoke + spot checks over the whole declared catalog at sf0.001:
  * every query the driver will grade must at least build, run, and
  * return rows with its declared column names; a few have hand-checked
  * values (ground truth computed independently in DuckDB).
  */
class CatalogSpec extends SparkSpecBase {

  import CatalogSpec.Built

  /** One build of every catalog row at sf0.001, in key order. */
  private lazy val built: Seq[(String, Built)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
    def rootSort(p: LogicalPlan): Boolean =
      // at most one row (global aggregates and their scalar joins —
      // q9/q9b's shape) is trivially totally ordered
      p.maxRows.exists(_ <= 1) || (p match {
        case srt: Sort => srt.global
        case pr: Project => rootSort(pr.child)
        case sa: SubqueryAlias => rootSort(sa.child)
        // orderBy().limit() top-k keeps the sorted prefix (q2's shape)
        case gl: GlobalLimit => rootSort(gl.child)
        case ll: LocalLimit => rootSort(ll.child)
        case _ => false
      })
    val sc = spark.sparkContext
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // a relation another suite left cached would plan as an
      // in-memory scan instead of the row's own scan
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.keySet
      val df = fn(spark, sf("sf0.001"))
      val fingerprint = PlanFingerprint(df.queryExecution.executedPlan)
      val n = df.count()
      // storage goes through Lineage: what clearCache() cannot free is
      // a checkpoint, never a stray persisted RDD
      spark.catalog.clearCache()
      val stray = sc.getPersistentRDDs.collect {
        case (id, r) if !before(id) && !r.isCheckpointed => s"$id:${r.getClass.getSimpleName}"
      }.toSeq
      name -> Built(n, rootSort(df.queryExecution.analyzed), stray, fingerprint)
    }
  }

  test("every catalog query runs, returns rows, and roots in a global Sort " +
    "(the total-ORDER-BY determinism contract) at sf0.001") {
    for ((name, b) <- built) {
      assert(b.rootSorted, s"$name does not end in a global ORDER BY — the " +
        "driver's hash compare needs a total order")
      assert(b.stray.isEmpty, s"$name left persisted RDDs: ${b.stray.mkString(", ")}")
    }
    val empty = built.collect { case (name, b) if b.rows == 0 => name }
    // d2/d3/d4 near-dup pair sets may legitimately be empty at the
    // smallest scale factor; g5's 95-core peel empties the sf0.001
    // co-purchase graph by contract (GraphQueries documents the
    // cascade); everything else must produce rows
    val allowedEmpty = Set("d2_ngram_jaccard_dedup", "d3_minhash_lsh_dedup",
      "d4_simhash_dedup", "s3_cosine_neardup", "p4_grep", "g5_kcore")
    assert(empty.forall(allowedEmpty), s"unexpected empty queries: $empty")
  }

  test("every catalog row's physical plan matches its committed fingerprint " +
    "(src/test/resources/plan_fingerprints.json)") {
    // the full map is written on every run; after reviewing a plan
    // change, refresh the golden by copying this file over it
    val actualFile = java.nio.file.Paths.get("target/plan_fingerprints.actual.json")
    java.nio.file.Files.createDirectories(actualFile.getParent)
    java.nio.file.Files.writeString(actualFile, built.map { case (name, b) =>
      s"  ${Measure.jsonString(name)}: ${Measure.jsonString(b.fingerprint)}"
    }.mkString("{\n", ",\n", "\n}\n"))
    val golden: Map[String, String] =
      Option(getClass.getResourceAsStream("/plan_fingerprints.json")).fold(Map.empty[String, String]) { in =>
        try {
          import scala.jdk.CollectionConverters._
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
            .properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
        } finally in.close()
      }
    val actual = built.map { case (name, b) => name -> b.fingerprint }.toMap
    val diffs = (golden.keySet ++ actual.keySet).toSeq.sorted.flatMap { name =>
      (golden.get(name), actual.get(name)) match {
        case (Some(g), Some(a)) if g == a => None
        case (g, a) => Some(s"$name:\n    golden: ${g.getOrElse("(missing)")}\n    actual: ${a.getOrElse("(missing)")}")
      }
    }
    if (diffs.nonEmpty)
      fail(s"${diffs.size} catalog row(s) changed plan shape; review $actualFile " +
        "and copy it over src/test/resources/plan_fingerprints.json if the " +
        s"change is intended:\n${diffs.mkString("\n")}")
  }

  test("entry (flagship) query returns rows, per the driver smoke check") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle coverage is total: every query carries oracle SQL and vice versa") {
    // since round 5 no row is rows-only; a new query without an oracle
    // (or a renamed query leaving a stale oracle) should fail CI, not
    // silently weaken the driver gate
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"asymmetric: queries-only=${
        (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted
      } oracle-only=${
        (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted}")
  }

  test("catalog queries resolve native functions on a foreign session") {
    // a session whose registry genuinely lacks the graft functions —
    // newSession() + explicit drop simulates a user session built
    // without GraftExtensions; Tables' ensureRegistered must repair it
    val foreign = spark.newSession()
    val registry = foreign
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    for (f <- Seq("rolling_hash", "cms_estimate"))
      registry.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(f))
    val n = SparkEntry.queries("t4_fingerprints")(foreign, sf("sf0.001")).count()
    assert(n > 0)
    val m = SparkEntry.queries("t13_cms_heavy_hitters")(foreign, sf("sf0.001")).count()
    assert(m > 0)
  }

  test("q9 distinct counts match independently computed ground truth") {
    val row = SparkEntry.queries("q9_distinct_counts")(spark, sf("sf0.001")).head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((200L, 10L, 1473L)))
  }

  test("approx_count_distinct (the 100 TB path) lands within 5% of exact") {
    val s = spark
    import s.implicits._
    val approx = graft.core.Tables(s, sf("sf0.001")).lineitem
      .agg(approx_count_distinct($"l_orderkey", 0.01).as("a")).head.getLong(0)
    assert(math.abs(approx - 1473L) <= 1473L * 0.05,
      s"HLL estimate $approx too far from exact 1473")
  }

  test("q15b approx percentiles land within 1% of q15's exact answer") {
    val s = spark
    import s.implicits._
    def toMapByFlag(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
    val exact = toMapByFlag(SparkEntry.queries("q15_percentiles")(spark, sf("sf0.001")))
    // the raw sketch values (the catalog row itself now emits the
    // rank-error certificate, which the driver oracle checks)
    val approx = toMapByFlag(
      graft.queries.Relational.approxPercentileByFlag(spark, sf("sf0.001")))
    assert(exact.keySet == approx.keySet)
    for (k <- exact.keys) {
      val (e, a) = (exact(k), approx(k))
      def ok(x: Double, y: Double) = math.abs(x - y) <= math.abs(x) * 0.01
      assert(ok(e._1, a._1) && ok(e._2, a._2) && ok(e._3, a._3),
        s"flag $k: approx $a too far from exact $e")
    }
  }

  test("q1 pricing summary partitions all 6000 lineitems minus the cutoff") {
    val s = spark
    import s.implicits._
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf("sf0.001"))
    assert(df.count() == 6)
    val total = df.agg(sum($"count_order")).head.getLong(0)
    assert(total == 4965L) // DuckDB: COUNT(*) under the shipdate cutoff
  }

  test("p3 condorcet emits one row per candidate with a unique winner") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("p3_condorcet")(spark, sf("sf0.001")).collect()
    assert(rows.length == 5)
    assert(rows.count(_.getBoolean(3)) <= 1) // at most one Condorcet winner
    val wins = rows.map(_.getLong(1)).sum
    assert(wins == 10, s"total pairwise wins must be C(5,2)=10, got $wins")
  }
}

object CatalogSpec {
  /** A catalog row's build: row count, whether the analyzed plan roots
    * in a global sort, the persisted RDDs it left that are not
    * checkpoints, and the fingerprint of the physical plan it returns
    * ([[PlanFingerprint]]).
    */
  private final case class Built(rows: Long, rootSorted: Boolean,
                                 stray: Seq[String], fingerprint: String)
}
