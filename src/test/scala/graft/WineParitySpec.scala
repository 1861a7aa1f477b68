package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The wine-reviews query pinned on a winemag-schema fixture
  * (FIXTURES.md §1; synthetic rows, same 11-column header as the
  * reference's `small.csv`). Guards the reference's two easy-to-"fix"
  * quirks (SURVEY §7.4): grouping is by column INDEX 8 = `region_2`
  * (not province), and the count is per token OCCURRENCE (a row with
  * "succulent succulent" contributes 2), with quoted multi-line rows
  * silently dropped by the per-line parse.
  */
class WineParitySpec extends SparkSpecBase {

  private val header =
    ",country,description,designation,points,price,province,region_1,region_2,variety,winery"
  private val schema = StructType(
    Seq("id", "country", "description", "designation", "points", "price",
      "province", "region_1", "region_2", "variety", "winery")
      .map(StructField(_, StringType)))

  private val rows = Seq(
    // 2 occurrences in one Chardonnay row → counts as 2
    """0,US,"succulent pear succulent finish",X,90,12.0,California,Napa,Napa Valley,Chardonnay,W1""",
    // 1 occurrence, different region_2
    """1,US,"a succulent white",Y,88,10.0,Oregon,,Willamette,Chardonnay,W2""",
    // right token, wrong variety → excluded
    """2,US,"succulent red",Z,91,20.0,California,Sonoma,Sonoma Coast,Pinot Noir,W3""",
    // Chardonnay, no token → excluded
    """3,France,"crisp and lean",Q,87,15.0,Burgundy,,Cote de Beaune,Chardonnay,W4""",
    // Chardonnay + token, but the quoted description spans lines →
    // dropped by the per-line parse, like the reference
    "4,US,\"succulent\nacross lines\",R,89,11.0,California,Napa,Napa Valley,Chardonnay,W5",
    // same region_2 as row 0 → accumulates
    """5,US,"so succulent",S,92,30.0,California,Napa,Napa Valley,Chardonnay,W6""")

  test("wine query: index-8 grouping, per-occurrence counts, multiline drop") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-wine")
    Files.writeString(dir.resolve("wine.csv"),
      (header +: rows).mkString("\n"))
    val wine = ReferenceForms.csvPerLine(s, dir.resolve("wine.csv").toString, schema)

    val got = wine
      .filter($"variety" === "Chardonnay")
      .select($"region_2",
        graft.functions.TokenCount($"description", lit("succulent")).as("n"))
      .filter($"n" > 0)
      .groupBy($"region_2")
      .agg(sum($"n").as("n_occurrences"))
      .as[(String, Long)].collect().toMap

    // row0 (2) + row5 (1) = 3 for Napa Valley; row1 = 1 for Willamette;
    // rows 2 (variety), 3 (no token), 4 (multiline-dropped) contribute 0
    assert(got == Map("Napa Valley" -> 3L, "Willamette" -> 1L))
  }
}
