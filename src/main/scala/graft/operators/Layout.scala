package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout governance: multi-dimensional (Morton / Z-order)
  * clustering and target-size file assignment.
  *
  * Why this is a first-class 100 TB operator: parquet scan pruning is
  * only as good as the min/max envelopes files carry, and a corpus
  * sorted on ONE key gives the second predicate column full-range
  * envelopes in every file — `WHERE part = ? AND supp = ?` prunes
  * nothing on the supp dimension. Interleaving the bits of both keys
  * (Morton order, the standard interleaved space-filling curve; the
  * technique behind OPTIMIZE ... ZORDER in lakehouse table formats)
  * makes file envelopes approximate squares in (a, b) space, so BOTH
  * single-column predicates prune ~√files of the layout instead of
  * one pruning everything and the other nothing.
  *
  * Everything here is exact integer bit arithmetic (shift/mask
  * spreads), so a SQL oracle replays the layout bit-for-bit — no
  * sampled range boundaries, no partitioner luck. The file assignment
  * rides [[SequencePack.prefixSum]]'s two-level distributed prefix
  * sum: never a single-partition global window.
  */
object Layout {

  /** Spreads the low 16 bits of `x` to the even bit positions of a
    * 32-bit lane (the classic shift-or-mask Morton spread; public
    * bit-twiddling folklore, e.g. Stanford Bit Twiddling Hacks
    * "Interleave bits by Binary Magic Numbers").
    */
  private def spread16(x: Column): Column = {
    val a = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit coordinates: `a`'s bits on the
    * even positions, `b`'s on the odd. Both inputs must already lie in
    * [0, 65536) — callers bucket wider domains. The catalog default is
    * the exact equi-depth rank bucket ([[rankBucket16Pair]], via
    * [[zorderAssignRanked]]), which tracks value order on ANY domain;
    * `pmod(col, 65536)` survives as the differential twin and only
    * fills the curve when the key domain is dense (SCALING_r12.json:
    * 99.66% average envelopes on a sparse domain — pruning dead).
    */
  def mortonZ(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1)).as("z")

  /** Assigns every row a `z` (Morton code of `a`, `b`) and a `file_id`
    * = its rank in (z, uid) order divided by `rowsPerFile` — the
    * write-plan of a Z-ordered layout with fixed-row-count files.
    *
    * `uidCol` breaks z ties into the total order the rank needs; it
    * must be unique (ties between FULLY identical rows are the one
    * harmless exception — interchangeable rows get interchangeable
    * slots). The rank is the exclusive prefix COUNT over the COMPOSITE
    * (z, uid) order ([[SequencePack.prefixSumBy]] — no `z << k | uid`
    * long packing, so any uid domain works; the round-11 layout scale
    * study (SCALING_r11.json) measured the silent curve-bending a packed key
    * suffers when uid outgrows its bit budget). The single-partition
    * `row_number()` window this replaces is what cannot write a
    * 100 TB layout.
    */
  def zorderAssign(df: DataFrame, a: Column, b: Column, uidCol: String,
                   rowsPerFile: Int): DataFrame = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive, got $rowsPerFile")
    val keyed = df
      .withColumn("z", mortonZ(a, b))
      .withColumn("__one", lit(1L))
    SequencePack.prefixSumBy(keyed, Seq("z", uidCol), "__one",
        outCol = "__rank")
      .withColumn("file_id", expr(s"__rank div $rowsPerFile"))
      .drop("__one", "__rank")
  }

  /** Exact equi-depth (quantile) 16-bit coordinate: the row's RANK in
    * (`valueCol`, `uidCol`) order, scaled to [0, 65536). Rank-bucketing
    * is what makes the curve track VALUE ORDER rather than raw
    * magnitude: under `pmod(key, 65536)` two adjacent values 65535 and
    * 65536 land at opposite curve corners and a sparse or skewed key
    * domain leaves most of the coordinate space empty, so file
    * envelopes stop shrinking — while quantile coordinates fill the
    * space densely for ANY key distribution, which is why lakehouse
    * Z-order implementations cluster on range-bucketed ranks. The rank
    * is the distributed prefix COUNT over the composite (value, uid)
    * order ([[SequencePack.prefixSumBy]] — no single-partition window,
    * no (value<<30|uid) packing that would overflow on wide domains),
    * and `n` is the caller-supplied total row count, so the coordinate
    * `rank * 65536 div n` is exact integer arithmetic a SQL oracle
    * replays via `(row_number() - 1) * 65536 // n`.
    */
  /** Loud [0, 65536) domain check shared by the rank-bucketing paths:
    * a coordinate at/past 65536 means the caller-supplied total row
    * count `n` undercounted the frame (stale count, post-filter reuse)
    * — [[spread16]] would then silently truncate the high bits and
    * BEND the curve, the exact silent-misorder failure mode
    * [[zorderAssign]]'s uid guard makes loud. One codegen'd branch per
    * row; a violation fails the write plan instead of corrupting it.
    */
  private def checked16(coord: Column, what: String): Column =
    when(coord.between(0L, 65535L), coord)
      .otherwise(raise_error(concat(
        lit(s"Layout.$what: rank coordinate outside [0, 65536) — the " +
          "supplied total row count n undercounts the frame: "),
        coord.cast("string"))))

  def rankBucket16(df: DataFrame, valueCol: String, uidCol: String,
                   n: Long, outCol: String): DataFrame = {
    require(n > 0, s"n must be the positive total row count, got $n")
    SequencePack.prefixSumBy(df.withColumn("__rb1", lit(1L)),
        Seq(valueCol, uidCol), "__rb1", outCol = "__rbrank")
      .withColumn(outCol,
        checked16(expr(s"__rbrank * 65536L div ${n}L"), "rankBucket16"))
      .drop("__rb1", "__rbrank")
  }

  /** BOTH dimensions' [[rankBucket16]] coordinates from ONE shuffled
    * pass: the two ranks are independent, so instead of two full-width
    * prefix-sum passes over the write set, the frame projects to a
    * SKINNY (dim, value, uid) relation of 2N rows (dim 0 = `aCol`,
    * dim 1 = `bCol`), ranks both dims in a single
    * [[SequencePack.groupedPrefixSumBy]] (dim is the group; range
    * partitioning on (dim, value, uid) keeps each dim's rank exact),
    * and pivots back to one (uid, a16, b16) row per input row. Cuts
    * the ranked z-order's rank passes from three full-width to one
    * full-width + one skinny (measured: the x14b finding — the folded
    * pass is what makes ranked coordinates affordable as the catalog
    * default).
    *
    * `aCol`/`bCol` must share an array-coercible type whose widening
    * preserves order (numeric keys — the z-order use case); `uidCol`
    * must be unique — it tie-breaks both ranks and keys the pivot —
    * and the pivot ENFORCES that in-plan: a uid collision between
    * rows that differ on either dimension raise_errors (it would
    * silently hand one row the other's coordinate), while a collision
    * between FULLY identical rows is allowed and collapses them onto
    * one shared coordinate (interchangeable rows, interchangeable
    * slots — the quantile is off by at most the duplicate count).
    * NB: on such fully-identical duplicates the folded pass is NOT
    * bit-identical to two sequential [[rankBucket16]] passes — the
    * fold collapses both rows onto the shared max-rank coordinate
    * where two passes would assign distinct adjacent coordinates; the
    * rows are interchangeable so either layout is valid, but the
    * two-pass-equivalence contract holds only for unique uids. A NULL
    * uid fails loudly in-plan (it would otherwise silently drop the
    * row at the pivot join), consistent with the collision check.
    */
  /** The folded-pass core: the (uid, a16, b16, va, vb) coordinate
    * relation — one row per distinct uid, carrying BOTH 16-bit rank
    * coordinates and both original dimension values (the pivot
    * aggregate computes the values anyway for its uniqueness check,
    * so exposing them is free). The quantile denominator `n` is the
    * per-dimension total from the SAME grouped prefix pass
    * ([[SequencePack.groupedPrefixSumByWithTotals]] — each dimension's
    * skinny rows number exactly the frame's rows), so no separate
    * `df.count()` job scans the frame, and a stale caller-supplied
    * count can no longer bend the curve (the [[checked16]] guard
    * stays as a structural invariant).
    */
  private def rankPairCoords(df: DataFrame, aCol: String, bCol: String,
                             uidCol: String,
                             outA: String, outB: String): DataFrame = {
    val skinny = df.select(
        when(assert_true(col(uidCol).isNotNull,
          lit(s"Layout.rankBucket16Pair: NULL $uidCol — the uid keys " +
            "the rank pivot; a null row would silently vanish at the " +
            "coordinate join")).isNull, col(uidCol)).as("__u"),
        posexplode(array(col(aCol), col(bCol))))
      .withColumnRenamed("pos", "__dim")
      .withColumnRenamed("col", "__v")
      .withColumn("__rb1", lit(1L))
    def dimv(d: Int) = when(col("__dim") === d, col("__v"))
    val (ranked, totals) = SequencePack
      .groupedPrefixSumByWithTotals(skinny, "__dim", Seq("__v", "__u"),
        "__rb1", outCol = "__rbrank")
    ranked
      .join(broadcast(totals), Seq("__dim"))
      .withColumn("__c",
        checked16(expr("__rbrank * 65536L div __gtotal"), "rankBucket16Pair"))
      .groupBy(col("__u"))
      .agg(max(when(col("__dim") === 0, col("__c"))).as(outA),
        max(when(col("__dim") === 1, col("__c"))).as(outB),
        count(lit(1)).as("__cnt"),
        min(dimv(0)).as("__va0"), max(dimv(0)).as("__va1"),
        min(dimv(1)).as("__vb0"), max(dimv(1)).as("__vb1"))
      .withColumn("__ok",
        when(col("__cnt") === 2 ||
          (col("__va0") === col("__va1") && col("__vb0") === col("__vb1")),
          lit(true))
        .otherwise(raise_error(concat(
          lit(s"Layout.rankBucket16Pair: $uidCol is not unique and the " +
            "colliding rows differ on a dimension — coordinates would " +
            "be misassigned. Colliding uid: "), col("__u").cast("string")))))
      .filter(col("__ok"))
      .select(col("__u"), col(outA), col(outB),
        col("__va0"), col("__vb0"), col("__cnt"))
  }

  def rankBucket16Pair(df: DataFrame, aCol: String, bCol: String,
                       uidCol: String,
                       outA: String, outB: String): DataFrame = {
    val coords = rankPairCoords(df, aCol, bCol, uidCol, outA, outB)
      .select(col("__u"), col(outA), col(outB))
    df.join(coords, df(uidCol) === coords("__u")).drop("__u")
  }

  /** [[zorderAssign]] over RANK-BUCKETED coordinates — the production
    * default for real (sparse, skewed) key domains: both dimensions
    * are first quantile-bucketed to exact 16-bit coordinates, then
    * Morton-interleaved and ranked into fixed-row files exactly as
    * [[zorderAssign]]. The two dimension ranks fold into ONE pass over
    * a skinny keyed projection ([[rankPairCoords]]), so the whole
    * ranked layout costs one skinny rank pass + the same curve-rank
    * pass the pmod variant pays — write-plan budget, paid once per
    * layout. `uidCol` must be unique, as in [[zorderAssign]] (it
    * tie-breaks both dimension ranks AND the final curve order;
    * [[rankPairCoords]] enforces it in-plan). Keeps every `df` column
    * (a join back onto the frame by uid); a write plan that only needs
    * the dimensions wants [[zorderLayoutRanked]], which skips that
    * join.
    */
  def zorderAssignRanked(df: DataFrame, aCol: String, bCol: String,
                         uidCol: String, rowsPerFile: Int): DataFrame = {
    val withAB = rankBucket16Pair(df, aCol, bCol, uidCol, "__a16", "__b16")
    zorderAssign(withAB, col("__a16"), col("__b16"), uidCol, rowsPerFile)
      .drop("__a16", "__b16")
  }

  /** The WRITE-PLAN form of [[zorderAssignRanked]]: returns only
    * `(uidCol, aCol, bCol, file_id)` — everything a layout plan (file
    * assignment + per-file envelope stats) consumes — built entirely
    * from the skinny pass's pivot output, so the frame is never joined
    * back by uid. The previous shape paid a full sort-merge join
    * (exchange + sort on BOTH sides of the frame) just to re-attach
    * columns the pivot aggregate already held, plus a separate count
    * job for the quantile denominator — three full-data passes where
    * two suffice (§2.4). Dimension values come back in the widened
    * common type of the (aCol, bCol) pair, same as the rank order the
    * coordinates are defined over.
    */
  def zorderLayoutRanked(df: DataFrame, aCol: String, bCol: String,
                         uidCol: String, rowsPerFile: Int): DataFrame = {
    // the pivot is one row per DISTINCT uid; fully-identical input
    // duplicates (allowed — interchangeable rows) must re-expand to
    // their multiplicity so every input row keeps its file slot,
    // exactly as the join-back form multiplied them. __cnt counts the
    // uid's skinny rows = 2 per input row.
    val plan = rankPairCoords(df, aCol, bCol, uidCol, "__a16", "__b16")
      .withColumn("__copy", explode(sequence(lit(1L), expr("__cnt div 2"))))
      .select(col("__u").as(uidCol), col("__va0").as(aCol),
        col("__vb0").as(bCol), col("__a16"), col("__b16"))
    zorderAssign(plan, col("__a16"), col("__b16"), uidCol, rowsPerFile)
      .drop("__a16", "__b16")
  }
}
