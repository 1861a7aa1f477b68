package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and two approximate
  * scale paths — random-hyperplane LSH (multi-table signature buckets)
  * and an IVF inverted-file index (k-means coarse quantizer + nprobe
  * cell probing) — plus LSH-bucketed cosine near-dup pairs for the
  * dedup pipeline.
  *
  * All vector math is codegen'd expression work (`zip_with` +
  * `aggregate` folds) — no UDFs — and the LSH paths find candidates via
  * joins on (table, bucket) keys, never an all-pairs cross join.
  */
object Similarity {

  /** Dot product of two array<double> columns via the native fused
    * `array_dot` expression (graft.functions.ArrayDot; requires
    * GraftExtensions, which GraftSession carries). The composed
    * `aggregate(zip_with(...))` form (ArrayDotSpec's twin) allocates a
    * zipped array per row-pair — measurable on the brute-force path,
    * where this runs once per (query, corpus) pair.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("array_dot", a, b)

  /** Cosine similarity; inputs need not be normalized. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Default [[bruteForceTopK]] pair budget: ~1e9 scored pairs ≈
    * minutes of d=64 dot products at 32 cores — past it the query set
    * is not "small" and the caller either wants the LSH/IVF path or
    * should state the budget they mean (the [[graft.operators.Fuzzy]]
    * breaker contract).
    */
  val DefaultBrutePairBudget: Long = 1000000000L

  /** Exact top-k cosine neighbors of each query vector by brute force:
    * the small query set broadcasts to every executor, the corpus
    * streams through once (O(Q·N·d) flops, one pass over N) — the right
    * plan when Q is small, and the oracle for the LSH path. Ranking
    * ties break on neighbor id for determinism.
    *
    * CIRCUIT BREAKER: brute force is the family's quadratic escape
    * hatch, and its misuse mode (a "query set" that is really the
    * corpus) costs Q·N silently. The exact pair volume is two linear
    * counts — predicted BEFORE the scoring join runs, and the join
    * never starts past `pairBudget`; a 100 TB misuse dies in seconds
    * with the operator to use instead, not in N² silence.
    */
  def bruteForceTopK(vecs: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     pairBudget: Long = DefaultBrutePairBudget): DataFrame = Lineage.scope {
    var corpus = vecs.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"))
    val qs = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    if (pairBudget < Long.MaxValue) {
      // count the QUERY side eagerly (small by contract — it broadcasts
      // below anyway); the corpus side is the expensive scan, so its
      // count pass shares the projected relation and the scoring join
      // reuses that materialization — the armed breaker costs one
      // corpus read total, not two (a legitimate small-Q call used to
      // pay a doubled corpus scan for a check that always passed). The
      // scope then checkpoints the O(Q·k) result and frees the corpus.
      val qCount = BigInt(qs.count())
      if (qCount > 0) {
        corpus = Lineage.shared(corpus)
        val pairs = qCount * BigInt(corpus.count())
        if (pairs > BigInt(pairBudget)) {
          throw new IllegalStateException(
            s"Similarity.bruteForceTopK: predicted pair volume $pairs " +
              s"exceeds pairBudget $pairBudget — the query set is not " +
              "small relative to the corpus. Use lshTopK/ivfTopK (the " +
              "sublinear paths), or raise pairBudget explicitly if the " +
              "volume is intended.")
        }
      }
    }
    val scored = corpus.join(broadcast(qs), col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"), cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Fixed-seed random hyperplanes: `tables` independent signatures of
    * `bits` sign-bits each. Deterministic across runs and executors.
    */
  private[graft] def hyperplanes(dim: Int, tables: Int, bits: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(tables * bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** (id, v, table, bucket) rows: bucket = the `bits`-bit sign
    * signature of the vector against that table's hyperplanes, packed
    * into a long. One native fused `lsh_sig` eval per row
    * (graft.functions.LshSig — tables·bits·dim multiply-adds in a
    * primitive loop), then posexplode of the per-table signature array.
    */
  def lshBuckets(vecs: DataFrame, dim: Int, tables: Int, bits: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vecs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), col("v"),
        posexplode(call_function("lsh_sig", col("v"),
          lit(dim), lit(tables), lit(bits))))
      .select(col("id"), col("v"), col("pos").as("tbl"), col("col").as("bucket"))

  /** Approximate top-k via multi-table LSH: candidates are corpus
    * vectors sharing any (table, bucket) with the query — a key-equality
    * join, shuffle co-located on the bucket — then exact cosine re-rank
    * of the candidate set only. Recall rises with `tables`; cost is
    * O(collisions), not O(Q·N).
    */
  def lshTopK(vecs: DataFrame, queries: DataFrame, k: Int,
              dim: Int = 64, tables: Int = 8, bits: Int = 12,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Bucket join carries only ids — the 64-dim arrays would otherwise
    // ride through the (tables× exploded) shuffle; vectors re-join by id
    // after the candidate pairs are deduplicated.
    val corpus = lshBuckets(vecs, dim, tables, bits, idCol, vecCol)
      .select(col("id"), col("tbl"), col("bucket"))
    val qs = lshBuckets(queries, dim, tables, bits, idCol, vecCol)
      .select(col("id").as("qid"), col("tbl").as("qtbl"),
        col("bucket").as("qbucket"))
    val cand = corpus.join(qs,
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()
    val cv = vecs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val qv = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(cv, "id").join(broadcast(qv), "qid")
      .select(col("qid"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** IVF coarse quantizer: k-means centroids over (a hash-sample of)
    * the corpus, trained once with a fixed seed (spark.ml, the
    * distributed k-means‖ implementation). `sampleMod` > 1 trains on
    * the deterministic 1/sampleMod hash-sample — at 100 TB you train
    * the quantizer on a sample, never the full corpus.
    */
  def ivfCentroids(vecs: DataFrame, nlist: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   maxIter: Int = 10, sampleMod: Int = 1): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = if (sampleMod <= 1) vecs
      else vecs.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
    val data = base.select(array_to_vector(asDouble(col(vecCol))).as("features"))
    val model = new KMeans().setK(nlist).setSeed(42).setMaxIter(maxIter)
      .fit(data)
    model.clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** (score, cell) structs for every cell: score = ‖c‖²/2 − v·c, whose
    * argmin equals argmin ‖v−c‖² — only the dot products are computed
    * per row (‖c‖²/2 is a literal).
    */
  private def cellScores(v: Column, centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      val halfNorm = c.map(x => x * x).sum / 2
      struct((lit(halfNorm) - dot(v, typedLit(c))).as("nd"), lit(i).as("cell"))
    }: _*)

  /** Cells ranked by distance (sorted struct array) — query side only,
    * which needs the nprobe prefix.
    */
  private[operators] def cellsByDistance(v: Column, centroids: Seq[Seq[Double]]): Column =
    sort_array(cellScores(v, centroids))

  /** Nearest cell id via array_min — O(nlist) with no sort and no
    * sorted-array materialization; struct ordering gives the same
    * (score, then cell id) tie-break as the sorted form. This is the
    * per-corpus-row hot path.
    */
  private[operators] def nearestCell(v: Column, centroids: Seq[Seq[Double]]): Column =
    array_min(cellScores(v, centroids)).getField("cell")

  /** The IVF probe join + exact re-rank shared by the in-line ivfTopK
    * and the index-at-rest probe (IvfIndex.probeTopK): corpus
    * (neighbor_id, v, cell) ⋈ broadcast probes (qid, qv, cell) on the
    * cell, exact cosine, windowed top-k per query.
    */
  private[operators] def probeRank(corpus: DataFrame, probes: DataFrame,
                                   k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"), cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Probe rows for a query set: (qid, qv, cell) exploded over each
    * query's `nprobe` nearest cells.
    */
  private[operators] def probeRows(queries: DataFrame, centroids: Seq[Seq[Double]],
                                   nprobe: Int, idCol: String,
                                   vecCol: String): DataFrame =
    queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(transform(
        slice(cellsByDistance(col("qv"), centroids), 1, nprobe),
        s => s.getField("cell"))))

  /** Approximate top-k via an inverted-file (IVF) index: each corpus
    * vector is assigned to its nearest centroid's cell; a query probes
    * its `nprobe` nearest cells and exact-re-ranks only those cells'
    * vectors. The probe is a key-equality join on the cell id with the
    * (queries × nprobe)-row side broadcast, so cost is O(corpus/nlist ·
    * nprobe) per query, never O(Q·N). At 100 TB the corpus side is
    * written partitioned/bucketed BY CELL, so probing prunes the scan
    * to nprobe partitions — the inverted file made of partition
    * pruning. Recall rises with nprobe (= nlist recovers brute force).
    */
  def ivfTopK(vecs: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxIter: Int = 10, sampleMod: Int = 1): DataFrame = {
    val centroids = ivfCentroids(vecs, nlist, idCol, vecCol, maxIter, sampleMod)
    val corpus = vecs
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cell", nearestCell(col("v"), centroids))
    probeRank(corpus, probeRows(queries, centroids, nprobe, idCol, vecCol), k)
  }

  /** Embedding-cosine near-dup pairs: vectors colliding in any LSH
    * bucket whose exact cosine clears the threshold. The bucket
    * self-join bounds the candidate set; no cross join at any scale.
    *
    * Default banding is 24 tables × 14 bits: at cos 0.97 a pair escapes
    * all tables with p ≈ 1e-4 (recall ~1 on true near-dups), while the
    * random-collision rate per pair is tables/2^bits ≈ 0.0015 — 10.7×
    * fewer junk candidates than the earlier 16×10 at the same recall.
    * More tables+bits costs signature flops (cheap, fused in `lsh_sig`)
    * to buy fewer candidate-join rows (the scale bottleneck).
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double,
                         dim: Int = 64, tables: Int = 24, bits: Int = 14,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Arrays ride through the bucket self-join and groupBy-first does
    // pair-dedup and vector-carry in ONE shuffle. The ids-only+rejoin
    // shape lshTopK uses is wrong here: near-dup inputs are typically
    // DERIVED frames (unions, normalizations), and each re-join side
    // would recompute that derivation — measured 3x slower than one
    // array-carrying shuffle on the union+perturb catalog query.
    // The bucket relation feeds both sides of the self-join, so persist
    // it (the materialized LSH index, O(N·tables) rows) rather than
    // computing the signatures twice — measured 3.2s → 2.2s at sf0.1.
    val b = Lineage.shared(lshBuckets(vecs, dim, tables, bits, idCol, vecCol))
    b.as("x")
      .join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("i"), col("y.id").as("j"))
      .agg(first(col("x.v")).as("vi"), first(col("y.v")).as("vj"))
      .select(col("i"), col("j"), round(cosine(col("vi"), col("vj")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into quantizer cells,
    * compare pairs only WITHIN a cell, and drop every vector that has
    * a smaller-id neighbor at cosine ≥ threshold — the greedy min-id
    * exemplar rule. The cluster restriction is what makes embedding
    * dedup scale: the quadratic term is Σ|cell|², bounded by choosing
    * nlist ∝ corpus size so cells stay O(constant), instead of the
    * corpus-wide O(N²) the brute-force form would pay.
    *
    * `nassign` soft-assigns each vector to its `nassign` nearest cells
    * (candidate pairs = co-membership in ANY shared cell) so a
    * near-dup pair straddling a Voronoi boundary is still compared —
    * the multi-assignment variant of the paper's pipeline. Candidate
    * volume scales by ≤ nassign², a constant-factor price for
    * boundary recall.
    *
    * Same self-join discipline as [[cosineNearDupPairs]], but the
    * OPPOSITE pair-dedup choice, deliberately: there a groupBy-first
    * collapses duplicate bucket co-occurrences BEFORE the cosine so
    * each pair is scored once — correct for its output (scored pairs)
    * but ruinous here, because `first` over array columns is not
    * hash-aggregatable, so Spark sort-aggregates millions of pair rows
    * each dragging two d-dim vectors (measured 106s at sf0.1). Here
    * the output is only the DROPPED ID SET, so we score each cell
    * co-occurrence inline in the join stream (≤ nassign² duplicate
    * scorings per pair, pure codegen'd flops, no second shuffle of
    * vectors) and collapse duplicates AFTER the threshold with a
    * distinct over bare longs (measured 106s → 3s). Norms are computed
    * once per vector on the persisted assigned relation — the cosine's
    * float sequence per vector is unchanged, so the decision is
    * bit-identical to the score-once form.
    *
    * The join is PAIR-SALTED: a cell is one join key, so without the
    * salt the quadratic within-cell scoring of the largest cell runs
    * in ONE task — and cells are small in BYTES (vectors), so AQE's
    * size-based skew split never fires even when a cell holds most of
    * the pair work. The x side keeps `hash(id) % saltBuckets`, the y
    * side replicates to every salt (O(N·nassign·S) cheap rows), and
    * the join key becomes (cell, salt): each (i, j) candidate still
    * appears exactly once — at salt hash(i) — while one cell's pair
    * work fans out across S tasks. This is the knob for when nlist is
    * small relative to cores or the quantizer is skewed; at corpus
    * scale nlist grows ∝ N and S stays a constant multiplier on
    * shuffle width.
    * Output: every distinct input id with `kept` ∈ {0,1} (1 = survives
    * dedup), the decision an exact brute-force oracle can replay.
    */
  def semanticDedup(vecs: DataFrame, centroids: Seq[Seq[Double]],
                    threshold: Double, nassign: Int = 2, saltBuckets: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nassign >= 1 && nassign <= centroids.size,
      s"nassign must be in [1, ${centroids.size}], got $nassign")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val assigned = Lineage.shared(vecs
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", explode(transform(
        slice(cellsByDistance(col("v"), centroids), 1, nassign),
        s => s.getField("cell")))))
    val salted = assigned
      .withColumn("salt", pmod(xxhash64(col("id")), lit(saltBuckets)))
    val replicated = assigned
      .withColumn("salt", explode(array((0 until saltBuckets).map(lit): _*)))
    // The decision is "cosine rounded half-up at 4 decimals ≥ t",
    // which for t ≥ 0 is exactly `cosine ≥ t − 0.00005` — evaluated as
    // one double compare. Spelling it with round() would put Spark's
    // Round-on-double in the pair loop, which allocates a BigDecimal
    // PER ROW in generated code (measured +3s over 5.2M pairs at
    // sf0.1). Callers' oracles may keep the round() spelling; the
    // accept set is identical — but ONLY when the threshold itself
    // sits on the 4-decimal grid (t = 0.85003 would diverge from a
    // round()-spelled oracle on a pair at 0.85001), so that
    // precondition is enforced rather than assumed:
    require(math.abs(threshold * 10000 -
        math.rint(threshold * 10000)) < 1e-6,
      s"semanticDedup: threshold must be a multiple of 1e-4 (got " +
        s"$threshold) — the round(cosine,4)-equivalent cutoff is only " +
        "exact on that grid")
    val cutoff = threshold - 0.00005
    // persisted: the orderBy callers end with samples range boundaries
    // off the final plan; without this the whole pair scan runs twice.
    // O(dropped ids) rows — bounded by the dup rate, tiny by contract.
    val dropped = Lineage.shared(salted.as("x")
      .join(replicated.as("y"),
        col("x.cell") === col("y.cell") && col("x.salt") === col("y.salt") &&
          col("x.id") < col("y.id"))
      .filter(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
        >= cutoff)
      .select(col("y.id").as("id")).distinct()
      .withColumn("__dropped", lit(1L)))
    vecs.select(col(idCol).as("id")).distinct()
      .join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol),
        (lit(1L) - coalesce(col("__dropped"), lit(0L))).as("kept"))
  }

  /** Per-group element-wise mean vector — the centroid step every
    * vector-quantizer training loop (IVF/k-means, product quantization)
    * runs once per iteration, exposed as a standalone verified op.
    *
    * Shape: posexplode to (group, dim) cells, then one hash aggregate.
    * The explode is O(N·d) rows but map-side partial aggregation folds
    * each partition down to groups×d cells before the shuffle, so the
    * exchange carries O(groups·d·partitions) — independent of N. This
    * is exactly how the distributed k-means assignment/update step
    * scales to 100 TB of vectors; no collect, no driver loop.
    *
    * Determinism (hash-oracle contract): each component is floored into
    * integral micro-units BEFORE summing (`floor(v·1e6)` per value is
    * order-independent; a double sum would vary with partition order),
    * and the mean stays in micro-units, rounded by the explicit
    * `floor(x + 0.5)` — engine `round()` tie-breaks `.5` micro-unit
    * quotients differently between Spark (decimal half-up) and DuckDB
    * (double half-even), the same hazard s5's quantizer avoids.
    */
  def labelCentroids(vecs: DataFrame, groupCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    vecs.select(col(groupCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("qv", floor(col("v").cast("double") * 1000000).cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qv")).as("sum_q"), count(lit(1)).as("n"))
      .withColumn("centroid_micro",
        floor(col("sum_q") / col("n") + 0.5).cast("long"))
}
