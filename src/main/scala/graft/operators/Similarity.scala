package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (SURVEY.md §2e E8) — the
  * vector-space generalization of the reference's "top-1 insight" pattern
  * (/root/reference/app.py:211,217): instead of argmax over one numeric
  * column, argmax over cosine similarity to a query vector.
  *
  * Numerical contract: cosine is computed entirely in IEEE double with
  * strict left-to-right accumulation (`aggregate` over `zip_with` products).
  * The DuckDB oracle mirrors the exact same operation order
  * (`list_reduce` over `list_transform(list_zip(...))`), so scores are
  * BIT-IDENTICAL across engines and the top-k selection + order is fully
  * deterministic — no epsilon, no rounding.
  *
  * Scale design (100 TB):
  *  - the query vector is a 1-row broadcast — every executor scores its own
  *    partitions, no shuffle of the embedding table at all;
  *  - top-k plans as TakeOrderedAndProject: an O(k) heap per partition and
  *    O(k·partitions) on the driver, never a global sort;
  *  - all-pairs scoring is avoided by sign-bit LSH bucketing
  *    ([[qCosineTopkLsh]], [[qCosineNeardup]]): candidates come from a
  *    bucket equi-join (shuffle on bucket id), so work is Σ bucket² instead
  *    of n². More planes → smaller buckets; skewed buckets are AQE's
  *    skew-join case. This is the standard random-hyperplane LSH family
  *    with axis-aligned planes, chosen because both engines can compute the
  *    bucket exactly (sign of a stored coordinate) — a production deployment
  *    would draw seeded Gaussian planes the same way [[TextOps]] draws
  *    seeded MinHash permutations.
  *  - everything is built-in codegen'd expressions — no UDFs anywhere, so
  *    the scoring stays inside whole-stage codegen.
  */
object Similarity {

  /** Dot product of two float-vector columns in double, left-to-right —
    * the codegen'd [[graft.functions.VecDot]] expression. Semantically
    * identical to `aggregate(zip_with(..), 0.0, +)` (same bits), but stays
    * inside whole-stage codegen instead of the interpreted higher-order
    * evaluator, and never materializes the products array.
    */
  private def dotLtr(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.VecDot(
        org.apache.spark.sql.GraftSqlBridge.expression(x),
        org.apache.spark.sql.GraftSqlBridge.expression(y)))

  /** Euclidean norm of a float-vector column, in double. Hoisted out of the
    * pair-scoring expression so joins compute one dot product per pair, not
    * three — same bits, 3× less work.
    */
  def norm(v: Column): Column = sqrt(dotLtr(v, v))

  /** Exact cosine similarity between two `ArrayType(FloatType)` columns. */
  def cosine(a: Column, b: Column): Column =
    dotLtr(a, b) / (norm(a) * norm(b))

  /** Cosine from a fresh dot product and precomputed norms. */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dotLtr(a, b) / (na * nb)

  /** 16-way sign-bit LSH bucket: the sign of 4 fixed coordinates
    * (1-based dims 1, 9, 17, 25). Vectors with high cosine agree on most
    * signs, so near-duplicates land in the same bucket w.h.p. Used by the
    * single-probe [[qCosineTopkLsh]]; the near-dup join uses the banded
    * multi-plane scheme below.
    */
  private def bucket(v: Column): Column =
    (element_at(v, 1) >= 0).cast("int") * 8 +
    (element_at(v, 9) >= 0).cast("int") * 4 +
    (element_at(v, 17) >= 0).cast("int") * 2 +
    (element_at(v, 25) >= 0).cast("int")

  // ---- Banded sign-LSH geometry (parameterized, MinHash-style) ----------
  //
  // NdPlanes sign planes (plane j = sign of 1-based coordinate 4j+1, i.e.
  // every 4th of the 64 dims), split into NdBands bands of NdRows planes.
  // Two vectors are candidates iff some band's NdRows signs all agree —
  // exactly the MinHash banding trade: each extra row per band halves the
  // expected per-band candidate mass (2^-NdRows of all pairs), each extra
  // band adds one more chance to match (recall) at one more band's
  // candidate cost. At 100 TB you tune (NdBands, NdRows) to the corpus'
  // sign-agreement curve; the fixture's cos≥0.3 pairs agree per-plane with
  // p≈0.61, where 4×4 measures ~0.46 recall vs ~0.14 for one 4-plane band
  // (the recall property in SimilaritySpec pins the 0.4 floor).

  /** Total sign planes in the banded near-dup scheme. */
  val NdPlanes = 16
  /** Planes per band (bucket-key width: 2^NdRows buckets per band). */
  val NdRows = 4
  /** Bands — candidate iff ALL planes of SOME band agree. */
  val NdBands: Int = NdPlanes / NdRows

  /** Sign bit of plane `j` (0-based): 1-based coordinate `4j+1`. */
  private def planeBit(v: Column, j: Int): Column =
    (element_at(v, 4 * j + 1) >= 0).cast("int")

  /** All band keys of a vector for an explicit (bands, rows) split of the
    * [[NdPlanes]] planes, index-aligned for `posexplode`. Contiguous
    * split, so configurations NEST: a (b, r) band agreeing implies both
    * its (2b, r/2) half-bands agree — candidates(2,8) ⊆ candidates(4,4)
    * ⊆ candidates(8,2), which is the monotone recall/candidate-mass
    * trade the SimilaritySpec property sweep pins.
    */
  private[graft] def bandKeysFor(v: Column, bands: Int, rows: Int): Column = {
    require(bands * rows == NdPlanes,
      s"bands ($bands) × rows ($rows) must cover the $NdPlanes planes")
    array((0 until bands).map { b =>
      (0 until rows).map { i =>
        planeBit(v, b * rows + i) * (1 << (rows - 1 - i))
      }.reduce(_ + _)
    }: _*)
  }

  /** Distinct candidate id pairs (a_id < b_id) of the (bands, rows)
    * geometry — the LSH stage of [[qCosineNeardup]], exposed
    * parameterized for the property sweep.
    */
  private[graft] def bandCandidates(spark: SparkSession, d: String,
                                    bands: Int, rows: Int): DataFrame = {
    val e = embeddings(spark, d)
    val bandRows = e.select(col("vec_id"),
      posexplode(bandKeysFor(col("embedding"), bands, rows)).as(Seq("band", "bkey")))
    bandRows.select(col("vec_id").as("a_id"), col("band"), col("bkey"))
      .join(bandRows.select(col("vec_id").as("b_id"),
          col("band").as("band2"), col("bkey").as("bkey2")),
        col("band") === col("band2") && col("bkey") === col("bkey2") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  private def queryVec(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), norm(col("embedding")).as("qn"))

  /** q_cosine_topk — brute-force cosine top-20 against the query vector
    * (vec_id 0). The baseline every ANN variant is checked against.
    */
  def qCosineTopk(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .crossJoin(broadcast(queryVec(spark, d)))
      .select(col("vec_id"), col("label"),
              cosinePre(col("embedding"), col("qe"),
                        norm(col("embedding")), col("qn")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(20)

  /** q_mips — Maximum Inner-Product Search top-10 against the query
    * vector: rank by RAW dot product, not cosine. MIPS is the serving
    * primitive of recommendation / two-tower retrieval (user·item score,
    * where item norm IS signal — popular items legitimately win), and it
    * is NOT the same ranking as [[qCosineTopk]]'s: cosine divides the
    * norm out, so the two top-k lists disagree exactly where item norms
    * vary. Self-hit excluded (the [[qAnnSq8]] convention).
    *
    * Scale path (documented, not needed at this k): MIPS has no direct
    * LSH family (inner product violates the triangle inequality), but
    * the Bachrach/Shrivastava norm-augmentation reduction appends
    * √(M²−‖x‖²) as an extra coordinate, turning MIPS into cosine search
    * over the augmented vectors — after which ALL the cosine ANN
    * machinery here (LSH banding, IVF, PQ) applies verbatim.
    *
    * Plan: broadcast the 1-row query, ONE scan scoring via the codegen'd
    * [[graft.functions.VecDot]] left-fold (the engine-wide determinism
    * contract), TakeOrderedAndProject heap for the top-k — never a
    * global sort.
    */
  def qMips(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVec(spark, d)))
      .select(col("vec_id"), col("label"),
        dotLtr(col("embedding"), col("qe")).as("ip"))
      .orderBy(col("ip").desc, col("vec_id"))
      .limit(10)

  /** Every [[AnnBatchEvery]]-th vector becomes a query in
    * [[qAnnBatch]]; neighbors returned per query.
    */
  val AnnBatchEvery = 100
  val AnnBatchK = 5

  /** q_ann_batch — BATCH nearest-neighbor serving: top-[[AnnBatchK]]
    * cosine neighbors for EVERY query in a query SET (each
    * [[AnnBatchEvery]]-th vector), not one probe — the offline shape
    * ANN actually runs in production (nightly "neighbors for all new
    * items" jobs), where per-query invocation ([[qCosineTopk]]) would
    * pay the scan once per query. ONE pass over the base table scores
    * all queries; per-query heaps bound the sort.
    *
    * Plan: the query set broadcasts (rows/[[AnnBatchEvery]] — small by
    * construction; at larger query sets the same join shuffles on a
    * bucket key, the E8b LSH path), the scored relation is
    * base × |queries| rows cut to K per query by a rank-limit window
    * (WindowGroupLimit / TopKPerGroup — the bounded-per-key discipline
    * PlanSpec pins elsewhere). Self-matches are excluded. Scores reuse
    * [[cosinePre]]'s left-to-right fold so every value hash-matches the
    * oracle's identical chain.
    */
  def qAnnBatch(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = embeddings(spark, d)
      .filter(col("vec_id") % AnnBatchEvery === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    embeddings(spark, d)
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("embedding"), col("qe"),
          norm(col("embedding")), col("qn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnBatchK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** q_vec_check — embedding-table data-quality audit: dimension
    * conformance, non-finite values (NaN/±Inf), zero-norm vectors, and
    * the norm range — the constraint check ([[Analytics.qConstraintCheck]]
    * stance) every vector pipeline runs before an index build, because a
    * single NaN silently poisons every distance it touches and a
    * zero-norm vector divides cosine by zero. One aggregate row.
    *
    * Plan: pure per-row array expressions (no shuffle) + ONE global
    * aggregate. Norm min/max are comparison-based over per-row
    * left-to-right folds — deterministic under any partitioning.
    */
  def qVecCheck(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        expr("size(filter(embedding, x -> isnan(x) OR " +
          "abs(x) = CAST('Infinity' AS FLOAT)))").cast("long").as("n_nonfinite"),
        norm(col("embedding")).as("nrm"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= EmbDim.toLong, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(col("n_nonfinite")).as("n_nonfinite"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"))

  /** q_cosine_topk_lsh — the scale path: score only the query's LSH bucket
    * (~1/16 of the table here; 1/2^planes in general), then top-10 within
    * it. Recall vs. [[qCosineTopk]] is property-tested in SimilaritySpec.
    */
  def qCosineTopkLsh(spark: SparkSession, d: String): DataFrame = {
    val q = embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), norm(col("embedding")).as("qn"),
              bucket(col("embedding")).as("qb"))
    embeddings(spark, d)
      .withColumn("bkt", bucket(col("embedding")))
      .join(broadcast(q), col("bkt") === col("qb"))
      .select(col("vec_id"), col("label"),
              cosinePre(col("embedding"), col("qe"),
                        norm(col("embedding")), col("qn")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** q_ann_graph — GRAPH-ANN tier (round-19 advisory #7: the
    * HNSW-shaped rung next to IVF/PQ/SQ8, restated for a distributed
    * engine): a batch-built NEIGHBORHOOD GRAPH + deterministic
    * synchronized BEAM SEARCH as bounded iterative joins.
    *
    *  - BUILD: each node's top-[[GraphM]] cosine neighbors among its
    *    sign-LSH bucket peers — the same inverted-index candidate
    *    generator every near-dup family rides (per-bucket work
    *    Σ bucket², never n²); the edge list is a per-src top-M window,
    *    partitioned by src like any adjacency table.
    *  - SEARCH: ROUTE first, walk second (the HNSW upper-layer idea
    *    restated): entry points are the query's own LSH bucket's
    *    top-[[GraphEntries]] (the [[qCosineTopkLsh]] probe — a coarse
    *    1/2^planes routing step), then [[GraphHops]] synchronized
    *    expansion rounds —
    *    frontier ∪ its out-neighbors, re-scored against the query
    *    (codegen'd [[graft.functions.VecDot]] chain), keep the global
    *    top-[[GraphBeam]]. The frontier is beam-sized, so each round is
    *    a broadcast semi-join against the adjacency table + one
    *    O(candidates) top-B — never a corpus scan after round 0's
    *    entry lookup. Monotone: the frontier rides inside its own
    *    expansion, so the running best never regresses (greedy
    *    best-first restated as rounds — what makes the search
    *    DETERMINISTIC and oracle-expressible where true HNSW's
    *    priority-queue walk is not).
    *
    * At 100 TB: build cost equals the near-dup candidate pass the
    * pipeline already runs; query cost is O(hops × beam × M) edge
    * lookups + exact re-scores — independent of corpus size once the
    * adjacency table is partition-pruned by src. Recall-vs-beam is the
    * nprobe-style knob, curve-pinned in SimilaritySpec.
    */
  private[graft] val GraphM = 6
  private[graft] val GraphBeam = 12
  private[graft] val GraphHops = 3
  private[graft] val GraphEntries = 4

  def qAnnGraph(spark: SparkSession, d: String): DataFrame =
    annGraphSearch(spark, d, beam = GraphBeam)

  private[graft] def annGraphSearch(spark: SparkSession, d: String,
                                    beam: Int, hops: Int = GraphHops,
                                    k: Int = 10): DataFrame = {
    val nodes = embeddings(spark, d).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), col("embedding"),
        bucket(col("embedding")).as("bkt"),
        norm(col("embedding")).as("nn"))
    // Edge candidates from the BANDED generator at the
    // OCCUPANCY-COMPENSATED geometry ([[scaledGeometry]] — the same
    // corpus-count lever q_cosine_neardup_scaled ships, so the build's
    // candidate mass stays ~linear as the corpus grows instead of the
    // fixed-geometry n²/2^rows signature; banding also lets edges
    // cross any single band's bucket boundaries — a one-bucket build
    // would leave 2^rows disconnected components the walk could never
    // escape), both directions, then per-src top-M by exact cosine.
    val (gBands, gRows) = scaledGeometry(embeddings(spark, d).count())
    val cand = bandCandidates(spark, d, gBands, gRows)
      .filter(col("a_id") =!= 0 && col("b_id") =!= 0)
    // No distinct on the union: bandCandidates is already a distinct
    // a_id < b_id pair set, so the swapped leg (a_id > b_id everywhere)
    // is disjoint from it by construction — the union IS a set, and the
    // removed distinct was one full exchange + hash aggregate over the
    // largest intermediate of the build (guide §2.4: a `distinct` on
    // data that is already unique is an accidental shuffle).
    val both = cand.union(
      cand.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val edges = both
      .join(nodes.select(col("vec_id").as("a_id"),
        col("embedding").as("se"), col("nn").as("sn")), Seq("a_id"))
      .join(nodes.select(col("vec_id").as("b_id"),
        col("embedding").as("de"), col("nn").as("dn")), Seq("b_id"))
      .select(col("a_id").as("src"), col("b_id").as("dst"),
        cosinePre(col("se"), col("de"), col("sn"), col("dn")).as("c"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
          .orderBy(col("c").desc, col("dst"))))
      .filter(col("rn") <= GraphM).select(col("src"), col("dst"))
    // The adjacency table feeds every expansion round (it would appear
    // hops+1 times in the final plan): materialize it ONCE as an eager
    // tier — locally what a 100 TB deployment gets by building the
    // graph as a persisted table artifact — and free it once the
    // beam-sized result is materialized below.
    val adj = graft.Tables.checkpointTier(edges)
    val q = embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), norm(col("embedding")).as("qn"),
        bucket(col("embedding")).as("qb"))
    def scored(ids: DataFrame): DataFrame =
      nodes.join(ids, Seq("vec_id")).join(broadcast(q.drop("qb")))
        .select(col("vec_id"), col("label"),
          cosinePre(col("embedding"), col("qe"), col("nn"), col("qn"))
            .as("cos"))
    // Entry routing: the query's own LSH bucket's best GraphEntries
    // (coarse 1/2^planes step), then the graph walk refines.
    val entries = nodes.join(broadcast(q), col("bkt") === col("qb"))
      .select(col("vec_id"),
        cosinePre(col("embedding"), col("qe"), col("nn"), col("qn"))
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(GraphEntries)
      .select(col("vec_id"))
    // Each round's frontier is a TIER ([[graft.Tables.checkpointTier]] —
    // the q_kcore / starComponents lesson applied to the beam walk): the
    // frontier appears TWICE in its own expansion (the union leg and the
    // broadcast-probe leg), so an unmaterialized loop embeds round r−1's
    // subtree 2× in round r — 2^hops copies of the scoring joins by the
    // final action (measured: the whole search re-ran the entry lookup 8×
    // at hops = 3). Materializing each beam-sized round (≤ beam rows)
    // keeps the executed plan O(one round) and every leg reads the same
    // 12-row leaf. Same algebra, same rows — the tiers only pin
    // evaluation order the lazy plan already had.
    var frontier = graft.Tables.checkpointTier(scored(entries)
      .orderBy(col("cos").desc, col("vec_id")).limit(beam))
    for (_ <- 1 to hops) {
      val prev = frontier
      val ids = frontier.select(col("vec_id"))
      val expanded = ids.union(
        adj.join(broadcast(ids.withColumnRenamed("vec_id", "src")), Seq("src"))
          .select(col("dst").as("vec_id"))).distinct()
      frontier = graft.Tables.checkpointTier(scored(expanded)
        .orderBy(col("cos").desc, col("vec_id")).limit(beam))
      // Round r is dead once round r+1 is eager (checkpointTier blocks
      // otherwise stay resident for the query lifetime).
      graft.Tables.unpersistTier(prev)
    }
    // The final frontier is already a materialized beam-sized leaf — the
    // adjacency tier has no remaining reader.
    graft.Tables.unpersistTier(adj)
    frontier.orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Fixed-geometry near-dup control (deregistered as a driver query in
    * round 12): embedding-space near-duplicate pairs via banded sign-LSH
    * at the PINNED ([[NdBands]] bands × [[NdRows]] planes) geometry.
    * Candidates are id pairs agreeing on ALL planes of at least one band,
    * deduplicated, then verified with exact cosine ≥ 0.3.
    *
    * Kept as the spec-side control the banding sweep and the scaled
    * geometry compare against (SimilaritySpec pins candidates(1,16) ⊆
    * candidates(2,8) ⊆ candidates(4,4) and scaled == fixed at fixture
    * count): at fixed geometry, candidate mass grows ~n²/2^rows with the
    * corpus — the one measured super-linear signature in the round-11
    * stress sweep (tail exponent 1.42 at ×10). The REGISTERED production
    * form is [[qCosineNeardupScaled]], whose occupancy-compensated
    * geometry holds candidate mass ~linear (measured 0.34/0.32 at
    * ×10/×40).
    *
    * Plan: each vector emits one (band, key) row per band (a Generate, no
    * shuffle), candidates come from the (band, key) equi-join — per-band
    * work is Σ bucket² over 2^NdRows buckets, never all-pairs — and the
    * multi-band duplicates collapse in an id-only DISTINCT before any
    * scoring, so each surviving pair fetches its two embeddings exactly
    * once (by equi-join on id) and is scored exactly once. Norms are
    * computed once per vector, not per candidate pair — at 100 TB that's
    * the difference between reading each vector once and re-normalizing
    * it once per candidate.
    */
  private[graft] def qCosineNeardup(spark: SparkSession, d: String): DataFrame =
    neardupPairs(spark, d, NdBands, NdRows)

  /** The LSH-candidates → exact-verify tail shared by [[qCosineNeardup]]
    * (fixed geometry) and [[qCosineNeardupScaled]] (occupancy-compensated
    * geometry): band candidates at (bands, rows), each surviving pair
    * fetches its two embeddings once by equi-join, exact cosine ≥ 0.3.
    */
  private[graft] def neardupPairs(spark: SparkSession, d: String,
                                  bands: Int, rows: Int): DataFrame = {
    val e = embeddings(spark, d)
    val cand = bandCandidates(spark, d, bands, rows)
    def side(p: String) = e.select(
      col("vec_id").as(s"${p}_id"),
      col("embedding").as(s"${p}_e"),
      norm(col("embedding")).as(s"${p}_n"))
    cand
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .select(col("a_id"), col("b_id"),
              cosinePre(col("a_e"), col("b_e"), col("a_n"), col("b_n")).as("cos"))
      .filter(col("cos") >= 0.3)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Expected per-band bucket occupancy above which [[scaledGeometry]]
    * widens the bucket key: with n vectors and 2^rows buckets per band,
    * occupancy ~ n/2^rows under near-uniform sign bits, and per-band
    * candidate mass is Σ bucket² ≈ n·occupancy — so holding occupancy
    * ≤ this constant holds candidate mass ~LINEAR in n (the
    * BASELINE.md "Round-12/14 scaling anchors", `q_cosine_neardup`:
    * fixed (4,4) at ×10 data → ×100 candidates, 9.3 s; compensated
    * (2,8) → ×3.4 candidates, flat wall).
    */
  val NdTargetOcc = 256L

  /** rows ≈ log₂(n/occupancy), snapped to the (bands, rows) splits of the
    * [[NdPlanes]]-plane signature: the smallest rows ∈ {4, 8, 16} whose
    * 2^rows buckets keep expected occupancy ≤ [[NdTargetOcc]] (16-row cap:
    * one exact-signature band). Monotone by construction, and the
    * candidate sets NEST across the cuts (candidates(1,16) ⊆
    * candidates(2,8) ⊆ candidates(4,4) — [[bandKeysFor]]'s contiguous
    * split), so growing the corpus only ever SHRINKS the candidate ratio,
    * never surprises recall upward.
    */
  private[graft] def scaledGeometry(n: Long): (Int, Int) =
    if (n <= (NdTargetOcc << 4)) (4, 4)
    else if (n <= (NdTargetOcc << 8)) (2, 8)
    else (1, 16)

  /** q_cosine_neardup_scaled — [[qCosineNeardup]] with the production
    * geometry lever SHIPPED: (bands, rows) chosen from the corpus COUNT by
    * [[scaledGeometry]] so per-bucket occupancy — and therefore candidate
    * mass per row — stays constant as the corpus grows. This is the
    * documented fix for the fixed-geometry n²/2^rows candidate signature
    * (the one >1 tail exponent in `bench/bench_r10_stress.json`): at ×10
    * data the compensated geometry held wall time FLAT where fixed (4,4)
    * paid ×9.5.
    *
    * The count() is an index-build-time statistic — one columnar
    * metadata-only job, the moral equivalent of the table stats AQE reads;
    * a production index build knows its corpus size before choosing
    * shingle/band geometry. Recall at wider keys is the standard LSH
    * trade: candidates need all `rows` sign bits of some band to agree,
    * and the spec sweep pins the monotone candidate/recall nesting across
    * exactly these splits.
    */
  def qCosineNeardupScaled(spark: SparkSession, d: String): DataFrame = {
    val n = embeddings(spark, d).count()
    val (bands, rows) = scaledGeometry(n)
    neardupPairs(spark, d, bands, rows)
  }

  /** Train-bucket cut of [[qSemanticLeakage]]'s hash split (md5 mod 10 <
    * 8 → 80% train — [[graft.operators.TextOps]]' q_split_leakage rule,
    * applied to vec_id).
    */
  val SemLeakTrainBuckets = 8

  /** q_semantic_leakage — SEMANTIC eval-set contamination across the
    * train/test split: deterministic hash-split of the embedding table
    * (the [[graft.operators.TextOps.qSplitLeakage]] assignment rule),
    * then every LSH-candidate pair with exact cosine ≥ 0.3 whose members
    * straddle the split is reported as (test_id, train_id, cos). This is
    * the audit n-gram decontamination structurally CANNOT run: a
    * paraphrased eval item shares no 8-gram with its train twin but
    * sits at high cosine — the reason the Phi/SemDeDup-era pipelines
    * decontaminate in embedding space as well as token space. Completes
    * the leakage matrix: [[graft.operators.TextOps.qSplitLeakage]]
    * (lexical near-dup pairs across the split), q_decontaminate (exact
    * n-gram containment), THIS (semantic).
    *
    * Plan: candidates come from the occupancy-compensated LSH banding
    * ([[scaledGeometry]] — candidate mass ~linear in corpus size, the
    * shipped 100 TB path), each pair fetches its embeddings once by
    * equi-join, the split tags join on vec_id; everything after the
    * verify filter is pair-bounded. Determinism: md5 split is
    * content-independent and reproducible; cosine is the pinned VecDot
    * fold; output ordered (test_id, train_id).
    */
  def qSemanticLeakage(spark: SparkSession, d: String): DataFrame = {
    val n = embeddings(spark, d).count()
    val (bands, rows) = scaledGeometry(n)
    val split = embeddings(spark, d).select(col("vec_id"),
      (expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), " +
        "16, 10) AS BIGINT) % 10") < SemLeakTrainBuckets).as("is_train"))
    neardupPairs(spark, d, bands, rows)
      .join(split.select(col("vec_id").as("a_id"),
        col("is_train").as("train_a")), "a_id")
      .join(split.select(col("vec_id").as("b_id"),
        col("is_train").as("train_b")), "b_id")
      .filter(col("train_a") =!= col("train_b"))
      .select(
        when(col("train_a"), col("b_id")).otherwise(col("a_id")).as("test_id"),
        when(col("train_a"), col("a_id")).otherwise(col("b_id")).as("train_id"),
        col("cos"))
      .orderBy(col("test_id"), col("train_id"))
  }

  /** q_ann_ivf — IVF-style ANN, the other standard scale path besides LSH:
    * vectors are assigned to their nearest of 8 centroids (an inverted
    * file), and the query searches only its own cell (nprobe=1). Centroids
    * here are "training-free" (the first 8 stored vectors) so the index is
    * fully deterministic and oracle-checkable; a production deployment
    * would plug in offline-trained k-means centroids — the plan shape
    * (broadcast centroids → per-row argmax assignment → cell equi-join →
    * top-k) is identical. Cell assignment is a per-key row_number over 8
    * candidate rows — bounded work per vector, no global state.
    */
  /** Per-vector centroid ranking shared by the IVF variants: every vector
    * crossed with the 8 broadcast centroids, ranked by cosine (ties by
    * cid). `rn = 1` is the inverted-file assignment; the query's `rn ≤
    * nprobe` rows are the cells it probes.
    */
  private def ivfRanked(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, d)
    val cents = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val byCos = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("embedding"), col("cid"),
              cosine(col("embedding"), col("ce")).as("ccos"))
      .withColumn("rn", row_number().over(byCos))
  }

  /** Probe the query's `nprobe` nearest cells and return the top-10 by
    * exact cosine — the shared tail of [[qAnnIvf]] (nprobe=1) and
    * [[qAnnIvf2]] (nprobe=2). Cells are disjoint (each vector lives in
    * exactly one), so multi-probe is a plain equi-join against the
    * broadcast probe list — no dedup needed, candidate volume is the sum
    * of the probed cells' sizes.
    */
  private def ivfProbe(spark: SparkSession, d: String, nprobe: Int): DataFrame = {
    val ranked = ivfRanked(spark, d)
    val assigned = ranked.filter(col("rn") === 1)
    val qCells = ranked.filter(col("vec_id") === 0 && col("rn") <= nprobe)
      .select(col("embedding").as("qe"), norm(col("embedding")).as("qn"),
              col("cid").as("qcid"))
    assigned.join(broadcast(qCells), col("cid") === col("qcid"))
      .select(col("vec_id"), col("label"), col("cid"),
              cosinePre(col("embedding"), col("qe"),
                        norm(col("embedding")), col("qn")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** DOCUMENTED CONVENTION: the query vector (vec_id 0) is itself a
    * corpus member and appears in its own cell, so its cos≈1 self-hit
    * row leads the readout — [[qAnnIvf]]/[[qAnnIvf2]] are index
    * READOUTS (what does the probed region contain?), and the self row
    * is the standard sanity anchor. The SERVING-path queries
    * ([[qAnnSq8]], [[qAnnIvfPq]]) exclude self: they return neighbors.
    */
  def qAnnIvf(spark: SparkSession, d: String): DataFrame =
    ivfProbe(spark, d, nprobe = 1)

  /** q_ann_ivf2 — [[qAnnIvf]] with nprobe=2: the query searches the UNION
    * of its 2 nearest cells. This is the standard IVF recall knob — a
    * vector whose true neighbors straddle a cell boundary (the query sits
    * near the edge of its Voronoi cell) is exactly the case one more
    * probe recovers. Cost scales linearly in probed-cell volume; recall
    * is monotone in nprobe (a superset of cells can only add candidates),
    * which the SimilaritySpec property pins against the brute-force
    * baseline.
    */
  def qAnnIvf2(spark: SparkSession, d: String): DataFrame =
    ivfProbe(spark, d, nprobe = 2)

  /** PQ geometry: [[PqM]] subspaces of `64 / PqM` dims, [[PqK]] codewords
    * per subspace (the subvectors of stored vectors 1..PqK — training-free
    * and deterministic, same convention as [[ivfRanked]]'s centroids).
    */
  val PqM = 8
  val PqK = 4
  private val PqDim = 64 / PqM

  /** q_pq_encode — product quantization, the compression half of the
    * IVF+PQ stack every billion-vector ANN index runs: each vector's 64
    * dims are split into [[PqM]] subvectors, and each subvector is
    * replaced by the id of its nearest codeword in that subspace's
    * codebook — 64 floats become [[PqM]] small codes (here 2 bits each).
    *
    * Plan: the codebook (PqM × PqK subvectors) comes from PqK rows and is
    * BROADCAST; each vector explodes to PqM subvector rows (bounded ×M,
    * like [[graft.operators.Normalize]]'s explodes), equi-joins the
    * codebook on subspace id (M×K candidate rows per vector — per-row
    * bounded work, no shuffle of the corpus beyond the explode), and
    * takes rn=1 per (vector, subspace). At 100 TB this is a map-side
    * pipeline over a broadcast table — the same shape as IVF assignment.
    *
    * Determinism: squared L2 distance is evaluated via the dot-product
    * expansion `(x·x − 2·(x·c)) + c·c` with every dot the codegen'd
    * left-to-right [[dotLtr]] — the oracle evaluates the IDENTICAL
    * parenthesization over `list_reduce` dots, so distances (kept in the
    * output as proof) are bit-exact and the argmin needs no epsilon.
    * Ties break to the lower codeword id.
    */
  /** Explode a vector table into its [[PqM]] subvector rows. */
  private def pqSubbed(df: DataFrame): DataFrame = {
    val subs = (0 until PqM).map(lit(_))
    df.select(col("vec_id"), explode(array(subs: _*)).as("s"),
        col("embedding"))
      .select(col("vec_id"), col("s"),
        slice(col("embedding"), col("s") * PqDim + 1, lit(PqDim)).as("sv"))
  }

  /** PQ code assignment — the shared core of [[qPqEncode]] (which emits
    * it) and [[qAnnPq]] (which searches over it): nearest codeword per
    * (vector, subspace), ties to the lower codeword id.
    */
  private def pqCodes(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, d)
    val codebook = pqSubbed(e.filter(col("vec_id").between(1, PqK)))
      .select(col("vec_id").as("k"), col("s"), col("sv").as("cv"))
    val byDist = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("dist"), col("k"))
    pqSubbed(e)
      .join(broadcast(codebook), "s")
      .select(col("vec_id"), col("s"), col("k"),
        ((dotLtr(col("sv"), col("sv")) -
          lit(2.0) * dotLtr(col("sv"), col("cv"))) +
          dotLtr(col("cv"), col("cv"))).as("dist"))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
  }

  def qPqEncode(spark: SparkSession, d: String): DataFrame =
    pqCodes(spark, d)
      .select(col("vec_id"), col("s").as("sub"), col("k").as("code"),
        col("dist"))
      .orderBy(col("vec_id"), col("sub"))

  /** q_ann_pq — asymmetric-distance (ADC) search over the PQ codes: the
    * query half of the IVF+PQ stack ([[qPqEncode]] compresses; this
    * searches the compressed form). The query vector (vec_id 0, the
    * [[qCosineTopk]] convention) is NOT quantized — per subspace its
    * true squared distance to each codeword is tabulated once (an M×K
    * lookup table, 32 rows, broadcast), and each stored vector's
    * approximate distance is the Σ over its M codes of table entries:
    * 8 lookups + 8 adds per vector instead of 64 multiplies — the
    * arithmetic that makes billion-vector scan-and-rank affordable.
    *
    * Plan: codes ⋈ broadcast LUT on (subspace, code) — map-side, no
    * corpus shuffle beyond the bounded ×M explode it inherits from
    * assignment — then ONE hash aggregate per vector and a top-10
    * TakeOrderedAndProject. Determinism: the M per-subspace terms are
    * folded in SUBSPACE ORDER via sort_array + aggregate (a plain
    * sum(double) would be partitioning-dependent in the last ulp); the
    * oracle replays the identical fold with `list_reduce(list(d ORDER
    * BY s))`. The LUT distances reuse the encode expansion verbatim, so
    * every term is bit-exact.
    */
  def qAnnPq(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
    val codebook = pqSubbed(e.filter(col("vec_id").between(1, PqK)))
      .select(col("vec_id").as("k"), col("s"), col("sv").as("cv"))
    val lut = pqSubbed(e.filter(col("vec_id") === 0))
      .join(codebook, "s")
      .select(col("s"), col("k"),
        ((dotLtr(col("sv"), col("sv")) -
          lit(2.0) * dotLtr(col("sv"), col("cv"))) +
          dotLtr(col("cv"), col("cv"))).as("d"))
    pqCodes(spark, d)
      .select(col("vec_id"), col("s"), col("k"))
      .join(broadcast(lut), Seq("s", "k"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("d")))).as("ds"))
      .select(col("vec_id"),
        expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.d)")
          .as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(10)
  }

  /** q_centroid — per-label embedding centroid (the "trained centroids" a
    * production IVF index is built from — [[qAnnIvf]]'s training-free
    * centroids are the deterministic stand-in), emitted as one
    * (label, pos, c) row per coordinate so the result is comparator-flat.
    *
    * Determinism: a double mean over shuffled partitions is
    * order-nondeterministic in the last ulp, so the summation order is
    * pinned by CONTRACT: values fold left-to-right within fixed
    * [[CentroidChunk]]-sized vec_id chunks, then the chunk partials fold
    * left-to-right in chunk order — a fully specified addition sequence
    * (NOT the same bits as one flat fold; fp addition is non-associative,
    * so the oracle and spec replicate this exact two-level order). The
    * two-level shape is what makes an exact-order mean scale: state per
    * (label, pos, chunk) group is ≤ CentroidChunk elements and per
    * (label, pos) group ≤ the chunk count — never the label's full
    * vector count, which at 100 TB would OOM a flat collect_list. A
    * pipeline that doesn't need ulp determinism uses a plain tree-reduced
    * `avg` (one shuffle, map-side partials) — that trade is the
    * documented knob, not an accident.
    */
  val CentroidChunk = 128

  def qCentroid(spark: SparkSession, d: String): DataFrame = {
    val chunked = embeddings(spark, d)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"),
        expr(s"vec_id DIV $CentroidChunk").as("chunk"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("vs"))
      .select(col("label"), col("pos"), col("chunk"),
        expr("aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x.v AS DOUBLE))")
          .as("psum"),
        size(col("vs")).as("pn"))
    chunked
      .groupBy(col("label"), col("pos"))
      .agg(sort_array(collect_list(struct(col("chunk"), col("psum")))).as("ps"),
        sum(col("pn")).as("n"))
      .select(col("label"), col("pos"),
        (expr("aggregate(ps, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.psum)") /
          col("n")).as("c"))
      .orderBy(col("label"), col("pos"))
  }

  /** q_gram_matrix — the upper triangle of the corpus Gram matrix
    * Σᵥ v·vᵀ over the embedding table (dim×dim entries): THE linear-
    * algebra primitive under PCA/whitening/ridge — covariance is this
    * matrix minus the mean outer product, and [[qPowerIter]]'s dominant
    * eigenvector is what a driver loop extracts FROM it. A training
    * pipeline lands this nightly before any decorrelation step.
    *
    * Determinism: each entry is a double sum over the corpus, so it
    * folds in [[qCentroid]]'s two-level pinned order (vec_id-sorted
    * within [[CentroidChunk]] chunks, then chunk order) — the exact-
    * order scheme whose per-group state stays ≤ chunk-sized at any
    * corpus volume. Products are float→double casts then ONE IEEE
    * multiply, identical in both engines.
    *
    * Plan: NO join, and NO per-pair shuffle rows — each vector
    * builds its WHOLE upper triangle as one dim(dim+1)/2 array
    * (nested transform over tail slices, (i asc, j asc) lex order),
    * so the shuffle carries ONE row per vector, not one per pair
    * (×2080 fewer rows at dim 64; the bytes are the same, the
    * per-row agg machinery isn't). Chunks fold their ≤128 member
    * arrays element-wise with `zip_with` in vid order, chunk partials
    * fold in chunk order, and the single surviving row posexplodes
    * back to (i, j) cells only at the very end. At higher dims the
    * array size is the knob: block the matrix (pos DIV B pairs) or
    * sketch (count-sketch JL projection) — documented, not silently
    * hit.
    */
  def qGramMatrix(spark: SparkSession, d: String): DataFrame = {
    val nPairs = EmbDim * (EmbDim + 1) / 2
    val perVec = embeddings(spark, d)
      .select(col("vec_id").as("vid"),
        expr(
          s"""flatten(transform(embedding, (vi, i) ->
             |  transform(slice(embedding, i + 1, $EmbDim), vj ->
             |    CAST(vi AS DOUBLE) * CAST(vj AS DOUBLE))))""".stripMargin)
          .as("prods"))
    val zero = s"array_repeat(CAST(0.0 AS DOUBLE), $nPairs)"
    // (i, j) recovery for the flat lex index: an exact integer index
    // array zipped against the folded sums — no float inversion.
    val idx =
      s"""flatten(transform(sequence(0, ${EmbDim - 1}), i ->
         |  transform(sequence(i, ${EmbDim - 1}), j ->
         |    named_struct('i', i, 'j', j))))""".stripMargin
    perVec
      .groupBy(expr(s"vid DIV $CentroidChunk").as("chunk"))
      .agg(sort_array(collect_list(struct(col("vid"), col("prods")))).as("ps"))
      .select(col("chunk"),
        expr(s"aggregate(ps, $zero, (acc, x) -> zip_with(acc, x.prods, (u, v) -> u + v))")
          .as("psum"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("chunk"), col("psum")))).as("cs"))
      .select(expr(
        s"aggregate(cs, $zero, (acc, x) -> zip_with(acc, x.psum, (u, v) -> u + v))")
        .as("gs"))
      .select(explode(expr(
        s"zip_with($idx, gs, (ij, g) -> named_struct('i', ij.i, 'j', ij.j, 'g', g))"))
        .as("cell"))
      .select(col("cell.i").as("i"), col("cell.j").as("j"), col("cell.g").as("g"))
      .orderBy(col("i"), col("j"))
  }

  /** q_kmeans_step — ONE full Lloyd iteration of k-means over the
    * embedding corpus: assign every vector to its nearest of the 8
    * deterministic seed centroids ([[ivfRanked]]'s inverted file — by
    * cosine, i.e. the spherical k-means assignment), then recompute each
    * cell's centroid as the member mean. This is the training loop that
    * produces the "offline-trained centroids" [[qAnnIvf]]'s scaladoc
    * defers to — k-means at corpus scale IS a sequence of these steps,
    * and each step is exactly this plan re-run with the previous step's
    * output broadcast as the new seed table (a driver loop with one
    * action per round, the [[graft.operators.TextOps]] connected-
    * components contract).
    *
    * Scale shape, both halves: assignment is a per-row bounded argmax
    * over the k-row BROADCAST seed table (k candidate rows per vector,
    * no corpus shuffle); the update is [[qCentroid]]'s two-level
    * chunked fold keyed by cell — state per group bounded by
    * [[CentroidChunk]], never a cell's full membership, and the
    * summation order is pinned so the new centroids are BIT-exact under
    * any partitioning (the property that makes a multi-round training
    * run reproducible at 1000 executors). `n_members` rides along as
    * the per-cell mass — the emptiness/imbalance diagnostic a real
    * k-means driver checks each round.
    */
  def qKmeansStep(spark: SparkSession, d: String): DataFrame = {
    val assigned = ivfRanked(spark, d).filter(col("rn") === 1)
      .select(col("cid"), col("vec_id"), col("embedding"))
    val chunked = assigned
      .select(col("cid"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"),
        expr(s"vec_id DIV $CentroidChunk").as("chunk"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("vs"))
      .select(col("cid"), col("pos"), col("chunk"),
        expr("aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x.v AS DOUBLE))")
          .as("psum"),
        size(col("vs")).as("pn"))
    chunked
      .groupBy(col("cid"), col("pos"))
      .agg(sort_array(collect_list(struct(col("chunk"), col("psum")))).as("ps"),
        sum(col("pn")).as("n"))
      .select(col("cid"), col("pos"),
        (expr("aggregate(ps, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.psum)") /
          col("n")).as("c"),
        col("n").as("n_members"))
      .orderBy(col("cid"), col("pos"))
  }

  /** Embedding dimensionality of the fixture corpus (TESTDATA.md). */
  val EmbDim = 64

  /** Queries evaluated by [[qRecallEval]] (vec_ids 1..N). */
  val EvalQueries = 20

  /** Cut-off for [[qRecallEval]]'s recall@k. */
  val RecallK = 10

  /** q_recall_eval — the ANN EVALUATION HARNESS as a query: recall@k of
    * the banded sign-LSH candidate scheme against brute-force cosine
    * truth, per query, over a fixed eval set — the number that decides
    * whether an index's (bands, rows) geometry ships. An index you can't
    * measure is an index you can't tune; production ANN work is this
    * loop (change geometry → re-run recall eval) and SimilaritySpec's
    * recall properties only pin ONE query's floor — this pins the whole
    * eval-set distribution under the driver's hash gate.
    *
    * Plan: truth is the eval-subset × corpus cross join — ×|eval| row
    * growth, NOT all-pairs: the eval set is a constant (20 here, maybe
    * 10³ in production) so this is a broadcast-×-constant scan, the
    * honest cost of ground truth, run once per tuning round. Candidates
    * come from the SAME banded equi-join the production path uses
    * ([[bandCandidates]] — Σ bucket² work), both directions of each
    * undirected pair. Both sides rank with bounded per-query windows
    * (rn ≤ k over ≤ corpus rows per eval query; WindowGroupLimit
    * bounds the sort) and the hit count is a |eval|·k-row join.
    *
    * Determinism: cosines are the engine-wide VecDot left-fold contract,
    * ties broken by c_id; counts exact; recall = ONE pinned double
    * division by the constant k.
    */
  def qRecallEval(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, d)
    val evalQ = e.filter(col("vec_id").between(1, EvalQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val byCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val truth = corpus.crossJoin(broadcast(evalQ))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        cosinePre(col("ce"), col("qe"), col("cn"), col("qn")).as("cos"))
      .withColumn("rn", row_number().over(byCos))
      .filter(col("rn") <= RecallK).select(col("q_id"), col("c_id"))
    // The banded candidate set feeds BOTH the approx ranking and the
    // per-query candidate count. NOT cached: the duplicated subtrees sit
    // under IDENTICAL exchanges (the band self-join's shuffle), which
    // Spark's ReuseExchange dedups at runtime — measured, a cache here
    // only adds materialization overhead.
    val cand = bandCandidates(spark, d, NdBands, NdRows)
    val candBoth = cand.select(col("a_id").as("q_id"), col("b_id").as("c_id"))
      .union(cand.select(col("b_id").as("q_id"), col("a_id").as("c_id")))
      .filter(col("q_id").between(1, EvalQueries))
    val approx = candBoth
      .join(broadcast(evalQ), "q_id")
      .join(corpus, "c_id")
      .select(col("q_id"), col("c_id"),
        cosinePre(col("ce"), col("qe"), col("cn"), col("qn")).as("cos"))
      .withColumn("rn", row_number().over(byCos))
      .filter(col("rn") <= RecallK).select(col("q_id"), col("c_id"))
    val hits = truth.join(approx, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    val nCand = candBoth.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
    evalQ.select(col("q_id"))
      .join(nCand, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(RecallK.toDouble)).as("recall"))
      .orderBy(col("q_id"))
  }

  /** q_kmeans_sse — the clustering-quality readout on [[qKmeansStep]]'s
    * assignment: per cell, member count and the within-cluster sum of
    * squared euclidean distance to the cell's SEED centroid (the ivf
    * inverted file's cells), plus each cell's share of the total SSE —
    * the objective a k-means driver loop watches per round (monotone
    * decrease is the convergence signal; a cell with outsized SSE is the
    * one to split). [[qKmeansStep]] produces the next centroids; this
    * scores the current ones — together they are the full Lloyd loop
    * instrumentation.
    *
    * Determinism: per row, ‖x−c‖² = (x·x − 2·x·c) + c·c — one pinned
    * double chain of three codegen'd dot products. Across members the
    * double sum is order-DEPENDENT, so it folds with [[qCentroid]]'s
    * two-level chunked ordered fold (state per group bounded by
    * [[CentroidChunk]], never a cell's membership) — bit-exact under any
    * partitioning. Share = sse/total via one 1-row broadcast.
    */
  def qKmeansSse(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
    val cents = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val assigned = ivfRanked(spark, d).filter(col("rn") === 1)
      .select(col("cid"), col("vec_id"), col("embedding"))
      .join(broadcast(cents), "cid")
      .select(col("cid"), col("vec_id"),
        ((dotLtr(col("embedding"), col("embedding")) -
          lit(2.0) * dotLtr(col("embedding"), col("ce"))) +
          dotLtr(col("ce"), col("ce"))).as("sq"))
    val chunked = assigned
      .groupBy(col("cid"), expr(s"vec_id DIV $CentroidChunk").as("chunk"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("sq")))).as("vs"))
      .select(col("cid"), col("chunk"),
        expr("aggregate(vs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.sq)")
          .as("csum"),
        size(col("vs")).as("cn"))
    val perCell = graft.Tables.cacheForSelfJoin(
      chunked.groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("chunk"), col("csum")))).as("cs"),
          sum(col("cn")).as("n_members"))
        .select(col("cid"), col("n_members"),
          expr("aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.csum)")
            .as("sse")))
    val total = perCell
      .agg(sort_array(collect_list(struct(col("cid"), col("sse")))).as("ss"))
      .select(
        expr("aggregate(ss, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.sse)")
          .as("total_sse"))
    perCell.crossJoin(broadcast(total))
      .select(col("cid"), col("n_members"), col("sse"),
        (col("sse") / col("total_sse")).as("sse_share"))
      .orderBy(col("cid"))
  }

  /** Truncation width evaluated by [[qMatryoshka]] — the first quarter of
    * [[EmbDim]]: the standard Matryoshka serving question is "how much
    * recall does the 4× cheaper prefix keep?".
    */
  val MrlDim = 16

  /** q_matryoshka — truncated-embedding recall: for each eval query, how
    * many of its full-dimension cosine top-[[RecallK]] neighbors survive
    * when ranking by the FIRST [[MrlDim]] of [[EmbDim]] coordinates —
    * the Matryoshka-representation serving eval (prefix-truncated
    * vectors are the standard way to cut ANN memory/compute 4×; this
    * query is the number that decides whether the cut ships, exactly as
    * [[qRecallEval]] decides the LSH geometry).
    *
    * Plan: ONE corpus pass scores both cosines per (query, candidate)
    * row against the broadcast eval set (the truncated dot reuses the
    * sliced arrays in-row — no second scan), cached; the two rankings
    * are windows over the SAME query-partitioned relation; overlap is a
    * key-equi join of two k-row-per-query sets. The corpus×20 cross is
    * the documented bounded eval cost ([[qRecallEval]]'s stance: truth
    * is what you pay for a measurement, on an eval SAMPLE, never the
    * serving path). Ties break on c_id in both engines; cosine doubles
    * are the pinned left-to-right fold, bit-identical cross-engine.
    */
  def qMatryoshka(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, d)
    val evalQ = e.filter(col("vec_id").between(1, EvalQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val pairs = graft.Tables.cacheForSelfJoin(
      e.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(evalQ))
        .filter(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"),
          cosine(col("ce"), col("qe")).as("cos_full"),
          cosine(slice(col("ce"), 1, MrlDim), slice(col("qe"), 1, MrlDim))
            .as("cos_trunc")))
    val wFull = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_full").desc, col("c_id"))
    val wTrunc = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_trunc").desc, col("c_id"))
    val truth = pairs.withColumn("rn", row_number().over(wFull))
      .filter(col("rn") <= RecallK).select(col("q_id"), col("c_id"))
    val approx = pairs.withColumn("rn", row_number().over(wTrunc))
      .filter(col("rn") <= RecallK).select(col("q_id"), col("c_id"))
    val hits = truth.join(approx, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
    evalQ.select(col("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)).cast("double") /
          lit(RecallK.toDouble)).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Fixed-point scale for [[qPowerIter]]'s Gram accumulation: products
    * of embedding coords (|x| ≤ ~0.53 ⇒ |x·y| ≤ ~0.28) scale to ≤ 2.8e9
    * per row — exact BIGINT adds, order-independent under any
    * partitioning, the q_bootstrap_ci fixed-point contract. Width
    * budget: row sums must stay double-exact (< 2⁵³) for the normalize
    * step — u_i ≤ dim·N·0.28·scale ⇒ at this scale the cast is exact to
    * N ≈ 5·10⁵ vectors; beyond that a production run drops the scale a
    * decade per 10× corpus (the documented knob), long before the
    * BIGINT itself saturates.
    */
  val GramScale = 1.0e10

  /** q_power_iter — the dominant principal direction of the embedding
    * corpus: the d×d Gram matrix G = Σ x xᵀ computed DISTRIBUTED, then
    * one power-iteration step v = G·1 / ‖G·1‖ with its Rayleigh
    * quotient λ = vᵀGv — the building block of PCA/spectral embedding
    * quality checks ("how much of the corpus is one direction?" — a
    * collapsed embedding model shows λ ≈ trace).
    *
    * Plan — the two-scale shape that makes spectral work distributable:
    * ALL the data-volume work is the Gram accumulation, done by typed
    * `mapPartitions` with ONE d² long array per partition (an Expression
    * can't express a d²-cell accumulator — the Multimodal/TopKPerGroup
    * escape-hatch criterion) — no d²× row explosion (the naive
    * posexplode² pays ×4096 rows; here the fan-out happens in a CPU
    * register loop), shuffle volume = partitions × d² longs regardless
    * of corpus size. Everything after (row sums, normalize, matvec,
    * Rayleigh fold) runs on the d²-row cell relation — constant-sized at
    * any scale. Further Lloyd-style iterations = re-run the cheap tail
    * with v broadcast (the q_kmeans_step driver-loop contract).
    *
    * Determinism: fixed-point BIGINT Gram (floor(x·scale + 0.5) —
    * floor-plus-half, NOT round(): Java round half-up vs DuckDB
    * half-away-from-zero diverge on negative halves); u_i exact BIGINTs
    * cast double-exactly (width budget at [[GramScale]]); the norm and
    * Rayleigh sums are ORDERED folds (i, then (i,j)) with one pinned
    * parenthesization per term, replayed by the oracle's list_reduce.
    */
  def qPowerIter(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dim = EmbDim
    val partials = embeddings(spark, d).select(col("embedding"))
      .as[Array[Float]]
      .mapPartitions { it =>
        val acc = new Array[Long](dim * dim)
        it.foreach { x =>
          var i = 0
          while (i < dim) {
            val xi = x(i).toDouble
            var j = 0
            while (j < dim) {
              acc(i * dim + j) += math.floor(xi * x(j).toDouble * GramScale + 0.5).toLong
              j += 1
            }
            i += 1
          }
        }
        Iterator.single(acc)
      }
    // dim² rows, consumed by BOTH the u-fold and the Rayleigh quotient.
    // NOT cached: both consumers sit above the identical (i, j) agg
    // exchange, which ReuseExchange dedups at runtime — the corpus pass
    // runs once either way, and a cache only adds overhead (measured).
    val cells = partials
      .select(posexplode(col("value")).as(Seq("p", "gp")))
      .groupBy(expr(s"p DIV $dim + 1").as("i"), expr(s"p % $dim + 1").as("j"))
      .agg(sum(col("gp")).as("g"))
    val u = cells.groupBy(col("i")).agg(sum(col("g")).as("u"))
    val uReal = col("u").cast("double") / lit(GramScale)
    val nrm = u
      .agg(sort_array(collect_list(struct(col("i"),
        (uReal * uReal).as("sq")))).as("xs"))
      .select(sqrt(
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.sq)"))
        .as("nrm"))
    val v = u.crossJoin(broadcast(nrm))
      .select(col("i"), col("u"), (uReal / col("nrm")).as("v"))
    val lam = cells
      .join(broadcast(v.select(col("i"), col("v").as("vi"))), "i")
      .join(broadcast(v.select(col("i").as("j"), col("v").as("vj"))), "j")
      .select(col("i"), col("j"),
        ((col("vi") * (col("g").cast("double") / lit(GramScale))) * col("vj"))
          .as("term"))
      .agg(sort_array(collect_list(struct(col("i"), col("j"), col("term"))))
        .as("ts"))
      .select(
        expr("aggregate(ts, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)")
          .as("lambda"))
    v.crossJoin(broadcast(lam))
      .select(col("i"), col("u"), col("v"), col("lambda"))
      .orderBy(col("i"))
  }

  /** Neighbors consulted by [[qKnnClassify]]. */
  val KnnK = 5

  /** q_knn_classify — k-NN majority-vote label prediction over the
    * [[EvalQueries]] eval set: each query's label predicted from its 5
    * nearest neighbors by cosine (self excluded), scored against the
    * true label — weak supervision / label-propagation's primitive, and
    * the "is the embedding space label-coherent?" diagnostic (a strong
    * space predicts labels from neighborhoods; a collapsed one doesn't).
    *
    * Plan: the [[qRecallEval]] skeleton — eval-subset × corpus broadcast
    * cross join (constant ×|eval| growth), bounded rn ≤ k windows —
    * then vote counting and winner selection over |eval|·k rows.
    *
    * Determinism: neighbor ranking ties by c_id; the vote winner is
    * rank-selected with ties by SMALLEST label (the [[Analytics.qMode]]
    * deterministic-mode contract — built-in mode() is arrival-order
    * nondeterministic in both engines and ungateable).
    */
  def qKnnClassify(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, d)
    val evalQ = e.filter(col("vec_id").between(1, EvalQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"), col("label").as("true_label"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"), col("label").as("c_label"))
    val byCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val byVotes = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("c_label"))
    corpus.crossJoin(broadcast(evalQ))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("true_label"), col("c_id"), col("c_label"),
        cosinePre(col("ce"), col("qe"), col("cn"), col("qn")).as("cos"))
      .withColumn("rn", row_number().over(byCos))
      .filter(col("rn") <= KnnK)
      .groupBy(col("q_id"), col("true_label"), col("c_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(byVotes))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("c_label").as("pred_label"), col("votes").as("n_votes"),
        (col("true_label") === col("c_label")).cast("int").as("correct"))
      .orderBy(col("q_id"))
  }

  /** q_vec_minmax — per-dimension min/max over the embedding corpus: the
    * calibration pass every vector-quantization scheme (int8 scalar
    * quantization, PQ codebook training) runs before compressing an ANN
    * index. `posexplode` multiplies rows ×dim, but the aggregation is
    * map-side partial, so each input partition contributes at most one
    * (min, max, n) triple PER DIMENSION to the shuffle — dims × parts
    * rows in flight, never rows × dims. Min/max of floats are exact
    * element selections (no arithmetic), so the gate is trivial;
    * count-per-dimension doubles as a ragged-vector tripwire (every
    * dimension must appear exactly |corpus| times).
    */
  def qVecMinmax(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("n"))
      .orderBy(col("pos"))

  /** q_label_entropy — class-balance diagnostic: Shannon entropy (nats)
    * of the label distribution, the one-number skew summary a training
    * pipeline checks before sampling (H = ln k ⇔ perfectly balanced;
    * H → 0 ⇔ collapsed). Two aggregate-sized steps: per-label counts
    * (map-side partial), then ONE output row. Determinism: each label's
    * term −p·ln p uses the 1-row-broadcast total and [[graft.operators
    * .TextOps]]'s libm-exact ln (via the shared codegen expression), and
    * the terms are summed by an ORDERED fold (sort by label, left fold
    * from an explicit 0.0) — a plain `sum(double)` would be
    * partitioning-dependent in the last ulp; the oracle replays the
    * identical fold with `list_reduce(list(... ORDER BY label))`.
    */
  def qLabelEntropy(spark: SparkSession, d: String): DataFrame = {
    def lnLibm(c: Column) =
      org.apache.spark.sql.GraftSqlBridge.column(graft.functions.LnLibm(
        org.apache.spark.sql.GraftSqlBridge.expression(c)))
    val counts = embeddings(spark, d)
      .groupBy(col("label")).agg(count(lit(1)).as("c"))
    val n = counts.agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts.crossJoin(broadcast(n))
      .select(col("label"), (-(p * lnLibm(p))).as("term"))
      .agg(count(lit(1)).as("n_labels"),
        sort_array(collect_list(struct(col("label"), col("term")))).as("lt"))
      .select(col("n_labels"),
        expr("aggregate(lt, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)")
          .as("entropy"))
  }

  /** q_vec_quantize — SQ8 scalar quantization of the embedding table:
    * each dimension min/max-normalized to an 8-bit code (the standard
    * 4×-memory ANN serving compression — FAISS's SQ8 / Milvus's
    * quantizer), emitted with the per-vector reconstruction MSE so the
    * accuracy cost of the compression ships WITH the codes. Completes the
    * vector-index toolchain: IVF partitions (E21), PQ subquantizes
    * (E21b), SQ8 is the cheap-but-uniform third option.
    *
    * Plan: per-dimension min/max via ONE posexplode aggregate (64 rows),
    * collapsed to two 64-long arrays in a 1-row broadcast (the
    * [[qZorder]]-style stats stance: no driver collect); each vector then
    * quantizes IN the scan projection — zero shuffles over the big table.
    * Codes are exact integers (the only double chain before floor is
    * mirrored verbatim in the oracle); the MSE is an index-ORDERED array
    * fold, partitioning-independent by construction. A constant
    * dimension (range 0) maps to code 0 / error 0 on both engines —
    * guarded, not assumed away.
    *
    * The gated output serializes the 64 int codes as one CSV string
    * (`codes_csv`) rather than an `array<int>` column: the driver's
    * pandas comparator cannot sort/hash list-valued cells, so every
    * gated query emits scalar columns only (same contract as
    * [[qPqEncode]]'s exploded rows — CSV keeps this one at 500 rows).
    */
  /** Per-dimension SQ8 training stats as ONE broadcastable row:
    * `mins[i]` and `rngs[i] = max−min` over the corpus, both 64-long
    * arrays — shared by [[qVecQuantize]] (encode) and [[qAnnSq8]]
    * (ADC search).
    */
  private def sq8Stats(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(sort_array(collect_list(
        struct(col("pos"), col("mn"), col("mx")))).as("sd"))
      .select(
        expr("transform(sd, e -> CAST(e.mn AS DOUBLE))").as("mins"),
        expr("transform(sd, e -> CAST(e.mx AS DOUBLE) - CAST(e.mn AS DOUBLE))")
          .as("rngs"))

  def qVecQuantize(spark: SparkSession, d: String): DataFrame = {
    val stats = sq8Stats(spark, d)
    embeddings(spark, d)
      .crossJoin(broadcast(stats))
      .select(col("vec_id"), col("embedding"), col("mins"), col("rngs"),
        expr("transform(embedding, (x, i) -> CASE WHEN rngs[i] > 0.0D" +
          " THEN CAST(floor((CAST(x AS DOUBLE) - mins[i]) * 255.0 / rngs[i]" +
          " + 0.5) AS INT) ELSE 0 END)").as("codes"))
      .select(col("vec_id"),
        expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')")
          .as("codes_csv"),
        (expr("aggregate(transform(embedding, (x, i) -> CASE WHEN" +
          " rngs[i] > 0.0D THEN CAST(x AS DOUBLE) - (mins[i] +" +
          " CAST(codes[i] AS DOUBLE) * rngs[i] / 255.0) ELSE 0.0D END)," +
          " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e * e)") /
          expr("CAST(size(embedding) AS DOUBLE)")).as("mse"))
      .orderBy(col("vec_id"))
  }

  /** q_ann_sq8 — asymmetric-distance (ADC) search over the SQ8 codes:
    * the query half of scalar quantization, completing SQ8 the way
    * [[qAnnPq]] completes PQ. The query vector (vec_id 0, the
    * [[qCosineTopk]] convention) stays exact; every stored vector is
    * scored THROUGH its 8-bit codes — approximate squared L2 =
    * Σᵢ (q[i] − recon(code[i]))², recon(c) = mins[i] + c·rngs[i]/255.
    *
    * The per-dim ADC lookup table is ALGEBRAICALLY FOLDED into the scan
    * projection: SQ8's LUT entry for (dim i, code c) is affine in c, so
    * instead of materializing the 64×256 table and exploding the corpus
    * ×64 to join it (the [[qAnnPq]] shape — right for PQ, whose codeword
    * table is irreducible), the lookup inlines as two fused multiply-adds
    * per dim inside whole-stage codegen. Zero corpus shuffle: the stats
    * row and the query row broadcast, quantize + score + per-vector fold
    * all run in the scan stage, and the top-10 is a
    * TakeOrderedAndProject heap — at 100 TB this is one pass over the
    * code table with two 1-row broadcasts, the cheapest possible serving
    * scan. Determinism: the ONLY float chain is the index-ordered
    * `aggregate` fold over dims (mirrored stepwise by the oracle), and
    * encode reuses [[qVecQuantize]]'s exact-integer code chain.
    */
  def qAnnSq8(spark: SparkSession, d: String): DataFrame = {
    val qv = embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    embeddings(spark, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(sq8Stats(spark, d)))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("qe"), col("mins"), col("rngs"),
        expr("transform(embedding, (x, i) -> CASE WHEN rngs[i] > 0.0D" +
          " THEN CAST(floor((CAST(x AS DOUBLE) - mins[i]) * 255.0 / rngs[i]" +
          " + 0.5) AS INT) ELSE 0 END)").as("codes"))
      .select(col("vec_id"),
        expr("aggregate(transform(codes, (c, i) -> CAST(qe[i] AS DOUBLE)" +
          " - (mins[i] + CAST(c AS DOUBLE) * rngs[i] / 255.0))," +
          " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e * e)").as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(10)
  }

  /** q_ann_ivf_pq — the complete IVF+PQ serving path in ONE query: the
    * coarse quantizer prunes (query assigned to its nprobe=2 nearest of
    * the 8 IVF cells, only those cells' members survive), then the fine
    * quantizer scores the survivors through their PQ codes via the
    * broadcast ADC lookup table — [[qAnnIvf2]] picks the cells,
    * [[qAnnPq]] does the arithmetic, this composes them into the
    * billion-vector architecture every production vector index actually
    * runs (FAISS IVFPQ): prune first, then 8 adds per candidate.
    *
    * Plan: cell assignment and probe selection ride one broadcast
    * centroid cross (bounded ×8); the probed-cell filter is a broadcast
    * semi-structure (2 cells); candidate codes join the 32-row broadcast
    * LUT map-side; ONE hash aggregate per candidate folds the M terms in
    * subspace order; top-10 via TakeOrderedAndProject. At 100 TB the
    * codes table is PARTITIONED BY cell id, so the probe is partition
    * pruning — the scan reads nprobe/ncells of the index, and the
    * per-candidate cost is 8 LUT adds: both pruning levers compose.
    * Determinism: every distance is the pinned `(x·x − 2·x·c) + c·c`
    * chain over [[dotLtr]] folds, the ADC sum is subspace-ordered, ties
    * break on ids — bit-exact vs the oracle.
    */
  def qAnnIvfPq(spark: SparkSession, d: String): DataFrame = {
    val ranked = ivfRanked(spark, d)
    val qCells = ranked.filter(col("vec_id") === 0 && col("rn") <= 2)
      .select(col("cid").as("qcid"))
    // Self excluded from the candidate set (the [[qAnnSq8]] convention):
    // the query vector lands in its own probed cell at near-zero ADC
    // distance and would occupy a top-10 slot — a serving path returns
    // NEIGHBORS, not the query. [[qAnnIvf]] keeps its self-hit row by
    // documented contract (it is an index READOUT, not a serving query).
    val candidates = ranked.filter(col("rn") === 1)
      .filter(col("vec_id") =!= 0)
      .join(broadcast(qCells), col("cid") === col("qcid"))
      .select(col("vec_id"), col("cid"))
    val e = embeddings(spark, d)
    val codebook = pqSubbed(e.filter(col("vec_id").between(1, PqK)))
      .select(col("vec_id").as("k"), col("s"), col("sv").as("cv"))
    val lut = pqSubbed(e.filter(col("vec_id") === 0))
      .join(codebook, "s")
      .select(col("s"), col("k"),
        ((dotLtr(col("sv"), col("sv")) -
          lit(2.0) * dotLtr(col("sv"), col("cv"))) +
          dotLtr(col("cv"), col("cv"))).as("d"))
    pqCodes(spark, d)
      .select(col("vec_id"), col("s"), col("k"))
      .join(candidates, "vec_id")
      .join(broadcast(lut), Seq("s", "k"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sort_array(collect_list(struct(col("s"), col("d")))).as("ds"))
      .select(col("vec_id"), col("cid"),
        expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.d)")
          .as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(10)
  }

  /** q_ann_cow — the IVF+PQ index LIVING IN THE LAKEHOUSE
    * (E238's documented 100 TB layout, now actually shipped): the PQ
    * codes pack into ONE BIGINT per vector (8 subspaces × 2 bits) and
    * land in a catalog table `PARTITIONED BY (cid)` — so the serving
    * query's nprobe=2 cell filter rides PLAN-TIME PARTITION PRUNING
    * (the scan plans 2 of 8 partitions' files; CowCatalogSpec pins the
    * count from the plan description) before the broadcast-LUT ADC
    * rerank touches a row. Same output contract as [[qAnnIvfPq]] —
    * the storage layout must be invisible to results — so the oracle
    * is shared verbatim (pack/unpack is exact integer work; ADC sums
    * fold in subspace order, bit-identical).
    */
  /** The batch (vec_id, cid, code) index build shared by [[qAnnCow]]
    * (which appends it wholesale) and the streaming-maintenance spec
    * (which uses it as the rebuild reference): IVF assignment (rn=1,
    * self excluded) joined to the packed per-vector PQ code — one BIGINT
    * per vector, subcode k_s in bits [2s, 2s+2).
    */
  private[graft] def annCodesPacked(spark: SparkSession, d: String): DataFrame = {
    val assigned = ivfRanked(spark, d).filter(col("rn") === 1)
      .filter(col("vec_id") =!= 0) // serving path: neighbors, not self
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
    val packed = pqCodes(spark, d)
      .groupBy(col("vec_id"))
      .agg(sum(expr("(CAST(k AS BIGINT) - 1) * CAST(pow(4, s) AS BIGINT)"))
        .as("code"))
    assigned.join(packed, "vec_id")
      .select(col("vec_id"), col("cid"), col("code"))
  }

  /** The IVF+PQ SERVING QUERY over a catalog codes table — shared
    * verbatim by [[qAnnCow]] (batch-built index) and [[qAnnStream]]
    * (stream-maintained index), because the maintenance path must be
    * invisible to rankings: probe cells resolve once on the driver
    * (2 longs), ride plan-time partition pruning into the scan, codes
    * unpack to subcodes, and the broadcast ADC LUT folds in subspace
    * order to the top-10.
    */
  private[graft] def annCowProbe(spark: SparkSession, d: String,
                                 tbl: String): DataFrame = {
    val qc = ivfRanked(spark, d)
      .filter(col("vec_id") === 0 && col("rn") <= 2)
      .select(col("cid")).collect().map(_.getLong(0).toString)
    val e = embeddings(spark, d)
    val codebook = pqSubbed(e.filter(col("vec_id").between(1, PqK)))
      .select(col("vec_id").as("k"), col("s"), col("sv").as("cv"))
    val lut = pqSubbed(e.filter(col("vec_id") === 0))
      .join(codebook, "s")
      .select(col("s"), col("k"),
        ((dotLtr(col("sv"), col("sv")) -
          lit(2.0) * dotLtr(col("sv"), col("cv"))) +
          dotLtr(col("cv"), col("cv"))).as("d"))
    val subs = (0 until PqM).map(lit(_))
    // The cell filter is a partition predicate: the scan below plans
    // only the probed cells' files (spec-pinned "2 of 8 partitions").
    spark.sql(
      s"SELECT vec_id, cid, code FROM $tbl WHERE cid IN (${qc.mkString(", ")})")
      .select(col("vec_id"), col("cid"),
        explode(array(subs: _*)).as("s"), col("code"))
      .select(col("vec_id"), col("cid"), col("s"),
        (expr("code DIV CAST(pow(4, s) AS BIGINT)").bitwiseAND(lit(3L)) + 1)
          .cast("int").as("k"))
      .join(broadcast(lut), Seq("s", "k"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sort_array(collect_list(struct(col("s"), col("d")))).as("ds"))
      .select(col("vec_id"), col("cid"),
        expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.d)")
          .as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(10)
  }

  def qAnnCow(spark: SparkSession, d: String): DataFrame = {
    graft.operators.RowLevelOps.ensureCatalog(spark)
    val tbl = "graft_cow.ops.annidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    spark.sql(s"CREATE TABLE $tbl (vec_id BIGINT, cid BIGINT, " +
      "code BIGINT) PARTITIONED BY (cid)")
    annCodesPacked(spark, d).writeTo(tbl).append()
    annCowProbe(spark, d, tbl)
  }

  /** The FROZEN quantizers as one broadcastable row — the 8 IVF
    * centroids and the PqM×PqK PQ codebook, exactly the "train offline,
    * encode online" split every production vector index runs: the
    * streaming encoder must assign cells and codes with the SAME
    * geometry the batch build used, or the index drifts.
    */
  private[graft] def annQuantizers(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
    val cents = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))
    val cb = pqSubbed(e.filter(col("vec_id").between(1, PqK)))
      .select(col("s"), col("vec_id").as("k"), col("sv").as("cv"))
      .agg(sort_array(collect_list(struct(col("s"), col("k"), col("cv")))).as("cb"))
    cents.crossJoin(cb)
  }

  /** PER-ROW cell assignment against the broadcast `cents` array —
    * [[ivfRanked]]'s (ccos desc, cid asc) rank-1, restated as an array
    * argmin so a STREAMING row can encode without a window or a second
    * stateful operator: `array_min` over `struct(-ccos, cid)` compares
    * lexicographically, and `negate` (not `0.0 - x`) preserves the
    * -0.0/0.0 ordering the batch window sees, so the assignment is
    * bit-identical to the batch build's on the same floats.
    */
  private[graft] def encodeCid: Column =
    array_min(transform(col("cents"), c =>
      struct(negate(cosine(col("embedding"), c.getField("ce"))).as("nc"),
             c.getField("cid").as("cid")))).getField("cid")

  /** PER-ROW packed PQ code against the broadcast `cb` array —
    * [[pqCodes]]'s (dist asc, k asc) rank-1 per subspace plus
    * [[annCodesPacked]]'s bit-packing, as nested array ops: per
    * subspace, argmin over the identical `(x·x − 2·x·c) + c·c` distance
    * chain (same [[dotLtr]] bits, interpreted and codegen'd evaluation
    * agree by construction), then Σ (k−1)·4^s as exact longs.
    */
  private[graft] def encodeCode: Column = {
    val subCodes = transform(sequence(lit(0), lit(PqM - 1)), s => {
      val sv = slice(col("embedding"), s * lit(PqDim) + lit(1), lit(PqDim))
      val best = array_min(transform(
        filter(col("cb"), e => e.getField("s") === s),
        e => {
          val cv = e.getField("cv")
          struct(((dotLtr(sv, sv) - lit(2.0) * dotLtr(sv, cv)) +
            dotLtr(cv, cv)).as("dist"), e.getField("k").as("k"))
        }))
      (best.getField("k") - lit(1L)) *
        pow(lit(4.0), s.cast("double")).cast("long")
    })
    aggregate(subCodes, lit(0L), (acc, x) => acc + x)
  }

  /** q_ann_stream — STREAMING MAINTENANCE OF THE ANN INDEX (the
    * round-16 verdict brief's #3, composing the round's own pieces):
    * embeddings arrive as APPEND commits on an upstream catalog table
    * (floats CSV-encoded — `Float.toString`/`parseFloat` round-trip
    * exactly, so the wire format costs zero bits), stream out through
    * the table's CHANGE FEED (`readStream.table(src.changes)`), encode
    * PER ROW against the frozen broadcast quantizers ([[encodeCid]] /
    * [[encodeCode]] — no window, no second stateful op), reduce to
    * last-commit-wins per key (`max_by` over `_commit_version` — a
    * RE-EMBEDDED vector supersedes its stale code under any batch
    * slicing), and land in the [[qAnnCow]] codes table through the
    * NATIVE UPSERT SINK — each epoch one atomic commit of insert files
    * plus an equality-delete entry, zero index reads. The scripted
    * ingest re-embeds every 7th vector (stale values first, corrected
    * later), so the upsert path provably fires; after the drain the
    * probe ([[annCowProbe]], partition-pruned, shared verbatim) must
    * BIT-MATCH the from-scratch batch rebuild — the [[qAnnIvfPq]]
    * oracle, reused. At 100 TB: the index updates in O(new vectors) per
    * epoch while serving stays partition-pruned — an index you never
    * rebuild. CowCatalogSpec pins mid-stream epoch atomicity (a probe
    * between drains sees complete epochs only, each epoch exactly one
    * version) and the stale→corrected supersede.
    */
  def qAnnStream(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    graft.operators.RowLevelOps.ensureCatalog(spark)
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = s"graft_cow.ops.annsrc_$sfx"
    val idx = s"graft_cow.ops.annstr_$sfx"
    spark.sql(s"CREATE TABLE $src (vec_id BIGINT, emb_csv STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $idx (vec_id BIGINT NOT NULL, cid BIGINT, " +
      "code BIGINT) PARTITIONED BY (cid) " +
      "TBLPROPERTIES ('graft.mode' = 'mor', 'graft.delete-key' = 'vec_id')")
    val e = embeddings(spark, d).filter(col("vec_id") =!= 0)
    val csv = e.select(col("vec_id"),
      expr("array_join(transform(embedding, x -> CAST(x AS STRING)), ',')")
        .as("emb_csv"))
    val staleCsv = e.select(col("vec_id"),
      expr("array_join(transform(reverse(embedding), x -> CAST(x AS STRING)), ',')")
        .as("emb_csv"))
    // Commit 1: the first wave, every 7th vector STALE (reversed dims).
    csv.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 =!= 3)
      .unionAll(staleCsv.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 3))
      .writeTo(src).append()
    // Commit 2: the re-embeds (corrected values for the stale subset).
    csv.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 3)
      .writeTo(src).append()
    // Commit 3: the late wave.
    csv.filter(col("vec_id") % 3 === 0).writeTo(src).append()
    val ck = java.nio.file.Files.createTempDirectory("annstream_ck_").toString
    // The checkpoint is per-run scratch: drop it after the drain (Bench
    // runs each query twice and the stress sweep at ×3/×10/×40 —
    // leaving them would accumulate in /tmp; round-17 ADVICE).
    try annStreamDrain(spark, d, src, idx, ck)
    finally dropCheckpoint(ck)
    annCowProbe(spark, d, idx)
  }

  /** q_ann_gc — DELETE PROPAGATION into the ANN index (the third leg of
    * index maintenance after [[qAnnStream]]'s inserts and re-embeds —
    * the right-to-erasure path every production corpus eventually
    * runs): an upstream MOR DELETE surfaces as change-feed delete
    * records, and the maintenance loop retires those vectors from the
    * serving index — per batch, the NET per-key action ([[
    * graft.streaming.StreamOps.applyCdcBatch]]'s commit-version
    * ordering) drives ONE keyed equality-delete COMMIT (the E367/E358
    * metadata delete as a direct store call: O(keys) into a parquet
    * delete file, zero index files read, zero SQL text) plus
    * one append of re-encoded inserts — delete-then-insert on a keyed
    * table IS upsert, so a replayed batch converges (at-least-once
    * foreachBatch turns exactly-once). The probe must bit-match the
    * batch rebuild over the SURVIVING corpus: erased vectors gone from
    * rankings, frozen quantizers untouched (a deleted vector may have
    * trained a centroid — training artifacts outlive their sources, the
    * standard frozen-quantizer contract). At 100 TB: erasure costs
    * O(erased keys), not an index rebuild.
    */
  def qAnnGc(spark: SparkSession, d: String): DataFrame = {
    graft.operators.RowLevelOps.ensureCatalog(spark)
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = s"graft_cow.ops.anngcsrc_$sfx"
    val idx = s"graft_cow.ops.anngc_$sfx"
    spark.sql(s"CREATE TABLE $src (vec_id BIGINT, emb_csv STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $idx (vec_id BIGINT NOT NULL, cid BIGINT, " +
      "code BIGINT) PARTITIONED BY (cid) " +
      "TBLPROPERTIES ('graft.mode' = 'mor', 'graft.delete-key' = 'vec_id')")
    // Commit 1: the whole corpus; commit 2: the erasure request.
    embeddings(spark, d).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        expr("array_join(transform(embedding, x -> CAST(x AS STRING)), ',')")
          .as("emb_csv"))
      .writeTo(src).append()
    spark.sql(s"DELETE FROM $src WHERE vec_id % 11 = 5")
    val ck = java.nio.file.Files.createTempDirectory("anngc_ck_").toString
    try annGcDrain(spark, d, src, idx, ck)
    finally dropCheckpoint(ck)
    annCowProbe(spark, d, idx)
  }

  /** Remove a drained checkpoint directory — per-run scratch whose
    * stream has terminated (AvailableNow); round-17 ADVICE.
    */
  private def dropCheckpoint(ck: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete(): Unit
    }
    rec(new java.io.File(ck))
  }

  /** One checkpointed AvailableNow drain of the [[qAnnGc]] maintenance
    * loop (foreachBatch, because retiring keys needs a DELETE the
    * append-shaped upsert sink cannot express). Split out for the spec.
    */
  private[graft] def annGcDrain(spark: SparkSession, d: String,
                                src: String, idx: String,
                                ck: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val quant = annQuantizers(spark, d)
    val q = spark.readStream.table(s"$src.changes")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(annGcApply(idx, quant) _)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** One GC micro-batch applied to the index: net action per key by
    * (_commit_version, insert-over-delete) — every touched key leaves
    * the index via ONE keyed equality-delete COMMIT (a re-embed's stale
    * code dies the same way an erasure does), then the batch's inserts
    * re-encode and append. The touched-key list rides the driver like
    * the equality-delete entry it becomes — O(churn keys), never a
    * scan, never SQL text.
    */
  private def annGcApply(idx: String, quant: DataFrame)(
      batch: DataFrame, batchId: Long): Unit = {
    val net = batch
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("_change_type"), col("emb_csv")),
        struct(col("_commit_version"),
          when(col("_change_type") === "insert", 1).otherwise(0))).as("b"))
      .select(col("vec_id"), col("b._change_type").as("act"),
        col("b.emb_csv").as("emb_csv"))
      .persist()
    try {
      val keys = net.select(col("vec_id")).collect().map(_.getLong(0))
      val parts = idx.split("\\.")
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
        parts.slice(1, parts.length - 1), parts.last)
      // The seed wave lands on an EMPTY index: its delete entry would
      // retire instantly at publish — skip the provably no-op commit.
      // On a REPLAYED seed batch the rows exist, the index is
      // non-empty, and the retire runs — idempotency is preserved,
      // only the no-op is skipped.
      val idxNonEmpty =
        graft.sources.CowStore.get(parts(0), ident).exists(_.files.nonEmpty)
      if (keys.nonEmpty && idxNonEmpty)
        // DIRECT equality-delete commit (round-17 ADVICE / verdict #5):
        // the keys become one parquet delete file plus an O(1) manifest
        // reference — no `IN (…)` SQL text, so a ×40 erasure batch no
        // longer pays statement-parse time proportional to churn (the
        // old literal list measured ~10 s of parse at that stress
        // point) and can never hit parser/driver statement limits.
        graft.sources.CowStore.commitDeltaEq(parts(0), ident,
          Seq.empty, Map.empty, keys.map(_.toString).toVector)
      net.filter(col("act") === "insert")
        .select(col("vec_id"),
          expr("transform(split(emb_csv, ','), x -> CAST(x AS FLOAT))")
            .as("embedding"))
        .crossJoin(broadcast(quant))
        .select(col("vec_id"), encodeCid.as("cid"), encodeCode.as("code"))
        .writeTo(idx).append()
    } finally { net.unpersist(): Unit }
  }

  /** One checkpointed AvailableNow drain of the [[qAnnStream]]
    * maintenance pipeline (split out so the spec can drain commit by
    * commit and probe BETWEEN epochs): change feed → per-row encode
    * against the frozen quantizers → last-commit-wins per key → native
    * upsert sink. Resumable: the checkpoint carries both the feed
    * offset and the per-key reduction state.
    */
  private[graft] def annStreamDrain(spark: SparkSession, d: String,
                                    src: String, idx: String,
                                    ck: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val stream = spark.readStream.table(s"$src.changes")
      .filter(col("_change_type") === "insert")
      .select(col("vec_id"),
        expr("transform(split(emb_csv, ','), x -> CAST(x AS FLOAT))")
          .as("embedding"),
        col("_commit_version"))
      .crossJoin(annQuantizers(spark, d))
      .select(col("vec_id"), encodeCid.as("cid"), encodeCode.as("code"),
        col("_commit_version"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("code")), col("_commit_version"))
        .as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"), col("b.code").as("code"))
    val q = stream.writeStream.option("checkpointLocation", ck)
      .option("upsert", "true").outputMode("update")
      .trigger(Trigger.AvailableNow()).toTable(idx)
    q.awaitTermination()
  }

  /** q_sq8_recall — recall@[[RecallK]] of [[qAnnSq8]]'s quantized ranking
    * against the exact squared-L2 ranking, per eval query (vec_ids
    * 1..[[EvalQueries]], the [[qRecallEval]] convention): the accuracy
    * cost of the SQ8 compression measured the way [[qRecallEval]] prices
    * LSH geometry and [[qMatryoshka]] prices prefix truncation — the
    * number that decides whether 4× memory compression ships.
    *
    * Plan: ONE corpus pass scores BOTH distances per (query, candidate)
    * row against the broadcast eval set and broadcast stats (exact L2
    * and through-the-codes L2 computed side by side from the same row —
    * no second corpus scan), cached; both rankings are windows over the
    * SAME query-partitioned relation (one shuffle pays both sorts);
    * recall is the equi-join of two K-row-per-query sets. The corpus×20
    * cross is the documented bounded eval cost of ground truth.
    * Determinism: both folds are index-ordered, rankings tie-break on
    * c_id, recall is one exact count over [[RecallK]].
    */
  def qSq8Recall(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, d)
    val evalQ = e.filter(col("vec_id").between(1, EvalQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val scored = graft.Tables.cacheForSelfJoin(
      e.crossJoin(broadcast(sq8Stats(spark, d)))
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("mins"), col("rngs"),
          expr("transform(embedding, (x, i) -> CASE WHEN rngs[i] > 0.0D" +
            " THEN CAST(floor((CAST(x AS DOUBLE) - mins[i]) * 255.0 /" +
            " rngs[i] + 0.5) AS INT) ELSE 0 END)").as("codes"))
        .crossJoin(broadcast(evalQ))
        .filter(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"),
          expr("aggregate(transform(ce, (x, i) -> CAST(qe[i] AS DOUBLE)" +
            " - CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE)," +
            " (acc, e) -> acc + e * e)").as("d_exact"),
          expr("aggregate(transform(codes, (c, i) -> CAST(qe[i] AS DOUBLE)" +
            " - (mins[i] + CAST(c AS DOUBLE) * rngs[i] / 255.0))," +
            " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e * e)").as("d_adc")))
    val byExact = Window.partitionBy(col("q_id"))
      .orderBy(col("d_exact"), col("c_id"))
    val byAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("d_adc"), col("c_id"))
    val truth = scored.withColumn("rn", row_number().over(byExact))
      .filter(col("rn") <= RecallK).select(col("q_id"), col("c_id"))
    val approx = scored.withColumn("rn", row_number().over(byAdc))
      .filter(col("rn") <= RecallK).select(col("q_id"), col("c_id"))
    val hits = truth.join(approx, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    evalQ.select(col("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(RecallK.toDouble)).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Within-cell cosine bar for [[qSemanticDedup]]. 0.3 matches
    * [[qCosineNeardup]]'s bar on this synthetic fixture (near-random
    * embeddings: the within-cell cosine p99 is ~0.33, max ~0.49, so the
    * bar yields a real-but-sparse drop set); production text embeddings
    * run ~0.95+ — the bar is the tunable, the plan is the point.
    */
  val SemDedupTau = 0.3

  /** q_semantic_dedup — SemDeDup (Abbas et al. 2023), the embedding-space
    * dedup policy LLM curation runs AFTER lexical dedup: cluster the
    * embeddings, and within each cluster drop every vector that is
    * cosine-≥-τ to a LOWER-id member (keep-min, [[graft.operators
    * .TextOps]]' doc-dedup convention). Lexical MinHash (E17) catches
    * copies; this catches paraphrases and re-renderings that share no
    * n-grams. Output: every vector with its cell and keep verdict.
    *
    * Plan: cell assignment rides the broadcast centroid cross (the
    * [[qAnnIvf]] inverted file — deterministic stand-in for trained
    * k-means); the quadratic cosine scan is WITHIN-CELL only — that
    * locality is SemDeDup's entire design (cluster first so the
    * pairwise stage is Σ cell², never corpus²); norms are computed once
    * per vector, not per pair. At 100 TB: k grows with the corpus so
    * cells stay ε-sized (paper: 50k cells for 5B images) and each
    * cell's pair scan is one partition-local task after a single
    * cell-keyed shuffle — embarrassingly parallel.
    */
  def qSemanticDedup(spark: SparkSession, d: String): DataFrame = {
    val asg = graft.Tables.cacheForSelfJoin(
      ivfRanked(spark, d).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"),
          norm(col("embedding")).as("nn")))
    val dropped = asg.alias("a")
      .join(asg.alias("b"),
        col("a.cid") === col("b.cid") && col("b.vec_id") < col("a.vec_id"))
      .filter(cosinePre(col("a.embedding"), col("b.embedding"),
        col("a.nn"), col("b.nn")) >= SemDedupTau)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("drp", lit(1))
    asg.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("drp").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** q_dedup_stages — the COMPLETE dedup funnel with stage attribution,
    * one row per document: exact (byte-identical text, md5 keep-min) →
    * lexical (MinHash connected components, [[graft.operators.TextOps]]'
    * E17 labels) → semantic ([[qSemanticDedup]]'s within-cell cosine
    * keep-min), each doc stamped with the FIRST stage that would drop it
    * — the per-stage attribution a curation report needs ("how much did
    * each stage buy us") and the end-to-end composition of the three
    * dedup modalities this engine implements.
    *
    * Contract notes: the three drop flags are computed INDEPENDENTLY on
    * the full corpus and attributed first-match (exact < lexical <
    * semantic) — deterministic and exactly mirrorable by the oracle; a
    * production pipeline that re-runs each stage on the previous stage's
    * survivors changes counts only when a later stage's keep-min anchor
    * was itself dropped earlier, and keeps this query's plan shape.
    * Docs without an embedding row cannot be semantically deduped and
    * are never attributed to that stage (left join, null ⇒ false).
    *
    * Plan: exact = one md5 hash-agg + broadcast-able keep-min join-back;
    * lexical rides the session-pinned edge labels; semantic reuses the
    * within-cell scan; final assembly is three doc-keyed equi-joins of
    * doc-sized flag relations.
    */
  def qDedupStages(spark: SparkSession, d: String): DataFrame = {
    val docs = documents(spark, d)
    val exact = graft.Tables.cacheForSelfJoin(
      docs.select(col("doc_id"), md5(col("text")).as("fp")))
    val exactFlag = exact
      .join(exact.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id")),
        "fp")
      .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("exact_drop"))
    val lexFlag = TextOps.qDedupGroups(spark, d)
      .select(col("doc_id"), (col("canon_id") =!= col("doc_id")).as("lex_drop"))
    val semFlag = qSemanticDedup(spark, d)
      .select(col("vec_id").as("doc_id"), (!col("kept")).as("sem_drop"))
    exactFlag
      .join(lexFlag, "doc_id")
      .join(semFlag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_drop"), "exact")
          .when(col("lex_drop"), "minhash")
          .when(coalesce(col("sem_drop"), lit(false)), "semantic")
          .otherwise("kept").as("stage"),
        (!(col("exact_drop") || col("lex_drop") ||
          coalesce(col("sem_drop"), lit(false)))).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Shortlist size for [[qAnnRefine]]'s first stage. */
  val RefineShortlist = 50

  /** q_ann_refine — the TWO-STAGE serving path every production vector
    * store runs (FAISS's refine wrapper, DiskANN's PQ-then-full-precision
    * rerank): stage 1 scores the WHOLE corpus through its SQ8 codes (the
    * [[qAnnSq8]] ADC scan — broadcast stats + broadcast query, zero
    * corpus shuffle) and keeps a [[RefineShortlist]]-row shortlist by
    * approximate distance; stage 2 re-scores ONLY the shortlist against
    * the exact float vectors and returns the top-10 by exact squared L2.
    * The shortlist bounds the full-precision work, which is the entire
    * economics of quantized serving: RAM holds 64-byte codes, exact
    * vectors live on the slow tier and are touched [[RefineShortlist]]
    * times per query — compression misranks inside the shortlist get
    * corrected, misses outside it are the recall cost [[qSq8Recall]]
    * prices.
    *
    * Plan: stage 1 is one codegen scan + a TakeOrderedAndProject heap;
    * the exact vectors ride the same 50 surviving rows here (the
    * fixture's "slow tier" is the same table), so stage 2 is a 50-row
    * projection + second tiny heap — at 100 TB it becomes a broadcast
    * point-read join against the full-precision table, still 50 rows.
    * Determinism: both distances are index-ordered folds ([[qAnnSq8]] /
    * [[qSq8Recall]]'s exact chains); both cuts tie-break on vec_id.
    */
  def qAnnRefine(spark: SparkSession, d: String): DataFrame = {
    val qv = embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    embeddings(spark, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(sq8Stats(spark, d)))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("embedding").as("ce"), col("qe"),
        col("mins"), col("rngs"),
        expr("transform(embedding, (x, i) -> CASE WHEN rngs[i] > 0.0D" +
          " THEN CAST(floor((CAST(x AS DOUBLE) - mins[i]) * 255.0 / rngs[i]" +
          " + 0.5) AS INT) ELSE 0 END)").as("codes"))
      .select(col("vec_id"), col("ce"), col("qe"),
        expr("aggregate(transform(codes, (c, i) -> CAST(qe[i] AS DOUBLE)" +
          " - (mins[i] + CAST(c AS DOUBLE) * rngs[i] / 255.0))," +
          " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e * e)").as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(RefineShortlist)
      .select(col("vec_id"), col("adist"),
        expr("aggregate(transform(ce, (x, i) -> CAST(qe[i] AS DOUBLE)" +
          " - CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE)," +
          " (acc, e) -> acc + e * e)").as("edist"))
      .orderBy(col("edist"), col("vec_id"))
      .limit(10)
  }

  /** Candidate budget / final k of [[qAnnRerank]]'s two stages. */
  val RerankShortlist = 50
  val RerankK = 10

  /** q_ann_rerank — BUDGET-SPLIT retrieve-then-rerank, the cross-encoder
    * serving shape: stage 1 ranks the WHOLE corpus by a CHEAP scorer
    * (cosine over the first [[MrlDim]] matryoshka dims — ¼ of the
    * flops; in a two-tower + cross-encoder stack this is the bi-encoder
    * ANN pass) and keeps a [[RerankShortlist]]-row shortlist; stage 2
    * re-scores ONLY the shortlist with the EXPENSIVE scorer (full-dim
    * exact cosine — standing in for the cross-encoder forward pass,
    * whose cost per pair is why it can never see the corpus) and
    * returns the top-[[RerankK]]. The output carries both scores and
    * both ranks plus a `promoted` flag (final top-k entries the cheap
    * ranking alone would have missed) — the measured value of the
    * rerank budget. Differs from [[qAnnRefine]] exactly in the budget
    * SPLIT question: refine corrects quantization error of one scorer;
    * rerank trades a cheap-model corpus pass against an expensive-model
    * shortlist pass, and the shortlist size IS the serving knob
    * (recall@k rises with C at C·cost_expensive spend — [[qMatryoshka]]
    * prices the cheap stage's recall).
    *
    * Plan: 1-row query vector broadcasts; stage 1 is ONE codegen scan +
    * a TakeOrderedAndProject heap (no shuffle); stage 2 and both rank
    * windows run over the C-row shortlist — bounded by the budget, not
    * the corpus. At 100 TB the expensive scorer becomes a model-serving
    * UDF or point-read join; the shape (scan-heap-then-bounded-rescore)
    * is unchanged. Determinism: both cosines are the pinned VecDot
    * left-fold; every cut ties on vec_id.
    */
  def qAnnRerank(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val shortlist = embeddings(spark, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"), col("embedding"), col("qe"),
        cosine(slice(col("embedding"), 1, MrlDim),
          slice(col("qe"), 1, MrlDim)).as("cos_cheap"))
      .orderBy(col("cos_cheap").desc, col("vec_id"))
      .limit(RerankShortlist)
    // Both windows rank the C-row shortlist (budget-bounded, never the
    // corpus) — the unpartitioned window is the DESIGN here.
    val w1 = Window.orderBy(col("cos_cheap").desc, col("vec_id"))
    val w2 = Window.orderBy(col("cos_full").desc, col("vec_id"))
    shortlist
      .withColumn("stage1_rank", row_number().over(w1).cast("long"))
      .select(col("vec_id"), col("label"), col("stage1_rank"),
        col("cos_cheap"), cosine(col("embedding"), col("qe")).as("cos_full"))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= RerankK)
      .select(col("rank"), col("vec_id"), col("label"), col("stage1_rank"),
        col("cos_cheap"), col("cos_full"),
        (col("stage1_rank") > RerankK).as("promoted"))
      .orderBy(col("rank"))
  }

  /** Candidate budgets swept by [[qRerankBudget]]. */
  val RerankBudgets: Seq[Int] = Seq(10, 25, 50)

  /** q_rerank_budget — the rerank serving-knob CURVE: for each candidate
    * budget C ∈ [[RerankBudgets]], recall@[[RerankK]] of the
    * cheap-shortlist(C) → exact-rerank pipeline ([[qAnnRerank]]'s shape)
    * against the brute-force full-dim truth. This is the capacity table
    * an operator reads BEFORE fixing C: the shortlists NEST across
    * budgets (top-10 by the cheap score ⊂ top-25 ⊂ top-50), so recall is
    * provably non-decreasing in C (the spec pins it), and the marginal
    * recall per extra expensive-stage row is the stopping rule.
    * [[qMatryoshka]] prices the cheap stage alone; this prices the whole
    * two-stage stack as a function of its one knob.
    *
    * Plan: ONE corpus scan computes both scores per row (broadcast 1-row
    * query vector); the scored relation is CACHED and every cut — the
    * truth and each budget's two stages — is a TakeOrderedAndProject
    * heap over it; everything downstream of the heaps is ≤ C rows per
    * budget. Determinism: pinned VecDot folds, vec_id ties everywhere,
    * exact hit counts, one pinned division per row.
    */
  def qRerankBudget(spark: SparkSession, d: String): DataFrame = {
    val qv = embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val scored = graft.Tables.cacheForSelfJoin(
      embeddings(spark, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          cosine(slice(col("embedding"), 1, MrlDim),
            slice(col("qe"), 1, MrlDim)).as("cos_cheap"),
          cosine(col("embedding"), col("qe")).as("cos_full")))
    val truth = scored.orderBy(col("cos_full").desc, col("vec_id"))
      .limit(RerankK).select(col("vec_id"))
    RerankBudgets.map { c =>
      scored.orderBy(col("cos_cheap").desc, col("vec_id")).limit(c)
        .orderBy(col("cos_full").desc, col("vec_id")).limit(RerankK)
        .select(col("vec_id"))
        .join(truth, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(c.toLong).as("budget"), col("n_hits"))
    }.reduce(_ unionAll _)
      .select(col("budget"), col("n_hits"),
        (col("n_hits").cast("double") / lit(RerankK.toDouble)).as("recall"))
      .orderBy(col("budget"))
  }

  /** q_embed_drift — embedding-distribution shift between ADJACENT label
    * cohorts: cosine similarity and L2 distance between consecutive
    * labels' centroids ([[qCentroid]]'s bit-exact means). With labels
    * standing in for ingest batches (the fixture has no embedding
    * timestamps), this is the drift monitor a production embedding
    * pipeline runs per model rev / ingest day: centroid cosine ≈ 1 means
    * the new batch lives where the old one did; a drop is the
    * re-index/re-train trigger (and the signal that cached ANN geometry
    * — [[scaledGeometry]] — was tuned on a different distribution).
    *
    * Plan: everything downstream of the centroid fold is label-grain
    * (|labels|×64 rows) — the corpus is touched only by [[qCentroid]]'s
    * chunk-bounded mean; the pair join and the per-pair folds are
    * dimension-ordered over 64-element lists. Determinism: centroids are
    * [[qCentroid]]'s pinned two-level fold; dot/norm/Σ(Δ²) are pos-ORDERED
    * folds; sqrt is IEEE-exact; ONE pinned division.
    */
  def qEmbedDrift(spark: SparkSession, d: String): DataFrame = {
    val cent = qCentroid(spark, d)
    val a = cent.select(col("label").as("label_a"), col("pos"),
      col("c").as("ca"))
    val b = cent.select((col("label") - 1).as("label_a"),
      col("label").as("label_b"), col("pos"), col("c").as("cb"))
    a.join(b, Seq("label_a", "pos"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sort_array(collect_list(
        struct(col("pos"), col("ca"), col("cb")))).as("ps"))
      .select(col("label_a"), col("label_b"),
        expr("aggregate(ps, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.ca * x.cb)")
          .as("dot"),
        expr("aggregate(ps, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.ca * x.ca)")
          .as("na"),
        expr("aggregate(ps, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.cb * x.cb)")
          .as("nb"),
        expr("aggregate(ps, CAST(0.0 AS DOUBLE)," +
          " (acc, x) -> acc + (x.ca - x.cb) * (x.ca - x.cb))").as("ss"))
      .select(col("label_a"), col("label_b"),
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).as("cos_drift"),
        sqrt(col("ss")).as("l2_dist"))
      .orderBy(col("label_a"))
  }

  /** q_cluster_purity — label purity of the IVF cells: each cell's member
    * count, distinct-label count, majority label and purity (majority
    * share) — the standard external cluster-quality readout (purity
    * against gold labels), and operationally the check on [[qAnnIvf]]'s
    * index: cells that mix labels at chance level mean the coarse
    * quantizer isn't separating the classes the corpus cares about
    * (retrain centroids / raise nprobe before trusting cell-pruned
    * recall). Complements [[qKnnClassify]] (pointwise label coherence)
    * with the index-level view.
    *
    * Plan: assignment is [[ivfRanked]]'s bounded ×8 broadcast argmax (no
    * corpus shuffle); counts are one (cid, label) hash agg with map-side
    * partials; the majority pick is a row_number over ≤ |labels| rows per
    * cell. All-integer until the single pinned division; ties break on
    * label.
    */
  def qClusterPurity(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = ivfRanked(spark, d).filter(col("rn") === 1)
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
    val byN = Window.partitionBy(col("cid"))
      .orderBy(col("n").desc, col("label"))
    counts.withColumn("rn2", row_number().over(byN))
      .groupBy(col("cid"))
      .agg(sum(col("n")).as("n_members"),
        count(lit(1)).as("n_labels"),
        max(when(col("rn2") === 1, col("label"))).as("top_label"),
        max(when(col("rn2") === 1, col("n"))).as("top_n"))
      .select(col("cid"), col("n_members"), col("n_labels"),
        col("top_label"), col("top_n"),
        (col("top_n").cast("double") / col("n_members").cast("double"))
          .as("purity"))
      .orderBy(col("cid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_refine"      -> qAnnRefine _,
    "q_ann_rerank"      -> qAnnRerank _,
    "q_rerank_budget"   -> qRerankBudget _,
    "q_embed_drift"     -> qEmbedDrift _,
    "q_cluster_purity"  -> qClusterPurity _,
    "q_vec_quantize"    -> qVecQuantize _,
    "q_ann_sq8"         -> qAnnSq8 _,
    "q_ann_ivf_pq"      -> qAnnIvfPq _,
    "q_ann_cow"         -> qAnnCow _,
    "q_ann_stream"      -> qAnnStream _,
    "q_ann_gc"          -> qAnnGc _,
    "q_sq8_recall"      -> qSq8Recall _,
    "q_semantic_dedup"  -> qSemanticDedup _,
    "q_dedup_stages"    -> qDedupStages _,
    "q_cosine_topk"     -> qCosineTopk _,
    "q_mips"            -> qMips _,
    "q_centroid"        -> qCentroid _,
    "q_gram_matrix"     -> qGramMatrix _,
    "q_cosine_topk_lsh" -> qCosineTopkLsh _,
    // q_cosine_neardup (fixed geometry) deregistered round 12: its n²/2^rows
    // candidate signature was the suite's one measured scale-killer; the
    // production near-dup is q_cosine_neardup_scaled and the fixed form
    // stays as the spec-side control ([[qCosineNeardup]]).
    "q_cosine_neardup_scaled" -> qCosineNeardupScaled _,
    "q_semantic_leakage" -> qSemanticLeakage _,
    "q_ann_ivf"         -> qAnnIvf _,
    "q_ann_graph"       -> qAnnGraph _,
    "q_ann_ivf2"        -> qAnnIvf2 _,
    "q_pq_encode"       -> qPqEncode _,
    "q_ann_pq"          -> qAnnPq _,
    "q_kmeans_step"     -> qKmeansStep _,
    "q_kmeans_sse"      -> qKmeansSse _,
    "q_vec_minmax"      -> qVecMinmax _,
    "q_label_entropy"   -> qLabelEntropy _,
    "q_power_iter"      -> qPowerIter _,
    "q_recall_eval"     -> qRecallEval _,
    "q_matryoshka"      -> qMatryoshka _,
    "q_knn_classify"    -> qKnnClassify _,
    "q_ann_batch"       -> qAnnBatch _,
    "q_vec_check"       -> qVecCheck _,
  )

  // ---- DuckDB oracle: the same left-to-right double arithmetic ----------

  /** `list_reduce` starting from an explicit 0.0 accumulator replicates
    * Spark's `aggregate(zero=0.0)` fold order exactly.
    */
  private def dotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
    s"list_transform(list_zip($x, $y), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), " +
    s"(acc, v) -> acc + v)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private def bucketSql(v: String): String =
    s"CAST($v[1] >= 0 AS INT) * 8 + CAST($v[9] >= 0 AS INT) * 4 + " +
    s"CAST($v[17] >= 0 AS INT) * 2 + CAST($v[25] >= 0 AS INT)"

  /** Banded (band, key) rows, one SELECT per band — DuckDB lists are
    * 1-based like Spark's `element_at`, so plane j is `embedding[4j+1]`
    * in both engines.
    */
  private def bandsSqlFor(bands: Int, rows: Int): String = (0 until bands).map { b =>
    val key = (0 until rows).map { i =>
      val coord = 4 * (b * rows + i) + 1
      s"CAST(embedding[$coord] >= 0 AS INT) * ${1 << (rows - 1 - i)}"
    }.mkString(" + ")
    s"SELECT vec_id, $b AS band, $key AS bkey FROM embeddings"
  }.mkString("\n  UNION ALL\n  ")

  private val ndBandsSql: String = bandsSqlFor(NdBands, NdRows)

  /** The scaled-geometry oracle carries EVERY [[scaledGeometry]] branch,
    * each gated on the same corpus-count cuts the Scala side reads — the
    * two engines agree on the geometry for ANY fixture size, not just the
    * gate's. Gates are disjoint, so the UNION ALL of candidate branches
    * is the selected branch alone.
    */
  private val ndScaledCandSql: String = {
    val cuts = Seq(
      ((4, 4), s"(SELECT cnt FROM n) <= ${NdTargetOcc << 4}"),
      ((2, 8), s"(SELECT cnt FROM n) > ${NdTargetOcc << 4} AND " +
               s"(SELECT cnt FROM n) <= ${NdTargetOcc << 8}"),
      ((1, 16), s"(SELECT cnt FROM n) > ${NdTargetOcc << 8}"))
    cuts.map { case ((bands, rows), gate) =>
      s"""SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM (${bandsSqlFor(bands, rows)}) a
         |  JOIN (${bandsSqlFor(bands, rows)}) b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
         |  WHERE $gate""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
  }

  /** Shared by q_ann_ivf_pq and q_ann_cow: the lakehouse layout must be
    * invisible to results (pack/unpack is exact integer work).
    */
  private def annIvfPqOracle(candFilter: String = ""): String =
    s"""WITH centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), cranked AS (
         |  SELECT e.vec_id, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ccos DESC, c.cid) AS rn
         |  FROM embeddings e, centroids c
         |), qcells AS (
         |  SELECT cid AS qcid FROM cranked WHERE vec_id = 0 AND rn <= 2
         |), cand AS (
         |  SELECT a.vec_id, a.cid FROM cranked a JOIN qcells
         |    ON a.cid = qcid WHERE a.rn = 1 AND a.vec_id <> 0$candFilter
         |), subs AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS s),
         |sub AS (
         |  SELECT vec_id, s,
         |         embedding[$PqDim * s + 1 : $PqDim * s + $PqDim] AS sv
         |  FROM embeddings, subs
         |), cb AS (
         |  SELECT vec_id AS k, s, sv AS cv FROM sub
         |  WHERE vec_id BETWEEN 1 AND $PqK
         |), pranked AS (
         |  SELECT v.vec_id, v.s, c.k,
         |         (${dotSql("v.sv", "v.sv")}
         |           - 2.0 * ${dotSql("v.sv", "c.cv")})
         |           + ${dotSql("c.cv", "c.cv")} AS dist,
         |         ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
         |                            ORDER BY dist, c.k) AS rn
         |  FROM sub v JOIN cb c ON v.s = c.s
         |), codes AS (
         |  SELECT vec_id, s, k FROM pranked WHERE rn = 1
         |), lut AS (
         |  SELECT q.s, c.k,
         |         (${dotSql("q.sv", "q.sv")}
         |           - 2.0 * ${dotSql("q.sv", "c.cv")})
         |           + ${dotSql("c.cv", "c.cv")} AS d
         |  FROM sub q JOIN cb c ON q.s = c.s
         |  WHERE q.vec_id = 0
         |), ad AS (
         |  SELECT codes.vec_id, cand.cid,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(l.d ORDER BY codes.s)), (acc, x) -> acc + x) AS adist
         |  FROM codes
         |  JOIN cand ON codes.vec_id = cand.vec_id
         |  JOIN lut l ON codes.s = l.s AND codes.k = l.k
         |  GROUP BY codes.vec_id, cand.cid
         |)
         |SELECT vec_id, cid, adist FROM ad
         |ORDER BY adist, vec_id LIMIT 10""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ann_refine" ->
      s"""WITH pd AS (
         |  SELECT pos, MIN(v) AS mn, MAX(v) AS mx
         |  FROM (SELECT unnest(embedding) AS v,
         |               generate_subscripts(embedding, 1) AS pos
         |        FROM embeddings)
         |  GROUP BY pos
         |), st AS (
         |  SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mins,
         |         list(CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)
         |              ORDER BY pos) AS rngs
         |  FROM pd
         |), qv AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), c AS (
         |  SELECT vec_id, embedding AS ce, qe, mins, rngs,
         |         list_transform(range(1, len(embedding) + 1), i ->
         |           CASE WHEN rngs[i] > 0.0
         |             THEN CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
         |               * 255.0 / rngs[i] + 0.5) AS INTEGER)
         |             ELSE 0 END) AS codes
         |  FROM embeddings CROSS JOIN st CROSS JOIN qv
         |  WHERE vec_id <> 0
         |), short AS (
         |  SELECT vec_id, ce, qe,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(codes) + 1), i ->
         |             CAST(qe[i] AS DOUBLE)
         |               - (mins[i] + CAST(codes[i] AS DOUBLE) * rngs[i] / 255.0))),
         |           (acc, e) -> acc + e * e) AS adist
         |  FROM c ORDER BY adist, vec_id LIMIT $RefineShortlist
         |)
         |SELECT vec_id, adist,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list_transform(range(1, len(ce) + 1), i ->
         |           CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))),
         |         (acc, e) -> acc + e * e) AS edist
         |FROM short ORDER BY edist, vec_id LIMIT 10""".stripMargin,
    "q_ann_rerank" ->
      s"""WITH qv AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), s AS (
         |  SELECT vec_id, label,
         |         ${cosSql(s"e.embedding[1:$MrlDim]", s"qe[1:$MrlDim]")}
         |           AS cos_cheap,
         |         ${cosSql("e.embedding", "qe")} AS cos_full
         |  FROM embeddings e CROSS JOIN qv WHERE vec_id <> 0
         |), sl AS (
         |  SELECT vec_id, label, cos_cheap, cos_full,
         |         CAST(row_number() OVER
         |           (ORDER BY cos_cheap DESC, vec_id) AS BIGINT) AS stage1_rank
         |  FROM s ORDER BY cos_cheap DESC, vec_id LIMIT $RerankShortlist
         |), rr AS (
         |  SELECT vec_id, label, stage1_rank, cos_cheap, cos_full,
         |         CAST(row_number() OVER
         |           (ORDER BY cos_full DESC, vec_id) AS BIGINT) AS rank
         |  FROM sl
         |)
         |SELECT rank, vec_id, label, stage1_rank, cos_cheap, cos_full,
         |       stage1_rank > $RerankK AS promoted
         |FROM rr WHERE rank <= $RerankK ORDER BY rank""".stripMargin,
    "q_rerank_budget" ->
      s"""WITH qv AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), s AS (
         |  SELECT vec_id,
         |         ${cosSql(s"e.embedding[1:$MrlDim]", s"qe[1:$MrlDim]")}
         |           AS cos_cheap,
         |         ${cosSql("e.embedding", "qe")} AS cos_full
         |  FROM embeddings e CROSS JOIN qv WHERE vec_id <> 0
         |), t AS (
         |  SELECT vec_id FROM s ORDER BY cos_full DESC, vec_id LIMIT $RerankK
         |)${RerankBudgets.map { c =>
             s""",
         |c$c AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, cos_full FROM s
         |    ORDER BY cos_cheap DESC, vec_id LIMIT $c)
         |  ORDER BY cos_full DESC, vec_id LIMIT $RerankK
         |)"""
           }.mkString}
         |${RerankBudgets.map { c =>
             s"""SELECT CAST($c AS BIGINT) AS budget,
         |       (SELECT CAST(COUNT(*) AS BIGINT)
         |        FROM c$c JOIN t USING (vec_id)) AS n_hits,
         |       (SELECT CAST(COUNT(*) AS BIGINT)
         |        FROM c$c JOIN t USING (vec_id)) / $RerankK.0 AS recall"""
           }.mkString("\n         |UNION ALL\n         |")}
         |ORDER BY budget""".stripMargin,
    "q_embed_drift" ->
      s"""WITH bypos AS (
         |  SELECT label, vec_id, vec_id // $CentroidChunk AS chunk,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings
         |), chunks AS (
         |  SELECT label, pos, chunk,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(CAST(v AS DOUBLE) ORDER BY vec_id)),
         |           (acc, x) -> acc + x) AS psum,
         |         COUNT(*) AS pn
         |  FROM bypos GROUP BY label, pos, chunk
         |), cent AS (
         |  SELECT label, pos,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(psum ORDER BY chunk)), (acc, x) -> acc + x) / SUM(pn) AS c
         |  FROM chunks GROUP BY label, pos
         |), pr AS (
         |  SELECT a.label AS label_a, b.label AS label_b, a.pos,
         |         a.c AS ca, b.c AS cb
         |  FROM cent a JOIN cent b
         |    ON b.label = a.label + 1 AND b.pos = a.pos
         |)
         |SELECT label_a, label_b,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list(ca * cb ORDER BY pos)), (acc, v) -> acc + v)
         |       / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list(ca * ca ORDER BY pos)), (acc, v) -> acc + v))
         |          * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |              list(cb * cb ORDER BY pos)), (acc, v) -> acc + v)))
         |         AS cos_drift,
         |       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list((ca - cb) * (ca - cb) ORDER BY pos)),
         |         (acc, v) -> acc + v)) AS l2_dist
         |FROM pr GROUP BY label_a, label_b ORDER BY label_a""".stripMargin,
    "q_cluster_purity" ->
      s"""WITH centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), cranked AS (
         |  SELECT e.vec_id, e.label, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ccos DESC, c.cid) AS rn
         |  FROM embeddings e, centroids c
         |), cnt AS (
         |  SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM cranked WHERE rn = 1 GROUP BY cid, label
         |), rk AS (
         |  SELECT cid, label, n,
         |         ROW_NUMBER() OVER (PARTITION BY cid
         |                            ORDER BY n DESC, label) AS rn2
         |  FROM cnt
         |)
         |SELECT cid, CAST(SUM(n) AS BIGINT) AS n_members,
         |       CAST(COUNT(*) AS BIGINT) AS n_labels,
         |       MAX(CASE WHEN rn2 = 1 THEN label END) AS top_label,
         |       MAX(CASE WHEN rn2 = 1 THEN n END) AS top_n,
         |       CAST(MAX(CASE WHEN rn2 = 1 THEN n END) AS DOUBLE)
         |         / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS purity
         |FROM rk GROUP BY cid ORDER BY cid""".stripMargin,
    "q_kmeans_sse" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), ranked AS (
         |  SELECT e.vec_id, cid, e.embedding, ce,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${cosSql("e.embedding", "ce")} DESC, cid) AS rn
         |  FROM embeddings e CROSS JOIN cents
         |), asg AS (
         |  SELECT cid, vec_id,
         |         (${dotSql("embedding", "embedding")}
         |          - 2.0 * ${dotSql("embedding", "ce")})
         |          + ${dotSql("ce", "ce")} AS sq
         |  FROM ranked WHERE rn = 1
         |), ch AS (
         |  SELECT cid, vec_id // $CentroidChunk AS chunk,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(sq ORDER BY vec_id)), (acc, v) -> acc + v) AS csum,
         |         CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM asg GROUP BY cid, chunk
         |), pc AS (
         |  SELECT cid,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(csum ORDER BY chunk)), (acc, v) -> acc + v) AS sse,
         |         CAST(SUM(cn) AS BIGINT) AS n_members
         |  FROM ch GROUP BY cid
         |), tot AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(sse ORDER BY cid)), (acc, v) -> acc + v) AS total_sse
         |  FROM pc
         |)
         |SELECT cid, n_members, sse, sse / total_sse AS sse_share
         |FROM pc, tot ORDER BY cid""".stripMargin,
    "q_matryoshka" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND $EvalQueries
         |), p AS (
         |  SELECT q_id, e.vec_id AS c_id,
         |         ${cosSql("e.embedding", "qe")} AS cos_full,
         |         ${cosSql(s"e.embedding[1:$MrlDim]", s"qe[1:$MrlDim]")}
         |           AS cos_trunc
         |  FROM embeddings e, q WHERE e.vec_id <> q_id
         |), t AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, row_number() OVER
         |      (PARTITION BY q_id ORDER BY cos_full DESC, c_id) AS rn FROM p)
         |  WHERE rn <= $RecallK
         |), a AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, row_number() OVER
         |      (PARTITION BY q_id ORDER BY cos_trunc DESC, c_id) AS rn FROM p)
         |  WHERE rn <= $RecallK
         |), h AS (
         |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM t JOIN a USING (q_id, c_id) GROUP BY q_id
         |)
         |SELECT q.q_id AS q_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_hits,
         |       CAST(COALESCE(n, 0) AS DOUBLE) / $RecallK.0 AS recall
         |FROM q LEFT JOIN h ON q.q_id = h.q_id
         |ORDER BY q.q_id""".stripMargin,
    "q_vec_quantize" ->
      """WITH pd AS (
        |  SELECT pos, MIN(v) AS mn, MAX(v) AS mx
        |  FROM (SELECT unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)
        |  GROUP BY pos
        |), st AS (
        |  SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mins,
        |         list(CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)
        |              ORDER BY pos) AS rngs
        |  FROM pd
        |), q AS (
        |  SELECT vec_id, embedding, mins, rngs,
        |         list_transform(range(1, len(embedding) + 1), i ->
        |           CASE WHEN rngs[i] > 0.0
        |             THEN CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
        |               * 255.0 / rngs[i] + 0.5) AS INTEGER)
        |             ELSE 0 END) AS codes
        |  FROM embeddings CROSS JOIN st
        |)
        |SELECT vec_id,
        |       array_to_string(codes, ',') AS codes_csv,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(range(1, len(embedding) + 1), i ->
        |           CASE WHEN rngs[i] > 0.0
        |             THEN CAST(embedding[i] AS DOUBLE) - (mins[i]
        |               + CAST(codes[i] AS DOUBLE) * rngs[i] / 255.0)
        |             ELSE 0.0 END)),
        |         (acc, e) -> acc + e * e)
        |         / CAST(len(embedding) AS DOUBLE) AS mse
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_ann_sq8" ->
      """WITH pd AS (
        |  SELECT pos, MIN(v) AS mn, MAX(v) AS mx
        |  FROM (SELECT unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)
        |  GROUP BY pos
        |), st AS (
        |  SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mins,
        |         list(CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)
        |              ORDER BY pos) AS rngs
        |  FROM pd
        |), qv AS (
        |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
        |), c AS (
        |  SELECT vec_id, qe, mins, rngs,
        |         list_transform(range(1, len(embedding) + 1), i ->
        |           CASE WHEN rngs[i] > 0.0
        |             THEN CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
        |               * 255.0 / rngs[i] + 0.5) AS INTEGER)
        |             ELSE 0 END) AS codes
        |  FROM embeddings CROSS JOIN st CROSS JOIN qv
        |  WHERE vec_id <> 0
        |)
        |SELECT vec_id,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(range(1, len(codes) + 1), i ->
        |           CAST(qe[i] AS DOUBLE)
        |             - (mins[i] + CAST(codes[i] AS DOUBLE) * rngs[i] / 255.0))),
        |         (acc, e) -> acc + e * e) AS adist
        |FROM c ORDER BY adist, vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf_pq" -> annIvfPqOracle(),
    "q_ann_cow" -> annIvfPqOracle(),
    // The maintenance path must be invisible to rankings: the
    // stream-built index answers the identical serving query.
    "q_ann_stream" -> annIvfPqOracle(),
    // Erasure propagated: the probe ranks the SURVIVING corpus only
    // (frozen quantizers untouched — training artifacts outlive their
    // sources).
    "q_ann_gc" -> annIvfPqOracle(" AND a.vec_id % 11 <> 5"),
    "q_sq8_recall" ->
      s"""WITH pd AS (
         |  SELECT pos, MIN(v) AS mn, MAX(v) AS mx
         |  FROM (SELECT unnest(embedding) AS v,
         |               generate_subscripts(embedding, 1) AS pos
         |        FROM embeddings)
         |  GROUP BY pos
         |), st AS (
         |  SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mins,
         |         list(CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)
         |              ORDER BY pos) AS rngs
         |  FROM pd
         |), q AS (
         |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND $EvalQueries
         |), scored AS (
         |  SELECT q_id, e.vec_id AS c_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(e.embedding) + 1), i ->
         |             CAST(qe[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))),
         |           (acc, x) -> acc + x * x) AS d_exact,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(e.embedding) + 1), i ->
         |             CAST(qe[i] AS DOUBLE) - (mins[i] +
         |               CAST(CASE WHEN rngs[i] > 0.0
         |                 THEN CAST(floor((CAST(e.embedding[i] AS DOUBLE)
         |                   - mins[i]) * 255.0 / rngs[i] + 0.5) AS INTEGER)
         |                 ELSE 0 END AS DOUBLE) * rngs[i] / 255.0))),
         |           (acc, x) -> acc + x * x) AS d_adc
         |  FROM embeddings e CROSS JOIN st CROSS JOIN q
         |  WHERE e.vec_id <> q_id
         |), t AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY d_exact, c_id) AS rn FROM scored)
         |  WHERE rn <= $RecallK
         |), a AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY d_adc, c_id) AS rn FROM scored)
         |  WHERE rn <= $RecallK
         |), h AS (
         |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM t JOIN a USING (q_id, c_id) GROUP BY q_id
         |)
         |SELECT q.q_id AS q_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_hits,
         |       CAST(COALESCE(n, 0) AS DOUBLE) / $RecallK.0 AS recall
         |FROM q LEFT JOIN h ON q.q_id = h.q_id
         |ORDER BY q.q_id""".stripMargin,
    "q_semantic_dedup" ->
      s"""WITH centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), cranked AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ccos DESC, c.cid) AS rn
         |  FROM embeddings e, centroids c
         |), asg AS (
         |  SELECT vec_id, embedding, cid FROM cranked WHERE rn = 1
         |), dropped AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SemDedupTau
         |)
         |SELECT asg.vec_id, cid,
         |       dropped.vec_id IS NULL AS kept
         |FROM asg LEFT JOIN dropped ON asg.vec_id = dropped.vec_id
         |ORDER BY asg.vec_id""".stripMargin,
    "q_dedup_stages" ->
      s"""WITH RECURSIVE sig AS (
         |${graft.operators.TextOps.sigSql}
         |), bands AS (
         |  ${graft.operators.TextOps.bandsSql}
         |), prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b
         |), edges AS (
         |  SELECT doc_a, doc_b FROM prs
         |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM prs
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, e.doc_b FROM reach JOIN edges e ON reach.r = e.doc_a
         |), labels AS (
         |  SELECT id AS doc_id, MIN(r) AS canon_id FROM reach GROUP BY id
         |), ex AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents
         |), exmin AS (
         |  SELECT fp, MIN(doc_id) AS keep_id FROM ex GROUP BY fp
         |), exflag AS (
         |  SELECT doc_id, doc_id <> keep_id AS exact_drop
         |  FROM ex JOIN exmin USING (fp)
         |), centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), cranked AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ccos DESC, c.cid) AS rn
         |  FROM embeddings e, centroids c
         |), asg AS (
         |  SELECT vec_id, embedding, cid FROM cranked WHERE rn = 1
         |), sdropped AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SemDedupTau
         |)
         |SELECT f.doc_id,
         |       CASE WHEN exact_drop THEN 'exact'
         |            WHEN canon_id <> f.doc_id THEN 'minhash'
         |            WHEN sdropped.vec_id IS NOT NULL THEN 'semantic'
         |            ELSE 'kept' END AS stage,
         |       NOT (exact_drop OR canon_id <> f.doc_id
         |            OR sdropped.vec_id IS NOT NULL) AS kept
         |FROM exflag f
         |JOIN labels ON f.doc_id = labels.doc_id
         |LEFT JOIN sdropped ON f.doc_id = sdropped.vec_id
         |ORDER BY f.doc_id""".stripMargin,
    "q_ann_batch" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |  WHERE vec_id % $AnnBatchEvery = 0
         |), scored AS (
         |  SELECT q_id, e.vec_id, ${cosSql("e.embedding", "qe")} AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q_id
         |), ranked AS (
         |  SELECT q_id, vec_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |                                 ORDER BY cos DESC, vec_id)
         |              AS INTEGER) AS rk
         |  FROM scored
         |)
         |SELECT q_id, rk, vec_id, cos
         |FROM ranked WHERE rk <= $AnnBatchK
         |ORDER BY q_id, rk""".stripMargin,
    "q_vec_check" ->
      s"""SELECT COUNT(*) AS n_vecs,
         |       CAST(SUM(CASE WHEN len(embedding) <> $EmbDim
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
         |       CAST(SUM(len(list_filter(embedding,
         |                  x -> isnan(x) OR isinf(x)))) AS BIGINT)
         |         AS n_nonfinite,
         |       CAST(SUM(CASE WHEN sqrt(${dotSql("embedding", "embedding")}) = 0.0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
         |       MIN(sqrt(${dotSql("embedding", "embedding")})) AS min_norm,
         |       MAX(sqrt(${dotSql("embedding", "embedding")})) AS max_norm
         |FROM embeddings""".stripMargin,
    "q_knn_classify" ->
      s"""WITH evalq AS (
         |  SELECT vec_id AS q_id, embedding AS qe, label AS true_label
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND $EvalQueries
         |), corpus AS (
         |  SELECT vec_id AS c_id, embedding AS ce, label AS c_label
         |  FROM embeddings
         |), nn AS (
         |  SELECT q_id, true_label, c_label FROM (
         |    SELECT q_id, true_label, c_id, c_label,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY ${cosSql("ce", "qe")} DESC, c_id) AS rn
         |    FROM corpus CROSS JOIN evalq WHERE c_id <> q_id
         |  ) WHERE rn <= $KnnK
         |), votes AS (
         |  SELECT q_id, true_label, c_label, COUNT(*) AS votes
         |  FROM nn GROUP BY q_id, true_label, c_label
         |), winner AS (
         |  SELECT q_id, true_label, c_label, votes FROM (
         |    SELECT q_id, true_label, c_label, votes,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY votes DESC, c_label) AS vr
         |    FROM votes
         |  ) WHERE vr = 1
         |)
         |SELECT q_id, true_label, c_label AS pred_label, votes AS n_votes,
         |       CAST(true_label = c_label AS INTEGER) AS correct
         |FROM winner ORDER BY q_id""".stripMargin,
    "q_recall_eval" ->
      s"""WITH bands AS (
         |  ${ndBandsSql}
         |), pairs AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
         |), cboth AS (
         |  SELECT a_id AS q_id, b_id AS c_id FROM pairs
         |  UNION ALL
         |  SELECT b_id AS q_id, a_id AS c_id FROM pairs
         |), evalq AS (
         |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND $EvalQueries
         |), corpus AS (
         |  SELECT vec_id AS c_id, embedding AS ce FROM embeddings
         |), truth AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY ${cosSql("ce", "qe")} DESC, c_id) AS rn
         |    FROM corpus CROSS JOIN evalq WHERE c_id <> q_id
         |  ) WHERE rn <= $RecallK
         |), approx AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT cb.q_id, cb.c_id,
         |           row_number() OVER (PARTITION BY cb.q_id
         |             ORDER BY ${cosSql("ce", "qe")} DESC, cb.c_id) AS rn
         |    FROM cboth cb JOIN evalq ON cb.q_id = evalq.q_id
         |                  JOIN corpus ON cb.c_id = corpus.c_id
         |  ) WHERE rn <= $RecallK
         |), hits AS (
         |  SELECT q_id, COUNT(*) AS n_hits
         |  FROM truth JOIN approx USING (q_id, c_id) GROUP BY q_id
         |), ncand AS (
         |  SELECT q_id, COUNT(*) AS n_cand FROM cboth
         |  WHERE q_id BETWEEN 1 AND $EvalQueries GROUP BY q_id
         |)
         |SELECT evalq.q_id AS q_id,
         |       COALESCE(n_cand, 0) AS n_cand,
         |       COALESCE(n_hits, 0) AS n_hits,
         |       CAST(COALESCE(n_hits, 0) AS DOUBLE) / ${RecallK}.0 AS recall
         |FROM evalq LEFT JOIN ncand ON evalq.q_id = ncand.q_id
         |           LEFT JOIN hits ON evalq.q_id = hits.q_id
         |ORDER BY q_id""".stripMargin,
    "q_power_iter" ->
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         unnest(embedding) AS x
        |  FROM embeddings
        |), cells AS (
        |  SELECT a.i AS i, b.i AS j,
        |         CAST(SUM(CAST(floor(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)
        |                             * 1e10 + 0.5) AS BIGINT)) AS BIGINT) AS g
        |  FROM flat a JOIN flat b USING (vec_id)
        |  GROUP BY a.i, b.i
        |), u AS (
        |  SELECT i, CAST(SUM(g) AS BIGINT) AS u FROM cells GROUP BY i
        |), nrm AS (
        |  SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list((CAST(u AS DOUBLE) / 1e10) * (CAST(u AS DOUBLE) / 1e10)
        |         ORDER BY i)), (acc, x) -> acc + x)) AS nrm
        |  FROM u
        |), v AS (
        |  SELECT i, u, (CAST(u AS DOUBLE) / 1e10) / nrm AS v
        |  FROM u CROSS JOIN nrm
        |), lam AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list((vi.v * (CAST(c.g AS DOUBLE) / 1e10)) * vj.v
        |         ORDER BY c.i, c.j)), (acc, x) -> acc + x) AS lambda
        |  FROM cells c JOIN v vi ON c.i = vi.i JOIN v vj ON c.j = vj.i
        |)
        |SELECT CAST(v.i AS BIGINT) AS i, v.u, v.v, lam.lambda
        |FROM v CROSS JOIN lam ORDER BY i""".stripMargin,
    "q_vec_minmax" ->
      """SELECT pos, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n FROM (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
        |         unnest(embedding) AS v
        |  FROM embeddings
        |) GROUP BY pos ORDER BY pos""".stripMargin,
    "q_label_entropy" ->
      """WITH c AS (
        |  SELECT label, COUNT(*) AS c FROM embeddings GROUP BY label
        |), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
        |t AS (
        |  SELECT label,
        |         -((CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |           * ln(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE))) AS term
        |  FROM c, n
        |)
        |SELECT COUNT(*) AS n_labels,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list(term ORDER BY label)), (acc, x) -> acc + x) AS entropy
        |FROM t""".stripMargin,
    "q_gram_matrix" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings
         |), p AS (
         |  SELECT a.pos AS i, b.pos AS j, a.vec_id AS vid,
         |         a.vec_id // $CentroidChunk AS chunk,
         |         CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) AS p
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos
         |), chunks AS (
         |  SELECT i, j, chunk,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(p ORDER BY vid)), (acc, x) -> acc + x) AS psum
         |  FROM p GROUP BY i, j, chunk
         |)
         |SELECT i, j,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list(psum ORDER BY chunk)), (acc, x) -> acc + x) AS g
         |FROM chunks GROUP BY i, j ORDER BY i, j""".stripMargin,
    "q_centroid" ->
      s"""WITH bypos AS (
         |  SELECT label, vec_id, vec_id // $CentroidChunk AS chunk,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings
         |), chunks AS (
         |  SELECT label, pos, chunk,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(CAST(v AS DOUBLE) ORDER BY vec_id)),
         |           (acc, x) -> acc + x) AS psum,
         |         COUNT(*) AS pn
         |  FROM bypos GROUP BY label, pos, chunk
         |)
         |SELECT label, pos,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list(psum ORDER BY chunk)), (acc, x) -> acc + x) / SUM(pn) AS c
         |FROM chunks GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "q_kmeans_step" ->
      s"""WITH centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), assigned AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos
         |  FROM embeddings e, centroids c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                             ORDER BY ccos DESC, c.cid) = 1
         |), bypos AS (
         |  SELECT cid, vec_id, vec_id // $CentroidChunk AS chunk,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
         |         unnest(embedding) AS v
         |  FROM assigned
         |), chunks AS (
         |  SELECT cid, pos, chunk,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(CAST(v AS DOUBLE) ORDER BY vec_id)),
         |           (acc, x) -> acc + x) AS psum,
         |         COUNT(*) AS pn
         |  FROM bypos GROUP BY cid, pos, chunk
         |)
         |SELECT cid, pos,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list(psum ORDER BY chunk)), (acc, x) -> acc + x) / SUM(pn) AS c,
         |       CAST(SUM(pn) AS BIGINT) AS n_members
         |FROM chunks GROUP BY cid, pos ORDER BY cid, pos""".stripMargin,
    "q_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${cosSql("embedding", "qe")} AS cos
         |FROM embeddings, q
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,
    "q_mips" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${dotSql("embedding", "qe")} AS ip
         |FROM embeddings, q
         |WHERE vec_id <> 0
         |ORDER BY ip DESC, vec_id LIMIT 10""".stripMargin,
    "q_cosine_topk_lsh" ->
      s"""WITH q AS (SELECT embedding AS qe, ${bucketSql("embedding")} AS qb
         |           FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${cosSql("embedding", "qe")} AS cos
         |FROM embeddings, q
         |WHERE ${bucketSql("embedding")} = qb
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_cosine_neardup_scaled" ->
      s"""WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
         |cand AS (
         |  $ndScaledCandSql
         |)
         |SELECT a_id, b_id, cos FROM (
         |  SELECT a_id, b_id, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand
         |  JOIN embeddings ea ON a_id = ea.vec_id
         |  JOIN embeddings eb ON b_id = eb.vec_id)
         |WHERE cos >= 0.3 ORDER BY a_id, b_id""".stripMargin,
    "q_semantic_leakage" ->
      s"""WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
         |cand AS (
         |  $ndScaledCandSql
         |), pairs AS (
         |  SELECT a_id, b_id, cos FROM (
         |    SELECT a_id, b_id, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |    FROM cand
         |    JOIN embeddings ea ON a_id = ea.vec_id
         |    JOIN embeddings eb ON b_id = eb.vec_id)
         |  WHERE cos >= 0.3
         |), sp AS (
         |  SELECT vec_id,
         |         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
         |           % 10 < $SemLeakTrainBuckets AS is_train
         |  FROM embeddings
         |)
         |SELECT CASE WHEN sa.is_train THEN b_id ELSE a_id END AS test_id,
         |       CASE WHEN sa.is_train THEN a_id ELSE b_id END AS train_id,
         |       cos
         |FROM pairs
         |JOIN sp sa ON a_id = sa.vec_id
         |JOIN sp sb ON b_id = sb.vec_id
         |WHERE sa.is_train <> sb.is_train
         |ORDER BY test_id, train_id""".stripMargin,
    // The graph build (bucketed top-M edges) and the two synchronized
    // beam rounds unrolled as CTEs — the deterministic restatement that
    // makes a graph-ANN walk oracle-expressible at all.
    "q_ann_graph" ->
      s"""WITH nodes AS (
         |  SELECT vec_id, label, embedding, ${bucketSql("embedding")} AS bkt
         |  FROM embeddings WHERE vec_id <> 0
         |), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |n AS (SELECT COUNT(*) AS cnt FROM embeddings),
         |p0 AS (
         |  $ndScaledCandSql
         |), cand AS (
         |  SELECT src, dst FROM (
         |    SELECT a_id AS src, b_id AS dst FROM p0
         |    UNION ALL
         |    SELECT b_id AS src, a_id AS dst FROM p0)
         |  WHERE src <> 0 AND dst <> 0
         |), edges AS (
         |  SELECT src, dst FROM (
         |    SELECT c.src, c.dst,
         |           ROW_NUMBER() OVER (PARTITION BY c.src
         |             ORDER BY ${cosSql("ea.embedding", "eb.embedding")} DESC,
         |                      c.dst) AS rn
         |    FROM cand c
         |    JOIN embeddings ea ON c.src = ea.vec_id
         |    JOIN embeddings eb ON c.dst = eb.vec_id)
         |  WHERE rn <= 6
         |), f0 AS (
         |  SELECT n.vec_id FROM nodes n,
         |       (SELECT embedding AS qe, ${bucketSql("embedding")} AS qb
         |        FROM embeddings WHERE vec_id = 0) qq
         |  WHERE n.bkt = qq.qb
         |  QUALIFY ROW_NUMBER() OVER (
         |    ORDER BY ${cosSql("n.embedding", "qe")} DESC, n.vec_id) <= 4
         |), c1 AS (
         |  SELECT vec_id FROM f0
         |  UNION SELECT e.dst FROM edges e JOIN f0 ON e.src = f0.vec_id
         |), f1 AS (
         |  SELECT n.vec_id FROM nodes n JOIN c1 USING (vec_id), q
         |  QUALIFY ROW_NUMBER() OVER (
         |    ORDER BY ${cosSql("n.embedding", "qe")} DESC, n.vec_id) <= 12
         |), c2 AS (
         |  SELECT vec_id FROM f1
         |  UNION SELECT e.dst FROM edges e JOIN f1 ON e.src = f1.vec_id
         |), f2 AS (
         |  SELECT n.vec_id FROM nodes n JOIN c2 USING (vec_id), q
         |  QUALIFY ROW_NUMBER() OVER (
         |    ORDER BY ${cosSql("n.embedding", "qe")} DESC, n.vec_id) <= 12
         |), c3 AS (
         |  SELECT vec_id FROM f2
         |  UNION SELECT e.dst FROM edges e JOIN f2 ON e.src = f2.vec_id
         |), f3 AS (
         |  SELECT n.vec_id FROM nodes n JOIN c3 USING (vec_id), q
         |  QUALIFY ROW_NUMBER() OVER (
         |    ORDER BY ${cosSql("n.embedding", "qe")} DESC, n.vec_id) <= 12
         |)
         |SELECT n.vec_id, n.label, ${cosSql("n.embedding", "qe")} AS cos
         |FROM nodes n JOIN f3 USING (vec_id), q
         |ORDER BY cos DESC, n.vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), assigned AS (
         |  SELECT e.vec_id, e.label, e.embedding, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos
         |  FROM embeddings e, centroids c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                             ORDER BY ccos DESC, c.cid) = 1
         |), q AS (
         |  SELECT embedding AS qe, cid AS qcid FROM assigned WHERE vec_id = 0
         |)
         |SELECT a.vec_id, a.label, a.cid, ${cosSql("a.embedding", "qe")} AS cos
         |FROM assigned a, q
         |WHERE a.cid = qcid
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_pq_encode" ->
      s"""WITH subs AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS s),
         |sub AS (
         |  SELECT vec_id, s,
         |         embedding[$PqDim * s + 1 : $PqDim * s + $PqDim] AS sv
         |  FROM embeddings, subs
         |), cb AS (
         |  SELECT vec_id AS k, s, sv AS cv FROM sub
         |  WHERE vec_id BETWEEN 1 AND $PqK
         |), ranked AS (
         |  SELECT v.vec_id, v.s, c.k,
         |         (${dotSql("v.sv", "v.sv")}
         |           - 2.0 * ${dotSql("v.sv", "c.cv")})
         |           + ${dotSql("c.cv", "c.cv")} AS dist,
         |         ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
         |                            ORDER BY dist, c.k) AS rn
         |  FROM sub v JOIN cb c ON v.s = c.s
         |)
         |SELECT vec_id, CAST(s AS INTEGER) AS sub, k AS code, dist
         |FROM ranked WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,
    // The encode CTEs verbatim, plus the query-side LUT and the
    // subspace-ordered list_reduce fold mirroring Spark's aggregate().
    "q_ann_pq" ->
      s"""WITH subs AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS s),
         |sub AS (
         |  SELECT vec_id, s,
         |         embedding[$PqDim * s + 1 : $PqDim * s + $PqDim] AS sv
         |  FROM embeddings, subs
         |), cb AS (
         |  SELECT vec_id AS k, s, sv AS cv FROM sub
         |  WHERE vec_id BETWEEN 1 AND $PqK
         |), ranked AS (
         |  SELECT v.vec_id, v.s, c.k,
         |         (${dotSql("v.sv", "v.sv")}
         |           - 2.0 * ${dotSql("v.sv", "c.cv")})
         |           + ${dotSql("c.cv", "c.cv")} AS dist,
         |         ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
         |                            ORDER BY dist, c.k) AS rn
         |  FROM sub v JOIN cb c ON v.s = c.s
         |), codes AS (
         |  SELECT vec_id, s, k FROM ranked WHERE rn = 1
         |), lut AS (
         |  SELECT q.s, c.k,
         |         (${dotSql("q.sv", "q.sv")}
         |           - 2.0 * ${dotSql("q.sv", "c.cv")})
         |           + ${dotSql("c.cv", "c.cv")} AS d
         |  FROM sub q JOIN cb c ON q.s = c.s
         |  WHERE q.vec_id = 0
         |), ad AS (
         |  SELECT codes.vec_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(l.d ORDER BY codes.s)), (acc, x) -> acc + x) AS adist
         |  FROM codes JOIN lut l ON codes.s = l.s AND codes.k = l.k
         |  GROUP BY codes.vec_id
         |)
         |SELECT vec_id, adist FROM ad ORDER BY adist, vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf2" ->
      s"""WITH centroids AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), ranked AS (
         |  SELECT e.vec_id, e.label, e.embedding, c.cid,
         |         ${cosSql("e.embedding", "c.ce")} AS ccos,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ccos DESC, c.cid) AS rn
         |  FROM embeddings e, centroids c
         |), assigned AS (
         |  SELECT vec_id, label, embedding, cid FROM ranked WHERE rn = 1
         |), q AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), qcells AS (
         |  SELECT cid AS qcid FROM ranked WHERE vec_id = 0 AND rn <= 2
         |)
         |SELECT a.vec_id, a.label, a.cid, ${cosSql("a.embedding", "qe")} AS cos
         |FROM assigned a, q
         |WHERE a.cid IN (SELECT qcid FROM qcells)
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
  )
}
