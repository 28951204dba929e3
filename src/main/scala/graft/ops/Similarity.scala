package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (ArrayType(FloatType)) — north-star extension (BASELINE.json).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, query set × corpus. The
  *    correctness baseline; at scale it only survives when the query
  *    side is small enough to broadcast (it is here by construction).
  *  - [[lshTopK]]: banded multi-table hyperplane LSH (deterministic
  *    integer hyperplanes, see [[lshBucket]]/[[lshBands]]) restricts
  *    candidates to bucket-mates in any of B independent tables — the
  *    100 TB path: skinny (id, table, bucket) band joins, per-bucket
  *    candidate lists ~corpus/2^planes per table. planes (bucket
  *    count) and tables (recall) tune independently, so bucket
  *    population stays bounded as the corpus grows — the same banding
  *    geometry as [[Dedup.minhashLsh]].
  *
  * All vector math stays inside Spark SQL lambda expressions
  * (`transform`/`aggregate`/`zip_with`) so whole-stage codegen applies
  * and an oracle can reproduce values bit-for-bit: elements are cast
  * to double first, dot products fold left-to-right, and ranking keys
  * quantize to floor(cos*10000) with vec_id tiebreaks.
  */
object Similarity {

  /** Sequential left-to-right dot product of two double arrays —
    * generic (any length) form via SQL lambdas. NOTE: higher-order
    * functions are interpreted (outside whole-stage codegen); prefer
    * [[dotD]] when the dimension is statically known.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product: a native Catalyst expression generating a
    * single `for` loop ([[graft.functions.DotProduct]]). Bit-identical
    * to [[dot]] and to the previously-used unrolled `a[1]*b[1] + ...`
    * chain (same left-to-right accumulation; the fold's `0.0 + x` seed
    * is an IEEE no-op), but the generated code is a few lines
    * regardless of `dim` — no janino blowup, no 64 KB hazard. `dim` is
    * kept for call-site documentation; the loop runs over the arrays'
    * actual (shorter) length.
    */
  def dotD(a: Column, b: Column, dim: Int): Column =
    graft.functions.DotProduct(a, b)

  /** Cosine similarity of two double arrays (generic form). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic hyperplane-LSH bucket id in [0, 2^planes).
    *
    * Coefficients come from [[planeCoeffs]] (sparse Achlioptas ±1/0,
    * LCG mod 6 — see there for the exact reproduction formula). Bit p
    * of the bucket = sign of the projection onto plane p (zero terms
    * skipped, ascending dimension order). `planeOffset` selects an
    * independent plane set per LSH table (table t passes `t * planes`)
    * so multi-table banding ([[lshBands]]) draws disjoint hyperplanes.
    */
  def lshBucket(v: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes).map(p => planeBit(v, planeOffset + p, p, dim)).reduce(_ + _)

  /** Sparse hyperplane coefficients for one global plane index:
    * Achlioptas-style random projections (+1 w.p. 1/6, -1 w.p. 1/6,
    * 0 w.p. 2/3 — "Database-friendly random projections", PODS 2001),
    * which preserve angles like dense Gaussian planes but with 1/3 the
    * terms. Derivation is the same seedless LCG as before, reduced
    * mod 6: m=0 -> +1, m=1 -> -1, else 0. Public so oracle-SQL
    * builders can emit the IDENTICAL term list (same order, same
    * signs) and match bit-for-bit by construction.
    */
  def planeCoeffs(globalPlane: Int, dim: Int): Seq[Int] =
    (0 until dim).map { d =>
      val m = (1103515245L * (globalPlane.toLong * dim + d) + 12345L) % 2147483648L % 6
      if (m == 0) 1 else if (m == 1) -1 else 0
    }

  /** Bit contribution of one hyperplane: `2^bitPos` when the projection
    * onto global plane `globalPlane` is positive, else 0. Coefficients
    * are folded at plan-build time ([[planeCoeffs]]); zero terms are
    * dropped entirely — with ±1 coefficients the projection is a pure
    * add/subtract chain (no multiplies), ~dim/3 terms, left-to-right.
    * Kept as its own unit so callers can bound codegen size: one
    * plane's unrolled projection compiles comfortably; a whole
    * multi-table bucket in one expression would exceed the JVM 64 KB
    * method limit and knock the stage back to interpreted mode.
    */
  private def planeBit(v: Column, globalPlane: Int, bitPos: Int, dim: Int): Column = {
    val terms = planeCoeffs(globalPlane, dim).zipWithIndex.collect {
      case (1, d)  => element_at(v, d + 1).cast("double")
      case (-1, d) => -element_at(v, d + 1).cast("double")
    }
    require(terms.nonEmpty,
      s"plane $globalPlane has no nonzero coefficients (dim=$dim)")
    when(terms.reduce(_ + _) > 0, lit(1L << bitPos)).otherwise(lit(0L))
  }

  /** Skinny multi-table LSH band index: one `(id, t, bucket)` row per
    * vector per table, where table t's bucket comes from its own
    * disjoint hyperplane set ([[lshBucket]] with offset `t*planes`).
    *
    * This is the scale lever the single-table form lacks: candidate
    * volume of an in-bucket self-join is ~B·n²/2^planes while recall
    * for a pair with per-plane agreement probability p is
    * 1-(1-p^planes)^B — so planes (bucket count) and B (tables) can
    * grow TOGETHER, keeping per-bucket population bounded as n grows
    * without giving up recall, exactly like minhash banding. Rows
    * carry only (id, t, bucket) — vectors are NOT duplicated per
    * table; verification joins them back by id afterwards.
    */
  def lshBands(vecs: DataFrame, idName: String, vecName: String,
               tables: Int, planes: Int, dim: Int): DataFrame = {
    require(tables >= 1 && planes >= 1, "tables and planes must be >= 1")
    // ONE native expression computes every table's bucket (constant
    // coefficient matrix as a codegen reference object) — the earlier
    // form projected tables·planes separate unrolled plane-bit columns
    // below the explode, correct but a janino-compile tax per plan;
    // see graft.functions.HyperplaneBuckets for the parity argument
    vecs.select(col(idName),
        posexplode(graft.functions.HyperplaneBuckets(
          col(vecName), tables, planes, dim)).as(Seq("t", "bucket")))
  }

  private def asDouble(vec: Column): Column =
    transform(vec, x => x.cast("double"))

  /** Per-vector norm, hoisted: computing `sqrt(v.v)` once per VECTOR
    * instead of inside every pair's cosine cuts the pair-join flops 3x
    * (and the codegen size with it). `dot/(sqrt(a.a)*sqrt(b.b))` and
    * `dot/(norm_a*norm_b)` are the same doubles — per-vector sqrt is
    * deterministic — so oracle parity is unaffected.
    */
  def norm(v: Column, dim: Int): Column = sqrt(dotD(v, v, dim))

  /** Quantized cosine from precomputed norms. A zero-norm vector has
    * no defined cosine: the guarded denominator nulls it (ANSI mode
    * would otherwise THROW on the division, killing the whole scan for
    * one degenerate row) and the null then falls out of any threshold
    * filter or ranking — degrade-the-row, never fail-the-job.
    */
  def cosQ(a: Column, b: Column, na: Column, nb: Column, dim: Int): Column =
    floor(dotD(a, b, dim) / when(na * nb =!= 0d, na * nb) * 10000)
      .cast("long")

  /** Embedding-space decontamination screen — the SEMANTIC twin of the
    * n-gram contamination audit ([[TextStats.contamination]] catches
    * verbatim leakage; paraphrased benchmark items share no n-grams
    * but still sit next to the benchmark in embedding space, the case
    * the big-model eval-hygiene pipelines screen for). For every
    * corpus vector whose quantized cosine against ANY benchmark vector
    * reaches `thresholdQ`, emit the flagged vector with its best
    * benchmark match (cos desc, id desc — deterministic) and the
    * total match count — the review queue a training set is scrubbed
    * from.
    *
    * Scale shape: the benchmark side is CONSTANT-sized (benchmarks do
    * not grow with the corpus), so it broadcasts with hoisted norms
    * and the corpus side is one shuffle-free scan — the exact-scoring
    * cost is O(corpus × benchmark) flops with benchmark a constant,
    * i.e. linear in the data, and the one exchange is the per-flagged-
    * vector argmax aggregation (map-side partial, flagged rows only).
    */
  def embedContamination(corpus: DataFrame, benchmark: DataFrame,
                         thresholdQ: Long,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         dim: Int = 64): DataFrame = {
    val b = benchmark.select(col(idCol).as("bench_id"),
        asDouble(col(vecCol)).as("bv"))
      .withColumn("bn", norm(col("bv"), dim))
    val c = corpus.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv"), dim))
    c.crossJoin(broadcast(b))
      .withColumn("cos_q", cosQ(col("cv"), col("bv"), col("cn"), col("bn"), dim))
      .filter(col("cos_q") >= thresholdQ)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("cos_q"), col("bench_id"))).as("m"))
      .select(col("vec_id"), col("m.bench_id").as("bench_id"),
        col("m.cos_q").as("cos_q"), col("n_matches"))
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ranked by (cos desc, id asc). The query
    * side is broadcast — corpus never shuffles.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     dim: Int = 64): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"), dim))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv"), dim))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_q", cosQ(col("qv"), col("cv"), col("qn"), col("cn"), dim))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_q")
  }

  /** IVF-Flat ANN top-k: an inverted-file index with a deterministic
    * coarse quantizer.
    *
    * Structure (the real IVF pipeline): pick centroids; assign every
    * corpus vector to its nearest centroid (the posting lists); a
    * query probes its `nprobe` nearest centroids' lists and ranks
    * candidates exactly. Production systems train the centroids
    * with k-means and probe several lists; here the quantizer is the
    * deterministic subset `id % centroidStride == 0` so the oracle can
    * reproduce the index bit-for-bit — the dataflow (build lists =
    * one broadcast-assign pass + one shuffle on centroid_id; search =
    * equi-join on centroid_id) is exactly the 100 TB shape, and
    * nearest-centroid assignment uses the same quantized-cosine
    * ranking as the search itself.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroidStride: Int = 37, dim: Int = 64,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              centroids: Option[DataFrame] = None,
              nprobe: Int = 1,
              corpusAssigned: Option[DataFrame] = None,
              broadcastQueries: Boolean = true): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    // default: the deterministic stride quantizer (oracle-reproducible);
    // pass `centroids` = [[kmeans]] output for a trained index — same
    // dataflow, tighter posting lists
    val cent = centroids
      .map(_.select(col("centroid_id"), col("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
      .getOrElse(corpus.filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("centv"))
        .withColumn("centn", norm(col("centv"), dim)))

    // argmax as a hash-aggregate, not a window: max_by over
    // struct(cos, -centroid_id) picks (highest cos, then lowest
    // centroid id) deterministically, with map-side partials reducing
    // the vector x centroid cross product BEFORE any shuffle — at
    // scale this removes the per-vector sort the window would need
    def nearestCentroid(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.crossJoin(broadcast(cent))
        .withColumn("c_cos", cosQ(col(v), col("centv"), col(n), col("centn"), dim))
        .groupBy(col(id))
        .agg(
          // null-safe tie-break (see assignToCentroids)
          min_by(col("centroid_id"),
            struct(col("c_cos").isNull.cast("int").as("nf"),
              (-col("c_cos")).as("ns"), col("centroid_id"))).as("centroid_id"),
          first(col(v)).as(v),
          first(col(n)).as(n))

    // `corpusAssigned` = a pre-built [[assignToCentroids]] output for
    // the SAME centroid config: the shared posting-list index. The
    // caller owns the config match (assignment built against other
    // centroids would silently search the wrong lists).
    val c = corpusAssigned
      .map(_.select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("cv"), col("cn")))
      .getOrElse(nearestCentroid(
        corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
          .withColumn("cn", norm(col("cv"), dim)),
        "neighbor_id", "cv", "cn"))
    // the QUERY side probes its nprobe nearest lists (nprobe = 1 keeps
    // the max_by hash-agg; > 1 ranks centroids per query with a window
    // over the broadcast-cross — fine because the query side is the
    // small one by construction; the corpus assignment stays top-1)
    val qBase = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"), dim))
    val q =
      if (nprobe == 1) nearestCentroid(qBase, "query_id", "qv", "qn")
      else {
        val wc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("c_cos").desc, col("centroid_id"))
        qBase.crossJoin(broadcast(cent))
          .withColumn("c_cos", cosQ(col("qv"), col("centv"), col("qn"), col("centn"), dim))
          .withColumn("c_rn", row_number().over(wc))
          .filter(col("c_rn") <= nprobe)
          .select(col("centroid_id"), col("query_id"), col("qv"), col("qn"))
      }

    // query side broadcast only when the caller says it is the small
    // side (the ANN-service shape); [[knnGraph]] probes with the WHOLE
    // corpus, where the right plan is a shuffle equi-join on the
    // posting-list key — both sides hash-partition on centroid_id
    val qSide = if (broadcastQueries) broadcast(q) else q
    val scored = c.join(qSide, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a corpus vector can sit in several probed lists of the same
      // query only if lists overlapped — they never do (top-1 corpus
      // assignment), so (query, neighbor) is already duplicate-free
      .withColumn("cos_q", cosQ(col("qv"), col("cv"), col("qn"), col("cn"), dim))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_q")
  }

  /** The nprobe SWEEP as one probe: [[ivfTopK]] results for EVERY
    * width in `sweeps` (output gains a leading `nprobe` column),
    * derived from a single scoring pass at the WIDEST width. An arm's
    * candidate set is exactly "lists ranked ≤ np for the query", so
    * the widest probe's scored candidates — kept with their list rank
    * `c_rn` — contain every narrower arm, and an arm's top-k rank is
    * the running count of better-scoring candidates from lists ranked
    * ≤ np: ONE window sort per query (the unique (cos, id) order
    * row_number uses), one running sum per arm, no re-probe and no
    * re-score per width. Bit-identical to calling [[ivfTopK]] once per
    * width (OpsSpec pins arm-for-arm equality); cost of ~one widest
    * probe instead of Σ arms — the shape a recall-tuning sweep should
    * have at any corpus size.
    */
  def ivfTopKSweep(queries: DataFrame, corpus: DataFrame, k: Int,
                   sweeps: Seq[Int],
                   centroidStride: Int = 37, dim: Int = 64,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   centroids: Option[DataFrame] = None,
                   corpusAssigned: Option[DataFrame] = None): DataFrame = {
    require(sweeps.nonEmpty && sweeps.forall(_ >= 1),
      s"sweeps must be >= 1, got $sweeps")
    require(sweeps == sweeps.sorted && sweeps.distinct == sweeps,
      s"sweeps must be strictly increasing, got $sweeps")
    val npMax = sweeps.last
    val cent = centroids
      .map(_.select(col("centroid_id"), col("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
      .getOrElse(corpus.filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
    val c = corpusAssigned
      .map(_.select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("cv"), col("cn")))
      .getOrElse(throw new IllegalArgumentException(
        "ivfTopKSweep needs corpusAssigned (the shared posting-list " +
          "index) — a sweep re-building the index per call would hide " +
          "the build cost the sweep exists to compare against"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("c_cos").desc, col("centroid_id"))
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"), dim))
      .crossJoin(broadcast(cent))
      .withColumn("c_cos", cosQ(col("qv"), col("centv"), col("qn"), col("centn"), dim))
      .withColumn("c_rn", row_number().over(wc))
      .filter(col("c_rn") <= npMax)
      .select(col("centroid_id"), col("query_id"), col("qv"), col("qn"),
        col("c_rn"))
    val scored = c.join(broadcast(q), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_q", cosQ(col("qv"), col("cv"), col("qn"), col("cn"), dim))
    // the ONE per-query sort all arms share; (cos_q desc, neighbor_id)
    // is a total order, so the running count over rows ranked at-or-
    // before equals row_number over the arm's filtered candidate set
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cums = scored.select(
      (Seq(col("query_id"), col("neighbor_id"), col("cos_q"), col("c_rn")) ++
        sweeps.map(np =>
          sum(when(col("c_rn") <= np, 1L).otherwise(0L)).over(w)
            .as(s"rk_$np"))): _*)
    // arms come out of ONE pass via a 3-literal explode — a union of
    // per-arm filters would fan the window subtree out once per arm
    // and re-run the probe per branch
    val armStructs = array(sweeps.map(np =>
      struct(lit(np).as("nprobe"), col(s"rk_$np").as("rank"))): _*)
    cums
      .select(col("query_id"), col("neighbor_id"), col("cos_q"),
        col("c_rn"), explode(armStructs).as("arm"))
      .filter(col("c_rn") <= col("arm.nprobe") && col("arm.rank") <= k)
      .select(col("arm.nprobe").as("nprobe"), col("query_id"),
        col("neighbor_id"), col("arm.rank").cast("int").as("rank"),
        col("cos_q"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    * of two retrieval rankings — the standard hybrid-search combiner
    * (lexical + dense, the shape every RAG stack ships): per
    * (query, candidate), `score = Σ 1/(c + rank)` over the lists the
    * candidate appears in, absent lists contributing 0. RRF needs no
    * score calibration between the systems — only ranks — which is
    * exactly why it fuses a BM25-ish ranking with a cosine ranking
    * without a learned weight. Scores here are exact integers
    * (`1000000 div (c + rank)`), so fused order is engine-bit-exact.
    *
    * Inputs are rank tables `(query_id, cand_id, rank)`; the fuse is
    * ONE full-outer equi-join on (query, candidate) — both sides are
    * top-k-sized, k·|queries| rows, so this costs nothing next to the
    * retrievals themselves — and a per-query top-`k` window over
    * ≤ 2k candidates.
    */
  def rrfFuse(a: DataFrame, b: DataFrame,
              aRank: String = "a_rank", bRank: String = "b_rank",
              k: Int = 5, c: Long = 60L): DataFrame = {
    require(k >= 1 && c >= 0, "k must be >= 1, c >= 0")
    val l = a.select(col("query_id"), col("cand_id"), col("rank").as(aRank))
    val r = b.select(col("query_id"), col("cand_id"), col("rank").as(bRank))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_score").desc, col("cand_id"))
    l.join(r, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_score",
        expr(s"coalesce(1000000 div ($c + $aRank), 0L) + " +
          s"coalesce(1000000 div ($c + $bRank), 0L)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversified-retrieval step after any ANN/hybrid
    * top-k: greedily pick `picks` results where each pick maximizes
    * `λ·relevance − (1−λ)·max-similarity-to-already-picked` — high
    * relevance, low redundancy (a result set of five near-duplicates
    * is five times one answer). All scoring is exact integers over the
    * quantized cosines (`mmr_q = lNum·rel_q − (lDen−lNum)·maxSim_q`,
    * argmax tie-broken by candidate id), so the greedy trajectory is
    * engine-bit-exact — an ITERATIVE selection under the hash gate.
    *
    * Dataflow: candidate–candidate similarities are one self-join per
    * query over the top-k candidate set — k² pairs per query, bounded
    * by construction, computed once. Each greedy round is a join of
    * the pair table against the selected set + a per-query `min_by`
    * argmax (hash-aggregates, no windows); `picks` is driver-bounded.
    * The first pick is pure argmax-relevance (`mmr_q = lNum·rel_q` —
    * nothing selected to be redundant with yet).
    *
    * @param candidates (query_id, cand_id, rel_q) — a retrieval top-k
    * @param vectors    (idCol, vecCol) — embeddings for sim lookups
    */
  def mmrRerank(candidates: DataFrame, vectors: DataFrame, picks: Int = 3,
                lambdaNum: Long = 7L, lambdaDen: Long = 10L,
                dim: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(picks >= 1, "picks must be >= 1")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda must be a proper fraction")
    val cand = candidates.select(col("query_id"), col("cand_id"), col("rel_q"))
      .localCheckpoint()
    val v = vectors.select(col(idCol).as("__vid"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v"), dim))
    val a = cand.select(col("query_id"), col("cand_id"))
      .join(v, col("cand_id") === col("__vid"))
      .select(col("query_id"), col("cand_id"),
        col("__v").as("av"), col("__n").as("an"))
    val b = cand.select(col("query_id"), col("cand_id").as("s_id"))
      .join(v, col("s_id") === col("__vid"))
      .select(col("query_id"), col("s_id"),
        col("__v").as("bv"), col("__n").as("bn"))
    val cp = a.join(b, Seq("query_id"))
      .filter(col("cand_id") =!= col("s_id"))
      .withColumn("sim_q", cosQ(col("av"), col("bv"), col("an"), col("bn"), dim))
      .select("query_id", "cand_id", "s_id", "sim_q")
      .localCheckpoint() // read once per greedy round
    var selected = cand.groupBy("query_id")
      .agg(min_by(struct(col("cand_id"), col("rel_q")),
        struct((-col("rel_q")).as("nr"), col("cand_id"))).as("w"))
      .select(col("query_id"), col("w.cand_id").as("cand_id"),
        col("w.rel_q").as("rel_q"), lit(1).as("pick"),
        (lit(lambdaNum) * col("w.rel_q")).as("mmr_q"))
    for (r <- 2 to picks) {
      val ms = cp
        .join(selected.select(col("query_id"), col("cand_id").as("s_id")),
          Seq("query_id", "s_id"))
        .groupBy("query_id", "cand_id").agg(max(col("sim_q")).as("max_sim"))
      val next = cand
        .join(selected.select("query_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_anti")
        .join(ms, Seq("query_id", "cand_id"), "left")
        .withColumn("mmr_q",
          lit(lambdaNum) * col("rel_q") -
            lit(lambdaDen - lambdaNum) * coalesce(col("max_sim"), lit(0L)))
        .groupBy("query_id")
        .agg(min_by(struct(col("cand_id"), col("rel_q"), col("mmr_q")),
          struct((-col("mmr_q")).as("nm"), col("cand_id"))).as("w"))
        .select(col("query_id"), col("w.cand_id").as("cand_id"),
          col("w.rel_q").as("rel_q"), lit(r).as("pick"),
          col("w.mmr_q").as("mmr_q"))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected
  }

  /** k-NN graph: every corpus vector's top-k neighbors, as a directed
    * edge list (src, dst, rank, cos_q, mutual) — the structure
    * graph-based curation consumes (SemDeDup-style cluster refinement,
    * graph dedup, diversity sampling all start from this graph).
    *
    * The probe side is the WHOLE corpus, so this reuses the IVF
    * posting-list machinery ([[ivfTopK]]) with `broadcastQueries =
    * false`: both sides hash-partition on centroid_id (one shuffle
    * each), candidates per vector are bounded by its `nprobe` probed
    * lists — never the n² cross product a brute-force graph pays.
    * `mutual` marks edges whose reverse edge also survived its own
    * top-k — the symmetric backbone; computed with one self-equi-join
    * on the (src, dst) edge key over the k·n-row edge list.
    *
    * Pass `corpusAssigned` = the shared [[assignToCentroids]] index so
    * the graph build reads the same materialized posting lists every
    * other ANN consumer reads.
    */
  def knnGraph(corpus: DataFrame, k: Int, nprobe: Int = 2,
               centroidStride: Int = 37, dim: Int = 64,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               centroids: Option[DataFrame] = None,
               corpusAssigned: Option[DataFrame] = None): DataFrame = {
    val edges = ivfTopK(corpus, corpus, k, centroidStride, dim, idCol, vecCol,
        centroids, nprobe, corpusAssigned, broadcastQueries = false)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("rank"), col("cos_q"))
      // edges feed both sides of the mutuality join — materialize once
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("_m"))
    edges.join(rev, Seq("src", "dst"), "left")
      .withColumn("mutual", coalesce(col("_m"), lit(false)))
      .drop("_m")
  }

  /** Hard-negative mining for contrastive/embedding training (the
    * public recipe behind DPR's "hard negatives", Karpukhin et al.
    * EMNLP 2020, and every bi-encoder since): for each vector, find
    * ANN neighbors that score HIGH on cosine yet belong to a DIFFERENT
    * coarse cluster — similar-looking, semantically-other examples, the
    * ones a contrastive loss learns most from. Random negatives are
    * trivially easy; same-cluster neighbors are likely positives; the
    * high-cos different-cluster band is the training signal.
    *
    * Dataflow: the same posting-list ANN join as [[knnGraph]] (probe
    * side never broadcast), then the cluster assignment equi-joins in
    * on BOTH endpoints — at 100 TB the assignment is the shared index
    * memo, so mining costs one ANN probe + two skinny id joins. The
    * `[minCosQ, maxCosQ]` band drops easy negatives below and
    * near-duplicates above (a dup that landed across a cluster
    * boundary is noise, not signal). Top `perVec` negatives per
    * vector, rank re-numbered after the filter.
    */
  def hardNegatives(corpus: DataFrame, k: Int = 8, perVec: Int = 3,
                    minCosQ: Long = 3000L, maxCosQ: Long = 9500L,
                    nprobe: Int = 2, centroidStride: Int = 37, dim: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroids: Option[DataFrame] = None,
                    corpusAssigned: Option[DataFrame] = None): DataFrame = {
    val asg = corpusAssigned.getOrElse(assignToCentroids(corpus, centroidStride,
        dim, idCol, vecCol))
      .select(col(idCol).as("__id"), col("centroid_id"))
    val edges = ivfTopK(corpus, corpus, k, centroidStride, dim, idCol, vecCol,
      centroids, nprobe, corpusAssigned, broadcastQueries = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos_q").desc, col("neg_id"))
    edges
      .select(col("query_id").as("src"), col("neighbor_id").as("neg_id"),
        col("cos_q"))
      .filter(col("cos_q").between(minCosQ, maxCosQ))
      .join(asg.withColumnRenamed("centroid_id", "src_cluster"),
        col("src") === col("__id")).drop("__id")
      .join(asg.withColumnRenamed("centroid_id", "neg_cluster"),
        col("neg_id") === col("__id")).drop("__id")
      .filter(col("src_cluster") =!= col("neg_cluster"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perVec)
      .select("src", "neg_id", "rank", "cos_q", "src_cluster", "neg_cluster")
  }

  /** Deterministic mean-pooling of embeddings per group — the pass
    * that turns chunk/frame embeddings into one document vector. A
    * plain per-dimension mean sums doubles in partition order and is
    * NOT reproducible; here each element is first quantized to
    * micro-fixed-point (`floor(v·10⁶)` as a long), the per-(group,
    * dim) sum runs over longs (order-free, exact), and the mean is one
    * final division — engine- and partitioning-deterministic with 1e-6
    * element precision. Emits flat (group_id, dim_idx, n, sum_micro,
    * mean_v) rows.
    *
    * Shape for scale: one posexplode to (group, dim) rows, then a
    * single partial-agged hash aggregation — dim× row blowup of
    * skinny longs, no windows, one shuffle on (group, dim).
    */
  def meanPool(emb: DataFrame, groupExpr: Column,
               vecCol: String = "embedding"): DataFrame =
    emb.select(groupExpr.as("group_id"),
        posexplode(transform(asDouble(col(vecCol)),
          x => floor(x * 1e6).cast("long"))).as(Seq("dim_idx", "micro")))
      .groupBy("group_id", "dim_idx")
      .agg(count(lit(1)).as("n"), sum(col("micro")).as("sum_micro"),
        (sum(col("micro")).cast("double") / (count(lit(1)) * 1e6)).as("mean_v"))

  /** Embedding distribution drift between two corpus snapshots — the
    * re-index trigger's other half: [[Profile.rebuildDecision]] watches
    * posting-list LOADS; this audits the underlying DISTRIBUTION shift per (group, dimension) between the snapshot an
    * index was trained on and the corpus it now serves.
    *
    * Exactness: both sides pool through [[meanPool]]'s micro-quantized
    * integer sums, and the mean comparison is cross-multiplied —
    * `drifted` ⇔ |sum_cur/n_cur − sum_base/n_base| > thresholdMicro
    * micro-units, tested as the exact inequality
    * |sum_cur·n_base − sum_base·n_cur| > threshold·n_base·n_cur with
    * the products in DECIMAL(38,0) (DuckDB: HUGEINT) — long×long
    * would overflow at ~3M vectors/group, the scale this operator is
    * FOR, and silently flip flags with ANSI off. No division, still
    * engine-identical. `delta_mean_micro` (double) is the human-scale
    * report column; the flag never reads it. A group present in only
    * one snapshot is drift by definition.
    *
    * Shape for scale: two one-shuffle pooled aggregations (dim× skinny
    * long rows), then an equi-join on (group, dim) — group×dim rows,
    * dimension-table sized.
    */
  def embeddingDrift(base: DataFrame, current: DataFrame,
                     groupExpr: Column, thresholdMicro: Long = 10000L,
                     vecCol: String = "embedding"): DataFrame = {
    val b = meanPool(base, groupExpr, vecCol)
      .select(col("group_id"), col("dim_idx"),
        col("n").as("n_base"), col("sum_micro").as("sum_base"))
    val c = meanPool(current, groupExpr, vecCol)
      .select(col("group_id"), col("dim_idx"),
        col("n").as("n_cur"), col("sum_micro").as("sum_cur"))
    b.join(c, Seq("group_id", "dim_idx"), "full_outer")
      .select(col("group_id"), col("dim_idx"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("sum_base"), lit(0L)).as("sum_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("sum_cur"), lit(0L)).as("sum_cur"))
      .withColumn("delta_mean_micro",
        when(col("n_base") > 0 && col("n_cur") > 0,
          col("sum_cur").cast("double") / col("n_cur") -
            col("sum_base").cast("double") / col("n_base")))
      .withColumn("drifted", {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        col("n_base") === 0 || col("n_cur") === 0 ||
          abs(col("sum_cur").cast(dec) * col("n_base") -
              col("sum_base").cast(dec) * col("n_cur")) >
            lit(thresholdMicro).cast(dec) * col("n_base") * col("n_cur")
      })
  }

  /** Deterministic int8 embedding quantization — the 4x storage
    * compression an embedding lake applies before indexing: per-vector
    * max-abs scale, q[d] = floor(v[d] / scale * 127) in [-127, 127]
    * (floor, not round: round's tie-breaking differs across engines;
    * floor is bit-deterministic everywhere). Dequantization is
    * q * scale / 127 with error <= scale/127 per element. Vectors
    * without a finite positive scale — all-zero, or containing
    * NaN/Inf — are dropped. One scan, no shuffle (the per-vector
    * scale/quantize lambdas are interpreted HOFs, but run once per
    * VECTOR, not in any pair join — not a hot path). Emits
    * (vec_id, scale, qvec).
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    emb.select(col(idCol).as("vec_id"), v.as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .filter(col("scale") > 0 && !isnan(col("scale")) &&
        col("scale") =!= Double.PositiveInfinity)
      .select(col("vec_id"), col("scale"),
        transform(col("v"),
          x => floor(x / col("scale") * 127).cast("long")).as("qvec"))
  }

  /** Deterministic ±1 sign matrix for [[randomProject]]: entry (j, i)
    * is +1 when the high bit of md5("seed:i:j") is 0 — a pure function
    * of the seed, reproducible in any engine with an md5.
    */
  def signMatrix(seed: String, inDim: Int, outDim: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (j, i) =>
      if ((md.digest(s"$seed:$i:$j".getBytes("UTF-8"))(0) & 0x80) == 0) 1
      else -1
    }
  }

  /** Signed random projection (Achlioptas, "Database-friendly random
    * projections", JCSS 2003): reduce `inDim`-dim embeddings to
    * `outDim` coordinates via a dense ±1 matrix — the cheap
    * Johnson–Lindenstrauss transform an embedding lake applies before
    * coarse clustering or as the hashing basis of sign-LSH (±1 entries
    * need no float matrix storage: the matrix is a seed).
    *
    * Exactness contract (same as [[meanPool]]): inputs quantize to
    * micro-fixed-point longs (`floor(x·1e6)`) BEFORE the matrix
    * multiply, so every projected coordinate is an exact integer sum —
    * order-free, bit-identical in any engine. Output columns
    * `proj_0..proj_{outDim-1}` are micro-unit longs (divide by 1e6 for
    * the float view).
    *
    * Scale: one scan, zero shuffles — the projection is `outDim`
    * per-row array folds over a broadcast-free literal sign matrix
    * (it lives in the plan, `outDim × inDim` ints). The dense matmul
    * cost is O(inDim · outDim) per vector, the JL floor.
    */
  def randomProject(emb: DataFrame, outDim: Int, seed: String = "rp",
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    // inDim = MAX vector length — an aggregate, so deterministic run to
    // run (a take(1) over a distributed filter is not: the sign matrix
    // would vary with whichever row happened to survive first). All
    // vectors must have this length; a shorter vector null-pads under
    // zip_with and its proj_* sums come out null (visible, not wrong).
    val probe = emb.agg(max(size(col(vecCol))).as("d")).head()
    require(!probe.isNullAt(0) && probe.getInt(0) > 0,
      "randomProject needs at least one non-null, non-empty vector")
    val inDim = probe.getInt(0)
    val signs = signMatrix(seed, inDim, outDim)
    val micro = transform(asDouble(col(vecCol)),
      x => floor(x * 1e6).cast("long"))
    val projCols = (0 until outDim).map { j =>
      val row = typedLit(signs(j).map(_.toLong).toSeq)
      aggregate(zip_with(col("_m"), row, (m, s) => m * s),
        lit(0L), (acc, x) => acc + x).as(s"proj_$j")
    }
    emb.select(col(idCol).as("vec_id"), micro.as("_m"))
      .select(col("vec_id") +: projCols: _*)
  }

  /** Spherical-k-means centroid training for the IVF index (Lloyd's
    * algorithm): assign every vector to its max-cosine centroid
    * (broadcast-cross + `max_by` hash-agg — the same shuffle-free
    * argmax dataflow as [[ivfTopK]]'s probe), then recompute each
    * centroid as the element-wise mean of its members; repeat.
    *
    * Deterministic: init = the k lowest-id vectors, assignment ranks
    * by the quantized cosine with id tiebreaks. NOT oracle-portable —
    * the mean's floating-point sum order varies across engines and
    * partitionings — so this trains the index (a model parameter, spec-
    * verified) rather than backing a driver query; [[ivfTopK]] keeps
    * its stride quantizer as the oracle-reproducible default.
    *
    * Scale: per round, one broadcast-cross assignment reduced map-side
    * and one mean hash-agg (both partial-agg friendly); centroids (k x
    * dim doubles) are the only persisted state. Clusters that lose all
    * members drop out (standard Lloyd behavior).
    *
    * Returns (centroid_id, centv) for [[ivfTopK]]'s `centroids` param.
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 5, dim: Int = 64,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0, "k and iters must be positive")
    val vecs = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm(col("v"), dim)).persist()
    // caches released in the finally — a job failure mid-loop must not
    // leak them for the session lifetime (same contract as
    // Dedup.connectedComponents)
    var cent: DataFrame = null
    try {
      cent = vecs.orderBy(col("vid")).limit(k)
        .select(col("vid").as("centroid_id"), col("v").as("centv"),
          col("vn").as("centn")).persist()
      cent.count()
      for (_ <- 1 to iters) {
        val assigned = vecs.crossJoin(broadcast(cent))
          .withColumn("c_cos", cosQ(col("v"), col("centv"), col("vn"), col("centn"), dim))
          .groupBy(col("vid"))
          // same null-safe tie-break as assignToCentroids: negate the
          // numeric score, never the id (string-id safe); null-flag
          // keeps a null score losing
          .agg(min_by(col("centroid_id"),
              struct(col("c_cos").isNull.cast("int").as("nf"),
                (-col("c_cos")).as("ns"), col("centroid_id"))).as("centroid_id"),
            first(col("v")).as("v"))
        val next = assigned.groupBy("centroid_id")
          .agg(array((1 to dim).map(i => avg(element_at(col("v"), i))): _*).as("centv"))
          .withColumn("centn", norm(col("centv"), dim))
          .persist()
        next.count()
        cent.unpersist()
        cent = next
      }
      // eager localCheckpoint truncates the per-round lineage (round N's
      // plan nests every earlier round), so the returned centroids are a
      // k x dim leaf and EVERY loop cache can be dropped — previously the
      // final persist was load-bearing for the caller and never released
      cent.select("centroid_id", "centv").localCheckpoint()
    } finally {
      vecs.unpersist()
      if (cent != null) cent.unpersist()
    }
  }

  /** Exact-integer Lloyd k-means — the ORACLE-PORTABLE trainer beside
    * [[kmeans]]. Same dataflow (per round: one broadcast-cross
    * assignment reduced map-side + one hash-agg update; k×dim longs of
    * state), but every number an engine could disagree on is an
    * integer: vectors quantize ONCE to micro-longs (`floor(x·1e6)`),
    * assignment cosines are computed over integer-VALUED doubles
    * (components ≤ ~1e6, so products ≤ ~1e12 and 64-term sums ≤
    * ~6.4e13 — all < 2^53, every intermediate exact in IEEE double;
    * the final `sqrt`/`÷`/`floor(·1e4)` are single correctly-rounded
    * ops any engine reproduces), and the centroid update is the
    * per-dimension `floor(sum/count)` over those integers (exact sum,
    * one correctly-rounded division, one floor). Determinism therefore
    * does not depend on partitioning or fold order — the float-mean
    * caveat that keeps [[kmeans]] out of the oracle gate does not
    * apply, and a DuckDB oracle unrolls the training loop verbatim
    * (`q_kmeans` gates the full centroid table element by element).
    *
    * init = the k lowest-id vectors' micro arrays ([[kmeans]]'s seed
    * rule); assignment ties break to the lowest centroid id; empty
    * clusters drop out (standard Lloyd). `n_members` counts the LAST
    * assignment round — the membership the returned centroids were
    * computed from (0 when `iters == 0`: no assignment ran).
    *
    * Returns (centroid_id, n_members, cm: array<long> micro centroid,
    * centv: array<double> = the same values as doubles — cosine is
    * scale-invariant, so centv plugs straight into [[ivfTopK]] /
    * [[assignToCentroids]]'s `centroids` parameter unscaled).
    */
  def kmeansExact(corpus: DataFrame, k: Int, iters: Int = 2, dim: Int = 64,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0, "k must be >= 1 and iters >= 0")
    val micro = transform(asDouble(col(vecCol)),
      x => floor(x * lit(1000000.0)).cast("long"))
    val vecs = corpus.select(col(idCol).as("vid"), micro.as("mv"))
      .withColumn("v", transform(col("mv"), x => x.cast("double")))
      .withColumn("vn", norm(col("v"), dim))
      .persist()
    var cent: DataFrame = null
    try {
      cent = vecs.orderBy(col("vid")).limit(k)
        .select(col("vid").as("centroid_id"), lit(0L).as("n_members"),
          col("mv").as("cm"), col("v").as("centv"), col("vn").as("centn"))
        .persist()
      cent.count()
      for (_ <- 1 to iters) {
        val assigned = vecs
          .crossJoin(broadcast(cent.select("centroid_id", "centv", "centn")))
          .withColumn("c_cos",
            cosQ(col("v"), col("centv"), col("vn"), col("centn"), dim))
          .groupBy(col("vid"))
          // null-safe tie-break (see assignToCentroids): highest cos,
          // lowest centroid id, a null score always losing
          .agg(min_by(col("centroid_id"),
              struct(col("c_cos").isNull.cast("int").as("nf"),
                (-col("c_cos")).as("ns"), col("centroid_id"))).as("centroid_id"),
            first(col("mv")).as("mv"))
        // floor(sum/count) per dimension: the sum is exact (bounded
        // integers), `/` on longs is Spark's double division — one
        // correctly-rounded op, mirrored by the oracle's
        // CAST(floor(CAST(sum AS DOUBLE)/count) AS BIGINT)
        val next = assigned.groupBy("centroid_id")
          .agg(count(lit(1)).as("n_members"),
            (1 to dim).map(i =>
              sum(element_at(col("mv"), i)).as(s"_s$i")): _*)
          .select(col("centroid_id"), col("n_members"),
            array((1 to dim).map(i =>
              floor(col(s"_s$i") / col("n_members")).cast("long")): _*).as("cm"))
          .withColumn("centv", transform(col("cm"), x => x.cast("double")))
          .withColumn("centn", norm(col("centv"), dim))
          .persist()
        next.count()
        cent.unpersist()
        cent = next
      }
      cent.select("centroid_id", "n_members", "cm", "centv").localCheckpoint()
    } finally {
      vecs.unpersist()
      if (cent != null) cent.unpersist()
    }
  }

  /** Quantized-cosine inertia of a centroid set over a corpus — the
    * single-row quality readout the k-chooser (q_kmeans_elbow) plots:
    * per vector, the max quantized cosine to ANY centroid (the value
    * is tie-independent even where the assignment id is not), then
    * `mean_dist_e4 = Σ(10⁴ − max_cos) div n` — exact integers end to
    * end, so the elbow curve hash-gates. Same broadcast-cross +
    * hash-agg dataflow as the trainer; one row out.
    */
  def kmeansInertia(corpus: DataFrame, centroids: DataFrame, dim: Int = 64,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cent = centroids.select(col("centroid_id"), col("centv"))
      .withColumn("centn", norm(col("centv"), dim))
    corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm(col("v"), dim))
      .crossJoin(broadcast(cent))
      .withColumn("c_cos", cosQ(col("v"), col("centv"), col("vn"), col("centn"), dim))
      .groupBy("vid").agg(max(col("c_cos")).as("mc"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(10000 - mc) div count(1)").as("mean_dist_e4"))
  }

  /** Swap-in of a [[splitHotLists]] result: members of every split
    * list re-assign to the nearest replacement sub-centroid (their new
    * list key is `"<list>:<sub>"`), members of untouched lists keep
    * their key — the updated posting-list layout, produced WITHOUT
    * touching unflagged lists or re-scoring anything but the flagged
    * members. Emits (vec_id, list_key): string keys, because split
    * children are no longer corpus vector ids (every health/decision
    * op here already keys lists by string).
    *
    * Shape: flagged membership = broadcast semi-join on the (tiny)
    * splits frame; scoring joins members to their OWN list's children
    * only (broadcast, k rows per flagged list); the untouched side is
    * a pure projection unioned back.
    */
  def applyListSplits(assignment: DataFrame, splits: DataFrame,
                      dim: Int = 64,
                      keepVectors: Boolean = false): DataFrame = {
    val sp = splits.select(col("list_key"), col("sub_id"), col("centv"))
      .withColumn("centn", norm(col("centv"), dim))
    val keys = sp.select("list_key").distinct()
    val a = assignment.withColumn("list_key", col("centroid_id").cast("string"))
    // keepVectors carries (cv, cn) through for the SERVING swap-in
    // (the refreshed index must keep the assignment's full contract)
    // without a second corpus-sized join back onto the result
    val untouched = a.join(broadcast(keys), Seq("list_key"), "left_anti")
      .select(col("vec_id") +: col("list_key") +:
        (if (keepVectors) Seq(col("cv"), col("cn")) else Nil): _*)
    val moved = a.join(broadcast(keys), Seq("list_key"))
      .join(broadcast(sp), Seq("list_key"))
      .withColumn("c_cos", cosQ(col("cv"), col("centv"), col("cn"), col("centn"), dim))
      .groupBy("list_key", "vec_id")
      .agg(min_by(col("sub_id"),
          struct(col("c_cos").isNull.cast("int").as("nf"),
            (-col("c_cos")).as("ns"), col("sub_id"))).as("sub_id"),
        first(col("cv")).as("cv"), first(col("cn")).as("cn"))
      .select(concat(col("list_key"), lit(":"), col("sub_id")).as("list_key") +:
        col("vec_id") +:
        (if (keepVectors) Seq(col("cv"), col("cn")) else Nil): _*)
      .select(untouched.columns.map(col): _*) // align column order for the union
    untouched.unionByName(moved)
  }

  /** The probe-side centroid table matching an [[applyListSplits]]
    * swap-in: the base quantizer's centroids (keys cast to string)
    * minus the split lists, plus each split's replacement
    * sub-centroids under their `"<list>:<sub>"` keys. Together with
    * the refreshed assignment this is the complete post-split index an
    * ANN service serves from — queries quantize against the NEW layout
    * and read the NEW posting lists.
    */
  def postSplitCentroids(corpus: DataFrame, splits: DataFrame,
                         centroidStride: Int = 37, dim: Int = 64,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         centroids: Option[DataFrame] = None): DataFrame = {
    val base = centroids
      .map(_.select(col("centroid_id"), col("centv")))
      .getOrElse(corpus.filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("centv")))
      .withColumn("centroid_id", col("centroid_id").cast("string"))
    val splitKeys = splits.select("list_key").distinct()
    base.join(broadcast(splitKeys),
        base("centroid_id") === splitKeys("list_key"), "left_anti")
      .unionByName(splits.select(
        concat(col("list_key"), lit(":"), col("sub_id")).as("centroid_id"),
        col("centv")))
  }

  /** Squared L2 distance of two double arrays — left-to-right fold
    * like [[dot]] (the 0.0 seed is an IEEE no-op on the non-negative
    * terms), so an oracle's `list_reduce` reproduces it bit-for-bit.
    */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** The re-train step the rebuild decision report exists to trigger:
    * for every posting list flagged `split_now` (oversized AND hot —
    * [[graft.ops.Profile.rebuildDecision]]), run a `k`-way Lloyd split
    * over THAT LIST'S members and emit replacement sub-centroids. The
    * index owner swaps the flagged centroid for its `k` children and
    * re-assigns only the flagged lists' members — O(flagged lists),
    * never a full re-index.
    *
    * One GROUPED k-means, not a per-list driver loop: all flagged
    * lists iterate together, centroids keyed by (list_key, sub_id).
    * Per round: members broadcast-join the current (lists × k)
    * centroid set ON list_key (a member only scores its own list's
    * children — candidate volume is members × k, not members ×
    * lists·k), per-member argmin via the null-safe min_by tie-break,
    * per-(list, sub) mean recompute. Init = the k lexicographically
    * smallest member ids per list (deterministic, like [[kmeans]]).
    * Empty sub-clusters keep their previous centroid (coalesce) — the
    * standard Lloyd degeneracy guard. Members of unflagged lists are
    * filtered before any work.
    *
    * Emits (list_key, sub_id, centv) — `k` rows per flagged list.
    */
  def splitHotLists(assignment: DataFrame, decisions: DataFrame,
                    k: Int = 2, iters: Int = 5, dim: Int = 64): DataFrame = {
    require(k >= 1 && iters >= 0, "k must be >= 1 and iters >= 0")
    val flagged = decisions.filter(col("decision") === "split_now")
      .select(col("list_key"))
    val members = assignment
      .withColumn("list_key", col("centroid_id").cast("string"))
      .join(broadcast(flagged), Seq("list_key"))
      .select(col("list_key"), col("vec_id").as("vid"),
        col("cv").as("v"), col("cn").as("vn"))
      .persist()
    var cent: DataFrame = null
    try {
      val wInit = org.apache.spark.sql.expressions.Window
        .partitionBy("list_key").orderBy("vid")
      cent = members
        .withColumn("_rn", row_number().over(wInit))
        .filter(col("_rn") <= k)
        .select(col("list_key"), (col("_rn") - 1).cast("long").as("sub_id"),
          col("v").as("centv"), col("vn").as("centn"))
        .persist()
      cent.count()
      for (_ <- 1 to iters) {
        val assigned = members.join(broadcast(cent), Seq("list_key"))
          .withColumn("c_cos",
            cosQ(col("v"), col("centv"), col("vn"), col("centn"), dim))
          .groupBy("list_key", "vid")
          .agg(min_by(col("sub_id"),
              struct(col("c_cos").isNull.cast("int").as("nf"),
                (-col("c_cos")).as("ns"), col("sub_id"))).as("sub_id"),
            first(col("v")).as("v"))
        val means = assigned.groupBy("list_key", "sub_id")
          .agg(array((1 to dim).map(i => avg(element_at(col("v"), i))): _*)
            .as("newv"))
        // empty sub-clusters (every member moved away) keep their old
        // centroid instead of vanishing
        val next = cent.select("list_key", "sub_id", "centv")
          .join(means, Seq("list_key", "sub_id"), "left")
          .select(col("list_key"), col("sub_id"),
            coalesce(col("newv"), col("centv")).as("centv"))
          .withColumn("centn", norm(col("centv"), dim))
          .persist()
        next.count()
        cent.unpersist()
        cent = next
      }
      cent.select("list_key", "sub_id", "centv").localCheckpoint()
    } finally {
      members.unpersist()
      if (cent != null) cent.unpersist()
    }
  }

  /** Product-quantization codebooks with a deterministic picker: the
    * vectors with `id % codeStride == 0` serve as the code points, and
    * each contributes its s-th `dim/m`-dim slice to subspace s's
    * codebook. (Production PQ trains per-subspace k-means — [[kmeans]]
    * shows the trained path; the stride picker keeps the index
    * oracle-reproducible, exactly like [[ivfTopK]]'s coarse
    * quantizer.) Returns (s, code, cb) — m×K tiny rows, broadcast by
    * every consumer.
    */
  /** Corpus→centroid assignment for the stride-quantized IVF index,
    * exposed so a session can build the posting-list index ONCE and
    * serve it to every consumer ([[ivfTopK]]'s `corpusAssigned`,
    * [[ivfPqTopK]]'s too) — the persisted-index discipline of a
    * deployed ANN service: the index is built by the indexer, queries
    * only read it. Emits (vec_id, centroid_id, cv, cn); same
    * broadcast-cross + `max_by` dataflow as the inline path.
    */
  def assignToCentroids(corpus: DataFrame, centroidStride: Int = 37,
                        dim: Int = 64,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        centroids: Option[DataFrame] = None): DataFrame = {
    // `centroids` (centroid_id, centv) freezes the quantizer — the
    // incremental-ingestion path: new vectors are assigned against the
    // BASE index's centroids (same contract as the minhash band index
    // and the embedding-LSH incremental variants), so growing the
    // corpus is O(new vectors), never a re-index. Default: the stride
    // quantizer derived from `corpus` itself.
    val cent = centroids
      .map(_.select(col("centroid_id"), col("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
      .getOrElse(corpus.filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
    corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv"), dim))
      .crossJoin(broadcast(cent))
      .withColumn("c_cos", cosQ(col("cv"), col("centv"), col("cn"), col("centn"), dim))
      .groupBy(col("vec_id"))
      // negate the numeric score, not the id (safe for any id type —
      // see Dedup.canonicalByScore): highest cos, lowest centroid_id;
      // leading null-flag keeps a null score losing
      .agg(min_by(col("centroid_id"),
          struct(col("c_cos").isNull.cast("int").as("nf"),
            (-col("c_cos")).as("ns"), col("centroid_id"))).as("centroid_id"),
        first(col("cv")).as("cv"), first(col("cn")).as("cn"))
  }

  def pqCodebooks(corpus: DataFrame, m: Int, dim: Int, codeStride: Int = 37,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val slices = array((0 until m).map(s =>
      slice(asDouble(col(vecCol)), s * subDim + 1, subDim)): _*)
    corpus.filter(col(idCol) % codeStride === 0)
      .select(col(idCol).as("code"), posexplode(slices).as(Seq("s", "cb")))
      .select(col("s"), col("code"), col("cb"))
  }

  /** Product-quantization encoding: each vector becomes m small codes
    * — the nearest codebook entry (squared-L2, quantized to
    * floor(d²·10⁴) with code-id tiebreaks) per subspace. The 4-byte-ish
    * code rows are what an embedding lake stores and scans at 100 TB;
    * full vectors stay cold. One broadcast join (codebooks are m×K)
    * and a `min_by` hash-agg — map-side partials, no window, corpus
    * never shuffles wide.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val slices = array((0 until m).map(s =>
      slice(asDouble(col(vecCol)), s * subDim + 1, subDim)): _*)
    corpus.select(col(idCol).as("vec_id"), posexplode(slices).as(Seq("s", "sv")))
      .join(broadcast(codebooks), Seq("s"))
      .withColumn("d2q", floor(sqDist(col("sv"), col("cb")) * 10000).cast("long"))
      .groupBy("vec_id", "s")
      .agg(min_by(col("code"), struct(col("d2q"), col("code"))).as("code"))
  }

  /** PQ/ADC approximate top-k (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): queries never touch
    * corpus vectors — each query precomputes a per-subspace distance
    * TABLE to every codebook entry, and a corpus vector's approximate
    * distance is the sum of m table lookups on its codes (asymmetric
    * distance computation). Partial distances are quantized to longs
    * BEFORE the sum so the total is order-free and engine-exact.
    *
    * Shape for scale: the distance table (queries × m × K skinny rows)
    * broadcasts; the encoded corpus — m code rows per vector, no
    * vectors — streams through one equi-join on (s, code) and a
    * partial-agged sum; ranking windows over per-query candidates.
    * This is the production ADC dataflow: the 100 TB side is scanned
    * as codes only.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, dim: Int = 64, codeStride: Int = 37,
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             codebooks: Option[DataFrame] = None,
             encoded: Option[DataFrame] = None): DataFrame = {
    val subDim = dim / m
    val cb = codebooks.getOrElse(pqCodebooks(corpus, m, dim, codeStride, idCol, vecCol))
    // `encoded` = a pre-built [[pqEncode]] output (vec_id, s, code):
    // the stored index of a deployed PQ service, encoded once and
    // served to every query instead of re-encoding per call
    val enc = encoded.getOrElse(pqEncode(corpus, cb, m, dim, idCol, vecCol))
    val slices = array((0 until m).map(s =>
      slice(asDouble(col(vecCol)), s * subDim + 1, subDim)): _*)
    val table = queries
      .select(col(idCol).as("query_id"), posexplode(slices).as(Seq("s", "qv")))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        floor(sqDist(col("qv"), col("cb")) * 10000).cast("long").as("dq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_q"), col("neighbor_id"))
    enc.join(broadcast(table), Seq("s", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dq")).as("adc_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc_q")
  }

  /** Two-stage PQ serving (the pattern every deployed PQ index ships
    * — FAISS's `IndexRefine`, ScaNN's reordering stage): the
    * compressed codes produce a cheap `shortlist`-sized candidate set
    * per query via ADC, then ONLY those candidates are re-scored with
    * exact cosine from the raw vectors and the top `k` survive. The
    * two-stage shape is the whole economics of PQ at 100 TB: the
    * exact pass touches `queries × shortlist` raw vectors instead of
    * the corpus, so the expensive math is bounded by the shortlist,
    * not the index size.
    *
    * Plan shape: stage 1 is [[pqTopK]] unchanged (broadcast distance
    * tables, code equi-join); stage 2 broadcasts the (query, qv,
    * candidate) frame — queries × shortlist rows — against the corpus
    * id-lookup, so the corpus again never shuffles. `adc_rank` rides
    * along to show the reorder (rank ≠ adc_rank rows are exactly the
    * pairs the compression had mis-ordered).
    */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   shortlist: Int, m: Int = 8, dim: Int = 64,
                   codeStride: Int = 37, idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   codebooks: Option[DataFrame] = None,
                   encoded: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val cands = pqTopK(queries, corpus, shortlist, m, dim, codeStride,
      idCol, vecCol, codebooks, encoded)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("adc_rank"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"), dim))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv"), dim))
    val scored = c
      .join(broadcast(cands.join(q, Seq("query_id"))), Seq("neighbor_id"))
      .withColumn("cos_q", cosQ(col("qv"), col("cv"), col("qn"), col("cn"), dim))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_q", "adc_rank")
  }

  /** Per-subspace k-means PQ codebook training (Lloyd, squared-L2,
    * mean centroids): the trained counterpart of [[pqCodebooks]]'s
    * stride picker, analogous to [[kmeans]] for the IVF coarse
    * quantizer. Deterministic: init = the k lowest-id vectors'
    * subvectors, assignment ranks by quantized distance with code
    * tiebreaks. NOT oracle-portable (the mean's fp sum order varies),
    * so it trains the index (spec-verified) while driver queries keep
    * the stride codebooks. Returns (s, code, cb) for
    * [[pqTopK]]/[[pqEncode]]'s `codebooks` hook.
    *
    * Scale: per round, one broadcast join of (m×K tiny codebooks)
    * against the exploded subvectors + two hash-aggs, all partial-
    * agged; state between rounds is m×K×subDim doubles.
    */
  def pqTrain(corpus: DataFrame, m: Int, dim: Int, k: Int, iters: Int = 3,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0 && k >= 1 && iters >= 0,
      s"need m | dim, k >= 1, iters >= 0")
    val subDim = dim / m
    val slices = array((0 until m).map(s =>
      slice(asDouble(col(vecCol)), s * subDim + 1, subDim)): _*)
    val sub = corpus
      .select(col(idCol).as("vid"), posexplode(slices).as(Seq("s", "sv")))
      .persist()
    var cb: DataFrame = null
    try {
      val initIds = corpus.select(col(idCol).as("vid")).orderBy("vid").limit(k)
      cb = sub.join(broadcast(initIds), Seq("vid"))
        .select(col("s"), col("vid").as("code"), col("sv").as("cb")).persist()
      cb.count()
      for (_ <- 1 to iters) {
        val assigned = sub.join(broadcast(cb), Seq("s"))
          .withColumn("d2q", floor(sqDist(col("sv"), col("cb")) * 10000).cast("long"))
          .groupBy("vid", "s")
          .agg(min_by(col("code"), struct(col("d2q"), col("code"))).as("code"),
            first(col("sv")).as("sv"))
        val next = assigned.groupBy("s", "code")
          .agg(array((1 to subDim).map(i => avg(element_at(col("sv"), i))): _*).as("cb"))
          .persist()
        next.count()
        cb.unpersist()
        cb = next
      }
      cb.select("s", "code", "cb").localCheckpoint()
    } finally {
      sub.unpersist()
      if (cb != null) cb.unpersist()
    }
  }

  /** IVF-PQ ANN top-k — the production index layout (FAISS-style,
    * Jégou et al. 2011): the IVF coarse quantizer restricts each query
    * to its `nprobe` posting lists, and PQ/ADC scores ONLY those
    * candidates from their codes. The 100 TB memory model: the hot
    * index is (centroid_id + m codes) per vector; full vectors stay
    * cold. Both quantizers default to the deterministic stride so the
    * oracle reproduces the whole index.
    *
    * Shape: corpus assignment = broadcast-cross + `max_by` (one pass,
    * map-side reduced); the probe pairs, distance table, and codebooks
    * all broadcast (query-side small by construction); the code scan
    * is an equi-join on centroid_id then (query, s, code) with a
    * partial-agged sum — the corpus side moves only skinny code rows.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nprobe: Int = 2, m: Int = 8, dim: Int = 64,
                centroidStride: Int = 37, codeStride: Int = 37,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                codebooks: Option[DataFrame] = None,
                encoded: Option[DataFrame] = None,
                corpusAssigned: Option[DataFrame] = None,
                centroids: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val subDim = dim / m
    // `centroids` must be the SAME table the assignment was built
    // against (the [[ivfTopK]] hook): query-side probing against a
    // different centroid set than corpusAssigned's would silently
    // search wrong or empty posting lists
    val cent = centroids
      .map(_.select(col("centroid_id"), col("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
      .getOrElse(corpus.filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("centv"))
        .withColumn("centn", norm(col("centv"), dim)))
    // the three index artifacts — posting-list assignment, codebooks,
    // encoded codes — accept pre-built versions ([[assignToCentroids]]
    // / [[pqCodebooks]] / [[pqEncode]] outputs for the SAME strides):
    // a deployed IVF-PQ service builds them once and every query reads
    val assigned = corpusAssigned
      .map(_.select("vec_id", "centroid_id"))
      .getOrElse {
        val cvec = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
          .withColumn("cn", norm(col("cv"), dim))
        cvec.crossJoin(broadcast(cent))
          .withColumn("c_cos", cosQ(col("cv"), col("centv"), col("cn"), col("centn"), dim))
          .groupBy("vec_id")
          .agg(min_by(col("centroid_id"),
            struct(col("c_cos").isNull.cast("int").as("nf"),
              (-col("c_cos")).as("ns"), col("centroid_id"))).as("centroid_id"))
      }
    val cb = codebooks.getOrElse(pqCodebooks(corpus, m, dim, codeStride, idCol, vecCol))
    val enc = encoded.getOrElse(pqEncode(corpus, cb, m, dim, idCol, vecCol))
    val qv = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"), dim))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("c_cos").desc, col("centroid_id"))
    val probes = qv.crossJoin(broadcast(cent))
      .withColumn("c_cos", cosQ(col("qv"), col("centv"), col("qn"), col("centn"), dim))
      .withColumn("c_rn", row_number().over(wc))
      .filter(col("c_rn") <= nprobe)
      .select("query_id", "centroid_id")
    val slices = array((0 until m).map(s =>
      slice(asDouble(col(vecCol)), s * subDim + 1, subDim)): _*)
    val table = queries
      .select(col(idCol).as("query_id"), posexplode(slices).as(Seq("s", "qsv")))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        floor(sqDist(col("qsv"), col("cb")) * 10000).cast("long").as("dq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_q"), col("neighbor_id"))
    enc.join(assigned, Seq("vec_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(table), Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dq")).as("adc_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc_q")
  }

  /** Banded multi-table LSH ANN top-k: a candidate is any corpus
    * vector sharing the query's bucket in AT LEAST one of `tables`
    * independent hyperplane tables ([[lshBands]]). More tables =
    * higher recall; more planes = smaller buckets — tuned together so
    * per-bucket population stays bounded at scale. Candidates are
    * deduped on (query, neighbor) BEFORE the cosine, so a pair
    * colliding in several tables is scored once; vectors travel with
    * ids only after the skinny band join.
    *
    * `probeBits = 1` turns on MULTI-PROBE (Lv et al., "Multi-Probe
    * LSH", VLDB'07): each query additionally probes every bucket at
    * Hamming distance 1 — the `planes` single-bit flips of its own
    * bucket id. A near-miss pair differs in one plane's sign far more
    * often than in several, so probing the 1-flip shell recovers most
    * of the recall an extra table would buy WITHOUT re-hashing or
    * storing the corpus again: the expansion is planes+1 skinny rows
    * per (query, table) on the broadcast side only. The corpus index
    * is untouched — the scale cost of recall moves from index size to
    * a constant factor on the (small) query side.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 8, tables: Int = 4, dim: Int = 64,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              probeBits: Int = 0): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      "probeBits: 0 (exact buckets) or 1 (add all 1-bit-flip probes)")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"), dim))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv"), dim))
    val qbExact = lshBands(q.select(col("query_id"), col("qv")), "query_id", "qv",
      tables, planes, dim)
    val qb =
      if (probeBits == 0) qbExact
      else qbExact.select(col("query_id"), col("t"),
        explode(array(col("bucket") +:
          (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*))
          .as("bucket"))
    val cb = lshBands(c.select(col("neighbor_id"), col("cv")), "neighbor_id", "cv",
      tables, planes, dim)
    // skinny candidate generation: (id, t, bucket) rows only — the
    // query band index is broadcast, the corpus never shuffles here
    val cand = cb.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cand
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_q", cosQ(col("qv"), col("cv"), col("qn"), col("cn"), dim))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_q")
  }

  /** ANN serving ADVISOR — closes the loop the recall audits open: the
    * audit says "recall@k is 0.28 at nprobe=2" and the curve sweeps
    * the knob, but a user still hand-picks nprobe. This picks it: per
    * recall target, the SMALLEST nprobe whose sampled recall meets the
    * target (the curve is monotone in nprobe, so smallest-meeting is
    * cheapest-meeting), with `met_target = false` and the widest swept
    * probe when no arm reaches it — an honest "the index itself needs
    * work" row, which is when the `rebuild_any` flag (any skewed
    * posting list, the [[Profile.indexHealth]] criterion) points at
    * the fix. Cost columns make the recall/latency trade explicit:
    * `cost_rows_mean` = nprobe × mean list size (expected vectors
    * scanned per query under balanced probing) and `cost_rows_worst`
    * = the nprobe LARGEST lists' total (the adversarial query that
    * probes every hot list).
    *
    * Inputs are the two frames the audits already build — the
    * nprobe→recall curve (`nprobe`, `recall_ppm`) and the posting-list
    * health table (`list_key`, `n_items`, `n_lists`, `total_items`,
    * `skewed`) — so advising adds NO probe work on top of the audits.
    * Every join here is a broadcast against frames bounded by index
    * GEOMETRY (swept arms × targets, posting-list count), never by
    * corpus size; the one Window ranks the lists-sized health frame
    * (single partition of ≤ lists rows — geometry again, the place a
    * window is the right tool). Exact integer math throughout.
    */
  def servingAdvisor(curve: DataFrame, health: DataFrame,
                     targetsPpm: Seq[Long]): DataFrame = {
    require(targetsPpm.nonEmpty, "servingAdvisor needs >= 1 recall target")
    require(targetsPpm == targetsPpm.sorted && targetsPpm.distinct == targetsPpm,
      s"targets must be strictly increasing, got $targetsPpm")
    val spark = curve.sparkSession
    import spark.implicits._
    val t = targetsPpm.toDF("target_ppm")
    val c = curve.select(col("nprobe").cast("long").as("nprobe"),
      col("recall_ppm").cast("long").as("recall_ppm"))
    val widest = c.agg(max(col("nprobe")).as("np_max"))
    val pick = t.crossJoin(broadcast(c))
      .groupBy("target_ppm")
      .agg(min(when(col("recall_ppm") >= col("target_ppm"), col("nprobe")))
        .as("np_met"))
      .crossJoin(broadcast(widest))
      .select(col("target_ppm"),
        coalesce(col("np_met"), col("np_max")).as("nprobe"))
    val g = health.agg(
      max(col("n_lists")).cast("long").as("n_lists"),
      max(col("total_items")).cast("long").as("total_items"),
      expr("bool_or(skewed)").as("rebuild_any"))
    val rk = health.select(col("n_items").cast("long").as("n_items"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n_items").desc, col("list_key"))).as("rk"))
    val worst = pick.join(broadcast(rk), col("rk") <= col("nprobe"))
      .groupBy("target_ppm", "nprobe")
      .agg(sum(col("n_items")).as("cost_rows_worst"))
    pick
      .join(broadcast(c), Seq("nprobe"))
      .join(broadcast(worst), Seq("target_ppm", "nprobe"))
      .crossJoin(broadcast(g))
      .select(col("target_ppm"), col("nprobe"), col("recall_ppm"),
        (col("recall_ppm") >= col("target_ppm")).as("met_target"),
        (col("nprobe") * expr("total_items div n_lists"))
          .as("cost_rows_mean"),
        col("cost_rows_worst"), col("rebuild_any"))
      .orderBy("target_ppm")
  }
}
