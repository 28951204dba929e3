package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines — north-star
  * extension. Inclusion is a pure function of the row id (an md5-hex
  * slot), NOT an RNG: re-runs, retries, and other engines agree on the
  * exact sample (`rand()`-based sampling can't be oracle-checked and
  * breaks retry idempotency; Spark's own `sample()` is seed-stable but
  * partition-layout-dependent).
  *
  * Scale: both variants are one scan with the inclusion predicate
  * fully codegen'd; `capPerStratum` adds one tiny per-stratum count
  * aggregate broadcast back — no data shuffle.
  */
object Sampling {

  /** Slot in [0, 65536): the first 4 hex digits of md5 of the id.
    * Engine-portable — md5 hex is identical everywhere, and the hex →
    * int conversion is exact.
    */
  def hashSlot(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Keep rows whose slot falls under `fraction` of the slot space —
    * a deterministic Bernoulli(fraction) sample keyed on `idCol`.
    */
  def bernoulli(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction out of [0,1]")
    df.filter(hashSlot(col(idCol)) < math.floor(fraction * 65536).toLong)
  }

  /** Leakage-safe train/test split: the split key is the GROUP (e.g.
    * the near-dup cluster_id from [[Dedup.connectedComponents]], or a
    * user id), so near-duplicate documents can never straddle the
    * boundary — splitting by row leaks test content into training via
    * its near-dups. Returns the input plus a `split` column
    * ("test" when the group's slot < testFraction of the slot space).
    * Deterministic like everything here: a pure function of the group.
    */
  def splitByGroup(df: DataFrame, groupCol: String,
                   testFraction: Double): DataFrame = {
    require(testFraction >= 0 && testFraction <= 1,
      s"testFraction $testFraction out of [0,1]")
    df.withColumn("split",
      when(hashSlot(col(groupCol)) < math.floor(testFraction * 65536).toLong,
        lit("test")).otherwise(lit("train")))
  }

  /** Downsample over-represented strata to ~`cap` rows each: stratum
    * fraction = min(1, cap / stratum_count). The balancing pass every
    * training-data pipeline runs before mixing sources — small strata
    * pass through whole, big ones thin deterministically.
    */
  def capPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                    cap: Long): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val frac = least(lit(1.0), lit(cap.toDouble) / col("_n"))
    df.join(broadcast(counts), Seq(stratumCol))
      .filter(hashSlot(col(idCol)) < floor(frac * 65536).cast("long"))
      .select(df.columns.toIndexedSeq.map(col): _*) // original column order, _n gone
  }

  /** EXACT-k deterministic stratified sampling: keep precisely
    * min(k, |stratum|) rows per stratum — the md5 order makes the
    * choice pseudo-random but reproducible. [[capPerStratum]] is the
    * one-scan probabilistic variant (~cap rows, no shuffle); this one
    * pays a per-stratum shuffle + sort for an exact count — eval-set
    * construction wants exact, bulk downsampling wants cheap.
    */
  /** Source-interleaved training order: a deterministic total order
    * over the corpus in which consecutive positions rotate through
    * the sources — the "don't train on a million same-source
    * documents in a row" guarantee a source-partitioned lake layout
    * silently
    * violates when read in file order. Within each source, documents
    * shuffle by md5 (the [[exactKPerStratum]] ordering); `round` is
    * the within-source rank, and the training order is
    * `(round, src_idx)` — round 1 of every source, then round 2, ...
    * `global_pos = (round−1)·n_src + src_idx` serializes that order
    * into one sortable integer (gaps appear once short sources
    * exhaust — positions stay strictly increasing, which is all a
    * sort key needs).
    *
    * No global window anywhere: the rank windows partition by source,
    * the source index comes from a triangular join over the
    * sources-sized frame (broadcast, O(sources²) — sources are tens
    * to thousands), and n_src is a broadcast 1-row aggregate.
    */
  def interleaveBySource(docs: DataFrame, idCol: String = "doc_id",
                         sourceCol: String = "source"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val ranked = docs.select(col(idCol), col(sourceCol))
      .withColumn("round", row_number().over(w))
    val srcs = ranked.select(col(sourceCol)).distinct().localCheckpoint()
    val idx = srcs
      .join(broadcast(srcs.select(col(sourceCol).as("_s2"))),
        col("_s2") <= col(sourceCol))
      .groupBy(sourceCol).agg(count(lit(1)).as("src_idx"))
    val ns = srcs.agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(idx), Seq(sourceCol))
      .join(broadcast(ns))
      .withColumn("global_pos",
        expr("(round - 1) * n_src + src_idx"))
      .select(col(idCol), col(sourceCol), col("round"), col("src_idx"),
        col("global_pos"))
  }

  def exactKPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                       k: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** EXACT-k weighted sampling WITHOUT replacement, deterministic —
    * Efraimidis–Spirakis (IPL 2006) with the integer-weight identity
    * that keeps it engine-exact: E-S draws priority u_i^(1/w_i) and
    * keeps the top k, but u^(1/w) needs pow/ln, which (unlike sqrt)
    * IEEE does NOT require correctly rounded — a cross-engine last-ulp
    * flip near a quantization boundary would break the oracle. For
    * INTEGER w, max(u_1..u_w) has exactly the u^(1/w) = Beta(w,1)
    * distribution, so the priority here is the lexicographic MAX of w
    * independent md5 hexes of (j, id) — pure string/integer machinery,
    * identical in any engine, same inclusion law.
    *
    * `weightCap` bounds the per-row hash count (cost AND the law's
    * resolution: beyond the cap extra weight buys nothing — document
    * the cap, don't hide it). Weights < 1 drop the row (zero tickets).
    *
    * Shape for scale: one scan computes priorities (codegen'd md5s,
    * no shuffle), then top-k = TakeOrdered (per-partition heaps + one
    * k-row merge on the driver) — never a global sort. Ties break by
    * id for full determinism (md5 collisions at 128 bits: effectively
    * never, but the gate demands bit-stable output).
    */
  /** The Efraimidis–Spirakis priority itself — max of `w` md5 hexes.
    * Null/sub-1 weights yield a null priority (zero tickets — callers
    * filter).
    */
  def esPriority(id: Column, weight: Column, weightCap: Int): Column = {
    // coalesce BEFORE least: Spark's least() skips nulls, so a null
    // weight would otherwise become the CAP (maximum tickets) instead
    // of dropping the row — and diverge from the oracle, which drops
    // null weights before its least()
    val w = least(coalesce(weight.cast("long"), lit(0L)),
      lit(weightCap.toLong))
    when(w >= 1L,
      array_max(transform(sequence(lit(1L), w),
        j => md5(concat(j.cast("string"), lit(":"), id.cast("string"))))))
  }

  def weightedTopK(df: DataFrame, idCol: String, weight: Column, k: Int,
                   weightCap: Int = 32): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(weightCap >= 1, s"weightCap must be >= 1, got $weightCap")
    df.withColumn("priority", esPriority(col(idCol), weight, weightCap))
      .filter(col("priority").isNotNull)
      .orderBy(col("priority").desc, col(idCol))
      .limit(k)
  }

  /** Weighted deterministic sampling: keep a row with probability
    * `weightCol` (clamped to [0, 1]) — quality-weighted corpus
    * downsampling, where a document's survival odds follow its quality
    * score. Same slot discipline as [[bernoulli]]: inclusion is a pure
    * function of (id, weight), so retries and the oracle agree row for
    * row. One scan, fully codegen'd predicate, no shuffle.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame =
    df.filter(hashSlot(col(idCol)) <
      floor(least(lit(1.0), greatest(lit(0.0), weight)) * 65536).cast("long"))

  /** Deterministic global shuffle + sharding — the pre-training pass
    * that materializes the corpus in pseudo-random order across
    * `numShards` output shards (training readers must not see the
    * ingestion order; a seeded RNG shuffle is neither retry-idempotent
    * nor oracle-checkable). Each row gets `shard = slot % numShards`
    * and `pos` = its 0-based rank within the shard ordered by the md5
    * hex of its id (distinct ids ⇒ distinct md5s, so the order is
    * total and engine-portable).
    *
    * Shape for scale: one shuffle on `shard` plus a per-shard sort —
    * no global sort, no single-partition stage; `numShards` is the
    * parallelism knob, and a writer follows with
    * `partitionBy("shard")` to lay the shards down as files.
    */
  def shardAssign(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("_ord"), col(idCol))
    df.withColumn("_ord", md5(col(idCol).cast("string")))
      .withColumn("shard", (hashSlot(col(idCol)) % numShards).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("_ord")
  }

  /** Training-shard MANIFEST — the reproducibility handoff a data
    * release ships next to its shards (doc/token counts plus an
    * order-free content checksum per shard), so a training run can
    * verify what it read and a re-build can prove byte-equivalence
    * without re-reading the corpus twice. Checksums are SUMS of
    * per-doc 24-bit md5 words over (id ':' text) — commutative, so
    * the aggregation is order-free (engine- and partitioning-exact)
    * and any changed/missing/extra doc moves them; two independent
    * words make a coincidental cancellation astronomically unlikely.
    *
    * One projection + one hash-aggregate on the shard id; output is
    * numShards rows.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
                    numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val h = md5(concat(col(idCol).cast("string"), lit(":"),
      coalesce(col(textCol), lit(""))))
    df.withColumn("shard", (hashSlot(col(idCol)) % numShards).cast("int"))
      .withColumn("__nt", coalesce(
        size(split(col(textCol), " ")).cast("long"), lit(0L)))
      .withColumn("__ha", conv(substring(h, 1, 6), 16, 10).cast("long"))
      .withColumn("__hb", conv(substring(h, 7, 6), 16, 10).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        sum(col("__ha")).as("checksum_a"), sum(col("__hb")).as("checksum_b"))
  }

  /** Curriculum schedule — easy-to-hard staging with source-balanced
    * interleave (Bengio et al., "Curriculum Learning", ICML 2009, plus
    * the standard mixture-interleave trainers use): each source's docs
    * split into `stages` difficulty quartiles (difficulty proxy =
    * document length; swap in any score column), and within a stage
    * the schedule key `(stage, rn_in_stage, source)` round-robins
    * across sources so no stage front-loads one source.
    *
    * Both windows partition BY SOURCE (ntile within source, row_number
    * within source×stage) — deterministic via the (difficulty, id)
    * total order, and crucially NO global window: a global ntile would
    * serialize the corpus through one partition. The global schedule
    * position is deliberately emitted as the composite sort key rather
    * than a materialized global row number — consumers ORDER BY it,
    * which distributes, instead of ranking through a single partition.
    * Standard SQL ntile (floor buckets, remainder to the first) is
    * engine-portable.
    */
  def curriculumSchedule(docs: DataFrame, stages: Int = 4,
                         idCol: String = "doc_id",
                         difficultyCol: String = "n_chars",
                         srcCol: String = "source"): DataFrame = {
    require(stages >= 1, "stages must be >= 1")
    val staged = docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source"), col(difficultyCol).as("difficulty"))
      .withColumn("stage", ntile(stages).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("difficulty"), col("doc_id"))))
    staged.withColumn("rn_in_stage", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source", "stage")
          .orderBy(col("difficulty"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("source"), col("stage").cast("int").as("stage"),
        col("rn_in_stage"), col("difficulty"))
  }
}
