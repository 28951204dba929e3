package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-level data profiling — the quality/inspection pass a
  * training-data pipeline runs before ingesting a source: per-column
  * counts, nulls, distincts (exact + HLL estimate), min/max. One scan,
  * all aggregates partial-merged; the HLL variant is the 100 TB path
  * (exact distinct shuffles, `approx_count_distinct` does not).
  */
object Profile {

  /** One-scan long-format profile: ALL columns' aggregates in a single
    * `agg` (one pass over the table; the multiple distinct counts plan
    * as one Expand), then the single result row unpivots into one row
    * per column on the driver side of the plan.
    */
  private def profile(df: DataFrame, cols: Seq[String],
                      distinctAgg: String => Column,
                      distinctName: String): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        distinctAgg(c).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        col(s"nn_$c").as("n_nonnull"), col(s"nd_$c").as(distinctName),
        col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Posting-list / band-index health report — the "when to re-train
    * or re-balance" signal for a deployed ANN or LSH index
    * (pairs with `Similarity.assignToCentroids` posting lists and
    * `Dedup.minhashBands` band indexes): per-list population, its
    * exact corpus share in ppm, and a skew flag marking lists more
    * than `skewPermille`/1000 × the mean list size (the lists whose
    * scan cost dominates probes and whose centroids/bands want a
    * re-train or a split).
    *
    * Determinism: ALL integer arithmetic — the share is integer ppm
    * and the skew test cross-multiplies (`1000·n·L > p·T`) so no
    * engine ever divides — identical in any engine.
    *
    * Shape for scale: one hash-agg over the index (map-side partials,
    * shuffle carries one row per list), one single-row global agg
    * joined back by broadcast — no window, no sort, never the corpus.
    */
  def indexHealth(index: DataFrame, keyCol: String,
                  skewPermille: Long = 2000L): DataFrame = {
    require(skewPermille >= 1, s"skewPermille must be >= 1, got $skewPermille")
    val sizes = index.groupBy(col(keyCol).cast("string").as("list_key"))
      .agg(count(lit(1)).as("n_items"))
    val glob = sizes.agg(count(lit(1)).as("n_lists"),
      sum(col("n_items")).as("total_items"))
    sizes.crossJoin(broadcast(glob))
      .withColumn("share_ppm", expr("n_items * 1000000 DIV total_items"))
      // DECIMAL(38,0) cross-multiplication: n_items × n_lists × 1000 can
      // overflow BIGINT at extreme cardinalities (huge corpora × many
      // lists) and silently flip the flag with ANSI off — same guard
      // Similarity.embeddingDrift uses for its mean-shift test.
      .withColumn("skewed",
        col("n_items").cast(DecimalType(38, 0)) * col("n_lists") * 1000L >
          lit(skewPermille) * col("total_items").cast(DecimalType(38, 0)))
      .select("list_key", "n_items", "n_lists", "total_items",
        "share_ppm", "skewed")
  }

  /** The rebuild-decision report that closes the ANN index lifecycle
    * loop: join [[indexHealth]]'s size-skew flags with an observed
    * probe-traffic frame and emit a per-list action. `loads` must be
    * one `(list_key: string, n_probes)` row per probed list, e.g. a
    * batch sample of probe traffic. Actions:
    *
    *   - `split_now`  — oversized AND hot: the list dominates probe
    *     cost where traffic actually lands; split its centroid (run
    *     k-means on the list's members) before anything else.
    *   - `rebalance`  — oversized but cold: fold into the next
    *     scheduled re-train, nothing is burning.
    *   - `replicate`  — hot but well-sized: the posting list is fine,
    *     the traffic isn't; replicate/cache it rather than re-train.
    *   - `ok`         — neither.
    *
    * Determinism: same exact-integer discipline as [[indexHealth]] —
    * load share is integer ppm, the hot test cross-multiplies through
    * DECIMAL(38,0), identical in any engine. `greatest(total_probes,1)`
    * keeps an empty load sample at load_ppm 0 / hot false on every
    * engine instead of a divide-by-zero divergence.
    *
    * Shape for scale: both inputs are one row per LIST (never the
    * corpus); the FULL outer join keys on list_key (so load-only,
    * post-audit lists surface too); the single-row probe total and
    * audit constants join back by broadcast.
    */
  def rebuildDecision(health: DataFrame, loads: DataFrame,
                      hotPermille: Long = 2000L): DataFrame = {
    require(hotPermille >= 1, s"hotPermille must be >= 1, got $hotPermille")
    val l = loads.select(col("list_key"), col("n_probes").cast("long").as("n_probes"))
    val lg = l.agg(coalesce(sum(col("n_probes")), lit(0L)).as("total_probes"))
    // audit-level constants, recovered as a single broadcast row so
    // lists ABSENT from the (possibly stale) health report still get a
    // hot test: a list born after the last audit that takes 90% of
    // probes must surface as `replicate`, not vanish from the report —
    // a FULL outer join. Its size columns stay null (size
    // unknown until the next audit); skewed defaults false (no skew
    // claim without evidence).
    val hg = health.agg(
      coalesce(max(col("n_lists")), lit(0L)).as("g_lists"),
      coalesce(max(col("total_items")), lit(0L)).as("g_items"))
    health.join(l, Seq("list_key"), "full")
      .crossJoin(broadcast(lg))
      .crossJoin(broadcast(hg))
      .withColumn("n_probes", coalesce(col("n_probes"), lit(0L)))
      .withColumn("n_lists", coalesce(col("n_lists"), col("g_lists")))
      .withColumn("total_items", coalesce(col("total_items"), col("g_items")))
      .withColumn("skewed", coalesce(col("skewed"), lit(false)))
      // DECIMAL(38,0) before the multiply — same overflow class the hot
      // test below was hardened against (BIGINT n_probes * 1e6 silently
      // wraps past ~9.2e12 probes with ANSI off); DIV on decimals still
      // returns BIGINT, so the output schema is unchanged
      .withColumn("load_ppm",
        expr("CAST(n_probes AS DECIMAL(38,0)) * 1000000 DIV greatest(total_probes, 1)"))
      .withColumn("hot",
        col("n_probes").cast(DecimalType(38, 0)) * col("n_lists") * 1000L >
          lit(hotPermille) * greatest(col("total_probes"), lit(1L))
            .cast(DecimalType(38, 0)))
      .withColumn("decision",
        when(col("skewed") && col("hot"), "split_now")
          .when(col("skewed"), "rebalance")
          .when(col("hot"), "replicate")
          .otherwise("ok"))
      .select("list_key", "n_items", "n_lists", "total_items", "share_ppm",
        "skewed", "n_probes", "total_probes", "load_ppm", "hot", "decision")
  }

  /** Exact distinct counts (oracle-comparable); use [[approx]] at
    * scale. Shape differs from [[approx]] on purpose: N exact
    * distincts in ONE aggregate plan as an Expand (input rows x N)
    * feeding a multi-phase aggregate, while a UNION of per-column
    * aggregates scans the (column-pruned) input N times with NO
    * Expand — for columnar parquet the N skinny scans win (measured
    * ~2x at sf0.1), and each branch is an independent two-phase
    * distinct aggregate.
    */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    cols.map { c =>
      df.agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
  }

  /** HLL++ estimated distincts: identical shape, no Expand and no
    * distinct shuffle — sketch estimates differ per engine, so the
    * driver-visible query projects the estimate column away (the exact
    * columns are oracled; the estimate is bounds-checked in
    * SkewProfileSpec).
    */
  def approx(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    profile(df, cols, c => approx_count_distinct(col(c), rsd), "n_distinct_est")

  /** Referential-integrity check between two keyed tables — the
    * coverage dashboard a multi-table lake runs after every ingest
    * (every document should have its embedding row, and vice versa).
    * Both sides reduce to skinny key columns before one full-outer
    * join; the result is a single row of match/orphan counts. Keys are
    * assumed unique per side (the lake's own invariant); duplicate
    * keys would count once per pairing.
    */
  /** Audit-log integrity audit — the invariant checks the reference's
    * delivery contract silently depends on (`audit_pk` auto_increment
    * uniqueness + gap-free growth, `cdc_audit_gen_mysql.php:333`; a
    * gap means a lost event, a duplicate means a double-capture, and
    * the watermark sync would silently ship either): per key group
    * (or the whole log), event count, distinct sequence values,
    * min/max, duplicates (count - distinct) and gaps
    * (span - distinct). Zero/zero = healthy log.
    *
    * One hash-aggregate (map-side partials) over (group, seq) then per
    * group — no window, no sort, no join. On a 100 TB log the scan
    * reads only the two audited columns (column pruning).
    */
  /** Benford first-significant-digit audit (Benford 1938; Nigrini's
    * forensic-accounting standard): the leading-digit distribution of
    * a positive numeric column against the logarithmic expectation
    * `log10(1+1/d)` — naturally-occurring magnitudes follow it,
    * fabricated or truncated data does not, making the deviation
    * column a one-scan fraud/corruption tripwire for ingested numeric
    * feeds. The expectation is pinned as exact ppm literals (no
    * engine log10 at query time); counts and shares are integer-exact
    * (DECIMAL(38,0) cross-multiplication), so the table hash-gates.
    * Values below 1 and NULLs carry no leading digit and are
    * excluded. One scan, one 9-row aggregate, broadcast total.
    */
  def benford(df: DataFrame, valueCol: Column): DataFrame = {
    val bens = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L) // floor(1e6*log10(1+1/d)), d=1..9
    val digits = df
      .select(substring(floor(abs(valueCol)).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .localCheckpoint() // 9 rows: feeds the total AND the output
    digits.join(broadcast(digits.agg(sum(col("n")).as("n_total"))))
      .withColumn("obs_ppm",
        expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)"))
      .withColumn("benford_ppm",
        element_at(array(bens.map(lit): _*), col("digit")))
      .withColumn("dev_ppm", col("obs_ppm") - col("benford_ppm"))
      .select("digit", "n", "obs_ppm", "benford_ppm", "dev_ppm")
      .orderBy("digit")
  }

  /** Pairwise functional-dependency discovery — the schema-profiling
    * pass (the column-pair level of TANE-style FD mining, Huhtala et
    * al., The Computer Journal 1999) that finds which columns
    * DETERMINE which: `A → B` holds iff no value of A co-occurs with
    * two values of B. The output is the key/denormalization map a
    * data engineer reads before modeling a new source: candidate
    * keys, embedded dimension tables, redundant columns.
    *
    * One scan explodes each row into its k·(k−1) ordered column
    * pairs (values null-coalesced to a sentinel — SQL FD semantics
    * treat NULL as a value); two cascaded hash-aggregations produce,
    * per pair, the determinant cardinality, the count of violating
    * determinant values, and the worst fan-out. Cost is pair-count ×
    * the per-pair distinct size — the profiling budget; at 100 TB
    * this runs on a sample first (the audit is exact on whatever it
    * is given).
    */
  def functionalDependencies(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for (a <- cols; b <- cols if a != b) yield (a, b)
    val pairStructs = array(pairs.map { case (a, b) =>
      struct(lit(a).as("det"), lit(b).as("dep"),
        coalesce(col(a).cast("string"), lit("\u0001")).as("av"),
        coalesce(col(b).cast("string"), lit("\u0001")).as("bv"))
    }: _*)
    df.select(explode(pairStructs).as("p"))
      .select(col("p.det").as("det"), col("p.dep").as("dep"),
        col("p.av").as("av"), col("p.bv").as("bv"))
      .groupBy("det", "dep", "av")
      .agg(countDistinct(col("bv")).as("ndep"))
      .groupBy("det", "dep")
      .agg(count(lit(1)).as("n_det_distinct"),
        sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating_det"),
        max(col("ndep")).as("max_dep_per_det"))
      .withColumn("holds", col("n_violating_det") === 0L)
  }

  /** Two-level tamper-evident hash chain over an ordered log — the
    * audit for the audit: any edited, dropped, inserted, or reordered
    * row anywhere in a group's history changes that group's chain
    * head (each link folds the previous link's digest into the next
    * row's, so a change propagates to the head — the ledger
    * discipline, built from md5 folds).
    *
    * Two levels bound memory at scale: rows chain WITHIN fixed
    * `segmentLen`-sequence segments (per-segment state = one digest +
    * the segment's sorted row hashes, never a group's whole history),
    * then each group chains its SEGMENT digests in segment order.
    * Both levels are the same fold; verification of one tampered
    * segment re-reads `segmentLen` rows, not the log. Row payload
    * hashes over seq + null-coalesced payload columns joined with a
    * fixed separator — deterministic in any engine, so the whole
    * two-level chain sits under the hash gate via nested
    * `list_reduce` in the oracle.
    *
    * Output: one row per (group, segment) with the segment chain,
    * bounds, and row count, plus the group's level-2 `head_chain`
    * repeated on each row (broadcast-joined — the head table is
    * groups-sized).
    */
  def hashChain(log: DataFrame, groupCol: String, seqCol: String,
                payloadCols: Seq[String], segmentLen: Long = 500L): DataFrame = {
    require(segmentLen >= 1, "segmentLen must be >= 1")
    val payload = payloadCols.map(c => coalesce(col(c).cast("string"), lit("")))
    val rowHash = md5(concat_ws("|",
      col(seqCol).cast("string") +: payload: _*))
    val base = log.select(col(groupCol).as("grp"),
      col(seqCol).cast("long").as("seq"),
      expr(s"CAST($seqCol AS BIGINT) div $segmentLen").as("seg"),
      rowHash.as("h"))
    val segs = base.groupBy("grp", "seg")
      .agg(count(lit(1)).as("n"),
        min(col("seq")).as("lo_seq"), max(col("seq")).as("hi_seq"),
        aggregate(
          array_sort(collect_list(struct(col("seq"), col("h")))),
          lit(""),
          (acc, x) => md5(concat(acc, x.getField("h"))))
          .as("seg_chain"))
      .localCheckpoint() // feeds the head fold AND the output join
    val heads = segs.groupBy("grp")
      .agg(aggregate(
        array_sort(collect_list(struct(col("seg"), col("seg_chain")))),
        lit(""),
        (acc, x) => md5(concat(acc, x.getField("seg_chain"))))
        .as("head_chain"))
    segs.join(broadcast(heads), Seq("grp"))
      .select("grp", "seg", "n", "lo_seq", "hi_seq", "seg_chain", "head_chain")
  }

  def logIntegrity(log: DataFrame, seqCol: String,
                   groupCols: Seq[String] = Nil): DataFrame = {
    val g = if (groupCols.isEmpty) Seq(lit("all").as("scope"))
            else groupCols.map(col)
    val gNames = if (groupCols.isEmpty) Seq("scope") else groupCols
    log.select(g :+ col(seqCol).as("__seq"): _*)
      .groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("__seq")).as("n_distinct"),
        min(col("__seq")).as("min_seq"), max(col("__seq")).as("max_seq"))
      .select(gNames.map(col) ++ Seq(
        col("n_events"), col("n_distinct"), col("min_seq"), col("max_seq"),
        (col("n_events") - col("n_distinct")).as("n_duplicates"),
        (col("max_seq") - col("min_seq") + 1 - col("n_distinct")).as("n_gaps"),
        ((col("n_events") === col("n_distinct")) &&
          (col("max_seq") - col("min_seq") + 1 === col("n_distinct")))
          .as("healthy")): _*)
  }

  def referentialCheck(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String): DataFrame = {
    val l = left.select(col(leftKey).as("k")).withColumn("l", lit(1))
    val r = right.select(col(rightKey).as("k")).withColumn("r", lit(1))
    l.join(r, Seq("k"), "full_outer")
      .agg(
        count(col("l")).as("n_left"),
        count(col("r")).as("n_right"),
        sum(when(col("l").isNotNull && col("r").isNotNull, 1).otherwise(0))
          .cast("long").as("n_matched"),
        sum(when(col("r").isNull, 1).otherwise(0)).cast("long").as("n_left_only"),
        sum(when(col("l").isNull, 1).otherwise(0)).cast("long").as("n_right_only"))
  }

  /** Fixed-width histogram of a numeric column over [lo, hi): `bins`
    * equal buckets with out-of-range values clamped into the edge bins
    * (the standard profiler convention — nothing silently dropped but
    * nulls). One scan plus a `bins`-row aggregate: the distribution
    * diagnostic that catches a source whose value range drifted. Bin
    * width is computed once as (hi-lo)/bins; min/max per bin give the
    * actual occupied range.
    */
  def histogram(df: DataFrame, colName: String,
                lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 1 && hi > lo, s"need bins >= 1 and hi > lo")
    val w = (hi - lo) / bins
    val bin = least(lit(bins - 1L),
      greatest(lit(0L), floor((col(colName) - lo) / w)))
    df.filter(col(colName).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col(colName)).as("min_v"), max(col(colName)).as("max_v"))
      .orderBy("bin")
  }

  /** ROC-AUC of a quality score against a boolean label, by the
    * bucketed Mann–Whitney rank-sum identity — the discrimination
    * audit a pipeline runs on every quality filter before trusting
    * its threshold (Fawcett, "An introduction to ROC analysis",
    * PRL 2006: AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻)).
    *
    * `bucket` must be an integer-valued expression MONOTONE in the
    * score (e.g. `floor(score)` at the score's native quantization):
    * AUC is rank-based, so any order-preserving bucketing that only
    * merges exact ties leaves it unchanged, and bucketing is what
    * makes the identity scale — the corpus-sized scored table
    * aggregates per bucket (map-side partials), and the cumulative
    * pass runs over the BUCKET table, whose row count is bounded by
    * the score's resolution (the quantized-lpq domain is ≲ 1.5e5
    * values at ANY corpus size), never by the corpus. The
    * negatives-below-each-bucket count reuses [[Pack.packSequences]]'s
    * distributed prefix sum (range sort + per-partition subtotals +
    * parallel stamping) — the same numbers the un-partitioned
    * `sum over rows unbounded preceding` window computes, with no
    * single-partition stage in the plan.
    *
    * Exactness: per-bucket pair products route through DECIMAL(38,0)
    * (BIGINT n⁺·n⁻ products wrap past ~3e9 rows — the
    * [[rebuildDecision]] overflow class); `u2` = 2·U emits as a
    * double (exact below 2^53) and `auc` divides the same decimals
    * once, so both engines round the identical quotient.
    */
  def rankAuc(scored: DataFrame, bucket: Column, positive: Column): DataFrame = {
    val byBucket = scored
      // null labels count as negatives (a row the filter scored but the
      // labeler skipped must not silently leave BOTH classes)
      .select(bucket.cast("long").as("b"),
        coalesce(positive.cast("boolean"), lit(false)).as("pos"))
      .groupBy("b")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
    // exclusive prefix sum of nn in bucket order == negatives in
    // strictly lower buckets; budget = Long.MaxValue keeps the packing
    // columns inert (seq_id is always 0) and they drop at the agg
    Pack.packSequences(byBucket, budget = Long.MaxValue,
        orderCols = Seq("b"), tokenCol = "nn")
      .withColumnRenamed("tok_start", "nn_lt")
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np").cast(DecimalType(38, 0)) *
          (col("nn_lt").cast(DecimalType(38, 0)) * 2 + col("nn")))
          .as("u2d"))
      .select(col("n_pos"), col("n_neg"),
        col("u2d").cast("double").as("u2"),
        (col("u2d").cast("double") /
          greatest(col("n_pos").cast(DecimalType(38, 0)) * col("n_neg") * 2,
            lit(1L).cast(DecimalType(38, 0))).cast("double")).as("auc"))
  }

  /** Per-group quantile calibration of a score column — the standard
    * fix for the "sources are scored on different scales" problem: a
    * web-crawl quality score and a curated-corpus quality score are
    * not comparable, but their WITHIN-SOURCE percentiles are (rank
    * transformation — the distribution-free normalization every
    * mixed-source filter threshold should be set against). Emits the
    * exact integer percentile `pct_ppm = (rank−1)·10⁶ div (n_g−1)`
    * (0 for singleton groups), rank tie-broken by id so engines agree.
    *
    * Shape for scale: ONE exchange keyed by the group — the ordered
    * rank window and the unordered group-count window share the same
    * partitioning; no global window anywhere. Groups are sources
    * (tens to thousands); within-group rank sort parallelizes per
    * group and AQE handles a dominant source.
    */
  def quantileCalibrate(df: DataFrame, scoreCol: String, groupCol: String,
                        idCol: String): DataFrame = {
    val pw = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val ow = pw.orderBy(col(scoreCol), col(idCol))
    df.select(col(idCol), col(groupCol), col(scoreCol))
      .withColumn("rk", row_number().over(ow))
      .withColumn("n_g", count(lit(1)).over(pw))
      .withColumn("pct_ppm",
        // rank through BIGINT before the ppm scale: an int rank over a
        // 3000+-row group would overflow rk*10^6 in 32 bits
        expr("CASE WHEN n_g > 1 THEN " +
          "(CAST(rk AS BIGINT) - 1) * 1000000 div (n_g - 1) " +
          "ELSE CAST(0 AS BIGINT) END"))
  }

  /** k-anonymity / l-diversity audit (Sweeney IJUFKS'02; Machanavajjhala
    * et al. TKDD'07): per quasi-identifier group, its size, the number
    * of DISTINCT sensitive values it carries, and the two verdicts —
    * `n ≥ k` (an attacker knowing the quasi-identifiers finds at least
    * k candidates) and `distinct-sensitive ≥ l` (and cannot infer the
    * sensitive value even inside the group; k-anonymous-but-1-diverse
    * groups are the classic homogeneity attack). The release decision
    * for any aggregate view of user-adjacent data reads this table
    * first.
    *
    * One hash-aggregate: count + count(DISTINCT sensitive) over the
    * quasi columns — partial-aggregated, group-bounded output.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: Column,
                 k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitiveCol).as("n_distinct_sensitive"))
      .withColumn("k_anonymous", col("n") >= k)
      .withColumn("l_diverse", col("n_distinct_sensitive") >= l)
  }

  /** t-closeness + ENTROPY l-diversity audit (Li, Li & Venkatasubramanian
    * ICDE'07; Machanavajjhala et al. TKDD'07 §3's entropy form) — the
    * two release gates [[kAnonymity]]'s count forms cannot express:
    * a group can hold ≥ l distinct sensitive values yet be 99%
    * one value (count-l passes, entropy-l catches it), and a group's
    * sensitive DISTRIBUTION can still leak against the global one
    * (the skewness attack t-closeness exists for). Per quasi-group:
    *
    *  - `ent_e4` = e4-quantized Shannon entropy of the sensitive
    *    distribution, in the raw-count form `(n·lnq(n) − Σ c·lnq(c))
    *    div n` with `lnq(x) = floor(ln(x)·10⁴)` — each log quantized
    *    ONCE (the q_psi / q_js_div discipline), every product an
    *    exact BIGINT (c·lnq ≤ n·3e5: no overflow below n ≈ 3e13).
    *    Verdict `entropy_l_diverse`: ent_e4 ≥ floor(ln(l)·10⁴).
    *  - `emd_ppm` = earth-mover's distance between the group's and the
    *    GLOBAL sensitive distribution over the ORDERED bucket domain —
    *    for 1-D ordered buckets EMD is the mean |cumulative
    *    difference|: Σ_i |Σ_{j≤i} (q_j − p_j)| div (m−1), with q/p in
    *    exact integer ppm. Verdict `t_close`: emd_ppm ≤ tPpm.
    *
    * Null sensitive values drop (closeness of an unknown value is
    * undefined; mirrored by the oracle's IS NOT NULL).
    *
    * Shape for scale: two hash-aggregates (group×bucket, bucket) plus
    * a grid join against the BROADCAST global bucket domain (m is the
    * sensitive domain size — bounded by construction, or the audit is
    * asked on an unbucketed column, which is the caller's modeling
    * error); the cumulative window partitions by the quasi-group
    * (group-bounded, the [[madOutliers]] precedent — never a global
    * window).
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitive: Column,
                 tPpm: Long, lMin: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(tPpm >= 0 && lMin >= 1, "tPpm must be >= 0 and lMin >= 1")
    val qs = quasiCols.map(col)
    def lnq(x: Column): Column =
      floor(log(x.cast("double")) * 10000).cast("long")
    val base = df.select(qs :+ sensitive.as("sv"): _*)
      .filter(col("sv").isNotNull)
    val gb = base.groupBy(qs :+ col("sv"): _*).agg(count(lit(1)).as("c"))
    val gn = gb.groupBy(qs: _*).agg(sum(col("c")).as("n"))
    val glob = base.groupBy(col("sv")).agg(count(lit(1)).as("gc"))
      .crossJoin(broadcast(
        base.agg(count(lit(1)).as("nt"),
          countDistinct(col("sv")).as("m"))))
    val grid = gn.crossJoin(broadcast(glob))
    val j = grid.join(gb, quasiCols :+ "sv", "left")
      .na.fill(0L, Seq("c"))
      .withColumn("dppm", expr("c * 1000000 div n - gc * 1000000 div nt"))
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(qs: _*).orderBy(col("sv"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val emd = j.withColumn("cs", sum(col("dppm")).over(gw))
      .groupBy(qs: _*)
      .agg(max(col("n")).as("n"),
        expr("sum(abs(cs)) div greatest(max(m) - 1, 1)").as("emd_ppm"))
    val ent = gb.groupBy(qs: _*)
      .agg(sum(col("c")).as("n2"),
        sum(col("c") * lnq(col("c"))).as("s_clnc"))
      .withColumn("ln_n", lnq(col("n2")))
      .withColumn("ent_e4", expr("(n2 * ln_n - s_clnc) div n2"))
    val lThresh = math.floor(math.log(lMin.toDouble) * 10000).toLong
    emd.join(ent.select(qs :+ col("ent_e4"): _*), quasiCols)
      .select(qs ++ Seq(col("n"), col("ent_e4"),
        (col("ent_e4") >= lThresh).as("entropy_l_diverse"),
        col("emd_ppm"), (col("emd_ppm") <= tPpm).as("t_close")): _*)
  }

  /** Robust per-group outlier census by median / median-absolute-
    * deviation (Hampel's robust z-score; Leys et al. JESP 2013 for
    * the 1.4826 consistency constant): a value is an outlier when
    * `|x − med| > 3·1.4826·MAD` — the mean/stddev rule this replaces
    * is itself dragged by the outliers it should find, median/MAD has
    * a 50% breakdown point. Values quantize to integer milli-units
    * (`floor(x·1000)`, floor in every engine) so the medians are
    * element PICKS, not interpolations: the lower-middle element by
    * `(n+1) div 2`, deterministic under ties via the id column, and
    * the flag comparison `dev·10⁴ > 44478·mad` is pure BIGINT — the
    * whole census hash-gates bit-exactly.
    *
    * Shape for scale: both row_number windows and both count windows
    * partition by the SAME group key — one exchange, two in-partition
    * sorts; the two one-row-per-group median frames broadcast back.
    * Exact per-group medians mean per-group sorts — that is the
    * operator's contract (the approx path is `q_profile_approx`'s
    * approx_percentile); groups parallelize horizontally and AQE
    * handles a dominant one. MAD=0 (over half the group identical)
    * flags every deviating value — the standard degeneracy, kept:
    * in a constant feed any motion IS the anomaly.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  idCol: String): DataFrame = {
    val base = df
      .select(col(groupCol).as("grp"), col(idCol).as("id"),
        floor(col(valueCol) * 1000).cast("long").as("vq"))
      .filter(col("vq").isNotNull)
    val pw = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    def pick(d: DataFrame, ord: String, out: String): DataFrame = d
      .withColumn("rn", row_number().over(pw.orderBy(col(ord), col("id"))))
      .withColumn("n", count(lit(1)).over(pw))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("grp"), col(ord).as(out))
    val med = pick(base, "vq", "med")
    // dev is consumed twice (the MAD pick and the final rollup) —
    // without the barrier each consumer re-ran the scan, the median
    // window and the broadcast join. (A grouped KeyedPrefix rewrite of
    // the medians measured 2.8x SLOWER here: two windows are two jobs,
    // two prefix scans are six.)
    val dev = base.join(broadcast(med), Seq("grp"))
      .withColumn("dev", abs(col("vq") - col("med")))
      .localCheckpoint()
    val mad = pick(dev.select(col("grp"), col("id"), col("dev")), "dev", "mad")
    dev.join(broadcast(mad), Seq("grp"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), min("med").as("med"), min("mad").as("mad"),
        sum(when(col("dev") * 10000 > col("mad") * 44478, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ppm", expr("n_outliers * 1000000 div n"))
  }

  /** Erasure (right-to-be-forgotten) audit — after a deletion list is
    * applied to a lake, the corpus is only HALF the story: chunks,
    * packed sequences, dedup pair tables, index postings and every
    * other derived artifact can still reference the deleted ids. This
    * audit counts, per artifact, the rows that still reference any
    * deleted id — the compliance report a deletion job must leave
    * behind (zero residuals = clean).
    *
    * Each artifact declares its reference columns; a row counts once
    * even when several of its columns hit the list (per-column LEFT
    * joins against the de-duplicated deletion list, OR'd — never a
    * union of semi-joins, which would double-count multi-hit rows).
    *
    * At 100 TB: deletion lists are small relative to the corpus —
    * every probe is a broadcast join riding a single scan per
    * artifact; for genuinely huge lists, pre-screen with a Bloom
    * filter and keep the same plan. Output is one row per artifact.
    */
  def erasureAudit(deleted: DataFrame, delKey: String,
                   artifacts: Seq[(String, DataFrame, Seq[String])]): DataFrame = {
    val reserved = artifacts.flatMap(_._2.columns).filter(_.startsWith("__del"))
    require(reserved.isEmpty,
      s"__del* column names are reserved by erasureAudit: ${reserved.mkString(",")} — rename first")
    val del = deleted.select(col(delKey)).distinct()
    artifacts.map { case (name, df, refCols) =>
      require(refCols.nonEmpty, s"artifact $name needs at least one ref column")
      var t = df
      val flags = refCols.zipWithIndex.map { case (c, i) =>
        t = t.join(
          broadcast(del.select(col(delKey).as(c)).withColumn(s"__del$i", lit(1))),
          Seq(c), "left")
        col(s"__del$i")
      }
      t.agg(count(lit(1)).as("n_rows"),
          sum(when(flags.map(_.isNotNull).reduce(_ || _), 1L).otherwise(0L))
            .as("n_refs_deleted"))
        .select(lit(name).as("artifact"), col("n_rows"), col("n_refs_deleted"))
    }.reduce(_ unionByName _)
  }

  /** Per-group Gini concentration of row counts across keys — the
    * standard inequality measure for "is this language's data all from
    * one crawl?" / "does one tenant dominate the shard?". 0 ppm =
    * perfectly even across keys, →1e6 = one key holds everything.
    *
    * Exact integer form of the sorted-sequence identity
    * `G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)` (x ascending,
    * i = 1..n): ranks come from a window ORDERED (count, key) so ties
    * are deterministic (and the identity's value is tie-order
    * invariant — equal x contribute the same regardless of rank
    * order); the numerator is non-negative by the ascending sort; one
    * truncating division at the end emits ppm.
    *
    * Shape for scale: the raw table collapses to one row per
    * (group, key) in a partial-agged hash aggregate FIRST; the window
    * and the final aggregate run on that key-bounded frame, partitioned
    * by group — no global window, groups parallelize horizontally.
    */
  def giniConcentration(df: DataFrame, groupCol: String,
                        keyCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol).as("grp"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("x"), col("key"))
    counts.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_keys"), sum(col("x")).as("n_rows"),
        // s ≤ n_keys·n_rows — the rank-weighted sum crosses BIGINT on
        // the same schedule as the denominator, so accumulate in decimal
        sum(col("rn").cast("decimal(38,0)") * col("x")).as("s"))
      .select(col("grp"), col("n_keys"), col("n_rows"),
        // numerator is bounded by n_keys·n_rows, so the ×1e6 (and the
        // n_keys·n_rows denominator itself) exceed BIGINT once
        // n_keys·n_rows passes ~4.6e12 / ~9.2e18 — route both through
        // DECIMAL(38,0) like every other ppm cross-multiplication
        expr("CAST(CAST(2 * s - (n_keys + 1) * n_rows AS DECIMAL(38,0))" +
          " * 1000000 div (CAST(n_keys AS DECIMAL(38,0)) * n_rows)" +
          " AS BIGINT)").as("gini_ppm"))
  }
}
