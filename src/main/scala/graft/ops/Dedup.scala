package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a document corpus —
  * north-star extensions (BASELINE.json) for LLM-training-data
  * pipelines. All variants are expressed in codegen-friendly built-in
  * expressions (no Scala UDFs) and designed so the oracle can compute
  * the identical result in portable SQL:
  *
  *  - hashes are md5 hex strings (identical in every engine),
  *  - minhash = lexicographic MIN over md5(seed:token),
  *  - simhash bits come from integer arithmetic over md5 hex digits,
  *  - similarity ratios are divisions of exact integers.
  *
  * Scale design (100 TB): every variant is one scan + one shuffle-by-
  * key (hash/band/bucket). Candidate generation NEVER does a cartesian
  * join: exact dedup groups by content hash; MinHash groups by LSH band
  * key; n-gram Jaccard uses PPJoin-style prefix filtering before the
  * token equi-join. Verification (exact Jaccard / cosine) runs only on
  * in-bucket candidate pairs.
  */
object Dedup {

  /** Distinct-token array of a whitespace-tokenized text column. */
  def tokenSet(text: Column): Column = array_distinct(split(text, " "))

  /** Exact dedup by content hash: one hash-groupBy. At scale: map-side
    * partial agg on md5(text), tiny shuffle. Canonical id = min doc id.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** N-gram (token-set) Jaccard near-dup pairs at `threshold`.
    *
    * Two physical strategies, chosen by the global vocabulary size
    * (identical output either way):
    *
    *  - **Dictionary-bitmask path** (vocab <= 64 distinct tokens):
    *    build the token dictionary once, encode every token set as one
    *    64-bit mask, dedup to DISTINCT masks, and verify mask pairs
    *    with `bit_count(mask_a & mask_b)` under a popcount-bucketed
    *    equi-join (a pair can reach Jaccard >= t only when
    *    `t*max(n_a,n_b) <= min(n_a,n_b)`, so each mask joins only the
    *    <= `floor(n/t)-n+2` compatible popcount buckets). Candidate
    *    work scales with the number of distinct token SETS — never
    *    with corpus size — and identical-set doc pairs expand from the
    *    mask groups at Jaccard exactly 1. No nested-loop join exists
    *    on this path (the round-4 all-doc-pairs broadcast-NL variant
    *    was quadratic in n_docs and is gone).
    *  - **PPJoin prefix path** (general): a pair can reach
    *    Jaccard >= t only if it shares a token among each side's first
    *    `n - ceil(t*n) + 1` tokens (sorted order), so the candidate
    *    equi-join runs on prefix tokens only, with the length filter
    *    (`t*max(n_a,n_b) <= min(n_a,n_b)`) pruning inside the join.
    *    This is the 100 TB story — full-token inverted joins explode
    *    on common tokens.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    smallVocab(docs, textCol) match {
      case Some(vocab) =>
        val masks = tokenMasks(docs, vocab, idCol, textCol)
        expandMaskPairs(masks, maskJaccardPairs(masks, threshold))
      case None => ngramJaccardPrefix(docs, threshold, idCol, textCol)
    }
  }

  /** Bounded vocabulary probe: pull at most 65 distinct tokens — if
    * that returns <= 64 rows it IS the whole (sorted) vocabulary;
    * otherwise never collect the (possibly huge) token domain to the
    * driver. The probe and the main job must see the same input
    * (standard snapshot-read assumption; a source mutating between the
    * two jobs could expose a token missing from the dictionary).
    */
  def smallVocab(docs: DataFrame, textCol: String = "text"): Option[Array[String]] = {
    val probe = docs.select(explode(tokenSet(col(textCol))).as("tok"))
      .distinct().limit(65).collect().map(_.getString(0))
    if (probe.length <= 64) Some(probe.sorted) else None
  }

  /** Small-vocabulary fast path: token sets as 64-bit dictionary
    * masks, Jaccard via popcount. Exact same pairs and values as the
    * prefix path.
    *
    * Shape for scale: the corpus reduces to a skinny (doc_id, mask,
    * popcount) frame, materialized once; the candidate join runs over
    * DISTINCT masks only (sf0.1 measurement: 3935 distinct of 5000
    * docs), bucketed by popcount so each mask meets only masks whose
    * set size could possibly clear the threshold. Every join is an
    * equi-join (mask or popcount key) — hash-joinable, AQE-skew-
    * splittable, no nested loop — and the doc-level expansions are
    * bounded by the OUTPUT pair count, a floor any exact pair lister
    * pays. Worst case (all masks distinct at one popcount) degrades
    * to distinct-mask all-pairs, still corpus-size-independent.
    */
  /** Skinny (doc_id, m, n) mask frame: every document's token set
    * encoded as one 64-bit dictionary mask plus its popcount.
    * Materialized (localCheckpoint) because every consumer — the
    * distinct-mask candidate join, the identical-set expansion, the
    * cross-mask doc rejoins, the mask-granularity clustering — would
    * otherwise re-run the tokenize+encode corpus scan.
    */
  def tokenMasks(docs: DataFrame, vocab: Array[String],
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(vocab.length <= 64, s"vocab must fit 64 bits, got ${vocab.length}")
    // dictionary maps token -> its (pre-shifted) mask bit
    val dict = typedlit(vocab.zipWithIndex.map { case (t, i) => t -> (1L << i) }.toMap)
    val mask = aggregate(
      transform(tokenSet(col(textCol)), t => element_at(dict, t)),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
    docs.select(col(idCol).as("doc_id"), mask.as("m"))
      .withColumn("n", bit_count(col("m")).cast("int"))
      .localCheckpoint()
  }

  /** Verified DISTINCT-mask Jaccard pairs (m_a, m_b, jaccard) at
    * `threshold` — the corpus-size-independent core of the small-vocab
    * path. Candidates come from a popcount-bucketed equi-join:
    * J(a,b) >= t forces t*max(n) <= min(n), so a mask of popcount n
    * only meets buckets [n, floor(n/t)] (the +1 absorbs fp rounding of
    * the bound; the exact jaccard filter below is the correctness
    * gate, the range is pure pruning). Ordering (n_b > n_a, mask
    * tiebreak at equal n) emits each unordered pair exactly once.
    */
  def maskJaccardPairs(masks: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val gm = masks.select("m", "n").distinct()
    val la = gm.select(col("m").as("m_a"), col("n").as("n_a"),
      explode(sequence(col("n"),
        least(floor(col("n") / threshold).cast("int") + 1, lit(64)))).as("n_b"))
    val rb = gm.select(col("m").as("m_b"), col("n").as("n_b"))
    val inter = bit_count(col("m_a").bitwiseAND(col("m_b"))).cast("int")
    la.join(rb, Seq("n_b"))
      .filter(col("n_b") > col("n_a") || col("m_a") < col("m_b"))
      .withColumn("inter", inter)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("m_a", "m_b", "jaccard")
  }

  /** Expand verified mask pairs back to doc-level near-dup pairs:
    * identical token sets (same mask, Jaccard exactly 1; empty sets
    * excluded — union 0 has no Jaccard) union the cross-mask pairs
    * (masks differ so the two id sets are disjoint; least/greatest
    * restores the doc_a < doc_b contract). Both expansions are
    * equi-joins bounded by the OUTPUT pair count.
    */
  def expandMaskPairs(masks: DataFrame, maskPairs: DataFrame): DataFrame = {
    val ia = masks.filter(col("n") > 0).select(col("doc_id").as("doc_a"), col("m"))
    val ib = masks.filter(col("n") > 0).select(col("doc_id").as("doc_b"), col("m"))
    val intra = ia.join(ib, "m").filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    val cross = maskPairs
      .join(masks.select(col("doc_id").as("id_a"), col("m").as("m_a")), Seq("m_a"))
      .join(masks.select(col("doc_id").as("id_b"), col("m").as("m_b")), Seq("m_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** Near-dup clusters at MASK granularity: identical to
    * `connectedComponents(expandMaskPairs(masks, maskPairs), docs)`
    * but the component search runs on the distinct-mask graph — nodes
    * and edges are corpus-size-independent — instead of the expanded
    * doc-pair list, whose size is the quadratic-per-clique output
    * floor. Same-mask docs are one clique (Jaccard-1 pairs connect
    * them at any threshold <= 1), so doc components = mask components;
    * the doc label (min reachable doc id) is the min doc id over the
    * component's mask groups. Empty or null token sets (null text
    * hashes to a null mask) pair with nothing and stay singletons —
    * the same label `connectedComponents` gives a pairless doc.
    */
  def maskClusters(masks: DataFrame, maskPairs: DataFrame): DataFrame = {
    val nodes = masks.filter(col("n") > 0).select("m").distinct()
    val comp = connectedComponents(
      maskPairs.select("m_a", "m_b"), nodes, idCol = "m")
      .select(col("m"), col("cluster_id").as("root"))
    val labeled = masks.filter(col("n") > 0)
      .select(col("doc_id"), col("m")).join(comp, Seq("m"))
    val clusterIds = labeled.groupBy("root")
      .agg(min(col("doc_id")).as("cluster_id"))
    labeled.join(clusterIds, Seq("root")).select("doc_id", "cluster_id")
      .unionByName(masks.filter(coalesce(col("n"), lit(0)) === 0)
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
  }

  /** General path: PPJoin-style prefix-filtered candidate join.
    *
    * The prefix filter is exact for ANY global total order on tokens,
    * but its PRUNING POWER depends on the order: prefixes must hold
    * the RAREST tokens, or every document's prefix shares the corpus'
    * hottest words and the candidate join degenerates toward all-pairs
    * (measured at sf0.1: lexicographic prefixes → 29M raw candidates,
    * i.e. worse than the 12.5M of brute force). So the token universe
    * is ordered by (document frequency ASC, token) — the canonical
    * AllPairs/PPJoin ordering (Bayardo et al., WWW'07) — via one
    * explode + per-token df agg + re-collect. That costs one extra
    * keyed shuffle over skinny (doc, token) rows; at scale it is the
    * difference between sub-quadratic and quadratic candidates.
    */
  /** Shared scaffolding of the prefix-filter joins: each doc's
    * DISTINCT tokens as an array sorted by the global (document
    * frequency ASC, token) order, plus its size — (doc_id, ts, n).
    * The exploded frame feeds BOTH the df aggregate and the re-join;
    * without a truncation the tokenize+explode corpus scan runs twice
    * (same materialize-once discipline as duplicateSpans/winnowNearDup).
    * The result is localCheckpoint'd: every caller consumes it from
    * multiple sides (prefix explode + verify rejoins).
    */
  private def dfOrderedTokenArrays(docs: DataFrame, idCol: String,
                                   textCol: String): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
      explode(tokenSet(col(textCol))).as("tok"))
      .localCheckpoint()
    val tokenDf = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    ex.join(tokenDf, Seq("tok"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("keyed"))
      .select(col("doc_id"),
        transform(col("keyed"), k => k("tok")).as("ts"))
      .withColumn("n", size(col("ts")))
      .localCheckpoint()
  }

  private[graft] def ngramJaccardPrefix(docs: DataFrame, threshold: Double,
                                        idCol: String, textCol: String): DataFrame = {
    val toks = dfOrderedTokenArrays(docs, idCol, textCol)
      .withColumn("prefix",
        slice(col("ts"), lit(1),
          (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")))

    // Candidates carry each side's length AND the shared token's
    // position, so two PPJoin filters prune inside the join:
    //  - LENGTH: J(a,b) >= t forces t*max(n_a,n_b) <= min(n_a,n_b);
    //  - POSITIONAL (Xiao et al. WWW'08): tokens are sorted by ONE
    //    global order, so a shared token at 0-based positions (i, j)
    //    bounds the achievable overlap by 1 + min(n_a-i-1, n_b-j-1),
    //    and J >= t needs overlap >= t/(1+t)*(n_a+n_b). For a TRUE
    //    pair with overlap o, its FIRST shared token sits at position
    //    <= n-o on both sides, so that occurrence always passes —
    //    completeness holds per pair even though later occurrences
    //    may prune. The comparison is EXACT integer cross-
    //    multiplication with tppm = floor(t*1e6) <= t (never stricter
    //    than the jaccard gate below, so pruning can only drop pairs
    //    the gate would drop anyway).
    // Pairs failing either can never verify — dropping them here
    // changes nothing downstream but cuts the candidate shuffle, the
    // distinct, and the array_intersect work.
    val tppm = math.floor(threshold * 1e6).toLong
    val pa = toks.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("pos", "tok")))
    // fresh alias on the join key too: reusing `tok` would resolve both
    // sides of the equi-join to the same attribute (trivially true),
    // degrading the prefix equi-join to a length-filtered cross product
    val pb = pa.select(col("doc_id").as("doc_b_"), col("n").as("n_b_"),
      col("pos").as("pos_b_"), col("tok").as("tok_b_"))
    val cand = pa.join(pb,
        pa("tok") === pb("tok_b_") && pa("doc_id") < pb("doc_b_") &&
          pa("n") >= lit(threshold) * pb("n_b_") &&
          pb("n_b_") >= lit(threshold) * pa("n") &&
          (lit(1L) + least(pa("n") - pa("pos") - 1,
              pb("n_b_") - pb("pos_b_") - 1)) * lit(1000000L + tppm) >=
            lit(tppm) * (pa("n") + pb("n_b_")))
      .select(pa("doc_id").as("doc_a"), pb("doc_b_").as("doc_b"))
      .distinct()

    // The token-array rejoins are plain equi-joins on doc id: AQE
    // broadcasts them when the corpus is small and shuffles when it is
    // not (a forced broadcast of the whole corpus' token arrays would
    // OOM at scale).
    val x = toks.select(col("doc_id").as("doc_a"), col("ts").as("ts_a"), col("n").as("n_a"))
    val y = toks.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"), col("n").as("n_b"))
    cand.join(x, "doc_a").join(y, "doc_b")
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Directed token-set CONTAINMENT pairs: (src, dst, cont_ppm) where
    * C(src ⊆ dst) = |T(src) ∩ T(dst)| / |T(src)| meets `thresholdPpm`
    * — the asymmetric cousin of the Jaccard join, and the right
    * primitive for doc-in-doc detection (quotes, boilerplate wrappers,
    * aggregation pages embedding whole articles) where Jaccard stays
    * LOW precisely because the containing document is much larger.
    * Directed on purpose: src-in-dst and dst-in-src are different
    * facts. Docs with an empty token set are dropped (containment of
    * nothing is undefined). All threshold math is exact integer
    * cross-multiplication (`inter·1e6 >= thresholdPpm·n_src`), so any
    * engine reproduces the pair set bit-for-bit.
    *
    * Adaptive like [[ngramJaccard]]: global vocab <= 64 routes to the
    * corpus-size-independent distinct-mask path (popcount containment
    * over mask pairs, bucketed so a src mask only meets dst sizes that
    * could clear the bound: n_dst >= ceil(t·n_src)); otherwise the
    * prefix-filter path — overlap >= ceil(t·n_s) forces a shared
    * token inside src's (n_s − ceil(t·n_s) + 1) smallest-df prefix
    * (only the SRC side prefixes; dst has no size upper bound, which
    * is exactly what makes containment asymmetric).
    */
  def containmentPairs(docs: DataFrame, thresholdPpm: Long = 900000L,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    smallVocab(docs, textCol) match {
      case Some(vocab) =>
        maskContainment(tokenMasks(docs, vocab, idCol, textCol), thresholdPpm)
      case None => containmentPrefix(docs, thresholdPpm, idCol, textCol)
    }
  }

  /** Mask path of [[containmentPairs]]: distinct-mask candidate join
    * bucketed by dst popcount, doc-level expansion afterwards — the
    * same corpus-size-independent shape as [[maskJaccardPairs]] +
    * [[expandMaskPairs]], but directed and with the src-normalized
    * containment ratio.
    */
  def maskContainment(masks: DataFrame, thresholdPpm: Long): DataFrame = {
    val gm = masks.filter(col("n") > 0).select("m", "n").distinct()
    // smallest dst size that can clear the bound: ceil(t·n_src), in
    // exact integer form
    val la = gm.select(col("m").as("m_s"), col("n").as("n_s"),
      explode(sequence(
        expr(s"CAST((n * $thresholdPpm + 999999) DIV 1000000 AS INT)"),
        lit(64))).as("n_d"))
    val rb = gm.select(col("m").as("m_d"), col("n").as("n_d"))
    val maskPairs = la.join(rb, Seq("n_d"))
      .filter(col("m_s") =!= col("m_d"))
      .withColumn("inter",
        bit_count(col("m_s").bitwiseAND(col("m_d"))).cast("int"))
      .filter(col("inter") * 1000000L >= lit(thresholdPpm) * col("n_s"))
      .select(col("m_s"), col("m_d"),
        expr("CAST(inter AS BIGINT) * 1000000 DIV n_s").as("cont_ppm"))
    val ia = masks.filter(col("n") > 0)
      .select(col("doc_id").as("src"), col("m"))
    val ib = masks.filter(col("n") > 0)
      .select(col("doc_id").as("dst"), col("m"))
    // identical token sets contain each other fully — ordered pairs,
    // both directions, containment exactly 1e6
    val intra = ia.join(ib, "m").filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), lit(1000000L).as("cont_ppm"))
    val cross = maskPairs
      .join(ia.withColumnRenamed("m", "m_s"), Seq("m_s"))
      .join(ib.withColumnRenamed("m", "m_d"), Seq("m_d"))
      .select(col("src"), col("dst"), col("cont_ppm"))
    intra.unionByName(cross)
  }

  private[graft] def containmentPrefix(docs: DataFrame, thresholdPpm: Long,
                                       idCol: String, textCol: String): DataFrame = {
    val toks = dfOrderedTokenArrays(docs, idCol, textCol)
    // src prefix: overlap >= ceil(t*n_s) cannot avoid the
    // (n_s - ceil(t*n_s) + 1) smallest-df tokens. All ppm products go
    // through BIGINT: n is a 32-bit array size, and n * 1e6 overflows
    // int for docs past ~2147 distinct tokens — routine at doc-in-doc
    // scale (with ANSI on the query dies; with ANSI off the prefix
    // silently degrades toward all tokens)
    val pa = toks.select(col("doc_id").as("src"), col("n").as("n_s"),
      explode(slice(col("ts"), lit(1),
        expr(s"CAST(n - (CAST(n AS BIGINT) * $thresholdPpm + 999999) DIV 1000000 + 1 AS INT)")))
        .as("tok"))
    // dst side carries ALL its tokens (no size upper bound on dst)
    val pb = toks.select(col("doc_id").as("dst_"), col("n").as("n_d_"),
      explode(col("ts")).as("tok_d_"))
    val cand = pa.join(pb,
        pa("tok") === pb("tok_d_") && pa("src") =!= pb("dst_") &&
          pb("n_d_") * 1000000L >= lit(thresholdPpm) * pa("n_s"))
      .select(col("src"), col("dst_").as("dst"))
      .distinct()
    val xs = toks.select(col("doc_id").as("src"), col("ts").as("ts_s"),
      col("n").as("n_s"))
    val xd = toks.select(col("doc_id").as("dst"), col("ts").as("ts_d"))
    cand.join(xs, "src").join(xd, "dst")
      .withColumn("inter", size(array_intersect(col("ts_s"), col("ts_d"))))
      .filter(col("inter") * 1000000L >= lit(thresholdPpm) * col("n_s"))
      .select(col("src"), col("dst"),
        expr("CAST(inter AS BIGINT) * 1000000 DIV n_s").as("cont_ppm"))
  }

  /** Edit-distance similarity join: all pairs with
    * `levenshtein(a, b) <= maxDist`, found without the n² cross
    * product (Ed-Join, Xiao/Wang/Lin VLDB'08 — the df-ordered
    * (k·q+1)-gram prefix filter; the location/content mismatch
    * refinements are omitted, the prefix + length filters alone are
    * lossless). The near-identical-text case MinHash/Jaccard miss:
    * small character-level edits (truncation, encoding damage, typo
    * injection) that preserve the token multiset barely move Jaccard
    * but have tiny edit distance.
    *
    * Candidate generation: ed(a,b) <= k forces (i) |len_a - len_b| <=
    * k, (ii) a and b share a POSITIONAL q-gram occurrence inside each
    * other's k·q+1 smallest-df prefix under a global (df, gram, pos)
    * order — each edit destroys at most q gram occurrences, so k edits
    * cannot cover a k·q+1 prefix — and (iii) the matching occurrences
    * sit within k positions of each other (k edits shift any surviving
    * gram by at most k). The position filter is what makes the prefix
    * join selective on repetitive text, where a FEW distinct grams
    * recur at many positions: without it every co-occurrence of a rare
    * gram pairs the docs (measured here: 10× more candidate pairs).
    * Pairs are verified with Spark's threshold levenshtein
    * (early-exits the DP past `maxDist` — O(k·len), not len²).
    *
    * Shape for scale: one gram explode (materialized once — it feeds
    * the df aggregate AND the prefix rejoin), a skinny equi-join on
    * prefix grams with the length filter inside the join, distinct
    * pair keys, then two id equi-joins to fetch texts for the verify.
    * Docs with <= k·q distinct grams (strings of ~k·q chars) can sit
    * within distance k of a doc sharing NO gram, so they bypass the
    * prefix filter into a length-windowed all-pairs side — bounded,
    * because only near-gram-empty strings land there.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int, q: Int = 3,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val prefLen = maxDist * q + 1
    // `short` ≡ gram-occurrence count l-q+1 <= k·q, a pure LENGTH
    // predicate — so the checkpoint stays skinny (id, text, l, short);
    // the ~len-sized positional gram array is never materialized, it
    // lives only inside the explodes that feed `ex`
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        length(col(textCol)).as("l"))
      .withColumn("short", col("l") <= lit(maxDist * q + q - 1))
    // a small input (one parquet file → one partition) would run the
    // ~len× gram explode single-threaded; spread it BEFORE the
    // checkpoint so every downstream pass parallelizes. Only widens —
    // an input already wider than the session's shuffle parallelism
    // keeps its partitioning (no extra shuffle at scale).
    // hash by doc_id (not round-robin): the explode preserves the
    // child's partitioning, so the per-doc prefix aggregation below
    // needs NO shuffle of the len× gram rows — hash(doc_id) already
    // satisfies its clustering
    val target = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val flagged = (if (base.rdd.getNumPartitions < target)
        base.repartition(target, col("doc_id")) else base)
      .localCheckpoint() // feeds the gram explode, the short side, and both verify rejoins

    // positions explode FIRST, substring per exploded row after —
    // building a per-doc array-of-structs and exploding it measures
    // ~2x slower than the flat sequence explode
    val ex = flagged.filter(!col("short"))
      .select(col("doc_id"), col("l"), col("text"),
        explode(expr(s"sequence(1, greatest(l - ${q - 1}, 1))")).as("p"))
      .select(col("doc_id"), col("l"),
        expr(s"substring(text, p, $q)").as("g"), col("p"))
      .localCheckpoint() // one gram scan feeds the df agg AND the rejoin
    val dfAgg = ex.groupBy("g").agg(count(lit(1)).as("df"))
    // dense integer rank = the global (df, gram) order, computed once
    // over the DICTIONARY (one row per distinct gram — vocabulary-
    // bounded); downstream, 1.5M-row shuffles and the candidate
    // equi-join carry/compare a 4-byte int instead of (long, string).
    // AuditSeq.assign (range-sort + zipWithIndex stamping) rather than
    // an unpartitioned row_number window: same dense (df, g) order —
    // (df, g) is a unique key, g is distinct post-agg — but the sort
    // stays N-way parallel and the dictionary never funnels through
    // the single-partition WindowExec (whose warning also spooked
    // every bench log)
    val rankDict = graft.core.AuditSeq
      .assign(dfAgg, Seq(col("df"), col("g")), pkName = "r")
      .select(col("g"), col("r").cast("int").as("r"))
    // broadcast is EXPLICIT: the RDD-backed rank dict carries no
    // stats, so AQE's runtime broadcast conversion never fires
    // (measured pre-hint: sort-merge join on the gram string — 2x the
    // whole prefix stage). Safe to force: the dict is
    // vocabulary-bounded (<= |charset|^q rows).
    val exR = ex.join(broadcast(rankDict), Seq("g"))
      .select(col("doc_id"), col("l"), col("r"), col("p"))
    val pref = exR.groupBy("doc_id", "l")
      .agg(array_sort(collect_list(struct(col("r"), col("p")))).as("keyed"))
      .select(col("doc_id"), col("l"),
        slice(col("keyed"), 1, prefLen).as("prefix"))
    // materialize the prefix elements ONCE: both sides of the
    // candidate self-join below read `pa`, and without the checkpoint
    // each side re-ran the rank join + collect_list + sort + slice +
    // explode chain (the before-plan carried the ObjectHashAggregate
    // branch twice). Skinny by construction: ≤ prefLen int-pair rows
    // per doc.
    val pa = pref.select(col("doc_id"), col("l"), explode(col("prefix")).as("x"))
      .select(col("doc_id"), col("l"), col("x.r").as("r"), col("x.p").as("p"))
      .localCheckpoint()
    // fresh aliases on EVERY pb column: reusing `r` would resolve both
    // sides of the equi-join to the same attribute (trivially true)
    val pb = pa.select(col("doc_id").as("doc_b_"), col("l").as("l_b_"),
      col("r").as("r_b_"), col("p").as("p_b_"))
    val prefCand = pa.join(pb,
        pa("r") === pb("r_b_") && pa("doc_id") < pb("doc_b_") &&
          abs(pa("p") - pb("p_b_")) <= maxDist &&
          abs(pa("l") - pb("l_b_")) <= maxDist)
      .select(pa("doc_id").as("doc_a"), pb("doc_b_").as("doc_b"))

    // short-doc side: length-windowed pairs against the whole corpus.
    // Binned EQUI-join, not a nested-loop range join: |Δl| <= k < k+1
    // means the two length bins (width k+1) differ by at most one, so
    // the short side explodes to its bin ± 1 and the corpus side
    // carries one bin key — the same bin-the-interval move as
    // Skew.binnedRangeJoin. In a real corpus "short" (<= k·q+q-1
    // chars) can be a large population, and shorts × corpus under a
    // non-equi predicate would be quadratic work on a BNL.
    val w = maxDist + 1
    val sBin = expr(s"s_l DIV $w")
    val shortCand = flagged.filter(col("short"))
      .select(col("doc_id").as("s_id"), col("l").as("s_l"))
      .withColumn("bin", explode(array(sBin - 1, sBin, sBin + 1)))
      .join(flagged.select(col("doc_id").as("o_id"), col("l").as("o_l"))
        .withColumn("bin", expr(s"o_l DIV $w")), Seq("bin"))
      .filter(col("s_id") =!= col("o_id") &&
        abs(col("s_l") - col("o_l")) <= maxDist)
      .select(least(col("s_id"), col("o_id")).as("doc_a"),
        greatest(col("s_id"), col("o_id")).as("doc_b"))

    val ta = flagged.select(col("doc_id").as("doc_a"), col("text").as("ta"))
    val tb = flagged.select(col("doc_id").as("doc_b"), col("text").as("tb"))
    prefCand.unionByName(shortCand).distinct()
      .join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
  }

  /** MinHash signature column: `numHashes` lexicographic minima of
    * md5("k:token"). Identical in any engine with md5 — the portable
    * stand-in for k random permutations.
    */
  def minhashSignature(tokens: Column, numHashes: Int): Column =
    transform(sequence(lit(1), lit(numHashes)),
      k => array_min(transform(tokens,
        t => md5(concat(k.cast("string"), lit(":"), t)))))

  /** Sketch-only Jaccard ESTIMATE over the LSH candidate pairs: the
    * fraction of agreeing MinHash components estimates J(a,b) with
    * standard error ~1/sqrt(numHashes) (Broder's estimator). At scale
    * THIS is the dedup decision input when re-tokenizing every
    * candidate for an exact verify is unaffordable — exact Jaccard
    * then runs only on the est-borderline band, if at all.
    *
    * Shape: the candidate list joins the signature index twice by doc
    * id (skinny fixed-width arrays — tokens are never re-scanned for
    * scoring); agreement is one zip_with fold per pair. est_ppm is
    * exact integer arithmetic (`matches·1e6 DIV numHashes`).
    */
  def minhashEstimate(docs: DataFrame, numHashes: Int = 16, bands: Int = 2,
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      bandIndex: Option[DataFrame] = None,
                      sigIndex: Option[DataFrame] = None,
                      pairIndex: Option[DataFrame] = None): DataFrame = {
    // same adaptive dictionary + native kernel as [[minhashBands]], so
    // the estimate scores the SAME signatures the candidates came from
    val sigs = sigIndex.getOrElse(
      minhashSignatureFrame(docs, numHashes, idCol, textCol)
        .localCheckpoint()) // both pair sides read the signature index
    // `pairIndex` = a pre-materialized candidate list from the SAME
    // band config — a session scoring the pairs it just listed should
    // not re-run the band self-join. With no indexes supplied, the
    // band build is threaded the checkpointed signature frame above so
    // the signature scan runs ONCE (direct un-memoized callers used to
    // pay it twice: once in minhashLsh's band build, once here).
    val pairs = pairIndex.getOrElse {
      val banded = bandIndex.getOrElse(
        minhashBandsWithKeys(docs, numHashes, bands, idCol, textCol,
          sigIndex = Some(sigs)).localCheckpoint())
      minhashLsh(docs, numHashes, bands, idCol, textCol, Some(banded))
    }
    // shuffle-hash hint: the checkpointed signature index is a leaf
    // with no size stats, so the planner defaults these id joins to
    // sort-merge — two full sorts of the (large) candidate pair list.
    // A hash join is strictly better here at ANY scale: the pair list
    // streams, only the per-partition signature build side is held.
    val sa = sigs.select(col("doc_id").as("doc_a"), col("mh").as("mh_a"))
      .hint("shuffle_hash")
    val sb = sigs.select(col("doc_id").as("doc_b"), col("mh").as("mh_b"))
      .hint("shuffle_hash")
    // static unrolled element_at comparisons stay inside whole-stage
    // codegen; the zip_with/filter lambda form is interpreted per pair
    // and dominated the whole query on a dense candidate set (measured
    // ~12s of a 17s run at sf0.1). numHashes is a small constant, so
    // the unroll is bounded.
    val matches = (1 to numHashes).map(k =>
        when(element_at(col("mh_a"), k) === element_at(col("mh_b"), k),
          1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("matches", matches)
      .withColumn("est_ppm", expr(s"matches * 1000000 DIV $numHashes"))
      .select("doc_a", "doc_b", "matches", "est_ppm")
  }

  /** Dictionary-precomputed twin of [[minhashSignature]] for a known
    * small vocabulary: the driver hashes vocab x numHashes once
    * (java.security MD5 produces the same lowercase hex as Spark's
    * md5), executors do literal-map lookups instead of per-row md5 —
    * the same small-domain dictionary encoding as the jaccard bitmask
    * path. Values are bit-identical to [[minhashSignature]].
    */
  def minhashSignatureDict(tokens: Column, numHashes: Int,
                           vocab: Array[String]): Column = {
    val mdHex = { (s: String) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val maps = (1 to numHashes).map { k =>
      typedlit(vocab.map(t => t -> mdHex(s"$k:$t")).toMap)
    }
    array(maps.map(m =>
      array_min(transform(tokens, t => element_at(m, t)))): _*)
  }

  /** MinHash + LSH banding: signature of `numHashes`, split into
    * `bands` bands; docs sharing any band key are candidate near-dups.
    * One shuffle on (band index, band key) — never all-pairs.
    *
    * FIRST-SHARED-BAND emission replaces the pair distinct: each band
    * row carries the doc's full band-key array (`bands` md5 strings),
    * and the join predicate keeps a pair only in the lowest band the
    * two docs agree on (`∀ b' < b: keys_l[b'] ≠ keys_r[b']`). A pair
    * colliding in several bands is emitted exactly once, so the
    * post-join distinct — previously a full shuffle of the raw
    * candidate multiset, ~bands× the pair count on a self-similar
    * corpus — disappears; the price is `bands-1` extra string compares
    * inside the join and `bands` keys (not vectors) per band row.
    */
  def minhashLsh(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                 idCol: String = "doc_id",
                 textCol: String = "text",
                 bandIndex: Option[DataFrame] = None): DataFrame = {
    // eager localCheckpoint: BOTH sides of the self-join below read the
    // materialized band rows (bands × docs, tiny) instead of each
    // recomputing the signature scan — without it Spark evaluates the
    // minhash chain twice, once per join side. Known tradeoff:
    // checkpoint blocks are not recomputable (an executor loss mid-job
    // fails the query instead of recomputing — rerunning the op rebuilds
    // them cheaply) and are freed on driver GC of the frame, not
    // eagerly; acceptable for an index that is small and cheap relative
    // to the join it feeds. `bandIndex` = a pre-materialized
    // [[minhashBandsWithKeys]] output for the SAME (hashes, bands)
    // config — the shared-index hook every other ANN/dedup consumer
    // has; the caller owns the config match.
    val banded = bandIndex.getOrElse(
      minhashBandsWithKeys(docs, numHashes, bands, idCol, textCol)
        .localCheckpoint())
    // explicit aliases: self-join via dataframe("col") on a renamed copy
    // of the same plan resolves only through Spark's plan-id
    // disambiguation (and logs a trivially-true-predicate warning);
    // alias-qualified columns are unambiguous by construction
    val l = banded.alias("l")
    val r = banded.withColumnRenamed("doc_id", "doc_b_").alias("r")
    // b is 1-BASED; key array index for band number n is n-1. For each
    // earlier band n (= bb + 1): either it is not earlier (n >= b) or
    // the two docs disagree there.
    val firstSharedBand = (0 until bands - 1)
      .map(bb => lit(bb + 1) >= col("l.b") ||
        col("l.band_keys").getItem(bb) =!= col("r.band_keys").getItem(bb))
      .foldLeft(lit(true))(_ && _)
    l.join(r,
        col("l.band_key") === col("r.band_key") &&
          col("l.b") === col("r.b") &&
          col("l.doc_id") < col("r.doc_b_") &&
          firstSharedBand)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_b_").as("doc_b"))
  }

  /** [[minhashBands]] rows with the doc's full band-key array attached
    * (for first-shared-band joins). `(doc_id, b, band_key, band_keys)`.
    */
  def minhashBandsWithKeys(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           sigIndex: Option[DataFrame] = None): DataFrame =
    minhashBands(docs, numHashes, bands, idCol, textCol, withKeys = true,
      sigIndex)

  /** The per-doc MinHash signature frame (doc_id, mh): the signature
    * index the band builder and the sketch estimator both read. Small
    * global vocabulary -> precompute the hash dictionary on the driver
    * (same adaptive strategy as ngramJaccard's bitmask path); either
    * way the signature itself is the native one-pass
    * [[graft.functions.MinHashHex]] kernel (bit-identical to the
    * interpreted lambda chains [[minhashSignature]] /
    * [[minhashSignatureDict]], which remain as parity baselines).
    */
  def minhashSignatureFrame(docs: DataFrame, numHashes: Int,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val vocabProbe = docs.select(explode(tokenSet(col(textCol))).as("tok"))
      .distinct().limit(257).collect().map(_.getString(0))
    val dictVocab = if (vocabProbe.length <= 256) vocabProbe
      else Array.empty[String]
    docs.select(col(idCol).as("doc_id"),
      graft.functions.MinHashHex(tokenSet(col(textCol)), numHashes,
        dictVocab).as("mh"))
  }

  /** The LSH band index of a corpus: (doc_id, b, band_key) — `bands`
    * rows per document. Persist this as the dedup INDEX for
    * [[minhashLshIncremental]]: continuous ingestion then never
    * re-hashes the indexed corpus.
    */
  /** The LSH band keys of a MinHash signature column: bands md5 keys,
    * one per `rows`-wide slice — the band hash of [[minhashBands]].
    */
  private[graft] def bandKeyArray(mh: Column, numHashes: Int,
                                  bands: Int): Column = {
    val rows = numHashes / bands
    array((1 to bands).map(b =>
      md5(concat_ws("|", slice(mh, (b - 1) * rows + 1, rows)))): _*)
  }

  def minhashBands(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   withKeys: Boolean = false,
                   sigIndex: Option[DataFrame] = None): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    // `sigIndex` = a pre-materialized [[minhashSignatureFrame]] for the
    // SAME numHashes — a session that also keeps the signature index
    // (the sketch estimator does) must not re-run the signature scan
    val sig = sigIndex.getOrElse(
      minhashSignatureFrame(docs, numHashes, idCol, textCol))
    // one pass: hash every band slice into one array, then posexplode —
    // no rejoin; `b` stays 1-based (the historical contract)
    val keys = bandKeyArray(col("mh"), numHashes, bands)
    val based = sig.select(col("doc_id"), keys.as("band_keys"))
      .select(col("doc_id"), col("band_keys"),
        posexplode(col("band_keys")).as(Seq("bp", "band_key")))
      .select(col("doc_id"), (col("bp") + 1).as("b"), col("band_key"),
        col("band_keys"))
    if (withKeys) based else based.drop("band_keys")
  }

  /** Incremental near-dup: candidate pairs that INVOLVE a new document
    * — new x indexed plus new x new — against a precomputed band index
    * ([[minhashBands]] of the existing corpus). The indexed corpus is
    * never re-hashed and only its band rows matching a new band key
    * participate in the join: ingestion cost is O(new docs + matching
    * postings), not O(corpus). Pairs are normalized (doc_a < doc_b)
    * and deduped.
    */
  def minhashLshIncremental(newDocs: DataFrame, indexedBands: DataFrame,
                            numHashes: Int = 16, bands: Int = 4,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    // checkpoint for the same reason as [[minhashLsh]]: `nb` feeds both
    // the probe side and the unioned index side of the join
    val nb = minhashBands(newDocs, numHashes, bands, idCol, textCol)
      .localCheckpoint()
    val n = nb.alias("n")
    val all = indexedBands.select("doc_id", "b", "band_key")
      .unionByName(nb)
      .withColumnRenamed("doc_id", "doc_o_")
      .alias("i")
    val pairs = n.join(all,
        col("n.band_key") === col("i.band_key") &&
          col("n.b") === col("i.b") &&
          col("n.doc_id") =!= col("i.doc_o_"))
      .select(least(col("n.doc_id"), col("i.doc_o_")).as("doc_a"),
        greatest(col("n.doc_id"), col("i.doc_o_")).as("doc_b"))
    distinctPairs(pairs,
      nb.select(col("doc_id"))
        .unionByName(indexedBands.select(col("doc_id"))))
  }

  /** Distinct over (doc_a, doc_b) pairs. When ids are small enough
    * (range probed from `ids`, one cheap parquet-stats scan — NOT from
    * the expensive pair join itself), encode the pair into ONE long
    * (a*K + b) before the distinct — halves the shuffle width and runs
    * the hash-aggregate over a single primitive column (measured ~2x
    * on the band-join output). Falls back to a plain distinct for id
    * ranges that could overflow.
    */
  private def distinctPairs(pairs: DataFrame, ids: DataFrame): DataFrame = {
    val idCol = ids.columns.head
    // the pair frame's first two columns are (a, b) — works for
    // doc_a/doc_b and vec_a/vec_b alike
    val Seq(aCol, bCol) = pairs.columns.take(2).toSeq
    // encoding applies to integral ids only — casting strings would
    // throw under ANSI (or compare lexicographically and corrupt the
    // encoding); everything else takes the plain distinct
    val integral = ids.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (!integral) return pairs.distinct()
    val stats = ids.agg(
      max(col(idCol)).cast("long").as("mx"),
      min(col(idCol)).cast("long").as("mn")).head()
    if (stats.isNullAt(0)) return pairs.limit(0)
    val (mx, mn) = (stats.getLong(0), stats.getLong(1))
    if (mn >= 0 && mx < 3000000000L) {
      val k = mx + 1
      pairs.select((col(aCol) * k + col(bCol)).as("p")).distinct()
        // integer DIV, not `/` (long / long is a DOUBLE in Spark and
        // loses exactness above 2^53)
        .select(expr(s"p DIV ${k}L").as(aCol),
          (col("p") % k).as(bCol))
    } else pairs.distinct()
  }

  /** Connected components over a near-dup candidate-pair edge list:
    * every document is labeled with the MINIMUM doc id reachable
    * through the pair graph (`cluster_id`). This is the O(n)-sized
    * product a dedup pass actually keeps — the pair list itself is
    * O(c²) per near-dup cluster (measured: 5000 highly-self-similar
    * docs produce 2.6M minhash pairs), which no downstream step wants
    * to materialize twice.
    *
    * Algorithm: one distributed star-contraction pass (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) shrinks
    * the edge list by orders of magnitude, then the contracted graph is
    * finished either (a) by a BOUNDED driver union-find when its
    * directed edge count is ≤ `maxDriverEdges` (the common case —
    * dense near-dup graphs contract ~1000x; the collect is capped and
    * each row is two scalar ids), or (b) by distributed min-label
    * propagation to fixpoint — each round every node takes the min of
    * its own label and its neighbors' labels (one equi-join + one
    * hash-agg per round, both with map-side partials), converging in
    * O(contracted diameter) rounds with labels materialized per round
    * (lineage cut) and convergence checked via an aggregate.
    *
    * `docs` supplies the node set, so singleton documents (no pairs)
    * appear with `cluster_id = doc_id`.
    */
  /** Driver union-find over a collected directed edge list — the
    * bounded finish shared by [[connectedComponents]]'s raw and
    * contracted paths. Labels every node appearing in an edge with its
    * component's MIN member under the SAME ordering Spark's `min`
    * uses — for strings that is UTF8String BINARY order (UTF-8 bytes),
    * which differs from java.lang.String.compareTo (UTF-16 code units)
    * on supplementary characters; using the JVM order would make
    * cluster ids depend on which finish path ran. Callers cap the
    * collect BEFORE calling.
    */
  private def unionFindLocal(edgesDf: DataFrame): DataFrame = {
    val spark = edgesDf.sparkSession
    val edges = edgesDf.collect()
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      // path compression
      var c = x
      while (parent.getOrDefault(c, c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edges.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) parent.put(ra, rb)
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val minOf = new java.util.HashMap[Any, Any]()
    val nodes = new java.util.HashSet[Any]()
    edges.foreach { row => nodes.add(row.get(0)); nodes.add(row.get(1)) }
    nodes.forEach { v =>
      val r = find(v)
      val cur = minOf.get(r)
      if (cur == null || lt(v, cur)) minOf.put(r, v)
    }
    val idType = edgesDf.schema.fields(0).dataType
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    nodes.forEach { v =>
      rows.add(org.apache.spark.sql.Row(v, minOf.get(find(v))))
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("label", idType))))
  }

  /** Near-dup CLUSTERS on the general-vocab path WITHOUT the expanded
    * pair list — the distinct-mask move ([[maskClusters]]) generalized
    * past 64 tokens: documents with an IDENTICAL token set are
    * Jaccard-1 by definition, so contract each set to its lowest-id
    * representative first (one hash-aggregate on the sorted-set
    * digest), run the prefix-filter pair join over REPRESENTATIVES
    * only, and hand components the linear star edges (doc → its rep)
    * plus the rep-level verified pairs. Components — and therefore the
    * min-reachable-id labels — are EXACTLY those of the full verified
    * pair graph: an edge (a,b) exists iff J(S_a,S_b) ≥ t, which
    * depends only on the token SETS, so same-set docs connect through
    * their rep and cross-set edges survive verbatim at rep granularity
    * (spec-pinned equality). Null-text docs carry no token set and
    * stay singletons, exactly as the pair path leaves them.
    *
    * Why it matters at scale: a near-dup corpus is mostly exact-set
    * duplicates (the ×8 probe corpus: 5000 docs → ~600 distinct sets),
    * and the clique pair list is quadratic PER CLIQUE while the
    * contracted input is one row per distinct set — measured on the
    * ×8 stress this replaces a 23.7M-pair generation+verification
    * (the 100 TB killer q_dedup_ngram must still pay, because its
    * OUTPUT is the pair list) with a rep join orders of magnitude
    * smaller. Digest = md5 over the sorted set with an out-of-alphabet
    * separator, set size alongside ([[exact]]'s md5 discipline).
    */
  def ngramClustersPrefix(docs: DataFrame, threshold: Double,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val sets = docs.select(col(idCol).as("doc_id"),
        size(tokenSet(col(textCol))).as("sn"),
        md5(concat_ws("\u0001", array_sort(tokenSet(col(textCol))))).as("sh"))
      .filter(col("sh").isNotNull)
      .localCheckpoint() // two consumers: reps + star edges
    val reps = sets.groupBy("sn", "sh").agg(min(col("doc_id")).as("rep"))
    val star = sets.join(reps, Seq("sn", "sh"))
      .filter(col("rep") =!= col("doc_id"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val repDocs = docs.join(reps.select(col("rep").as(idCol)), Seq(idCol))
    val repPairs = ngramJaccardPrefix(repDocs, threshold, idCol, textCol)
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(star.unionByName(repPairs), docs, idCol)
  }

  def connectedComponents(pairs: DataFrame, docs: DataFrame,
                          idCol: String = "doc_id",
                          maxRounds: Int = 25,
                          maxDriverEdges: Long = 1L << 21): DataFrame = {
    // The driver finish holds the edge Rows plus three hash structures
    // (~300 B/edge all-in for scalar ids). Cap the collect at ~10% of
    // the driver heap regardless of the caller's bound, so a generous
    // maxDriverEdges on a small (1 GiB) driver degrades to the
    // distributed finish instead of an OOM.
    val heapCappedEdges =
      math.min(maxDriverEdges, Runtime.getRuntime.maxMemory() / 3000)
    val aCol = pairs.columns(0)
    val bCol = pairs.columns(1)
    // directed pair list, cached ONCE at its natural size — the
    // undirected view is derived per use, never materialized at 2x
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).persist()
    // every persisted frame is released in the finally below — a Spark
    // job failure mid-loop must not leak caches for the session lifetime
    var m: DataFrame = null
    var contracted: DataFrame = null
    try {
    // RAW fast path: when the directed pair list itself fits the
    // driver bound, union-find the raw edges directly — the star
    // contraction's two groupBys, two joins, and distinct exist to
    // SHRINK a graph too big to collect; paying them when the input
    // already fits is backwards (measured at sf0.1: ~3s of contraction
    // machinery to avoid a 698k-row / ~30 MB collect on the dense
    // mask-pair graph)
    val nRaw = p.count()
    if (nRaw <= heapCappedEdges) {
      val viaRaw = unionFindLocal(p)
        .select(col("id"), col("label").as("cluster_id"))
      return docs.select(col(idCol).as("id")).distinct()
        .join(viaRaw, Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("cluster_id"), col("id")).as("cluster_id"))
        .localCheckpoint()
    }
    // STAR CONTRACTION first (the Kiveris et al. move): collapse every
    // node onto m(u) = min(u, neighbors(u)), then rewrite each edge
    // (u,v) as (m(u), m(v)) and dedupe. Near-dup graphs are dense
    // cliques, so this one bounded pass shrinks millions of raw pair
    // edges to ~one edge per inter-star link (measured 3M pairs ->
    // 3.6k at sf0.1), and the propagation loop below runs on the
    // contracted graph for pennies instead of re-joining the full
    // edge set every round. The undirected min-neighbor comes from
    // two half-size groupBys (one per pair orientation) merged —
    // no 2x edge materialization anywhere at raw scale.
    m = p.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn"))
      .unionByName(
        p.groupBy(col("dst").as("id")).agg(min(col("src")).as("mn")))
      .groupBy("id").agg(min(col("mn")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("m"))
      .persist()
    m.count()
    // contracted edges from the DIRECTED pairs; the reverse
    // orientation is added after the distinct, at contracted (tiny)
    // size, so the propagation join below sees both directions
    val contractedDir = p
      .join(m.select(col("id").as("src"), col("m").as("msrc")), Seq("src"))
      .join(m.select(col("id").as("dst"), col("m").as("mdst")), Seq("dst"))
      .select(col("msrc").as("src"), col("mdst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist()
    val nDir = contractedDir.count()
    contracted = contractedDir
    val spark = pairs.sparkSession
    val labels: DataFrame = if (nDir <= heapCappedEdges) {
      // BOUNDED driver finish (the same bounded-probe pattern as the
      // 65-row vocab probe): star contraction shrinks dense near-dup
      // graphs by orders of magnitude (measured 3M pairs -> 3.6k
      // contracted edges at sf0.1), so when the contracted DIRECTED
      // edge list fits the threshold, union-find on the driver replaces
      // the whole iterative distributed loop — O(E α(E)) locally,
      // saving the per-round job launch + shuffle + checkpoint tax. The
      // collect is capped at maxDriverEdges rows of two scalar ids.
      unionFindLocal(contractedDir)
    } else {
      // distributed fallback for contracted graphs past the bound
      val both = contractedDir
        .unionByName(contractedDir.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist()
      contracted = both
      both.count()
      contractedDir.unpersist()
      // localCheckpoint (eager) TRUNCATES the logical plan each round —
      // with plain persist the round-N plan still nests every earlier
      // round, and Catalyst re-analysis alone grows ~3x per round
      // (measured 1.0s, 1.8s, 6.7s, 19s on a 3.6k-edge graph); the
      // checkpointed frame is a leaf, so every round pays the same
      // constant plan cost. Loop state is O(#star roots) rows.
      var lab = both.select(col("src").as("id"))
        .unionByName(both.select(col("dst").as("id")))
        .distinct()
        .withColumn("label", col("id"))
        .localCheckpoint()
      // min-label propagation to fixpoint on the contracted graph;
      // convergence via an aggregate (never an unbounded collect)
      var converged = lab.isEmpty
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        val neighborLabels = both
          .join(lab, both("dst") === lab("id"))
          .select(col("src").as("id"), col("label"))
        val next = lab.unionByName(neighborLabels)
          .groupBy("id").agg(min(col("label")).as("label"))
          .localCheckpoint()
        val changed = next.join(lab.withColumnRenamed("label", "prev"), Seq("id"))
          .filter(col("label") < col("prev")).limit(1).count()
        lab = next
        converged = changed == 0
        rounds += 1
      }
      // a truncated propagation would return WRONG cluster ids for long
      // chains — fail loudly instead of silently mislabeling (raise
      // maxRounds for graphs whose contracted diameter exceeds it)
      if (!converged) {
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxRounds rounds; " +
            "the contracted graph's diameter exceeds maxRounds — raise it")
      }
      lab
    }
    // map every original node through its star root's final label;
    // docs with no pairs (and star roots that stayed put) label as self
    val rootLabel = labels.withColumnRenamed("id", "m")
    val viaRoot = m
      .join(rootLabel, Seq("m"), "left")
      .select(col("id"), coalesce(col("label"), col("m")).as("cluster_id"))
    // eager localCheckpoint materializes the O(n) result as a leaf so
    // EVERY upstream cache can be dropped — the caller neither re-runs
    // the pair-generation chain nor inherits persisted frames to clean
    val out = docs.select(col(idCol).as("id")).distinct()
      .join(viaRoot, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .localCheckpoint()
    out
    } finally {
      p.unpersist()
      if (m != null) m.unpersist()
      if (contracted != null) contracted.unpersist()
    }
  }

  /** Incremental embedding near-dup: candidate pairs that INVOLVE a
    * new vector — new x indexed plus new x new — against a PERSISTED
    * band index ([[Similarity.lshBands]] of the existing corpus, the
    * embedding twin of [[minhashLshIncremental]]). The indexed corpus
    * is never re-hashed; only its band rows matching a new band key
    * join, so ingestion cost is O(new vectors + matching postings).
    * Verification joins vectors back by id from the combined corpus;
    * pairs normalize (least, greatest) and dedupe after the threshold
    * filter like [[embeddingNearDup]].
    */
  def embeddingNearDupIncremental(newEmb: DataFrame, indexedEmb: DataFrame,
                                  indexedBands: DataFrame, threshold: Double,
                                  planes: Int = 12, tables: Int = 4,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  dim: Int = 64): DataFrame = {
    def prep(df: DataFrame) = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v"), dim))
    val eNew = prep(newEmb)
    val eAll = prep(newEmb.unionByName(indexedEmb))
    val nb = Similarity.lshBands(eNew.select(col("vec_id"), col("v")),
      "vec_id", "v", tables, planes, dim)
    val all = indexedBands.select("vec_id", "t", "bucket")
      .unionByName(nb)
      .withColumnRenamed("vec_id", "vec_o_")
      .alias("i")
    val n = nb.alias("n")
    val rawPairs = n.join(all,
        col("n.t") === col("i.t") &&
          col("n.bucket") === col("i.bucket") &&
          col("n.vec_id") =!= col("i.vec_o_"))
      .select(least(col("n.vec_id"), col("i.vec_o_")).as("vec_a"),
        greatest(col("n.vec_id"), col("i.vec_o_")).as("vec_b"))
    val ea = eAll.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val eb = eAll.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    rawPairs.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .withColumn("cos",
        Similarity.dotD(col("va"), col("vb"), dim) / (col("na") * col("nb")))
      .withColumn("cos_q", floor(col("cos") * 10000).cast("long"))
      // round, not floor: fp representation puts e.g. 0.95*10000 at
      // 9499.999..., which floor would silently shift one quantum below
      // the caller's intent (and below a hand-written SQL oracle's
      // literal). round matches intent at the 1e-4 grid.
      .filter(col("cos_q") >= math.round(threshold * 10000))
      .select("vec_a", "vec_b", "cos_q")
      .distinct()
  }

  /** Banded Hamming near-dup pairs over ANY 64-bit-or-narrower
    * fingerprint column (perceptual image dHash, SimHash, any LSB-
    * packed signature): the fingerprint splits into `bands`
    * contiguous bit bands, a pair is a candidate iff it agrees on AT
    * LEAST one whole band (pigeonhole: every pair at Hamming distance
    * <= bands-1 is guaranteed caught; beyond that recall decays like
    * any banded LSH — raise `bands` to chase larger radii), and
    * candidates verify with an exact `bit_count(xor)` popcount.
    * Output: (doc_a, doc_b, dist) with doc_a < doc_b, dist <=
    * `maxDist`.
    *
    * Scale shape: the band join moves only (id, 8-byte hash, band) —
    * never payloads; per-band bucket population for uniform b-bit
    * bands is ~n/2^b, so in-bucket pair volume is ~bands*n²/2^b —
    * with 16-bit bands that is quadratic-safe to ~10⁶ docs per
    * Exchange partition and the band width is the knob that grows
    * with the corpus. Null fingerprints drop out before the join.
    * Matches [[embeddingNearDup]]'s dedup-AFTER-verify discipline:
    * dist is a pure pair function, so distinct-on-(a,b,dist) ==
    * distinct-on-(a,b) and only surviving pairs pay the shuffle.
    */
  def hammingPairs(hashes: DataFrame, maxDist: Int, bands: Int = 4,
                   bandBits: Int = 16,
                   idCol: String = "doc_id",
                   hashCol: String = "dhash"): DataFrame = {
    require(bands >= 2 && bandBits >= 1 && bands * bandBits <= 64,
      s"bands=$bands x bandBits=$bandBits must cover <= 64 bits")
    val h = hashes.select(col(idCol).as("doc_id"), col(hashCol).as("h"))
      .filter(col("h").isNotNull)
    val mask = (1L << bandBits) - 1
    val banded = h.select(col("doc_id"), col("h"),
        explode(array((0 until bands).map(k =>
          struct(lit(k).as("k"),
            shiftright(col("h"), k * bandBits).bitwiseAND(lit(mask))
              .as("b"))): _*)).as("kb"))
      .select(col("doc_id"), col("h"), col("kb.k").as("k"), col("kb.b").as("b"))
    val l = banded.alias("l")
    val r = banded.select(col("doc_id").as("doc_b_"), col("h").as("h_b_"),
      col("k").as("k_"), col("b").as("b_")).alias("r")
    l.join(r,
        col("l.k") === col("r.k_") && col("l.b") === col("r.b_") &&
          col("l.doc_id") < col("r.doc_b_"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_b_").as("doc_b"),
        bit_count(col("l.h").bitwiseXOR(col("r.h_b_"))).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** 32-bit SimHash fingerprint per document, from the leading 32 md5
    * bits of each distinct token: bit b contributes +1/-1, the
    * fingerprint keeps the sign of each bit-sum. Computed by the
    * native [[graft.functions.SimHash32]] expression — a pure
    * projection, zero exchanges (previously an explode(token x 32) +
    * two hash-aggregates; the oracle still computes that formulation
    * over md5 hex digits, which is bit-for-bit the same value).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SimHash32(tokenSet(col(textCol))).as("simhash"))

  /** Embedding-cosine near-dup pairs, candidate-limited to banded
    * multi-table hyperplane LSH (see [[Similarity.lshBands]]): a pair
    * is a candidate iff the two vectors share a bucket in AT LEAST one
    * of `tables` independent hyperplane tables; candidates dedupe on
    * the pair id BEFORE the cosine, then the vectors join back for one
    * verification per distinct pair. Output score is floor(cos * 10000)
    * so last-ulp accumulation differences can't flip a comparison
    * across engines.
    *
    * Scale shape (the fix for the single-table quadratic): in-bucket
    * pair volume is ~B·n²/2^planes, and recall for a pair whose
    * per-plane agreement probability is p is 1-(1-p^planes)^B — planes
    * and tables grow together with the corpus, like minhash bands. The
    * band join itself moves only (vec_id, t, bucket); the vectors are
    * never replicated per table.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
                       planes: Int = 12, tables: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       dim: Int = 64): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v"), dim))
    val bands = Similarity.lshBands(e.select(col("vec_id"), col("v")),
      "vec_id", "v", tables, planes, dim)
    val l = bands.alias("l")
    val r = bands.withColumnRenamed("vec_id", "vec_b_").alias("r")
    val rawPairs = l.join(r,
        col("l.t") === col("r.t") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_b_"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_b_").as("vec_b"))
    val ea = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    // dedup AFTER the threshold filter, not before the verify: with
    // selective tables the cross-table duplication rate is a few
    // percent (measured ~5% at 12 planes), so deduping first would
    // spend a full-width shuffle to save almost no cosine work — while
    // the post-filter distinct sees only the (tiny) surviving pairs.
    // cos_q is a pure function of the pair, so distinct-on-(a,b,cos_q)
    // equals distinct-on-(a,b).
    rawPairs.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .withColumn("cos",
        Similarity.dotD(col("va"), col("vb"), dim) / (col("na") * col("nb")))
      .withColumn("cos_q", floor(col("cos") * 10000).cast("long"))
      // threshold on the QUANTIZED score, not the raw double, so a
      // last-ulp accumulation difference near the threshold cannot
      // flip pair membership across engines (the whole point of the
      // quantization — the oracle filters identically)
      // round, not floor: fp representation puts e.g. 0.95*10000 at
      // 9499.999..., which floor would silently shift one quantum below
      // the caller's intent (and below a hand-written SQL oracle's
      // literal). round matches intent at the 1e-4 grid.
      .filter(col("cos_q") >= math.round(threshold * 10000))
      .select("vec_a", "vec_b", "cos_q")
      .distinct()
  }

  /** Keep-best canonical selection over near-dup clusters: every
    * cluster elects the member with the highest `score` (id tiebreak)
    * — the survivor rule real pipelines use in place of keep-first
    * (keep the longest / highest-quality copy, not the one that
    * happened to arrive first). One `max_by` hash-aggregate over the
    * cluster assignment (map-side partials), equi-joined back onto the
    * members — the best table is one row per CLUSTER (corpus-sized in
    * the worst case), so it is NOT broadcast. Emits (doc_id,
    * cluster_id, canonical_id, is_canonical).
    */
  def canonicalByScore(clusters: DataFrame, score: Column): DataFrame = {
    val best = clusters
      .withColumn("_s", score)
      .groupBy("cluster_id")
      // min_by over (null-flag, -score, id): highest score, lowest id
      // on ties. The SCORE is negated (numeric by contract), never the
      // id — a string doc_id under -id would cast to double (null with
      // ANSI off: arbitrary ties; error with ANSI on). The leading
      // null-flag makes a NULL score LOSE: nulls sort first in an
      // ascending struct compare, so without it a null-scored member
      // would win the min_by (the old max_by form made it lose).
      .agg(min_by(col("doc_id"),
        struct(col("_s").isNull.cast("int").as("nf"),
          (-col("_s")).as("ns"), col("doc_id"))).as("canonical_id"))
    clusters.join(best, Seq("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .select("doc_id", "cluster_id", "canonical_id", "is_canonical")
  }

  /** Per-cluster dedup economics: given a cluster assignment
    * ([[connectedComponents]] / [[maskClusters]] output) and a per-doc
    * score frame (token counts, quality — any additive long signal),
    * report each cluster's size, score mass, best member (highest
    * score, lowest id on ties — the [[canonicalByScore]] tiebreak),
    * and `dup_score` = total - max: the mass you RECLAIM by keeping
    * only the canonical. Summed over clusters, dup_score is the
    * pipeline's dedup-savings estimate — the number that decides
    * whether a near-dup pass pays for itself at 100 TB.
    *
    * Shape for scale: one equi-join on doc id, one partial-agged
    * hash aggregation on cluster_id; max_by replaces a per-cluster
    * sort window.
    */
  def clusterReport(clusters: DataFrame, signals: DataFrame,
                    scoreCol: String, idCol: String = "doc_id"): DataFrame =
    clusters.join(signals, Seq(idCol))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(scoreCol)).as("total_score"),
        max(col(scoreCol)).as("max_score"),
        // negate the numeric score, not the id — safe for string ids;
        // leading null-flag keeps null-scored members losing (see
        // canonicalByScore)
        min_by(col(idCol),
          struct(col(scoreCol).isNull.cast("int").as("nf"),
            (-col(scoreCol)).as("ns"), col(idCol))).as("best_doc"))
      .withColumn("dup_score", col("total_score") - col("max_score"))

  /** Cross-snapshot exact dedup — the first gate of incremental
    * ingestion: drop incoming documents whose content hash already
    * exists in the base corpus (left-anti join on md5). Both sides
    * reduce to skinny (id, hash) rows BEFORE the join, so at 100 TB
    * the base side is effectively the persisted hash index (hashes
    * only — the base text never moves), and the anti-join shuffles
    * hashes, not documents.
    */
  def exactAgainst(incoming: DataFrame, base: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    incoming.select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"))
      .join(base.select(md5(col(textCol)).as("text_hash")).distinct(),
        Seq("text_hash"), "left_anti")
      .select("doc_id", "text_hash")

  /** Winnowing-based near-dup candidates — the pair generator the
    * [[graft.ops.TextStats.winnow]] sketch exists for (Schleimer et
    * al.'s use case: mirror/plagiarism detection): documents sharing
    * at least `minShared` winnowing fingerprints are candidate
    * substring-level near-dups. Winnowing's guarantee makes this
    * precise about WHAT it catches: every shared token run of length
    * >= w+k-1 contributes a shared fingerprint, so long shared
    * passages cannot escape, while MinHash (whole-document set
    * similarity) can miss a long quote inside otherwise-different
    * documents.
    *
    * Shape for scale: same as the MinHash band join — one explode to
    * skinny (doc, fingerprint) rows, one equi-join shuffle keyed on
    * the fingerprint, counts aggregated with map-side partials. Never
    * all-pairs; hot fingerprints (boilerplate shared by thousands of
    * docs) are the skew hazard, handled by AQE skew-join like the LSH
    * band keys.
    */
  def winnowNearDup(docs: DataFrame, k: Int = 3, w: Int = 4,
                    minShared: Int = 2,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    fpIndex: Option[DataFrame] = None): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    // materialized once: both self-join sides read the sketch instead
    // of re-running gram hashing + winnowing (the band-index move).
    // `fpIndex` = a pre-materialized (doc_id, fingerprint) sketch from
    // the SAME (k, w) config — the shared-memo seam, so a session that
    // also serves the fingerprint census (q_winnow) winnows once.
    val fps = fpIndex.getOrElse(
      graft.ops.TextStats.winnow(docs, k, w, idCol, textCol)
        .localCheckpoint())
    val l = fps.alias("l")
    val r = fps.withColumnRenamed("doc_id", "doc_b_").alias("r")
    l.join(r, col("l.fingerprint") === col("r.fingerprint") &&
        col("l.doc_id") < col("r.doc_b_"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_b_").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus snapshot diff — the lifecycle monitor between two
    * ingestion runs: per document id, whether it was `added`,
    * `removed`, or `changed` (content hash moved); unchanged docs are
    * suppressed (they are the overwhelming majority, and emitting
    * them would make the report O(corpus) instead of O(churn)).
    *
    * Scale: both sides reduce to skinny (id, md5) rows before the
    * full-outer join — text never moves, the join shuffles 16-byte
    * hashes on the id key, and the output is churn-sized. The
    * downstream twin of [[exactAgainst]] (which gates ingestion;
    * this one audits it).
    */
  def corpusDiff(base: DataFrame, current: DataFrame,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // presence flags, not hash nullness, decide added/removed: a doc
    // PRESENT with null text has a null md5, and reading that null as
    // "absent" would misreport it; `<=>` keeps null==null as unchanged
    val b = base.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("h_base"), lit(true).as("_in_base"))
    val c = current.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("h_cur"), lit(true).as("_in_cur"))
    b.join(c, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("_in_base").isNull, lit("added"))
          .when(col("_in_cur").isNull, lit("removed"))
          .when(!(col("h_base") <=> col("h_cur")), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select("doc_id", "status", "h_base", "h_cur")
  }

  /** Bloom-prefiltered cross-snapshot dedup — the shuffle-avoiding
    * scale path of [[exactAgainst]], mirroring Spark's own runtime
    * bloom-filter join pruning (and the membership screen every
    * large-scale ingestion pipeline runs: Bloom, 1970; the CCNet /
    * RefinedWeb-style "seen-before" gate).
    *
    * Build Spark's native `BloomFilterAggregate` sketch over the BASE
    * side's 64-bit content-hash keys (one distributed aggregate — the
    * sketch, KBs–MBs, is the only thing the driver ever holds), then
    * screen the incoming side with `BloomFilterMightContain` as a
    * scan-level predicate. Bloom filters have NO false negatives, so
    * bloom-negative rows are definitely new and bypass the verify
    * join entirely; only bloom-positive candidates — true duplicates
    * plus ~`fpp` of the rest — reach the exact anti-join. The output
    * is bit-identical to [[exactAgainst]]; the sketch only decides
    * which rows must be verified. At 100 TB the incoming side is
    * hashed once (localCheckpoint keeps the branch point from
    * re-scanning the raw corpus), and the anti-join's shuffle volume
    * drops from ALL incoming hashes to `dup_rate + fpp` of them.
    *
    * `expectedItems` sizes the sketch (Spark caps it at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `maxNumBits`; a multi-billion-key base shards the sketch by hash
    * prefix — same dataflow per shard).
    */
  def bloomScreen(incoming: DataFrame, base: DataFrame,
                  expectedItems: Long = 1000000L,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val key = xxhash64(col(textCol))
    val sketchCol = GraftSqlShim.column(
      new BloomFilterAggregate(GraftSqlShim.expression(key),
        Literal(expectedItems)).toAggregateExpression())
    val sketch = base.select(sketchCol.as("bf")).head().getAs[Array[Byte]](0)
    if (sketch == null) // empty base: everything is new, nothing to verify
      return incoming.select(col(idCol).as("doc_id"),
        md5(col(textCol)).as("text_hash"))
    val maybe = GraftSqlShim.column(new BloomFilterMightContain(
      Literal.create(sketch,
        org.apache.spark.sql.types.BinaryType),
      GraftSqlShim.expression(key)))
    val inc = incoming
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"),
        maybe.as("_maybe"))
      .localCheckpoint()
    // null text ⇒ null hash key ⇒ null _maybe: such rows must flow to
    // the definite-new branch (exactAgainst's left_anti keeps null-hash
    // rows as new — null never equi-matches), not vanish from both
    // filters, so the branch test coalesces null to "not maybe"
    val definiteNew = inc.filter(!coalesce(col("_maybe"), lit(false)))
      .select("doc_id", "text_hash")
    val verifiedNew = inc.filter(col("_maybe") === true)
      .select("doc_id", "text_hash")
      .join(base.select(md5(col(textCol)).as("text_hash")).distinct(),
        Seq("text_hash"), "left_anti")
    definiteNew.unionByName(verifiedNew)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding space, then mark within-cluster semantic duplicates —
    * a vector is a duplicate when some LOWER-id cluster-mate sits
    * within the cosine threshold, and the survivor set is the `keep`
    * rows. Clustering bounds the pair work: candidates are in-cluster
    * only, so the all-pairs term is Σ c_i², controlled by the cluster
    * count (grow k with the corpus, like the paper's 50k clusters for
    * LAION). The coarse quantizer is the same deterministic stride as
    * [[Similarity.ivfTopK]] (swap in [[Similarity.kmeans]] centroids
    * for a trained index — identical dataflow).
    *
    * Emits (vec_id, centroid_id, dup_of, keep): `dup_of` = the lowest
    * cluster-mate id within threshold (null for survivors).
    *
    * Shape for scale: broadcast-cross centroid assignment reduced
    * map-side by `max_by` (no window over raw vectors), one shuffle on
    * centroid_id for the in-cluster pair join, partial-agged `min` for
    * the witness, broadcast-sized centroid table.
    */
  def semDedup(emb: DataFrame, threshold: Double,
               centroidStride: Int = 37,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               dim: Int = 64): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("vn", Similarity.norm(col("v"), dim))
    val cent = v.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("centv"),
        col("vn").as("centn"))
    val assigned = v.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        Similarity.cosQ(col("v"), col("centv"), col("vn"), col("centn"), dim))
      .groupBy("vec_id")
      .agg(min_by(col("centroid_id"),
          struct(col("c_cos").isNull.cast("int").as("nf"),
            (-col("c_cos")).as("ns"), col("centroid_id"))).as("centroid_id"),
        first(col("v")).as("v"), first(col("vn")).as("vn"))
      // the three consumers below would each re-run the assignment
      // cross-join (self-joins get no automatic exchange reuse);
      // truncate once
      .localCheckpoint()
    val a = assigned.select(col("vec_id").as("vec_a"), col("centroid_id"),
      col("v").as("av"), col("vn").as("an"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("centroid_id"),
      col("v").as("bv"), col("vn").as("bn"))
    val dups = a.join(b, Seq("centroid_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_q",
        Similarity.cosQ(col("av"), col("bv"), col("an"), col("bn"), dim))
      // round, not floor: fp representation puts e.g. 0.95*10000 at
      // 9499.999..., which floor would silently shift one quantum below
      // the caller's intent (and below a hand-written SQL oracle's
      // literal). round matches intent at the 1e-4 grid.
      .filter(col("cos_q") >= math.round(threshold * 10000))
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    assigned.select("vec_id", "centroid_id")
      .join(dups, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** Blocked record linkage (Fellegi–Sunter blocking + edit-distance
    * match — the standard entity-resolution shape, Christen's survey
    * 2012): candidate pairs are generated ONLY within a blocking key
    * (never all-pairs), ordered `id_a < id_b` so each pair appears
    * once, pre-pruned by the length-difference lower bound (|len a −
    * len b| ≤ maxDist implies nothing about the distance EXCEPT that
    * pairs failing it cannot match — the cheap conjunct short-
    * circuits before the O(n·m) Levenshtein evaluates), and kept at
    * `levenshtein ≤ maxDist`. Unit-cost Levenshtein is the same
    * deterministic recurrence in every engine, so the pair table
    * hash-gates.
    *
    * Shape for scale: ONE equi-join shuffle on the block key; within-
    * block pair count is the classic ER cost model — block quality
    * (not corpus size) bounds the bill, and a skewed block is an AQE
    * skew-join case, not a plan change.
    */
  def blockedLinkage(df: DataFrame, blockCol: String, idCol: String,
                     nameCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    // the join AMPLIFIES work ~block-size× per probe row, so candidate
    // scoring parallelism must not be bound by the input's file count
    // (a dimension read as one parquet file = one partition = one core
    // paying the whole Levenshtein bill). The partition count is pinned
    // EXPLICITLY: the probe rows are bytes-tiny, so AQE's size-based
    // coalescing would fold the unpinned shuffle straight back to one
    // partition — the amplification is invisible to a size heuristic.
    val a = df.select(col(blockCol).as("block"), col(idCol).as("id_a"),
      col(nameCol).as("name_a"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"))
    val b = df.select(col(blockCol).as("block"), col(idCol).as("id_b"),
      col(nameCol).as("name_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      // the 3-arg banded form (Ukkonen) fills only the ±maxDist
      // diagonal band and early-exits to -1 past the threshold:
      // O(maxDist·n) per pair instead of O(n·m) on the pair-join hot
      // loop; surviving pairs carry the same distance as the full DP
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("block", "id_a", "id_b", "name_a", "name_b", "dist")
  }
}
