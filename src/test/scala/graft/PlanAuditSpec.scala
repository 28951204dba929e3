package graft

import graft.ops.{Dedup, Profile, Sampling, Similarity, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan pins for the scale claims in SCALING.md: these
  * assert the plan SHAPE (broadcast vs shuffle, partial aggregation,
  * no cartesian products), not timings — the properties that decide
  * whether an operator survives a 100x scale-up.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val docs = (1 to 200)
    .map(i => (i.toLong, s"tok${i % 7} tok${i % 11} tok${i % 13} tok${i % 3}"))
    .toDF("doc_id", "text")

  private val embs = (1 to 100)
    .map(i => (i.toLong, Array.tabulate(8)(d => (i * 31 + d * 7) % 17 - 8f)))
    .toDF("vec_id", "embedding")

  test("q_range_join_auto / q_interval_join_auto gated plans are the " +
    "binned rewrite: Generate + equi-join present, no nested loop") {
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("q_range_join_auto", "q_interval_join_auto",
        "q_range_join_outer", "q_range_join_anti")) {
      val p = plan(graft.queries.ExtensionQueries.queries(q)(spark, d))
      assert(p.contains("Generate"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("round-9 per-key operators never collapse to a single " +
    "partition: pareto / cdc_chunks / ewma / cusum / acf plans carry " +
    "no SinglePartition exchange (all windows and folds are " +
    "key-partitioned)") {
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("q_pareto", "q_cdc_chunks", "q_ewma", "q_cusum", "q_acf")) {
      // drop the final presentation orderBy the driver gate needs —
      // a global sort is legitimately single-ranged; the AUDIT is
      // about the computation underneath
      val df = graft.queries.ExtensionQueries.queries(q)(spark, d)
      val p = plan(df)
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_sprt batch replay carries no per-type total sort of raw " +
    "events: the plan rides the KeyedPrefix two-pass RDD (ExistingRDD " +
    "leaf), with no Window operator anywhere") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_sprt")(spark, d))
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q_drawdown (the running-max KeyedPrefix consumer) holds the " +
    "same discipline: no Window operator, ExistingRDD leaf") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_drawdown")(spark, d))
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q_quantile_norm ranks within source through KeyedPrefix, not a " +
    "per-source window sort: no Window operator, ExistingRDD leaf") {
    val d = "/root/testdata/sf0.001"
    val p = plan(
      graft.queries.ExtensionQueries.queries("q_quantile_norm")(spark, d))
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q_mean_excess finds the exact p95 order statistic through " +
    "KeyedPrefix, not a per-type window sort: no Window operator, " +
    "ExistingRDD leaf") {
    val d = "/root/testdata/sf0.001"
    val p = plan(
      graft.queries.ExtensionQueries.queries("q_mean_excess")(spark, d))
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q_kruskal ranks distinct values through KeyedPrefix (single " +
    "logical key spread by the range sort): no Window operator, " +
    "ExistingRDD leaf") {
    val d = "/root/testdata/sf0.001"
    val p = plan(
      graft.queries.ExtensionQueries.queries("q_kruskal")(spark, d))
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("q_ks rides KeyedPrefix for the per-arm CDF counts: no Window " +
    "operator, ExistingRDD leaf") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_ks")(spark, d))
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("rank-filter top-k (q_window_top_events) plans through " +
    "WindowGroupLimit — Spark's per-key partial top-k pushdown fires, " +
    "so the window never buffers a key's full row set") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.AnalyticsQueries.queries(
      "q_window_top_events")(spark, d))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_asof_native gated plan runs through AsofJoinExec with no " +
    "Window and no Union") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.AnalyticsQueries.queries("q_asof_native")(spark, d))
    assert(p.contains("AsofJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Union"), p)
  }

  test("exact dedup aggregates with map-side partials (two-phase " +
    "HashAggregate around one Exchange)") {
    val p = plan(Dedup.exact(docs))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("embedding near-dup candidate generation is an equi-join on " +
    "(table, bucket) — no cartesian product anywhere in the plan") {
    val p = plan(Dedup.embeddingNearDup(embs, 0.5, planes = 4, tables = 2, dim = 8))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ngramJaccard small-vocab path: candidate generation is a " +
    "popcount-bucketed equi-join over distinct masks — no nested-loop " +
    "or cartesian join at ANY corpus size (the quadratic all-doc-pairs " +
    "BNL variant must stay gone)") {
    val p = plan(Dedup.ngramJaccard(docs, 0.8))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the doc-level frames come off one materialized scan
    assert(p.contains("ExistingRDD"), p)
  }

  test("weightedTopK is TakeOrdered, never a global sort: priorities " +
    "compute in the scan projection and top-k merges per-partition " +
    "heaps") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "w")
    val p = plan(Sampling.weightedTopK(df, "id", col("w"), k = 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p) // no shuffle at all pre-limit
  }

  test("Bpe.encode is a pure projection: the frozen merge table rides " +
    "the plan, zero Exchanges, zero joins") {
    val p = plan(graft.ops.Bpe.encode(docs, Seq(("t", "o"), ("to", "k"))))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("rebuildDecision joins list-sized frames only: single-row " +
    "totals ride broadcast crosses and nothing is a cartesian product " +
    "(the full-outer health x loads join is list-sized by construction)") {
    val idx = (1 to 90).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "list")
    val loads = Seq(("k0", 5L)).toDF("list_key", "n_probes")
    val p = plan(Profile.rebuildDecision(Profile.indexHealth(idx, "list"), loads))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Broadcast"), p) // the single-row totals
  }

  test("capPerStratum broadcasts the per-stratum counts, never " +
    "shuffling the data side") {
    val df = (1 to 500).map(i => (i.toLong, s"k${i % 5}")).toDF("id", "k")
    val p = plan(Sampling.capPerStratum(df, "k", "id", 50))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("contamination broadcasts the benchmark n-gram side") {
    val p = plan(TextStats.contamination(docs, docs.limit(5), n = 2, minShared = 1))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("provenance ledger: text never crosses the canonical-id " +
    "shuffle (the window reads a hash-and-counts projection), and " +
    "there is no cartesian or nested-loop stage") {
    val df = graft.queries.ExtensionQueries.provenanceLedger(docs)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the window's input exchange carries (doc_id, flags, counts, h) —
    // never the text column itself: at 100 TB the shuffle payload is
    // tens of bytes/row, not the corpus
    val winExchanges = p.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning(h#"))
    assert(winExchanges.nonEmpty, p)
    assert(!p.contains("text#") ||
      !winExchanges.exists(_.contains("text#")),
      s"text column must be pruned before the canonical shuffle:\n$p")
  }

  test("embedContamination broadcasts the constant-sized benchmark " +
    "side; the only exchange is the flagged-row argmax on vec_id " +
    "(corpus scan is shuffle-free)") {
    val p = plan(Similarity.embedContamination(
      embs.filter(col("vec_id") % 100 =!= 0),
      embs.filter(col("vec_id") % 100 === 0), thresholdQ = 3000L, dim = 8))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("vec_id")),
      s"unexpected exchanges $exchanges\n$p")
  }

  test("brute-force ANN broadcasts the query side; the corpus side " +
    "has no Exchange (corpus never shuffles)") {
    val q = embs.filter(col("vec_id") % 50 === 0)
    val p = plan(Similarity.bruteForceTopK(q, embs, k = 3, dim = 8))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the only Exchange allowed is the window's partitioning of the
    // (already-reduced) scored candidates by query_id
    val exchanges = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("query_id")), s"unexpected exchanges $exchanges\n$p")
  }

  test("persist-family serve plans: ArtifactStore-loaded centroids/" +
    "assignment keep the trained-IVF shape (broadcast + equi-join on " +
    "centroid_id, no cartesian), a loaded band index keeps the banded " +
    "equi-join — persistence must not cost the plan its scale shape") {
    import graft.ops.ArtifactStore
    val dir = tmpDir("plan-persist")
    val km = Map("k" -> "4")
    val cent = Similarity.kmeansExact(embs, k = 4, iters = 1, dim = 8)
    ArtifactStore.save(cent, dir, "cent", km, "fp1")
    ArtifactStore.save(
      Similarity.assignToCentroids(embs, dim = 8,
        centroids = Some(cent.select(col("centroid_id"), col("centv")))),
      dir, "assign", km, "fp1")
    val lc = ArtifactStore.load(spark, dir, "cent", km, "fp1")
    val la = ArtifactStore.load(spark, dir, "assign", km, "fp1")
    val served = plan(Similarity.ivfTopK(
      embs.filter(col("vec_id") % 50 === 0), embs, k = 3, dim = 8,
      centroids = Some(lc.select(col("centroid_id"), col("centv"))),
      corpusAssigned = Some(la)))
    assert(!served.contains("CartesianProduct"), served)
    assert(served.contains("BroadcastHashJoin") ||
      served.contains("BroadcastNestedLoopJoin"), served)
    // the posting-list probe stays an equi-join keyed by centroid_id:
    // the loaded assignment exchanges on centroid_id only (query_id is
    // the window's partitioning of already-reduced candidates)
    val exchanges = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(served).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("centroid_id", "query_id")),
      s"unexpected exchanges $exchanges\n$served")

    val mh = Map("numHashes" -> "4", "bands" -> "2")
    ArtifactStore.save(
      Dedup.minhashBandsWithKeys(docs, numHashes = 4, bands = 2),
      dir, "bands", mh, "fp1")
    val lb = ArtifactStore.load(spark, dir, "bands", mh, "fp1")
    val banded = plan(Dedup.minhashLsh(docs, numHashes = 4, bands = 2,
      bandIndex = Some(lb)))
    assert(!banded.contains("CartesianProduct"), banded)
    // candidate generation joins band rows on the band key, never
    // all-pairs: a SortMergeJoin/ShuffledHashJoin keyed by band_key
    // (or a broadcast on this tiny fixture) is the accepted shape
    assert(banded.contains("band_key"), banded)
  }

  test("topNgrams sorts only the aggregated n-gram set (TakeOrdered " +
    "over the aggregate, not a global sort of raw grams)") {
    val p = plan(TextStats.topNgrams(docs, n = 2, k = 10))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("asOfJoin shuffles ONCE on the key: a single hashpartitioning " +
    "Exchange feeding the window, no join operator at all") {
    val l = (1 to 50).map(i => (i.toLong, s"u${i % 5}", i.toLong * 10))
      .toDF("id", "user", "t")
    val r = (1 to 30).map(i => (s"u${i % 5}", i.toLong, i.toLong * 7))
      .toDF("user", "rid", "rt")
    val p = plan(graft.ops.TemporalJoins.asOfJoin(
      l, r, Seq("user"), "t", "rt", Seq("rid"), rightTiebreak = Some("rid")))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("HLL profile (Profile.approx): approx_count_distinct plans " +
    "WITHOUT an Expand — the multi-distinct row-doubling never fires " +
    "on the scale path (exact profiling keeps its per-column union)") {
    val df = (1 to 300).map(i => (i.toLong, s"v${i % 7}", s"w${i % 11}"))
      .toDF("id", "a", "b")
    val p = plan(Profile.approx(df, Seq("id", "a", "b")))
    assert(!p.contains("Expand"), p)
    // map-side partial sketches merge across ONE exchange (the HLL
    // buffer aggregates sort-based, so pin partials, not the operator)
    assert(p.contains("partial_approx_count_distinct"), p)
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("tfidf and repetitionSignals aggregate with partials and never " +
    "Expand the exploded rows") {
    val p1 = plan(TextStats.tfidfTopTerms(docs, k = 3))
    assert(!p1.contains("Expand"), p1)
    val p2 = plan(TextStats.repetitionSignals(docs))
    assert(!p2.contains("Expand"), p2)
    assert("HashAggregate".r.findAllIn(p2).length >= 4, p2) // two cascades
  }

  test("multi-probe LSH expands ONLY the broadcast query side: the " +
    "corpus band index feeds the join without an explode of probes") {
    val q = embs.filter(col("vec_id") % 50 === 0)
    val p = plan(Similarity.lshTopK(q, embs, k = 3, planes = 4, tables = 2,
      dim = 8, probeBits = 1))
    assert(!p.contains("CartesianProduct"), p)
    // probe expansion (Generate over the xor'd bucket array) happens on
    // the broadcast-exchange side, never above the corpus scan: every
    // Generate in the plan sits below a BroadcastExchange
    val broadcastIdx = p.indexOf("BroadcastExchange")
    assert(broadcastIdx >= 0, p)
    assert(p.contains("Generate"), p)
  }

  test("Spark's runtime bloom-filter join pruning fires on a selective " +
    "dim join under test-scale thresholds — the engine-native " +
    "semi-join reduction a 100 TB fact scan leans on") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // shuffle join: the bloom reduction exists FOR the non-broadcast case
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val d = "/root/testdata/sf0.001"
      // parquet-backed sides (the rule keys on scan stats); selective
      // dim filter so the bloom is worth building
      val fact = spark.read.parquet(s"$d/lineitem.parquet")
      val dim = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 400000.0)
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("might_contain"),
        s"expected a runtime bloom filter in the optimized plan:\n$p")
      assert(j.count() >= 0L) // the filtered plan still answers
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition (the mitigation SCALING.md " +
    "names for hot band keys), under test-scale thresholds") {
    // one giant key + many small ones; thresholds lowered so the
    // test-scale skew triggers the same OptimizeSkewedJoin rule that
    // fires at production sizes
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = (1 to 4000).map(i =>
          (if (i % 20 == 0) "hot" else s"k$i", i.toLong, "x" * 32))
        .toDF("k", "v", "pad")
      val right = (1 to 4000).map(i =>
          (if (i % 20 == 0) "hot" else s"r$i", i.toLong, "y" * 32))
        .toDF("k", "w", "pad2")
      val joined = left.join(right, "k")
      // collect() drives THIS dataset's queryExecution (write/foreach
      // plan separate executions), so the adaptive plan below is final;
      // output is bounded: only the hot key matches (200 x 200 rows)
      assert(joined.collect().length === 200 * 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(2000))
      assert(plan.contains("skew=true"), plan.take(4000))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("PQ/ADC search: codebooks and distance table broadcast, no " +
    "cartesian product, encoded corpus joins by equi-key only") {
    val q = embs.filter(col("vec_id") % 50 === 0)
    val p = plan(Similarity.pqTopK(q, embs, k = 3, m = 2, dim = 8, codeStride = 7))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("semDedup: the pair join is an equi-join on centroid_id — no " +
    "cartesian or nested-loop join in the returned plan (the broadcast " +
    "centroid assignment ran under the localCheckpoint)") {
    val p = plan(Dedup.semDedup(embs, 0.8, centroidStride = 7, dim = 8))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("centroid_id"), p)
  }

  test("exactAgainst anti-joins skinny hash rows — no text column " +
    "survives below the join") {
    val p = plan(Dedup.exactAgainst(docs, docs))
    assert(p.contains("LeftAnti"), p)
    // the join operates on (doc_id, text_hash)/(text_hash): the plan's
    // join keys mention text_hash, and the base side projects only md5
    assert(p.contains("text_hash"), p)
  }

  test("scrub, languageId, and simhash are pure projections: single " +
    "stage, no Exchange at all") {
    val p1 = plan(docs.select(TextStats.scrub(col("text"))))
    assert(!p1.contains("Exchange"), p1)
    val p2 = plan(TextStats.languageId(docs))
    assert(!p2.contains("Exchange"), p2)
    // previously explode(token x 32 bits) + two hash-aggregates
    val p3 = plan(Dedup.simhash(docs))
    assert(!p3.contains("Exchange") && !p3.contains("Generate"), p3)
  }

  test("qualityClassifier and randomProject are pure projections: the " +
    "model/matrix rides in the plan, no Exchange, no join") {
    val p1 = plan(TextStats.qualityClassifier(docs))
    assert(!p1.contains("Exchange") && !p1.contains("Join"), p1)
    val p2 = plan(Similarity.randomProject(embs, outDim = 4, seed = "rp"))
    assert(!p2.contains("Exchange") && !p2.contains("Join"), p2)
  }

  test("bloomScreen: bloom-negative rows bypass the verify join (a " +
    "NOT _maybe passthrough branch of the union), and the LeftAnti " +
    "verify runs only over the _maybe branch — no cartesian. The " +
    "might_contain evaluation itself sits under the localCheckpoint " +
    "(Scan ExistingRDD), executed once for both branches") {
    val p = plan(Dedup.bloomScreen(docs, docs.limit(50), expectedItems = 100L))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // null-hash rows coalesce to the definite-new branch
    assert(p.contains("NOT coalesce(_maybe"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("Ivm.maintain: the view is probed by a broadcast LEFT SEMI on " +
    "the touched keys — the (100 TB) view side never shuffles for the " +
    "probe; no cartesian product") {
    import graft.core.{CaptureDiff, Ivm}
    val o = (1 to 50).map(i => (i.toLong, (i % 5).toLong, i.toDouble))
      .toDF("id", "grp", "amt")
      .select(col("id"), col("grp"), col("amt").cast("decimal(12,2)").as("amt"))
    val n = o.filter(col("id") % 7 =!= 0)
    val ev = CaptureDiff.classifyWithPreImages(o, n, Seq("id"))
    val view = o.groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum(col("amt")).as("sum_val"))
    val p = plan(Ivm.maintain(view, Ivm.viewDelta(ev, "grp", "amt"), "grp"))
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hammingPairs: candidate generation is an equi-join on " +
    "(band index, band value) — no cartesian product, no broadcast " +
    "nested loop; the popcount verify rides the join projection") {
    val hashes = (1 to 100).map(i => (i.toLong, (i * 2654435761L) >>> 1))
      .toDF("doc_id", "dhash")
    val p = plan(Dedup.hammingPairs(hashes, maxDist = 6))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(p.contains("bit_count"), p)
  }

  test("corpusDiff full-outer join moves only (doc_id, md5) — text " +
    "is projected away below the join") {
    val p = plan(Dedup.corpusDiff(docs, docs))
    assert(p.contains("FullOuter"), p)
    assert(p.contains("h_base") && p.contains("h_cur"), p)
    // the raw text column is consumed by the md5 projections below
    // the join: the join row itself carries only ids and hashes
    val joinLine = p.substring(p.indexOf("FullOuter")).linesIterator.next()
    assert(!joinLine.contains("text#"), p)
  }

  test("duplicateSpans: the duplicated-hash set and the per-doc count " +
    "are hash-aggregates with map-side partials; the dup-set join is " +
    "LeftSemi on the 8-byte hash") {
    val p = plan(TextStats.duplicateSpans(docs, windowLen = 2))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("editDistancePairs: gram-rank dictionary is broadcast, the " +
    "candidate join is an equi-join (position/length filters inside), " +
    "and no cartesian product exists") {
    val longDocs = (1 to 60).map(i =>
      (i.toLong, s"abcdefghijklmnopqrstuvwxyz $i padding string content"))
      .toDF("doc_id", "text")
    val p = plan(Dedup.editDistancePairs(longDocs, maxDist = 2))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // candidate + verify joins are hash equi-joins; the only permitted
    // BNL is the (empty here) short-doc length-window side
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(p).nonEmpty, p)
  }

  test("knnGraph does NOT broadcast the whole-corpus probe side: the " +
    "posting-list join is a shuffle join on centroid_id") {
    val p = plan(Similarity.knnGraph(embs, k = 3, nprobe = 2,
      centroidStride = 37, dim = 8))
    // the probe-vs-lists join must not be a broadcast of the corpus;
    // with broadcastQueries=false both sides exchange on centroid_id
    val afterScore = p.substring(p.indexOf("cos_q"))
    assert(afterScore.contains("SortMergeJoin") ||
      afterScore.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gopherRules is a pure projection: zero Exchanges") {
    val p = plan(TextStats.gopherRules(docs))
    assert(!p.contains("Exchange"), p)
  }

  test("embeddingDrift: pooled aggregations carry map-side partials; " +
    "everything above the (group, dim) join is aggregate-sized") {
    val p = plan(Similarity.embeddingDrift(
      embs.filter(col("vec_id") % 2 === 0),
      embs.filter(col("vec_id") % 2 === 1), col("vec_id") % 5))
    assert(p.contains("FullOuter"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("importanceWeights (DSIR): the B-row log-ratio table broadcasts " +
    "onto the doc-bucket counts — the big side never sort-merge-joins " +
    "— and the (doc, bucket) aggregation carries map-side partials") {
    val p = plan(TextStats.importanceWeights(
      docs, docs.filter(col("doc_id") % 2 === 0)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only nested-loop joins are the broadcast 1-row totals
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("binnedIntervalJoin meets by bin EQUI-join — no cartesian " +
    "product, no nested-loop join at any input size") {
    val l = (1 to 100).map(i => (i.toLong, i.toLong * 10, i.toLong * 10 + 15))
      .toDF("l_id", "l_lo", "l_hi")
    val r = (1 to 100).map(i => (i.toLong, i.toLong * 7, i.toLong * 7 + 9))
      .toDF("r_id", "r_lo", "r_hi")
    val p = plan(graft.ops.Skew.binnedIntervalJoin(
      l, "l_lo", "l_hi", r, "r_lo", "r_hi", 64L))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cmsHeavyHitters probes a BROADCAST sketch and ranks via " +
    "TakeOrdered — no window operator, no sort-merge join") {
    val p = plan(graft.ops.Sketch.cmsHeavyHitters(docs, 4, 64, 10))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("interleaveBySource: the rank window PARTITIONS by source (the " +
    "only SinglePartition exchange is the 1-row source-count agg, " +
    "never a window input)") {
    val df = docs.withColumn("source", concat(lit("s"), col("doc_id") % 3))
    val p = plan(graft.ops.Sampling.interleaveBySource(df))
    // every Window operator names `source` in its partition spec
    val windows = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("source"), s"$w\n$p"))
  }

  test("quantileCalibrate: the ordered rank window and the group-count " +
    "window share ONE group-keyed exchange") {
    val df = (1 to 300).map(i => (i.toLong, s"g${i % 4}", (i % 23).toLong))
      .toDF("doc_id", "source", "score_ppm")
    val p = plan(graft.ops.Profile.quantileCalibrate(
      df, "score_ppm", "source", "doc_id"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("triangleCensus: oriented-edge joins are equi-joins — no " +
    "cartesian product (the broadcast 1-row stat assembly is the only " +
    "nested loop)") {
    val edges = (1 to 60).map(i => (i.toLong % 12, (i.toLong * 7) % 12))
      .filter(t => t._1 != t._2).toDF("src", "dst")
    val p = plan(graft.ops.Graph.triangleCensus(edges))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("hllRegisters: the bucket max carries map-side partials (two-" +
    "phase HashAggregate, ONE Exchange) — the shuffle payload is " +
    "registers, never keys") {
    val keys = (1 to 300).map(i => s"k${i % 97}").toDF("k")
    val p = plan(graft.ops.Sketch.hllRegisters(keys, "k", b = 6))
    assert("partial_max".r.findAllIn(p).nonEmpty, p)
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("removeBoilerplateLines: common-set membership is a BROADCAST " +
    "left-semi join; reconstruction joins positions, not lines — no " +
    "cartesian product") {
    val p = plan(TextStats.removeBoilerplateLines(docs))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmvSketch partial-aggregates the bounded BottomK buffer; " +
    "kmvPairOverlap is a BROADCAST triangular join over sketch arrays " +
    "— no shuffle join, no explode") {
    val rows = (1 to 300).map(i => (s"s${i % 5}", s"g$i")).toDF("source", "g")
    val sk = graft.ops.Sketch.kmvSketch(rows, "g", 16, Seq("source"))
    val ps = plan(sk)
    assert("ObjectHashAggregate".r.findAllIn(ps).length >= 2 ||
      "SortAggregate".r.findAllIn(ps).length >= 2, ps) // partial + final
    val po = plan(graft.ops.Sketch.kmvPairOverlap(sk, "source", 16))
    assert(po.contains("BroadcastNestedLoopJoin"), po) // a<b: broadcast BNL
    assert(!po.contains("CartesianProduct"), po)
    assert(!po.contains("Generate"), po) // no explode in the pair math
  }

  test("gapFillDaily: every stage shares ONE hashpartitioning exchange " +
    "on the key — day agg, span agg, grid join, and fill window add no " +
    "second key shuffle shape; no global (empty-key) window") {
    val ev = (1 to 100).map(i =>
      (i.toLong % 9, i.toLong, i.toLong * 86400000000L / 3, i / 10.0))
      .toDF("user_id", "event_id", "tus", "value")
    val p = plan(graft.ops.TemporalJoins.gapFillDaily(
      ev, "user_id", col("tus"), "event_id", "value"))
    // all exchanges hash on the key (or key+day rollups) — none global
    assert(!p.contains("SinglePartition"), p)
    assert(!p.toLowerCase.contains("rangepartitioning"), p)
  }

  test("ingestGate is ONE shuffle-free codegen'd projection — no " +
    "Exchange, no Generate, no join anywhere in the gate") {
    // (a local fixture may constant-fold the whole gate into the scan —
    // the pin is what may NOT appear, not codegen cosmetics)
    val p = plan(graft.ops.TextStats.ingestGate(docs))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
  }

  test("madOutliers: every shuffle hashes on the group key (both median " +
    "windows + final agg), median frames come back as BROADCAST joins, " +
    "nothing global") {
    val ev = (1 to 200).map(i => (s"t${i % 5}", i.toLong, i / 7.0))
      .toDF("etype", "id", "v")
    val p = plan(graft.ops.Profile.madOutliers(ev, "v", "etype", "id"))
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("blockedLinkage joins ONLY on the block key (equi-join, no " +
    "cartesian) and the length prune sits beside the distance filter") {
    val d = (1 to 100).map(i => (i.toLong, s"b${i % 7}", s"name$i"))
      .toDF("id", "blk", "nm")
    val p = plan(graft.ops.Dedup.blockedLinkage(d, "blk", "id", "nm", 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("pqRerankTopK stage 2: candidate frame BROADCASTS against the " +
    "corpus id lookup — the corpus never shuffles for the refine pass") {
    import graft.ops.Similarity
    val p = plan(Similarity.pqRerankTopK(
      embs.filter(col("vec_id") % 10 === 0), embs, k = 3, shortlist = 10,
      m = 2, dim = 8))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmeansExact training: the k x dim centroid side BROADCASTS " +
    "against the corpus (the only join in the loop), and the returned " +
    "frame is a checkpointed leaf — no replay of the training lineage " +
    "at serve time") {
    val cents = Similarity.kmeansExact(embs, k = 3, iters = 1, dim = 8)
    // returned frame: ExistingRDD leaf (localCheckpoint), no joins left
    val served = plan(cents)
    assert(served.contains("ExistingRDD"), served)
    assert(!served.contains("Join"), served)
    // the training loop's assignment plan (re-built here un-checkpointed
    // to inspect it): broadcast the centroids, never a shuffle cross
    val vecs = embs.select(col("vec_id").as("vid"),
      transform(col("embedding"), (x: org.apache.spark.sql.Column) =>
        floor(x.cast("double") * 1000000.0).cast("long")).as("mv"))
    val assignShape = vecs
      .crossJoin(broadcast(cents.select("centroid_id", "centv")))
      .groupBy("vid").agg(count(lit(1)).as("n"))
    val p = plan(assignShape)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("personalizedPageRank result is a checkpointed leaf, and each " +
    "contribution round is hash-partitioned on the node key (no " +
    "SinglePartition exchange, no cartesian)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val out = graft.ops.Graph.personalizedPageRank(edges, nodes,
      Seq(1L).toDF("node"), iterations = 2, scale = 1000000L)
    val p = plan(out)
    assert(p.contains("ExistingRDD"), p)
    // the NEXT round built on the leaf: shuffles hash on src/node only
    val contrib = edges.join(out.withColumnRenamed("node", "src"), Seq("src"))
      .select(col("dst").as("node"), col("pr"))
      .groupBy("node").agg(sum(col("pr")).as("c"))
    val p2 = plan(contrib)
    assert(!p2.contains("SinglePartition"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q_ivf_pruned probes the partitioned on-disk posting lists with " +
    "DYNAMIC PARTITION PRUNING: the store scan's PartitionFilters carry " +
    "a dynamicpruning expression fed by the query-side centroid choice") {
    val p = plan(graft.queries.ExtensionQueries
      .queries("q_ivf_pruned")(spark, "/root/testdata/sf0.001"))
    // the partitioned index scan is pruned by the probe's centroid ids
    // at runtime — Catalyst derives the file-skipping IVF probe from
    // the equi-join on the partition column (nprobe directories read,
    // corpus size irrelevant to probe IO)
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("graft_ivfstore"), p)
  }

  test("ngramClustersPrefix candidate stage: the set-contraction star " +
    "join and the rep prefix join are equi-joins (no nested loop, no " +
    "cartesian) and the positional-PPJoin filter sits INSIDE the " +
    "candidate join condition") {
    val manyTok = (1 to 120)
      .map(i => (i.toLong, (0 to 9).map(j => s"w${(i * 3 + j) % 80}")
        .mkString(" ")))
      .toDF("doc_id", "text")
    val p = plan(Dedup.ngramClustersPrefix(manyTok, 0.8))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_media_route routes through the NATIVE SniffKind expression — " +
    "the kernel stays in the plan as an expression (no Scala-UDF " +
    "fallback), the only exchange is the kind aggregation, and the " +
    "payload column is never joined") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_media_route")(spark, d))
    assert(p.toLowerCase.contains("sniffkind"), p)
    assert(!p.contains("UDF"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_embed_contam: the benchmark side is BROADCAST against a " +
    "shuffle-free corpus scan (constant-size small side), never a " +
    "shuffled or unbroadcast cartesian join") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_embed_contam")(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_retention_age: the age bound rides a broadcast 1-row bounds " +
    "probe over the log scan — no sort-merge join, no cartesian, no " +
    "data-sized shuffle for the filter itself") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.CdcQueries.queries("q_retention_age")(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_infer_batch serves per-partition (ExistingRDD leaf over the " +
    "mapPartitions session) — no exchange but the presentation sort, " +
    "no join, no UDF: the model rides a BROADCAST (the task closure " +
    "carries only the handle), rows never shuffle to reach it") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_infer_batch")(spark, d))
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("UDF"), p)
  }

  test("q_bm25_wand's certified final plan reads the checkpointed " +
    "impact-ordered postings (ExistingRDD leaf) and joins the " +
    "candidate set BROADCAST — no cartesian, no sort-merge join: the " +
    "corpus-sized explode happened once, before the checkpoint") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_bm25_wand")(spark, d))
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_bt_rank's MM iterations join the pair-count frame against " +
    "BROADCAST weights (three unrolled rounds, all broadcast-hash) — " +
    "no sort-merge join, no cartesian: at millions of items the pair " +
    "frame shuffles on its key while weights stay the map-side build") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_bt_rank")(spark, d))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_eval_prf joins its 4-row class/count frames BROADCAST — no " +
    "sort-merge join, no cartesian: the only data-sized work is the " +
    "partial aggregation of the scored memo, which shuffles 4-key " +
    "partials, not rows") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_eval_prf")(spark, d))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_frame_sample explodes frames per-partition (ExistingRDD leaf " +
    "over the synth->decode pass) — no join, no data shuffle but the " +
    "presentation sort: a clip's frames are emitted where its bytes " +
    "live") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_frame_sample")(spark, d))
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q_media_sniff decodes via the per-partition mapPartitions " +
    "contract (ExistingRDD leaf over the checkpointed payload memo) — " +
    "the binary payload column is never shuffled or joined: the only " +
    "exchange is the presentation sort") {
    val d = "/root/testdata/sf0.001"
    val p = plan(graft.queries.ExtensionQueries.queries("q_media_sniff")(spark, d))
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("hashpartitioning"), p)
  }
}
