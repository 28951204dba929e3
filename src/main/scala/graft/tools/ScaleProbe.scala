package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ×N scale probe — turns SCALING.md's 100 TB arguments into measured
  * ratios (round-11 item: "every measured ratio ≤ ~10, or the offender
  * gets a plan fix"). Builds a stressed ×`factor` copy of an sf dir
  * under /tmp, then times the suite's most expensive queries at 1× and
  * at ×N, reporting t(N×)/t(1×) per query as one JSON line.
  *
  * The stressed copy models GROWTH, not duplication: each of the N
  * copies occupies a DISJOINT region of every join/similarity key
  * space, so outputs scale ~linearly the way "more distinct entities
  * over more time" does in production — a naive ×N duplication would
  * instead measure the ×N² blowup of every pair-emitting operator on a
  * corpus that is 87% exact duplicates, which is a data property, not
  * a plan property. Concretely:
  *   - `documents`: ids shift by 1e8 per copy; EVERY token gains a
  *     copy-distinct 8-char suffix — a BIJECTIVE per-copy token
  *     rename, so within-copy token-set relationships (Jaccard,
  *     containment, shingle co-occurrence) are EXACTLY the 1×
  *     corpus's while cross-copy vocabularies are disjoint (zero
  *     cross-copy candidates). The first cut of this transform
  *     suffixed only every 4th POSITION; measured result: within-copy
  *     pairs collapsed 2.97M → 6.5k (two near-dups tokenize the same
  *     word at different positions, so positional tagging breaks
  *     their set equality) and the probe spent 225 s verifying
  *     candidates that all failed — a stress of the verifier, not of
  *     growth. Uniform tagging is the rename that provably preserves
  *     the within-copy structure;
  *   - `embeddings`: ids shift by 100000001 (≡ 1 mod 50, so the
  *     %50-sampled ANN query set stays 1× — a service's query volume
  *     does not grow with its corpus — while the corpus and its
  *     stride-derived centroid set grow ×N);
  *   - `events`: ids shift by 34e6 (multiple of 34 — the %17/%2
  *     interval-join side densities are preserved) and `value` shifts
  *     into disjoint per-copy bands, so interval overlaps stay linear;
  *   - `lineitem`: order keys shift by 1e8 — the synthetic file layout
  *     of the storage audits gains ×N files, which is exactly how a
  *     lake grows.
  *
  * Each dir is timed with FRESH session memos for that dir (FrameMemo
  * keys on the dir), so t(N×) includes the ×N index builds — the
  * honest end-to-end cost. One pass per dir, 1× first (JIT warm-up
  * lands on the small data).
  */
object ScaleProbe {

  /** The suite's most expensive queries (bench_full.json pass-2), plus
    * one dedup end-to-end and one ANN end-to-end (round-11 plan), plus
    * the CDC CORE — capture → sync → retention, the nominal mission —
    * per the round-12 plan ("the mission workload deserves the same
    * evidence the extensions got").
    */
  private val Probes = Seq(
    "q_edit_pairs", "q_encoding_advisor", "q_bloom_skip", "q_minhash_est",
    "q_interval_join", "q_dedup_minhash", "q_dedup_clusters", "q_ann_ivf",
    "q_capture_diff", "q_sync_watermark", "q_retention_wipe",
    "q_provenance",
    // round-13 families: the media lake (container write + real parse,
    // expected ~linear — mapPartitions, no shuffle) and age retention
    // (bounds probe + pruned scan, expected ~flat). q_embed_contam is
    // deliberately NOT probed: the stressed copy grows the BENCHMARK
    // side ×N too (ids %100 land in every copy), measuring an ×N²
    // flop growth no deployment pays — benchmarks are constant-sized.
    "q_media_sniff", "q_retention_age",
    // round-14: the persisted-serve families — the newest scale claims
    // without a measured exponent row. Each run saves into its OWN
    // session-unique temp store and serves back from it, so the probe
    // times the full save→resolve→serve round-trip at both scales.
    "q_trained_persist", "q_minhash_persist",
    // round-14 second wave: the new serving + video families — both
    // pure per-partition projections, expected ~linear in rows
    "q_infer_batch", "q_video_meta",
    // round-15: the REAL PCM frame explosion (mapPartitions flatMap,
    // ~linear in kept frames) and the eval harness (groupBy to a
    // 4-row frame, ~linear scan). q_infer_stream is NOT probed: its
    // builder symlinks the fixture's single documents.parquet FILE
    // into the stream source dir, and the stressed copy is a parquet
    // DIRECTORY — the replay-at-scale story is q_infer_batch's (same
    // batchedServe loop, same per-partition cost)
    "q_frame_sample", "q_eval_prf",
    // round-15 second wave: certified-pruned retrieval. The stressed
    // rename keeps each copy's posting lists exactly 1×-sized while
    // the corpus grows ×N, so the probe separates the linear tf/df
    // build from the (prefix-bounded) scoring loop — the split the
    // pruning exists to create. q_attr_stream is NOT probed: the
    // stressed events copy shifts event_id but SHARES user_id across
    // copies, so a click would join views of every copy (×N² pair
    // fan-in — a fixture property, not a plan property); its at-scale
    // story is the batch q_attribution shape (one shuffle on user_id)
    // plus a state store bounded by the 24 h watermark eviction.
    "q_bm25_wand",
    // round-15 third wave: preference ranking — the stressed events
    // copy grows each user's duel sequence ×N (copy-shared user_id is
    // exactly right here: more comparisons per rater), so the probe
    // times the lag window + pair-count shuffle at honest growth
    // while the item set stays fixed
    "q_bt_rank",
    // label-aggregation EM: two single-pass M-step aggregates over
    // the votes projection + literal-only E-steps — expected ~linear
    // in docs with a small fixed loop cost
    "q_dawid_skene")

  def buildStressed(spark: SparkSession, sfDir: String, outDir: String,
                    factor: Int): Unit = {
    // v2 marker: round 12 added the stressed `orders` table; a dir
    // built by the round-11 probe must rebuild, not silently miss it
    val done = new java.io.File(s"$outDir/_DONE2_x$factor")
    if (done.exists()) return
    val copies = spark.range(factor).toDF("_i")
    def stress(name: String)(f: (DataFrame, Column) => DataFrame): Unit =
      f(spark.read.parquet(s"$sfDir/$name.parquet").crossJoin(copies),
          col("_i"))
        .drop("_i")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    stress("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + i * 100000000L)
        .withColumn("text",
          concat_ws(" ", transform(split(coalesce(col("text"), lit("")), " "),
            t => when(length(t) > 0,
              concat(t, lit("zq"), repeat(i.cast("string"), 6)))
              .otherwise(t))))
    }
    stress("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + i * 100000001L)
    }
    val vspan = spark.read.parquet(s"$sfDir/events.parquet")
      .agg((max(col("value")) - min(col("value")) + 10.0).as("s"))
      .head().getDouble(0)
    stress("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * 34000000L)
        .withColumn("value", col("value") + i.cast("double") * vspan)
    }
    stress("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * 100000000L)
    }
    // orders: the CDC capture fixture derives its snapshot pair and its
    // update/delete sets from modulus filters on o_orderkey (%97, %89,
    // %7 — and the evolve/merge variants use %5/%11/%13/%41/%43), so
    // the per-copy shift is the LCM of all of them: every copy keeps
    // exactly the 1× fixture's I/U/D densities, and the capture output
    // scales linearly the way a lake's churn does.
    stress("orders") { (df, i) =>
      df.withColumn("o_orderkey",
        col("o_orderkey") + i * 76175994895L) // 5·7·11·13·41·43·89·97
    }
    done.createNewFile()
    ()
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale8"
    val factor = if (args.length > 2) args(2).toInt else 8
    val cpus = graft.Harness.cpus
    // SPARK_GRAFT_SHUFFLE overrides the shuffle-partition count — the
    // knob a real cluster sizes with the data (at ×N the per-partition
    // row count grows ×N on a fixed count; sort/spill costs then grow
    // superlinearly — this lets the probe MEASURE that attribution)
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt)
    val spark = graft.Harness.builder(cpus, shuffle).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    buildStressed(spark, sfDir, outDir, factor)
    spark.range(1000).selectExpr("sum(id)").collect()
    val fns = graft.SparkEntry.queries
    // SPARK_GRAFT_PROBES=q_a,q_b probes a subset — the re-measurement
    // aid (a clean-epoch re-probe of one flagged row, or a second
    // decade at ×64 for one family, must not pay the full list)
    val probes = sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Probes)
    // Two passes per (query, dir): pass 1 is COLD (fresh per-dir
    // memos, so index builds are included — the honest end-to-end
    // cost) and pass 2 is WARM (indexes built, the steady-state
    // serving cost). Both are reported; this box hosts other loads
    // and single-shot numbers showed 2-3x run-to-run swings, so the
    // warm pass doubles as the noise floor for the cold one.
    def time(name: String, dir: String): (Double, Double) = {
      def once(): Double = {
        val t0 = System.nanoTime()
        fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (once(), once())
    }
    val t1 = probes.map(n => n -> time(n, sfDir)).toMap
    val tN = probes.map(n => n -> time(n, outDir)).toMap
    val entries = probes.map { n =>
      val (ac, aw) = t1(n)
      val (bc, bw) = tN(n)
      s""""$n":{"t1":${fmt(ac)},"t1_warm":${fmt(aw)},"t$factor":${fmt(bc)},"t${factor}_warm":${fmt(bw)},"ratio":${fmt(bc / ac)},"ratio_warm":${fmt(bw / aw)}}"""
    }
    println(s"""{"metric":"scale_probe","factor":$factor,"sf":"$sfDir","queries":{${entries.mkString(",")}}}""")
    spark.stop()
  }
}
