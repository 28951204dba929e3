package graft.queries

import graft.Tables
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star training-data-pipeline queries (BASELINE.json): dedup
  * (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding-cosine),
  * ANN similarity search, text analysis, multimodal plumbing — each
  * with a DuckDB oracle in portable SQL (md5 + list lambdas).
  *
  * Determinism rules shared by both sides (see the graft.ops package):
  * integer-exact arithmetic wherever possible; dot products fold
  * left-to-right; cosine ranking keys quantized to floor(cos*10000).
  */
object ExtensionQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Pipeline-shared intermediates — the verified near-dup pair list
    * and the connected-components cluster assignment — materialized
    * ONCE per (session, dataset) and reused by every consumer: the
    * materialized-view discipline a production pipeline applies to its
    * dedup graph (computed once; consumed by the pair report, cluster
    * labeling, canonical selection, and the leakage-safe split).
    * Without this, four queries each re-run the candidate join + verify
    * + contraction from the raw corpus. localCheckpoint truncates
    * lineage, so consumers re-read materialized partitions. Keyed by
    * session: a restarted session rebuilds. Past the bound the
    * LEAST-RECENTLY-USED memo is evicted and its cached blocks
    * unpersisted ([[FrameMemo]]) — a long-lived session re-pays only
    * its coldest build, never the whole registry.
    */
  private val shared =
    new FrameMemo[(SparkSession, String, String)](bound = 256)
  private def sharedFrame(s: SparkSession, d: String, key: String)
                         (build: => DataFrame): DataFrame =
    shared((s, d, key))(build)
  /** Test probe: actual shared-frame builds so far (see
    * [[FrameMemo.buildCount]]) — lets a spec assert that consumers of
    * the same index hit ONE materialization, not one each.
    */
  private[graft] def sharedBuildCount: Long = shared.buildCount
  /** Test probe: a shared frame if (and only if) it is already built —
    * lets a spec inspect the layout actually being served.
    */
  private[graft] def sharedPeek(s: SparkSession, d: String,
                                key: String): Option[DataFrame] =
    shared.peek((s, d, key))
  /** Shared ANN index artifacts — the same materialize-once discipline
    * as the dedup graph, because this IS how a deployed ANN service
    * works: the indexer builds posting lists / codebooks / codes once,
    * and every query only reads them. Consumers: q_ann_ivf, q_ann_ivf2
    * (assignment), q_ann_pq (codebooks + codes), q_ann_ivfpq (all
    * three). Strides are the library defaults (37), so every consumer
    * reads the index it would have built inline — results unchanged.
    */
  /** Session-memoized `max(l_orderkey)` — the tiny domain probe the
    * storage-layer audits (bloom-skip, encoding advisor) share to lay
    * rows into synthetic "files". One driver job per session instead
    * of one per consumer, via the same [[FrameMemo]] as the heavy
    * index artifacts (the memoized frame is one checkpointed row;
    * `head()` on it after the first build reads materialized blocks).
    */
  private def maxOrderKey(s: SparkSession, d: String): Long =
    sharedFrame(s, d, "probe_max_orderkey") {
      Tables.lineitem(s, d).agg(max(col("l_orderkey")).as("max_key"))
    }.head().getLong(0)

  private def ivfAssignment(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "ivf_assign")(Similarity.assignToCentroids(embs(s, d)))
  /** Post-split probe-side centroids, present only after an index
    * refresh ([[refreshIvfServing]]) has installed them. None before
    * any refresh — consumers then quantize with the stride rule the
    * assignment was built with (bit-identical to the pre-refresh
    * serving path, which is why the oracle gate never sees this memo).
    */
  private def ivfCentroidsOpt(s: SparkSession, d: String): Option[DataFrame] =
    shared.peek((s, d, "ivf_cent"))

  /** TRAINED coarse quantizer + its posting-list assignment — the
    * [[Similarity.kmeansExact]] index artifacts, memoized with the
    * same build-once discipline as the stride index: q_kmeans gates
    * the centroid table element by element, q_ivf_trained serves from
    * it, q_trained_recall reads both indexes against the shared ground
    * truth. k = 16 ≈ the sf0.01 stride-37 list count, so the verify-
    * gate comparison holds probe cost (~N/k scanned vectors) fixed
    * while swapping quantizer quality — the honest trained-vs-stride
    * frame.
    */
  private def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "kmeans_cent")(
      Similarity.kmeansExact(embs(s, d), k = 16, iters = 2))
  private def kmeansAssignment(s: SparkSession, d: String): DataFrame = {
    val cents = kmeansCentroids(s, d) // resolve first (memo LRU order)
    sharedFrame(s, d, "kmeans_assign")(
      Similarity.assignToCentroids(embs(s, d),
        centroids = Some(cents.select(col("centroid_id"), col("centv")))))
  }

  /** Brute-force top-5 ground truth over the %50 query sample — ONE
    * exact pass that every recall consumer (q_ann_recall, the
    * q_recall_curve/advisor sweep, q_trained_recall) reads, instead of
    * one brute-force corpus scan each.
    */
  private def annTruth(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "ann_truth") {
      val e = embs(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5)
        .select(col("query_id"), col("neighbor_id"))
    }

  /** The swap-in, wired into the serving path: replace the SHARED
    * posting-list index (`ivf_assign`) with the post-split assignment
    * and install the matching post-split centroid table (`ivf_cent`),
    * so every q_ann_ivf* / knn-graph consumer reads the NEW layout on
    * its next run — the step an ANN service performs when it promotes
    * a [[Similarity.splitHotLists]] re-train. `splits` is that
    * re-train's output; the caller (index owner) decides WHEN.
    */
  private[graft] def refreshIvfServing(s: SparkSession, d: String,
                                       splits: DataFrame): Unit = {
    val assign = ivfAssignment(s, d)
    // localCheckpoint'd inputs: the new frames must not hold lineage
    // into the OLD memo's blocks (replace unpersists them)
    val newAssign = Similarity
      .applyListSplits(assign, splits, keepVectors = true)
      .select(col("vec_id"), col("list_key").as("centroid_id"),
        col("cv"), col("cn"))
      .localCheckpoint()
    val newCent = Similarity.postSplitCentroids(embs(s, d), splits)
      .localCheckpoint()
    shared.replace((s, d, "ivf_cent"))(newCent)
    shared.replace((s, d, "ivf_assign"))(newAssign)
    // derived artifacts of the old index must not outlive it
    shared.remove((s, d, "knn_edges"))
  }

  /** Undo [[refreshIvfServing]] for a (session, dataset): rebuild the
    * base assignment and drop the post-split centroids — spec hygiene,
    * so a lifecycle test leaves the shared serving state as it found
    * it for every later consumer of the same session.
    */
  private[graft] def resetIvfServing(s: SparkSession, d: String): Unit = {
    shared.remove((s, d, "ivf_cent"))
    shared.remove((s, d, "knn_edges"))
    shared.replace((s, d, "ivf_assign"))(
      Similarity.assignToCentroids(embs(s, d)))
  }
  /** The shared k-NN edge list (k=5, nprobe=2 over the shared IVF
    * index) — built ONCE per (session, dataset) and read by every
    * graph consumer (q_knn_graph, q_pagerank, q_communities,
    * q_hubness, and the dense side of q_hybrid_rrf): the materialized
    * graph a production pipeline maintains next to its ANN index.
    * Invalidated together with the index on a serving refresh.
    */
  private def knnEdges(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "knn_edges")(
      Similarity.knnGraph(embs(s, d), k = 5, nprobe = 2,
        corpusAssigned = Some(ivfAssignment(s, d)),
        centroids = ivfCentroidsOpt(s, d)))

  private def pqCb(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pq_cb")(Similarity.pqCodebooks(embs(s, d), m = 8, dim = 64))
  private def pqEnc(s: SparkSession, d: String): DataFrame = {
    val cb = pqCb(s, d) // resolve before entering the memo (no recursion)
    sharedFrame(s, d, "pq_enc")(Similarity.pqEncode(embs(s, d), cb, m = 8, dim = 64))
  }

  /** The corpus vocabulary probe backing the small-vocab mask path —
    * memoized like the frames (one bounded collect per dataset).
    */
  private val vocabMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Option[Array[String]]]()
  private def docVocab(s: SparkSession, d: String): Option[Array[String]] =
    vocabMemo.computeIfAbsent((s, d), _ => Dedup.smallVocab(docs(s, d)))

  /** Trained BPE merge list per (session, dataset) — the frozen
    * tokenizer artifact (driver-side, vocab-bounded) every consumer
    * reuses, like the frame memos.
    */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(String, String)]]()
  private def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    bpeMemo.computeIfAbsent((s, d), _ => Bpe.train(docs(s, d), numMerges = 24))

  // ---------------------------------------------------------------------
  // Artifact persistence (graft.ops.ArtifactStore): the session memos
  // above, as a build-once / serve-many index library on disk.
  // ---------------------------------------------------------------------

  /** Memoized corpus fingerprint per (session, dataset, table) — one
    * scan, reused by every save/load validation in the session.
    */
  private val fpMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()
  private def corpusFp(s: SparkSession, d: String, table: String): String =
    fpMemo.computeIfAbsent((s, d, table), _ => table match {
      case "documents" =>
        ArtifactStore.fingerprint(docs(s, d),
          Seq("doc_id", "text", "lang", "source"))
      case "embeddings" =>
        ArtifactStore.fingerprint(embs(s, d), Seq("vec_id", "embedding"))
      case "events" =>
        val ev = Tables.events(s, d)
        ArtifactStore.fingerprint(ev, ev.columns.toSeq)
      case t => throw new IllegalArgumentException(s"no fingerprint for $t")
    })

  /** The PERSISTABLE artifact catalog: every deterministic, index-sized
    * shared memo, with the build params its manifest records and the
    * source table whose fingerprint gates staleness. Excluded on
    * purpose: `grams5` (a pure explode whose parquet form is larger
    * than its 0.2 s rebuild — persisting it is a net loss) and
    * `probe_max_orderkey` (a one-row probe cheaper than validating it).
    * `masks`/`mask_pairs` exist only on small-vocab corpora (the
    * resolver returns None otherwise and save skips them); `ivf_cent`
    * is a post-refresh serving override, not a base artifact.
    *
    * Entries resolve through the SAME accessors the queries use, so a
    * save builds exactly what serving would have built, and a load
    * installs under exactly the keys serving reads.
    */
  private def artifactCatalog(s: SparkSession, d: String)
      : Seq[(String, String, Map[String, String], () => Option[DataFrame])] = {
    def some(f: => DataFrame): () => Option[DataFrame] = () => Some(f)
    val km = Map("k" -> "16", "iters" -> "2", "dim" -> "64")
    val mh = Map("numHashes" -> "16", "bands" -> "2")
    Seq(
      ("kmeans_cent", "embeddings", km, some(kmeansCentroids(s, d))),
      ("kmeans_assign", "embeddings", km, some(kmeansAssignment(s, d))),
      ("kmeans_elbow", "embeddings", Map("ks" -> "4,8,16", "iters" -> "2"),
        some(kmeansElbowFrame(s, d))),
      ("ivf_assign", "embeddings", Map("stride" -> "37", "dim" -> "64"),
        some(ivfAssignment(s, d))),
      ("ann_truth", "embeddings", Map("k" -> "5", "sample" -> "50"),
        some(annTruth(s, d))),
      ("knn_edges", "embeddings", Map("k" -> "5", "nprobe" -> "2"),
        some(knnEdges(s, d))),
      ("pq_cb", "embeddings", Map("m" -> "8", "dim" -> "64"), some(pqCb(s, d))),
      ("pq_enc", "embeddings", Map("m" -> "8", "dim" -> "64"), some(pqEnc(s, d))),
      ("gram_emb", "embeddings", Map("dim" -> "64"), some(gramFrame(s, d))),
      ("recall_curve", "embeddings", Map("arms" -> "1,2,4", "k" -> "5"),
        some(sharedRecallCurve(s, d))),
      ("trained_curve", "embeddings", Map("arms" -> "1,2,4", "k" -> "5"),
        some(sharedTrainedCurve(s, d))),
      ("mh_sigs", "documents", Map("numHashes" -> "16"), some(mhSigs(s, d))),
      ("mh_bands", "documents", mh, some(mhBands(s, d))),
      ("mh_pairs", "documents", mh, some(mhPairs(s, d))),
      ("mh_clusters", "documents", mh, some(mhClusters(s, d))),
      ("masks", "documents", Map("vocab" -> "auto"),
        () => docVocab(s, d).map(v => maskFrame(s, d, v))),
      ("mask_pairs", "documents", Map("t" -> "0.8"),
        () => docVocab(s, d).map(v => maskPairs(s, d, v))),
      ("pairs", "documents", Map("t" -> "0.8"), some(jaccardPairs(s, d))),
      ("clusters", "documents", Map("t" -> "0.8"), some(docClusters(s, d))),
      ("lm_scores", "documents", Map("split" -> "even/odd"),
        some(lmScores(s, d))),
      ("dsir_w", "documents", Map("target" -> "lang=en"),
        some(dsirWeights(s, d))),
      ("prov_ledger", "documents", Map("rules" -> "v1"),
        some(provLedgerFrame(s, d))),
      // the mixed media lake: written once per corpus like a real lake;
      // a warm loader serves both sniff queries without re-encoding a
      // single container
      ("media_payloads", "documents", Map("sel" -> "doc_id%3"),
        some(mediaPayloads(s, d))),
      // the served predictions: a real pipeline scores a corpus
      // version ONCE and every downstream pass (routing, filtering,
      // evaluation) reads the scored table — same lake discipline
      ("infer_scored", "documents", Map("dim" -> "64", "classes" -> "4"),
        some(inferScored(s, d))),
      ("acf_grid", "events", Map("lags" -> "1-7"), some(acfFrame(s, d))))
  }
  private val bpeParams = Map("numMerges" -> "24")

  /** Session-unique on-disk store dirs for the persistence round-trip
    * queries (q_ivf_pruned / q_trained_persist): the index writes ONCE
    * per (session, dataset) and every later invocation serves from the
    * existing layout — the measured quantity is the probe, and
    * concurrent JVMs can never overwrite each other's store.
    */
  private val ivfStoreMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private val persistStoreMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private val mhStoreMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private val provStoreMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Number of artifacts [[saveArtifacts]] writes for this corpus —
    * the full catalog plus the BPE merge table, minus the two
    * small-vocab-only entries when the corpus exceeds the mask path's
    * vocabulary bound. The completeness yardstick a warm loader
    * compares against: a PARTIAL library (torn mid-save) must read as
    * incomplete, not as warm.
    */
  private[graft] def expectedArtifactCount(s: SparkSession, d: String): Int =
    artifactCatalog(s, d).size -
      (if (docVocab(s, d).isEmpty) 2 else 0) + 1

  /** Build (if not yet built) and persist every catalog artifact plus
    * the BPE merge table under `dir` — the corpus-version index-build
    * job a deployment runs once. Returns the number saved.
    */
  private[graft] def saveArtifacts(s: SparkSession, d: String,
                                   dir: String): Int = {
    import s.implicits._
    var n = 0
    artifactCatalog(s, d).foreach { case (key, src, params, resolve) =>
      resolve().foreach { f =>
        ArtifactStore.save(f, dir, key, params, corpusFp(s, d, src)); n += 1
      }
    }
    val merges = bpeMerges(s, d).zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
    ArtifactStore.save(merges, dir, "bpe_merges", bpeParams,
      corpusFp(s, d, "documents"))
    n + 1
  }

  /** Load every artifact present under `dir` into this session's
    * serving memos. Two phases: ALL manifests validate first (any
    * fingerprint/param mismatch throws before anything is installed —
    * never a half-swapped registry), then each frame installs via
    * [[FrameMemo.replace]] (the eager localCheckpoint is a parquet
    * read, not a rebuild). Artifacts absent from `dir` are skipped —
    * they rebuild on demand as usual; only PRESENT-but-stale is an
    * error. Returns the number installed.
    */
  private[graft] def loadArtifacts(s: SparkSession, d: String,
                                   dir: String): Int = {
    val frames = artifactCatalog(s, d).collect {
      case (key, src, params, _) if ArtifactStore.exists(dir, key) =>
        key -> ArtifactStore.load(s, dir, key, params, corpusFp(s, d, src))
    }
    val bpe =
      if (ArtifactStore.exists(dir, "bpe_merges"))
        Some(ArtifactStore.load(s, dir, "bpe_merges", bpeParams,
          corpusFp(s, d, "documents")))
      else None
    frames.foreach { case (key, f) => shared.replace((s, d, key))(f) }
    bpe.foreach { mdf =>
      val seq = mdf.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      bpeMemo.put((s, d), seq)
    }
    frames.size + bpe.size
  }

  /** Pre-builds the session's shared index/lake memos CONCURRENTLY —
    * the cold-run memo-tax killer. Every entry here otherwise builds
    * serially inside the wall-clock of its first consumer query (the
    * per-query MIN the bench reports is pass-2 warm either way, so
    * the build cost is pure serial wall time on the run). None of
    * these builds saturates the 32-core box alone — their stages are
    * small and scheduling-bound — so running `par` at a time overlaps
    * the idle portions. Safe by construction: [[FrameMemo]]'s
    * per-holder build lock means a consumer racing a prewarm simply
    * waits for the one build (never two), shared inner deps (mh_pairs
    * under mh_clusters, masks under clusters) resolve through the
    * same locks, and a failed thunk logs and leaves its memo to build
    * lazily as before. Returns (thunks completed, wall seconds).
    * Ordered most-expensive-first so the pool's tail is short.
    */
  def prewarmSharedFrames(s: SparkSession, d: String,
                          par: Int = 6): (Int, Double) = {
    // par stays 6 (r15 measured): widening to 10 read 13.6 s once and
    // 35.1 s once (thunk contention early in the session is spiky),
    // while 6 read a stable ~13 s twice — no reliable win, one bad
    // tail. Each thunk is itself a parallel Spark job, so the pool is
    // about overlap, not core saturation.
    val thunks: Seq[(String, () => Any)] = Seq(
      "pq_enc"        -> (() => pqEnc(s, d)),
      "kmeans_elbow"  -> (() => kmeansElbowFrame(s, d)),
      "kmeans_assign" -> (() => kmeansAssignment(s, d)),
      "lm_scores"     -> (() => lmScores(s, d)),
      "mh_clusters"   -> (() => mhClusters(s, d)),
      "recall_curve"  -> (() => sharedRecallCurve(s, d)),
      "grams5"        -> (() => grams5(s, d)),
      "clusters"      -> (() => docClusters(s, d)),
      "acf_grid"      -> (() => acfFrame(s, d)),
      "dsir_w"        -> (() => dsirWeights(s, d)),
      "knn_edges"     -> (() => knnEdges(s, d)),
      "trained_curve" -> (() => sharedTrainedCurve(s, d)),
      "pairs"         -> (() => jaccardPairs(s, d)),
      "gram_emb"      -> (() => gramFrame(s, d)),
      "media_payloads" -> (() => mediaPayloads(s, d)),
      "prov_ledger"   -> (() => provLedgerFrame(s, d)),
      "infer_scored"  -> (() => inferScored(s, d)),
      "doc_tf"        -> (() => docTf(s, d)),
      "lex_top5"      -> (() => lexTop5(s, d)),
      "win8"          -> (() => win8(s, d)),
      "winnow34"      -> (() => winnow34(s, d)),
      "packed32"      -> (() => packedSeqs(s, d)),
      // r16: the one memo the ledger still showed building inside a
      // timed window (0.77 s charged to q_source_overlap)
      "src_matrix"    -> (() => srcOverlapMatrix(s, d)),
      "bpe_merges"    -> (() => bpeMerges(s, d)))
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val done = new java.util.concurrent.atomic.AtomicInteger
    try {
      thunks.map { case (label, f) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            FrameMemo.currentConsumer.set(s"(prewarm:$label)")
            try { f(); done.incrementAndGet(); () }
            catch { case scala.util.control.NonFatal(e) =>
              FrameMemo.logger.warn(
                s"prewarm $label failed (will build lazily): " +
                  e.getMessage)
            } finally FrameMemo.currentConsumer.remove()
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    (done.get(), (System.nanoTime() - t0) / 1e9)
  }

  /** Small-vocab dedup-graph intermediates, each memoized at its own
    * granularity: the (doc, mask) frame, the verified DISTINCT-mask
    * pair list (corpus-size-independent), and only then the doc-level
    * expansions — so clustering never touches the expanded doc-pair
    * list. Outer callers resolve inner memos BEFORE entering their own
    * build so the LRU order tracks true access recency.
    */
  private def maskFrame(s: SparkSession, d: String,
                        vocab: Array[String]): DataFrame =
    sharedFrame(s, d, "masks")(Dedup.tokenMasks(docs(s, d), vocab))
  private def maskPairs(s: SparkSession, d: String,
                        vocab: Array[String]): DataFrame = {
    val mk = maskFrame(s, d, vocab)
    sharedFrame(s, d, "mask_pairs")(Dedup.maskJaccardPairs(mk, 0.8))
  }
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    docVocab(s, d) match {
      case Some(v) =>
        val mk = maskFrame(s, d, v)
        val mp = maskPairs(s, d, v)
        sharedFrame(s, d, "pairs")(Dedup.expandMaskPairs(mk, mp))
      case None =>
        // the probe already ran (and memoized None) in docVocab —
        // go straight to the prefix path instead of re-probing through
        // ngramJaccard's own smallVocab call
        sharedFrame(s, d, "pairs")(
          Dedup.ngramJaccardPrefix(docs(s, d), 0.8, "doc_id", "text"))
    }
  private def docClusters(s: SparkSession, d: String): DataFrame =
    docVocab(s, d) match {
      case Some(v) =>
        // components over the distinct-mask graph — the expanded doc
        // pair list (quadratic per clique) never feeds the clustering
        val mk = maskFrame(s, d, v)
        val mp = maskPairs(s, d, v)
        sharedFrame(s, d, "clusters")(Dedup.maskClusters(mk, mp))
      case None =>
        // identical-set contraction instead of the expanded pair list
        // (bit-identical labels, spec-pinned): clustering never pays
        // the per-clique quadratic that q_dedup_ngram's OUTPUT is
        sharedFrame(s, d, "clusters")(
          Dedup.ngramClustersPrefix(docs(s, d), 0.8))
    }

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docs(s, d)).orderBy("text_hash")

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d).orderBy("doc_a", "doc_b")

  /** 16 minhashes in 2 bands of 8: collision probability ~ 1-(1-j^8)^2,
    * a sharp knee near j=0.85 — the high-precision regime a dedup pass
    * wants (wider bands on a highly-self-similar corpus flood the
    * candidate set with sub-threshold pairs).
    */
  /** Shared MinHash index artifacts (16 hashes, 2 bands): the band
    * index and the signature frame, each materialized once and read by
    * q_dedup_minhash AND q_minhash_est — the same deployed-index
    * discipline as the ANN memos.
    */
  private def mhBands(s: SparkSession, d: String): DataFrame = {
    val sigs = mhSigs(s, d) // resolve before entering the memo (LRU order)
    sharedFrame(s, d, "mh_bands")(
      Dedup.minhashBandsWithKeys(docs(s, d), numHashes = 16, bands = 2,
        sigIndex = Some(sigs)))
  }
  private def mhSigs(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "mh_sigs")(
      Dedup.minhashSignatureFrame(docs(s, d), numHashes = 16))
  private def mhPairs(s: SparkSession, d: String): DataFrame = {
    val b = mhBands(s, d)
    sharedFrame(s, d, "mh_pairs")(
      Dedup.minhashLsh(docs(s, d), numHashes = 16, bands = 2,
        bandIndex = Some(b)))
  }

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    mhPairs(s, d).orderBy("doc_a", "doc_b")

  /** Components over the BANDED MinHash pair graph — the at-scale
    * near-dup clustering route (the exact-Jaccard cluster query is
    * output-bound on its verified pair list; the banded index's pair
    * volume is tunable by band geometry, and the ×8 scale probe holds
    * it to single-digit ratios). Reads the SAME shared mh_pairs index
    * as q_dedup_minhash / q_minhash_est; components ride the star
    * contraction. Semantics differ from q_dedup_clusters on purpose:
    * banding is the candidate policy HERE (collision-clustered), the
    * exact verified graph THERE — both first-class, both gated.
    */
  def minhashClustersQ(s: SparkSession, d: String): DataFrame =
    mhClusters(s, d).orderBy("doc_id")

  private def mhClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = mhPairs(s, d) // resolve first (memo LRU order)
    sharedFrame(s, d, "mh_clusters")(
      Dedup.connectedComponents(pairs.select("doc_a", "doc_b"), docs(s, d)))
  }

  /** MinHash near-dup served from the PERSISTED band/signature library
    * — the second index family's round-trip under the DuckDB gate
    * (q_trained_persist covers the trained IVF): the shared band index
    * saves through [[graft.ops.ArtifactStore]] ONCE per session
    * (unique temp dir — same discipline as q_ivf_pruned), loads back
    * through the manifest gate, and the banded LSH candidate join runs
    * against the LOADED index. Same oracle as q_dedup_minhash: the
    * hash gate proves the persisted band index serves bit-identical
    * candidates.
    */
  def dedupMinhashPersist(s: SparkSession, d: String): DataFrame = {
    val mh = Map("numHashes" -> "16", "bands" -> "2")
    val fp = corpusFp(s, d, "documents")
    val dir = mhStoreMemo.computeIfAbsent((s, d), _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_mhstore_").toString
      ArtifactStore.save(mhBands(s, d), p, "mh_bands", mh, fp)
      p
    })
    val bands = ArtifactStore.load(s, dir, "mh_bands", mh, fp)
    Dedup.minhashLsh(docs(s, d), numHashes = 16, bands = 2,
        bandIndex = Some(bands))
      .orderBy("doc_a", "doc_b")
  }

  /** The provenance ledger served from STORAGE through the manifest
    * gate ([[graft.ops.ArtifactStore]]) under q_provenance's own
    * oracle — closing the persistence symmetry: every persisted
    * artifact family (trained index, MinHash bands, partitioned IVF
    * store, and now the ledger) has an oracle-gated round trip, so a
    * silent save/load divergence in ANY of them hash-mismatches a
    * driver gate instead of shipping.
    */
  def provPersistQ(s: SparkSession, d: String): DataFrame = {
    val params = Map("rules" -> "v1")
    val fp = corpusFp(s, d, "documents")
    val dir = provStoreMemo.computeIfAbsent((s, d), _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_provstore_").toString
      ArtifactStore.save(provLedgerFrame(s, d), p, "prov_ledger", params, fp)
      p
    })
    ArtifactStore.load(s, dir, "prov_ledger", params, fp)
      .orderBy("doc_id")
  }

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(docs(s, d)).orderBy("doc_id")

  /** Directed FULL-containment pairs (t = 1.0): src's token set
    * entirely inside dst — the crispest doc-in-doc detector (quotes,
    * wrappers). Adaptive mask/prefix path, sharing the memoized mask
    * frame. On this tiny-vocab fixture even full containment is
    * common (~22k directed pairs at sf0.01); looser thresholds are
    * near-vacuous here, though real corpora run 0.8-0.9.
    */
  def containmentFull(s: SparkSession, d: String): DataFrame =
    (docVocab(s, d) match {
      case Some(v) => Dedup.maskContainment(maskFrame(s, d, v), 1000000L)
      case None    => // probe already ran in docVocab — skip the re-probe
        Dedup.containmentPrefix(docs(s, d), 1000000L, "doc_id", "text")
    }).orderBy("src", "dst")

  /** Unicode NFC canonicalization audit (native [[graft.functions.NfcNormalize]]
    * kernel; DuckDB `nfc_normalize` is the oracle twin): normalized
    * text plus the already-normalized flag. On this ASCII fixture the
    * op is the identity (flag all true); the composed/decomposed
    * unicode behavior is spec-pinned.
    */
  def nfcNormalizeQ(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        graft.functions.NfcNormalize(col("text")).as("norm_text"),
        (graft.functions.NfcNormalize(col("text")) === col("text"))
          .as("already_nfc"))
      .orderBy("doc_id")

  /** Sketch-only Jaccard estimate over the same band-join candidates
    * as [[dedupMinhash]] — the at-scale scoring path that never
    * re-reads tokens, reading the SAME shared band/signature index.
    */
  def minhashEst(s: SparkSession, d: String): DataFrame =
    Dedup.minhashEstimate(docs(s, d), numHashes = 16, bands = 2,
        sigIndex = Some(mhSigs(s, d)), pairIndex = Some(mhPairs(s, d)))
      .orderBy("doc_a", "doc_b")

  /** Near-dup CLUSTER assignment — the O(n) product of a dedup pass
    * (the pair list is O(c²) per cluster): connected components over
    * the verified 0.8-Jaccard pair graph, every doc labeled with the
    * min reachable doc id.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    docClusters(s, d).orderBy("doc_id")

  /** 4 tables × 12 planes, measured against sf0.1 ground truth (14922
    * true pairs at cos>=0.3 over 2000 clustered vectors): 184k
    * candidates at recall 0.19, vs the r1 single 4-plane table's 156k
    * candidates at recall 0.15 — better recall AND near-equal
    * candidate volume, with geometry that keeps scaling (planes bound
    * bucket population, tables buy recall back).
    */
  def embedNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDup(embs(s, d), threshold = 0.3, planes = 12, tables = 4)
      .orderBy("vec_a", "vec_b")

  /** Incremental ingestion: every 10th vector arrives "new" against a
    * band index of the rest — pairs involving a new vector only, same
    * geometry as q_embed_neardup.
    */
  def embedNearDupIncr(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val fresh = e.filter(col("vec_id") % 10 === 0)
    val indexed = e.filter(col("vec_id") % 10 =!= 0)
    val index = Similarity.lshBands(
      indexed.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")),
      "vec_id", "v", tables = 4, planes = 12, dim = 64)
    Dedup.embeddingNearDupIncremental(fresh, indexed, index,
        threshold = 0.3, planes = 12, tables = 4)
      .orderBy("vec_a", "vec_b")
  }

  /** Embedding-space decontamination screen
    * ([[Similarity.embedContamination]]): the benchmark split is the
    * `vec_id % 100 == 0` convention (the same held-out rule the
    * provenance ledger uses for docs), the threshold 0.30 is this
    * fixture's established near-dup band (q_embed_neardup; the
    * synthetic embeddings top out near cos 0.45 — real corpora run
    * 0.9+). Flags every train vector semantically adjacent to a
    * benchmark item with its best match and match count — the
    * paraphrase-leakage review queue the n-gram contamination audit
    * cannot see.
    */
  def embedContam(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.embedContamination(
        e.filter(col("vec_id") % 100 =!= 0),
        e.filter(col("vec_id") % 100 === 0),
        thresholdQ = 3000L)
      .orderBy("vec_id")
  }

  /** Int8 quantization, flattened to (vec_id, dim_idx, q) rows so the
    * hash gate pins every quantized element exactly.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    // localCheckpoint BEFORE the explode: posexplode's implicit
    // isnotnull/size constraints and the scale filter otherwise push
    // below the projections and re-inline the whole interpreted-HOF
    // quantize chain ~7x per row inside one Filter (measured 7.4 s vs
    // 1.3 s at sf0.1; plan diff in plans/r15). The barrier pins ONE
    // evaluation per vector; the checkpoint is a distributed
    // materialization of the quantized frame (one pass, executor-
    // local), not a driver collect.
    Similarity.quantizeInt8(embs(s, d)).localCheckpoint()
      .select(col("vec_id"), posexplode(col("qvec")).as(Seq("dim_idx", "q")))
      .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"), col("q"))
      .orderBy("vec_id", "dim_idx")

  /** Exact ANN baseline: every 50th vector queries the full corpus. */
  def annTopK(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Banded multi-table LSH ANN: candidates are bucket-mates in any of
    * 4 independent 8-plane tables (same geometry as embedNearDup).
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.lshTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        planes = 8, tables = 4)
      .orderBy("query_id", "rank")
  }

  /** Multi-probe LSH ANN: HALF the tables of q_ann_lsh (2 × 12
    * planes), with each query also probing every 1-bit-flip bucket —
    * recall recovered on the query side instead of by doubling the
    * stored index (Lv et al., VLDB'07).
    */
  def annLshMultiProbe(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.lshTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        planes = 12, tables = 2, probeBits = 1)
      .orderBy("query_id", "rank")
  }

  /** IVF-Flat ANN with nprobe=2: each query searches its TWO nearest
    * posting lists — the standard recall lever of a deployed IVF index
    * (candidate volume doubles, index unchanged).
    */
  def annIvf2(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5, nprobe = 2,
        corpusAssigned = Some(ivfAssignment(s, d)),
        centroids = ivfCentroidsOpt(s, d))
      .orderBy("query_id", "rank")
  }

  /** PQ/ADC ANN: the fourth ANN strategy — corpus stored as 8 codes
    * per vector, queries scored via per-subspace distance-table
    * lookups (asymmetric distance computation).
    */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.pqTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        codebooks = Some(pqCb(s, d)), encoded = Some(pqEnc(s, d)))
      .orderBy("query_id", "rank")
  }

  /** Two-stage PQ serving ([[Similarity.pqRerankTopK]]): ADC
    * shortlist-50 then exact-cosine re-rank to top-5 — the refine
    * stage every deployed PQ index runs, under the hash gate with
    * `adc_rank` alongside to expose exactly which pairs the
    * compression had mis-ordered.
    */
  def annRerank(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.pqRerankTopK(e.filter(col("vec_id") % 50 === 0), e,
        k = 5, shortlist = 50,
        codebooks = Some(pqCb(s, d)), encoded = Some(pqEnc(s, d)))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN (nprobe=2): the production composite — coarse posting
    * lists bound the candidate set, PQ codes score it. The fifth ANN
    * strategy, and the one a 100 TB index actually ships.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.ivfPqTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5, nprobe = 2,
        codebooks = Some(pqCb(s, d)), encoded = Some(pqEnc(s, d)),
        corpusAssigned = Some(ivfAssignment(s, d)),
        centroids = ivfCentroidsOpt(s, d))
      .orderBy("query_id", "rank")
  }

  /** SemDeDup at cos >= 0.9 over the stride-clustered embedding
    * space: survivors keep, duplicates carry their lowest-id witness.
    */
  def semDedup(s: SparkSession, d: String): DataFrame =
    Dedup.semDedup(embs(s, d), threshold = 0.9).orderBy("vec_id")

  /** IVF-Flat ANN: deterministic coarse quantizer (id % 37 centroids),
    * probe-1 search — the third ANN strategy (exact / LSH / IVF).
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        corpusAssigned = Some(ivfAssignment(s, d)),
        centroids = ivfCentroidsOpt(s, d))
      .orderBy("query_id", "rank")
  }

  /** IVF search served from the POSTING-LIST-PARTITIONED on-disk index
    * ([[graft.ops.IndexStore]]): the shared assignment saves
    * Hive-partitioned by centroid_id (one directory per posting list),
    * loads back, and the probe runs against the LOADED layout — the
    * file-skipping serving shape where a probe of nprobe lists reads
    * exactly nprobe directories (PartitionFilters, plan-pinned in
    * SketchGraphSpec) and on-disk search cost stays independent of
    * corpus size. Same DuckDB oracle as q_ann_ivf: the hash gate
    * proves the partitioned round trip bit-exact.
    */
  def annIvfPruned(s: SparkSession, d: String): DataFrame = {
    // session-unique store dir, written ONCE per (session, dataset):
    // pass 2 of a bench measures the PROBE over the existing layout,
    // not a re-write of the index, and two concurrent JVMs on the same
    // dataset can never overwrite each other's store mid-read
    val dir = ivfStoreMemo.computeIfAbsent((s, d), _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivfstore_").toString
      IndexStore.saveIvf(ivfAssignment(s, d), p)
      p
    })
    val loaded = IndexStore.loadIvf(s, dir)
    val e = embs(s, d)
    Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        corpusAssigned = Some(loaded),
        centroids = ivfCentroidsOpt(s, d))
      .orderBy("query_id", "rank")
  }

  /** Compaction PLAN for the posting-list lake layout
    * ([[graft.ops.IndexStore.compactionPlan]]): per posting list, the
    * exact file count the store should hold at 8 rows/file — the
    * maintenance schedule the stream-to-lake append path needs
    * (every micro-batch appends one file per touched list; without
    * OPTIMIZE the probe cost grows with ingest time, not data size).
    * Pure integer arithmetic over the SHARED assignment, so the plan
    * is oracle-checkable without a filesystem; the REWRITE the plan
    * drives is spec-pinned separately (SketchGraphSpec: fragmented
    * lists collapse to exactly the planned file counts, bit-equal
    * data, untouched directories byte-identical).
    */
  def compactionPlanQ(s: SparkSession, d: String): DataFrame =
    IndexStore.compactionPlan(ivfAssignment(s, d), targetRowsPerFile = 8L)
      .orderBy("centroid_id")

  /** The trained centroid table itself, element by element — every
    * (centroid, dimension) micro value plus the membership count of
    * the final Lloyd round, hash-gated against a DuckDB oracle that
    * re-runs the training loop verbatim (exact-integer arithmetic end
    * to end makes the TRAINER itself cross-engine reproducible — see
    * [[Similarity.kmeansExact]]).
    */
  def kmeansQ(s: SparkSession, d: String): DataFrame =
    kmeansCentroids(s, d)
      .select(col("centroid_id"), col("n_members"),
        posexplode(col("cm")).as(Seq("pos", "c_micro")))
      .select(col("centroid_id"), col("pos").cast("long").as("pos"),
        col("c_micro"), col("n_members"))
      .orderBy("centroid_id", "pos")

  /** IVF-Flat over the TRAINED quantizer ([[Similarity.kmeansExact]]
    * k=16 centroids + their posting lists) — the production index
    * shape: centroid count fixed by the operator, NOT growing with
    * the corpus like the stride rule (the ×8 scale probe measured the
    * stride index's assignment cost growing ~quadratically because
    * corpus AND centroid count both scale; a trained k holds the
    * broadcast side constant).
    */
  def annIvfTrained(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        centroids = Some(kmeansCentroids(s, d)
          .select(col("centroid_id"), col("centv"))),
        corpusAssigned = Some(kmeansAssignment(s, d)))
      .orderBy("query_id", "rank")
  }

  /** The trained index's PERSISTENCE round-trip, oracle-gated: save
    * the Lloyd centroids + posting-list assignment through
    * [[graft.ops.ArtifactStore]] (parquet + params/fingerprint
    * manifest), load them back through the manifest gate, and serve
    * `q_ivf_trained`'s exact search FROM THE LOADED FRAMES. Same
    * DuckDB oracle as `q_ivf_trained` — the hash gate therefore proves
    * the round trip bit-exact (parquet preserves longs/doubles/arrays
    * byte-for-byte), which is the property that lets a fresh session
    * serve a saved index without retraining (ArtifactStoreSpec pins
    * the fresh-session form; bench pins the memo_sec drop).
    */
  def trainedPersistQ(s: SparkSession, d: String): DataFrame = {
    val km = Map("k" -> "16", "iters" -> "2", "dim" -> "64")
    val fp = corpusFp(s, d, "embeddings")
    // session-unique dir, save-once (see annIvfPruned): pass 2 serves
    // the already-persisted library; no cross-JVM overwrite races
    val dir = persistStoreMemo.computeIfAbsent((s, d), _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_persist_").toString
      ArtifactStore.save(kmeansCentroids(s, d), p, "kmeans_cent", km, fp)
      ArtifactStore.save(kmeansAssignment(s, d), p, "kmeans_assign", km, fp)
      p
    })
    val cent = ArtifactStore.load(s, dir, "kmeans_cent", km, fp)
    val assign = ArtifactStore.load(s, dir, "kmeans_assign", km, fp)
    val e = embs(s, d)
    Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e, k = 5,
        centroids = Some(cent.select(col("centroid_id"), col("centv"))),
        corpusAssigned = Some(assign))
      .orderBy("query_id", "rank")
  }

  /** The k-chooser elbow curve: quantized-cosine inertia
    * ([[Similarity.kmeansInertia]]) of the exact-Lloyd quantizer at
    * k ∈ {4, 8, 16} — mean distance falls as k grows and the ELBOW
    * (where the marginal drop flattens) is where an operator stops
    * paying for lists. Completes the trained-index decision loop:
    * q_kmeans_elbow picks k, q_trained_recall referees the pick
    * against the stride rule, q_ann_advisor picks nprobe. The k=16
    * arm reads the SAME memoized centroids the serving queries use;
    * the smaller arms train here (one broadcast-cross + hash-agg per
    * round each) and the whole 3-row curve memoizes.
    */
  def kmeansElbowQ(s: SparkSession, d: String): DataFrame =
    kmeansElbowFrame(s, d).orderBy("k")

  private def kmeansElbowFrame(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val c16 = kmeansCentroids(s, d) // resolve first (memo LRU order)
    sharedFrame(s, d, "kmeans_elbow") {
      Seq(4, 8).map { k =>
        Similarity.kmeansInertia(e, Similarity.kmeansExact(e, k = k, iters = 2))
          .select(lit(k.toLong).as("k"), col("n_vectors"), col("mean_dist_e4"))
      }.reduce(_ unionByName _)
        .unionByName(Similarity.kmeansInertia(e, c16)
          .select(lit(16L).as("k"), col("n_vectors"), col("mean_dist_e4")))
    }
  }

  /** Trained-vs-stride index quality at FIXED probe budget (nprobe=1,
    * k=16 ≈ the sf0.01 stride list count): recall@5 of each index
    * against the shared brute-force ground truth — the measurement
    * that justifies paying for Lloyd training at all. One row per
    * variant.
    */
  def trainedRecallQ(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = annTruth(s, d)
    def arm(tag: String, approx: DataFrame): DataFrame =
      exact.join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("_h")),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("_h"), lit(0L))).as("n_hits"))
        .select(lit(tag).as("variant"), col("n_truth"), col("n_hits"),
          expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
    val stride = Similarity.ivfTopK(q, e, k = 5,
      corpusAssigned = Some(ivfAssignment(s, d)),
      centroids = ivfCentroidsOpt(s, d))
    val trained = Similarity.ivfTopK(q, e, k = 5,
      centroids = Some(kmeansCentroids(s, d)
        .select(col("centroid_id"), col("centv"))),
      corpusAssigned = Some(kmeansAssignment(s, d)))
    arm("stride", stride).unionByName(arm("trained", trained))
      .orderBy("variant")
  }

  /** Deterministic stratified downsampling: cap every event_type at
    * ~300 rows via md5-slot inclusion (pure function of event_id — no
    * RNG, so the oracle reproduces the exact sample).
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    Sampling.capPerStratum(
        Tables.events(s, d).select("event_id", "event_type", "value"),
        "event_type", "event_id", cap = 300)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")

  /** Leakage-safe split keyed on user_id: all of a user's events land
    * on the same side of the train/test boundary.
    */
  def splitGroups(s: SparkSession, d: String): DataFrame =
    Sampling.splitByGroup(
        Tables.events(s, d).select("event_id", "user_id"),
        "user_id", testFraction = 0.2)
      .orderBy("event_id")

  /** Corpus bigram stats: top 50 by occurrence count (doc frequency
    * alongside), ties broken on the bigram.
    */
  def ngramStats(s: SparkSession, d: String): DataFrame =
    TextStats.topNgrams(docs(s, d), n = 2, k = 50)

  /** Corpus composition report: document counts, token volume, and
    * mean length per (source, lang) — the mixture dashboard every
    * training-data pipeline keeps in front of it. One scan, map-side
    * partials, tiny shuffle (one row per mixture cell).
    */
  def sourceMix(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextStats.tokens(col("text")))).cast("long").as("n_tokens"),
        avg(col("n_chars")).as("avg_chars"))
      .orderBy("source", "lang")

  /** Corpus drift screen: token-frequency movers between the even- and
    * odd-doc halves of the corpus (stand-ins for two ingestion
    * snapshots).
    */
  def tokenDrift(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    TextStats.tokenDrift(
      all.filter(col("doc_id") % 2 === 0),
      all.filter(col("doc_id") % 2 === 1), k = 50)
  }

  /** BM25 retrieval: top-5 documents for each of the 10 highest-df
    * query terms — keyword search over the corpus (quality-filter
    * tooling and eval-set mining both lean on it).
    */
  /** Shared (doc_id, term, c) term-frequency frame — the corpus-level
    * inverted-index precursor that q_bm25, q_bm25_wand, and q_tfidf
    * each re-exploded from scratch (three identical corpus-sized
    * explode+agg jobs); one materialization, priced once in the memo
    * ledger, three readers.
    */
  private def docTf(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "doc_tf")(
      docs(s, d)
        .select(col("doc_id"),
          explode(TextStats.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c")))

  def bm25(s: SparkSession, d: String): DataFrame =
    TextStats.bm25TopDocs(docs(s, d), nQueryTerms = 10, k = 5,
        sharedTf = Some(docTf(s, d)))
      .orderBy("term", "rank")

  /** Multi-term BM25 top-k via EXACT impact-ordered pruning
    * ([[TextStats.bm25WandTopDocs]] — the threshold-algorithm bound,
    * WAND's ancestor): three 3-term queries dealt from the 9
    * highest-df terms, k=10 each. The oracle fully scores every
    * matching document; the engine reads only certified prefixes of
    * the impact-ordered posting lists — the hash gate proves the
    * pruned plan returns the EXACT brute-force top-k, the same
    * brute-vs-pruned contract the ANN family carries.
    */
  def bm25Wand(s: SparkSession, d: String): DataFrame =
    TextStats.bm25WandTopDocs(docs(s, d), sharedTf = Some(docTf(s, d)))

  /** Shared bigram-LM score frame (train on even docs, score odd docs)
    * — materialized once and read by the score report AND the
    * filter-AUC audit, the dsirWeights memo discipline.
    */
  private def lmScores(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "lm_scores")(
      TextStats.lmScore(
        docs(s, d).filter(col("doc_id") % 2 === 0),
        docs(s, d).filter(col("doc_id") % 2 === 1)))

  /** Bigram-LM scoring: train counts on even docs, score odd docs —
    * the perplexity-proxy quality signal.
    */
  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScores(s, d).orderBy("doc_id")

  /** Discrimination audit of the bigram-LM quality filter
    * ([[Profile.rankAuc]]): ROC-AUC of the scored odd-doc set against
    * the "is English" label — the corpus is English-dominated, so a
    * working perplexity proxy should rank English text above the
    * rest, and THIS number is how much. The audited score is the
    * integer-quantized mean bigram log-prob floor(sum_lpq/n_bigrams)
    * (1e-4 nat resolution — the fixed point [[TextStats.lmScore]]
    * already emits), so bucket ties are genuine score ties and the
    * bucket table is score-resolution-bounded at any corpus size.
    * Sub-2-token docs score nothing and are out of scope by the
    * lmScore contract.
    */
  /** Quality-filter YIELD curve: per candidate perplexity-proxy
    * threshold (the integer mean bigram log-prob the AUC audit already
    * scores on), how many scored docs survive and the exact ppm kept —
    * the calibration table an operator reads BEFORE deploying the
    * filter (q_filter_auc says the score discriminates; this says what
    * each cutoff costs in data). Shares the lm_scores memo; exact
    * integers end to end (floor of one correctly-rounded double
    * division, then integer ppm).
    */
  def filterYieldQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = lmScores(s, d)
      .select(floor(col("sum_lpq").cast("double") / col("n_bigrams"))
        .cast("long").as("score"), col("n_bigrams"))
    val thresholds = Seq(-90000L, -70000L, -50000L, -30000L)
    scored.crossJoin(broadcast(thresholds.toDF("threshold")))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        // token-volume yield: training budgets are set in tokens, not
        // documents, and long docs survive filters differently
        sum(col("n_bigrams")).as("vol_total"),
        sum(when(col("score") >= col("threshold"), col("n_bigrams"))
          .otherwise(0L)).as("vol_kept"))
      .select(col("threshold"), col("n_docs"), col("n_kept"),
        expr("n_kept * 1000000 div n_docs").as("kept_ppm"),
        col("vol_total"), col("vol_kept"),
        expr("vol_kept * 1000000 div vol_total").as("vol_kept_ppm"))
      .orderBy("threshold")
  }

  def filterAucQ(s: SparkSession, d: String): DataFrame =
    Profile.rankAuc(
      lmScores(s, d).join(docs(s, d).select("doc_id", "lang"), Seq("doc_id")),
      floor(col("sum_lpq").cast("double") / col("n_bigrams")),
      col("lang") === "en")

  /** Shared DSIR weight frame (English target): materialized once and
    * read by the weight report AND the resample — the same
    * deployed-index discipline as the MinHash/ANN memos (a pipeline
    * scores the corpus once, then every selection pass reads the
    * scores).
    */
  private def dsirWeights(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "dsir_w")(
      // target ⊆ raw (the English slice of the same corpus), so the
      // single-scan path applies — bit-identical to the two-corpus
      // form, one gram-hash scan instead of two (TextStatsSpec pins
      // the equality)
      TextStats.importanceWeightsWithin(docs(s, d), col("lang") === "en"))

  /** DSIR importance weights over the full corpus, with the English
    * documents as the target distribution — the score a weighted
    * resample consumes to pull a target-shaped subset out of the raw
    * crawl.
    */
  def dsir(s: SparkSession, d: String): DataFrame =
    dsirWeights(s, d).orderBy("doc_id")

  /** Batched model serving under the hash gate
    * ([[graft.ops.Inference.inferBatched]]): hashed bag-of-tokens
    * features through a quantized linear head, served in the
    * GPU-session shape — fixed-size batches packed per partition, ONE
    * forward per batch, row-aligned unpack, final-partial-batch flush,
    * nulls bypassing the session. The model is integer-deterministic
    * (W derived arithmetically from (bucket, class)), so DuckDB
    * replays the exact logits and argmax: a packing, alignment, or
    * flush bug in the serving plumbing changes real outputs and
    * breaks the hash. The spec additionally pins batch-boundary
    * invariance and the forward-call count; swapping a real ONNX/GPU
    * session into [[graft.ops.Inference.forward]] keeps every
    * contract here.
    */
  /** The served corpus both infer queries read — one batched scoring
    * pass per session (the memo discipline of the media lake: a real
    * pipeline scores once and fans out too).
    */
  private def inferScored(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "infer_scored") {
      // the REAL-model deployment shape serves the gate: weights built
      // once on the driver and shipped via broadcast (bit-identical to
      // the arithmetic head by construction — spec-pinned too), so the
      // oracle hash covers the broadcast path end-to-end
      val w = s.sparkContext.broadcast(
        graft.ops.Inference.denseWeights(dim = 64, classes = 4))
      graft.ops.Inference.inferBatchedBroadcast(
          docs(s, d).select(col("doc_id"), col("text")), "text", w)
        .localCheckpoint()
    }

  def inferBatch(s: SparkSession, d: String): DataFrame =
    inferScored(s, d)
      .select("doc_id", "pred_class", "logit_q")
      .orderBy("doc_id")

  /** Routing census over the served predictions — the split a
    * pipeline plans its per-class passes from (how many docs each
    * class routes, their total token volume, the share in ppm): the
    * [[mediaRoute]] of the model-serving tier, and the aggregate
    * cross-check that the batched session's outputs distribute the
    * way the replayed model says they must. Unrouted (null-text) docs
    * surface as a NULL class row — bypasses are visible, not lost.
    */
  def inferRoute(s: SparkSession, d: String): DataFrame = {
    val scored = inferScored(s, d)
    val ntok = size(filter(split(col("text"), " "),
      t => length(t) > lit(0)))
    val total = scored.agg(count(lit(1)).as("__n"))
    scored
      .withColumn("__tok", coalesce(ntok.cast("long"), lit(0L)))
      .groupBy("pred_class")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("total_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("n_docs * 1000000 DIV __n"))
      .select("pred_class", "n_docs", "total_tokens", "share_ppm")
      .orderBy(col("pred_class").asc_nulls_last)
  }

  /** Evaluation harness over the served predictions — the confusion
    * matrix a model-quality gate reads before a serving config ships.
    * Ground truth is the deterministic stand-in label `doc_id % 4`
    * (the fixture has no human labels; the OPERATOR — one groupBy
    * over (truth, prediction) at corpus scale — is the deliverable,
    * and the stand-in keeps the whole harness under the DuckDB hash
    * gate). Universe = scored docs (non-null text); the bypass row
    * count is q_infer_route's job.
    */
  def evalConfusion(s: SparkSession, d: String): DataFrame =
    inferScored(s, d)
      .filter(col("text").isNotNull)
      .select((col("doc_id") % 4).cast("int").as("label"),
        col("pred_class"))
      .groupBy("label", "pred_class")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_class")

  /** Per-class precision / recall / F1 from the same confusion counts,
    * in EXACT integer ppm (truncating `DIV`, so both engines agree bit
    * for bit): `f1 = 2·tp/(n_pred + n_true)` needs no floating point
    * at all. The classes frame is a 4-row literal joined broadcast;
    * a class the model never predicts surfaces with n_pred = 0 and
    * null precision rather than vanishing.
    */
  def evalPrf(s: SparkSession, d: String): DataFrame = {
    val scored = inferScored(s, d).filter(col("text").isNotNull)
      .select((col("doc_id") % 4).cast("int").as("label"),
        col("pred_class"))
    val classes = s.range(4).select(col("id").cast("int").as("cls"))
    val truth = scored.groupBy(col("label").as("cls"))
      .agg(count(lit(1)).as("n_true"))
    val pred = scored.groupBy(col("pred_class").as("cls"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = scored.filter(col("label") === col("pred_class"))
      .groupBy(col("label").as("cls"))
      .agg(count(lit(1)).as("tp"))
    classes
      .join(broadcast(truth), Seq("cls"), "left")
      .join(broadcast(pred), Seq("cls"), "left")
      .join(broadcast(tp), Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_ppm",
        expr("CASE WHEN n_pred = 0 THEN NULL ELSE tp * 1000000 DIV n_pred END"))
      .withColumn("recall_ppm",
        expr("CASE WHEN n_true = 0 THEN NULL ELSE tp * 1000000 DIV n_true END"))
      .withColumn("f1_ppm",
        expr("CASE WHEN n_pred + n_true = 0 THEN NULL " +
          "ELSE 2 * tp * 1000000 DIV (n_pred + n_true) END"))
      .orderBy("cls")
  }

  /** The LIVE serving gate under the hash gate — the first streaming
    * path with its own oracle row: the documents corpus replays
    * through a genuine file micro-batch source (`readStream.parquet`,
    * one file per trigger — no driver-side collect, the replay shape
    * a 100 TB backfill uses), is scored live by
    * [[graft.streaming.InferStreamOps.streamingInferGate]] (the
    * batch server's twin — both delegate to the ONE
    * [[graft.ops.Inference.batchedServe]] loop), and every per-doc
    * audit row lands via `foreachBatch` in a run-local table the
    * query returns. DuckDB recomputes prediction, quantized logit,
    * and the keep-class verdict analytically, so a drift anywhere in
    * the LIVE path — source replay, micro-batch packing, the gate's
    * verdict rule, the foreachBatch landing — breaks the hash, not
    * just a spec's bit-identity claim.
    */
  /** The file source streams a DIRECTORY. A real lake already is one
    * (stream it directly); a single-parquet-FILE fixture is staged as
    * a zero-copy symlink into a temp dir — nothing copies data.
    */
  /** Session for the LIVE streaming replays, cloned with a bounded
    * state-partition count. Stateful micro-batch operators pay a FIXED
    * per-partition-per-batch cost (one state-store open → commit →
    * delta-file write each), so running a replay of a few thousand keys
    * per batch under the session's core-count-sized shuffle partitions
    * (32 here) multiplies pure state-store I/O: the stream-stream join
    * holds FOUR stores per partition (128 commits/batch at 32
    * partitions vs 32 at 8). Guide §2: partition by data volume, not by
    * core count. Parameterised — `spark.graft.stream.statePartitions`
    * conf or SPARK_GRAFT_STREAM_PARTITIONS env — because the right
    * production value tracks per-trigger key volume; the default 8 is
    * sized for these replays (state partitioning never changes emitted
    * rows, only where keys live). Batch-side plans (the landed-table
    * read-back) stay on the caller's session and are untouched.
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val n = s.conf.getOption("spark.graft.stream.statePartitions")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS"))
      .map(_.toInt).getOrElse(8)
    org.apache.spark.sql.GraftSqlShim.cloneWithConf(s,
      "spark.sql.shuffle.partitions" -> n.toString)
  }

  private def stageStreamDir(path: String, tmpPrefix: String,
                             linkName: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) p.toString
    else {
      val t = java.nio.file.Files.createTempDirectory(tmpPrefix)
      java.nio.file.Files.createSymbolicLink(t.resolve(linkName), p)
      t.toString
    }
  }

  /** Last-touch attribution computed by the LIVE stream-stream
    * interval join — the watermarked two-source join under the hash
    * gate (q_infer_stream gates a stateless per-row server; THIS
    * gates Spark's stream-stream state machinery): clicks and views
    * replay through two independent file micro-batch sources, the
    * inner event-time-bounded join (same-user views inside the
    * preceding 24 h, watermark 1 h on both sides — the bound that
    * makes join state finite and evictable) emits every qualifying
    * pair, pairs land via `foreachBatch`, and the last-touch winner
    * per click is picked over the LANDED table. DuckDB recomputes the
    * whole thing analytically — the batch q_attribution oracle
    * verbatim — so a drift anywhere in the live path (replay, state
    * store, join emission, landing) breaks the hash. Inner join on
    * purpose: matched pairs emit eagerly and deterministically,
    * where outer-side nulls would wait on a watermark advance that a
    * finite replay never delivers.
    */
  def attrStream(s: SparkSession, d: String): DataFrame = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_attrstream_").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_attrstream_ck_").toString
    val batch = Tables.events(s, d)
    val srcDir = stageStreamDir(s"$d/events.parquet",
      "graft_attrstream_src_", "events.parquet")
    val ss = streamSession(s)
    // one live source per join side: clicks and views are separate
    // streams (a real pipeline's impression and conversion topics)
    def side(eventType: String, idAs: String, usAs: String,
             tsAs: String, userAs: String): DataFrame = {
      val raw = ss.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val us = AnalyticsQueries.epochUs(raw, "ts")
      raw.filter(col("event_type") === eventType)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          us.as(usAs))
        .withColumn(tsAs, expr(s"timestamp_micros($usAs)"))
        .withWatermark(tsAs, "1 hour")
    }
    val clicks = side("click", "click_id", "click_us", "cts", "user_id")
    val views = side("view", "view_id", "view_us", "vts", "v_user")
    val pairs = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("vts") <= col("cts") &&
        col("cts") <= col("vts") + expr("INTERVAL 24 HOURS"))
      .select("click_id", "user_id", "click_us", "view_id", "view_us")
    val q = pairs.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("click_id")
      .orderBy(col("view_us").desc, col("view_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("click_id"), col("user_id"), col("click_us"),
        col("view_id"), col("view_us"),
        (col("click_us") - col("view_us")).as("gap_us"))
      .orderBy("click_id")
  }

  /** LIVE session-window aggregation — Spark's native
    * `session_window` state machine under the hash gate (the one
    * streaming aggregation shape the oracle rows did not yet cover):
    * the events replay streams through a file micro-batch source,
    * per-user 30-minute-gap sessions build in the streaming state
    * store (merging windows as events arrive), and Update-mode
    * emissions land via `foreachBatch`. DuckDB recomputes gap
    * sessionization analytically (lag → gap-flag → running sum →
    * group), with the SAME boundary rule Spark's window-merge uses
    * (a new session starts when the gap is ≥ 30 min — windows merge
    * only on strict overlap), so the session assignment itself is
    * what the hash checks.
    *
    * Emission contract: session windows only support APPEND mode,
    * which emits a session exactly once — when the watermark passes
    * its end — so a finite replay would leave every tail session
    * stuck in the state store forever. The replay therefore stages
    * two far-future SENTINEL files (user_id −1, +10y/+20y) after the
    * real data: sentinel 1 advances the watermark past every real
    * session, sentinel 2's micro-batch is where the append fires
    * (watermarks advance at batch BOUNDARIES — emission is always
    * one batch behind the data that caused it). The sentinels model
    * exactly what closes sessions in a production stream: later
    * traffic. Sentinel 1's own session is finalized by sentinel 2
    * and filtered by user_id; sentinel 2's never closes and stays
    * in state. Works unchanged for a directory lake (each file
    * symlinked, sessions merge across micro-batches before
    * finalization).
    */
  def sessStream(s: SparkSession, d: String): DataFrame = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_sessstream_").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sessstream_ck_").toString
    val batch = Tables.events(s, d)
    val tsIsLong = batch.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val maxUs = batch.filter(col("ts").isNotNull)
      .select(max(AnalyticsQueries.epochUs(batch, "ts"))).head().getLong(0)
    // stage: symlink the real file(s), then write the two sentinel
    // files with now-mtimes so the file source replays them LAST
    val src = java.nio.file.Files.createTempDirectory("graft_sessstream_src_")
    val evPath = java.nio.file.Paths.get(s"$d/events.parquet")
    val realFiles =
      if (java.nio.file.Files.isDirectory(evPath)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(evPath).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
      } else Seq(evPath)
    realFiles.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.createSymbolicLink(
        src.resolve(f"ev_$i%05d.parquet"), p)
    }
    val tenYearsUs = 315360000000000L
    Seq(1, 2).foreach { i =>
      val sentUs = maxUs + i * tenYearsUs
      val tsCol = if (tsIsLong) lit(sentUs * 1000L).as("ts")
        else expr(s"timestamp_micros(${sentUs}L)").as("ts")
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_sess_sent$i").toString + "/p"
      s.range(1).select(lit(-i.toLong).as("event_id"), tsCol,
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(null).cast("double").as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dest = src.resolve(s"zz_sentinel$i.parquet")
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 1000L))
    }
    val raw = streamSession(s).readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val us = AnalyticsQueries.epochUs(raw, "ts")
    val live = raw.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), us.as("us"))
      .withColumn("ets", expr("timestamp_micros(us)"))
      .withWatermark("ets", "1 hour")
    val sess = live
      .groupBy(col("user_id"), session_window(col("ets"), "30 minutes"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "start_us", "end_us", "n_events")
    val q = sess.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    s.read.parquet(out).filter(col("user_id") >= 0)
      .orderBy("user_id", "start_us")
  }

  def inferStreamQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keepClass = 2
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val out = java.nio.file.Files
      .createTempDirectory("graft_inferstream_").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_inferstream_ck_").toString
    val srcDir = stageStreamDir(s"$d/documents.parquet",
      "graft_inferstream_src_", "documents.parquet")
    val live = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // real micro-batches
      .parquet(srcDir)
      .select(expr("timestamp_micros(doc_id)").as("ts"),
        col("doc_id"), col("text"))
      .as[(java.sql.Timestamp, Long, String)]
    val audited = graft.streaming.InferStreamOps
      .streamingInferGate(live, keepClass = keepClass)
      .toDF()
      .select("doc_id", "pred_class", "logit_q", "pass")
    val q = audited.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    s.read.parquet(out).orderBy("doc_id")
  }

  /** The DSIR paper's actual selection step: Gumbel-top-k resampling
    * over the importance weights — ranking by `logw + Gumbel(0,1)`
    * draws k docs WITHOUT replacement with probability proportional
    * to `exp(logw)` (the Gumbel-max trick), without ever needing the
    * un-loggable weights themselves. The Gumbel noise is a
    * deterministic function of doc_id (md5-derived uniform, the
    * [[graft.ops.Sampling]] convention), and the ranking key
    * quantizes to fixed-point with a doc_id tie-break, so the drawn
    * set is engine-reproducible. TakeOrdered (orderBy+limit) keeps
    * the selection a top-k, not a global sort.
    */
  def dsirSample(s: SparkSession, d: String): DataFrame = {
    val v5 = conv(substring(md5(concat(lit("gum:"),
      col("doc_id").cast("string"))), 1, 5), 16, 10).cast("long")
    val u = (v5 + 1).cast("double") / 1048577.0
    dsirWeights(s, d)
      .withColumn("key_q",
        floor((col("logw") - log(-log(u))) * 10000).cast("long"))
      .orderBy(col("key_q").desc, col("doc_id"))
      .limit(100)
      .select("doc_id", "logw", "key_q")
  }

  /** Gradient-descent TRAINING of the hashed linear probe (English
    * labels) as an oracle-gated query: the all-integer LMS loop
    * ([[TextStats.trainLinearProbe]]) is bit-exact, so DuckDB can
    * replay the full 3-iteration optimization — unrolled CTEs — and
    * hash-match the learned weights themselves, not just a score.
    */
  def trainProbe(s: SparkSession, d: String): DataFrame =
    TextStats.trainLinearProbe(docs(s, d), col("lang") === "en")
      .orderBy("b")

  /** Temperature-based source mixing weights (alpha = 0.5, the
    * multilingual-sampling convention): p_source ∝ n_tokens^0.5 —
    * the knob that keeps a 100 TB web crawl from drowning the small
    * high-quality sources. Two tiny aggregations (one row per source)
    * and a broadcast of the normalizer.
    */
  def mixWeights(s: SparkSession, d: String): DataFrame = {
    val per = docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextStats.tokens(col("text")))).cast("long").as("n_tokens"))
    val z = per.agg(sum(sqrt(col("n_tokens"))).as("z"))
    per.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (sqrt(col("n_tokens")) / col("z")).as("weight"))
      .orderBy("source")
  }

  /** Token-budget mixing PLAN — the actionable successor to
    * [[mixWeights]]: given the temperature target shares and a total
    * token budget, the per-source sampling rate that hits each
    * source's allocation. `rate_ppm` caps at 1e6 (a source cannot
    * yield more tokens than it has); `deficit_tokens` is the capped
    * source's shortfall, which a second re-normalization pass (or an
    * epoch-repeat policy) absorbs. Integer ppm rates make the plan
    * directly consumable by [[graft.ops.Sampling.weightedSample]]-style
    * deterministic gates.
    */
  def mixPlan(s: SparkSession, d: String): DataFrame = {
    val budget = 100000L
    val per = docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextStats.tokens(col("text")))).cast("long").as("n_tokens"))
    val z = per.agg(sum(sqrt(col("n_tokens"))).as("z"))
    per.crossJoin(broadcast(z))
      .withColumn("weight", sqrt(col("n_tokens")) / col("z"))
      .withColumn("target_tokens",
        floor(col("weight") * budget).cast("long"))
      .withColumn("rate_ppm", least(lit(1000000L),
        expr("target_tokens * 1000000 DIV n_tokens")))
      .withColumn("deficit_tokens",
        greatest(lit(0L), col("target_tokens") - col("n_tokens")))
      .select("source", "n_docs", "n_tokens", "weight", "target_tokens",
        "rate_ppm", "deficit_tokens")
      .orderBy("source")
  }

  /** Data-constrained epoch planner — when the token budget exceeds a
    * source's unique supply, the plan REPEATS data, and repeated
    * epochs are worth less than fresh ones (Muennighoff et al.,
    * "Scaling Data-Constrained Language Models", NeurIPS 2023: ~4
    * epochs retain most of their value, then returns decay fast).
    * Per source: the temperature-weighted target draw (same sqrt
    * weighting as `q_mix_plan`), how many full epochs that implies,
    * and the EFFECTIVE token count under a pinned integer decay
    * ladder (epoch i is worth `Ladder(i)` ppm of fresh data, 0 beyond
    * 8) — `efficiency_ppm` is the planner's signal to rebalance the
    * mix toward sources that still have fresh data. The ladder is a
    * workload knob approximating the paper's exponential decay;
    * pinning it as integers keeps the whole table engine-exact.
    *
    * One hash aggregate on source + a broadcast of the one-row
    * normalizer — dimension-bounded output, corpus scanned once.
    */
  def epochPlan(s: SparkSession, d: String): DataFrame = {
    val budget = 300000L
    // cumulative ppm value of the first k epochs, k = 0..8
    val cum = Seq(0L, 1000000L, 1850000L, 2500000L, 2950000L,
      3220000L, 3360000L, 3420000L, 3440000L)
    val nxt = Seq(1000000L, 850000L, 650000L, 450000L, 270000L,
      140000L, 60000L, 20000L, 0L)   // value of epoch k+1
    val per = docs(s, d).groupBy("source")
      .agg(sum(size(TextStats.tokens(col("text")))).cast("long")
        .as("unique_tokens"))
    val z = per.agg(sum(sqrt(col("unique_tokens"))).as("z"))
    per.crossJoin(broadcast(z))
      .withColumn("target_tokens",
        floor(sqrt(col("unique_tokens")) / col("z") * budget).cast("long"))
      // a zero-token source (all-empty docs) has target 0 too, but
      // 0 div 0 is NULL in Spark and an error in DuckDB — the greatest
      // guard makes both engines emit the same all-zero row instead
      .withColumn("full_epochs",
        expr("target_tokens div greatest(unique_tokens, 1)"))
      .withColumn("rem_tokens",
        expr("target_tokens % greatest(unique_tokens, 1)"))
      .withColumn("k", least(col("full_epochs"), lit(8L)).cast("int"))
      .withColumn("effective_tokens", expr(
        s"(unique_tokens * element_at(array(${cum.mkString(",")}), k + 1)" +
          s" + rem_tokens * element_at(array(${nxt.mkString(",")}), k + 1))" +
          " div 1000000"))
      .withColumn("efficiency_ppm",
        expr("effective_tokens * 1000000 div greatest(target_tokens, 1)"))
      .select("source", "unique_tokens", "target_tokens", "full_epochs",
        "effective_tokens", "efficiency_ppm")
      .orderBy("source")
  }

  /** Shuffle-quality (striping) audit over the deterministic shard
    * order — trainers assume the shard stream is well mixed; a poorly
    * shuffled shard feeds same-source runs and the gradient sees
    * correlated batches. Per shard: the ADJACENT-pair same-source
    * rate in the gated `q_shard` order vs the exact expectation under
    * a random permutation (`Σ c_s·(c_s−1) / (n·(n−1))`, adjacency in
    * sampling-without-replacement) — both in exact ppm, so "well
    * shuffled" is a ppm comparison, not a vibe. The md5 shard order
    * IS source-independent, so the two columns agreeing is the
    * audit's pass state.
    *
    * Consecutive pairs come from an EQUI-join on (shard, pos+1) —
    * distributed, no window beyond the one inside the already-gated
    * shard assignment; everything else is shard-keyed aggregation.
    */
  def stripeAudit(s: SparkSession, d: String): DataFrame = {
    // materialize the shard order ONCE: three lineages (pairs left,
    // pairs right, per-source totals) would otherwise re-run the
    // md5-sort window per reference
    val j = Sampling.shardAssign(docs(s, d), "doc_id", numShards = 8)
      .select(col("shard"), col("pos"), col("source"))
      .localCheckpoint()
    val nxt = j.select(col("shard"), (col("pos") - 1).as("pos"),
      col("source").as("next_source"))
    val agg = j.join(nxt, Seq("shard", "pos"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("source") === col("next_source"), 1L).otherwise(0L))
          .as("same_src_pairs"))
    // same_mass ~ Σ c² per shard crosses BIGINT near 3e9 docs/source
    // and its ×1e6 near 3e6 — accumulate and cross-multiply in
    // DECIMAL(38,0) (internal columns only; the emitted ppm stays
    // BIGINT), matching the repo-wide overflow discipline
    val tot = j.groupBy("shard", "source").agg(count(lit(1)).as("c"))
      .groupBy("shard")
      .agg(sum(col("c")).as("n_docs"),
        sum(col("c").cast("decimal(38,0)") * (col("c") - 1)).as("same_mass"))
    tot.join(agg, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_pairs"),
        col("same_src_pairs"),
        expr("CAST(CAST(same_src_pairs AS DECIMAL(38,0)) * 1000000" +
          " div n_pairs AS BIGINT)").as("same_src_ppm"),
        expr("CAST(same_mass * 1000000" +
          " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)")
          .as("expected_ppm"))
      .orderBy("shard")
  }

  /** EWMA ingest-volume control chart ([[graft.ops.Monitor.ewmaDaily]],
    * Roberts 1959) per event type: the milli-exact exponentially
    * weighted baseline over the zero-filled daily grid, each day's
    * deviation judged against the baseline BEFORE that day, ±50%
    * flags. The drift monitor a feed owner actually watches — the
    * spike census (`q_daily_anomaly`) compares against the global
    * mean; this compares against the recent past.
    */
  def ewmaQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.ewmaDaily(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "day")
  }

  /** Holt linear-trend forecast ledger
    * ([[graft.ops.Monitor.holtDaily]]) per event type: exact-milli
    * level + trend and the one-step-ahead forecast — the ramp-aware
    * sibling of the EWMA, judged against seasonal-naive by `q_mase`.
    */
  def holtQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.holtDaily(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "day")
  }

  /** Greedy bandit replay (the follow-the-leader baseline every
    * bandit paper measures against): replay the recorded stream as if
    * each day's traffic had gone to the arm with the better observed
    * hit rate SO FAR (exact cross-multiplied comparison, ties and
    * cold start to arm A), and report the achieved rate against the
    * best-fixed-arm-in-hindsight — the regret. Negative regret is
    * possible (switching can beat any fixed arm when arms drift) and
    * is itself the finding. Day-grid bounded: per-(type, day) arm
    * rollup, prefix windows over the span-bounded grid, one summary
    * agg; DECIMAL(38,0) cross-products.
    */
  def banditQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    banditReplay(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, ga, hit) frame. */
  private[graft] def banditReplay(e: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDay = e.groupBy("event_type", "day")
      .agg(sum(col("ga")).as("da"), sum(col("ga") * col("hit")).as("dha"),
        sum(lit(1L) - col("ga")).as("db"),
        sum((lit(1L) - col("ga")) * col("hit")).as("dhb"))
    val grid = byDay.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(byDay, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("da"), lit(0L)).as("da"),
        coalesce(col("dha"), lit(0L)).as("dha"),
        coalesce(col("db"), lit(0L)).as("db"),
        coalesce(col("dhb"), lit(0L)).as("dhb"))
    val w = W.partitionBy("event_type").orderBy("day")
      .rowsBetween(W.unboundedPreceding, -1)
    val led = grid
      .withColumn("ca", coalesce(sum(col("da")).over(w), lit(0L)))
      .withColumn("cha", coalesce(sum(col("dha")).over(w), lit(0L)))
      .withColumn("cb", coalesce(sum(col("db")).over(w), lit(0L)))
      .withColumn("chb", coalesce(sum(col("dhb")).over(w), lit(0L)))
      .withColumn("chose_a", expr(
        "CAST(cha AS DECIMAL(38,0)) * greatest(cb, 1)" +
          " >= CAST(chb AS DECIMAL(38,0)) * greatest(ca, 1)"))
      .withColumn("reward", when(col("chose_a"), col("dha")).otherwise(col("dhb")))
      .withColumn("pulls", when(col("chose_a"), col("da")).otherwise(col("db")))
    led.groupBy("event_type")
      .agg(count(lit(1)).as("days"),
        sum(when(col("chose_a"), 1L).otherwise(0L)).as("days_on_a"),
        sum(col("reward")).as("reward"), sum(col("pulls")).as("pulls"),
        sum(col("da")).as("ta"), sum(col("dha")).as("tha"),
        sum(col("db")).as("tb"), sum(col("dhb")).as("thb"))
      .withColumn("achieved_ppm",
        expr("reward * 1000000 div greatest(pulls, 1)"))
      .withColumn("best_ppm", expr(
        "greatest(tha * 1000000 div greatest(ta, 1)," +
          " thb * 1000000 div greatest(tb, 1))"))
      .withColumn("regret_ppm", col("best_ppm") - col("achieved_ppm"))
      .select("event_type", "days", "days_on_a", "reward", "pulls",
        "achieved_ppm", "best_ppm", "regret_ppm")
      .orderBy("event_type")
  }

  /** Off-policy evaluation of the greedy day-before-leader policy by
    * inverse propensity scoring (Horvitz–Thompson '52; SNIPS per
    * Swaminathan–Joachims '15): the logged stream assigned arms
    * 50/50, so the counterfactual value of "send each day's traffic
    * to yesterday's leader" is estimable WITHOUT running it —
    * `IPS = Σ hit·1[logged = chosen]/0.5 / N` (the ×2 is the inverse
    * propensity, exact in ppm) and the self-normalized
    * `SNIPS = Σ hit·1[match] / Σ 1[match]` that trades a little bias
    * for much less variance. The evaluation half of the bandit pair:
    * `q_bandit` replays the policy, this prices it against the log.
    * Day-grid prefix windows + one event-level join on (type, day).
    */
  def ipsQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ips(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, ga, hit) frame. */
  private[graft] def ips(e: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDay = e.groupBy("event_type", "day")
      .agg(sum(col("ga")).as("da"), sum(col("ga") * col("hit")).as("dha"),
        sum(lit(1L) - col("ga")).as("db"),
        sum((lit(1L) - col("ga")) * col("hit")).as("dhb"))
    val w = W.partitionBy("event_type").orderBy("day")
      .rowsBetween(W.unboundedPreceding, -1)
    val chosen = byDay
      .withColumn("ca", coalesce(sum(col("da")).over(w), lit(0L)))
      .withColumn("cha", coalesce(sum(col("dha")).over(w), lit(0L)))
      .withColumn("cb", coalesce(sum(col("db")).over(w), lit(0L)))
      .withColumn("chb", coalesce(sum(col("dhb")).over(w), lit(0L)))
      .withColumn("chose_a", expr(
        "CAST(cha AS DECIMAL(38,0)) * greatest(cb, 1)" +
          " >= CAST(chb AS DECIMAL(38,0)) * greatest(ca, 1)"))
      .select("event_type", "day", "chose_a")
    e.join(chosen, Seq("event_type", "day"))
      .withColumn("match",
        when((col("ga") === 1L) === col("chose_a"), 1L).otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("match")).as("matched"),
        sum(col("match") * col("hit")).as("matched_hits"))
      .withColumn("ips_ppm",
        expr("matched_hits * 2000000 div greatest(n, 1)"))
      .withColumn("snips_ppm",
        expr("matched_hits * 1000000 div greatest(matched, 1)"))
      .select("event_type", "n", "matched", "matched_hits",
        "ips_ppm", "snips_ppm")
      .orderBy("event_type")
  }

  /** Covariate balance check (standardized mean difference, reported
    * as SMD² in ppm to stay integer-exact — `|SMD| > 0.1` is the
    * conventional imbalance flag, so the integer verdict is
    * `smd2_ppm > 10000`): did randomization actually balance the
    * pre-treatment covariate across arms? The companion to the SRM
    * gate — SRM catches missing USERS, this catches skewed USERS.
    * Means/variances in exact milli via the usual n-cleared sums;
    * every division a mirrored truncation.
    */
  def balanceQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    balance(ev.select(col("event_type"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, ga, v[milli]) frame. */
  private[graft] def balance(e: DataFrame): DataFrame = {
    e.groupBy("event_type")
      .agg(sum(col("ga")).as("na"),
        sum(col("ga") * col("v")).as("sa"),
        sum(expr("CAST(ga * v AS DECIMAL(38,0)) * v")).as("saa"),
        sum(lit(1L) - col("ga")).as("nb"),
        sum((lit(1L) - col("ga")) * col("v")).as("sb"),
        sum(expr("CAST((1 - ga) * v AS DECIMAL(38,0)) * v")).as("sbb"))
      .withColumn("ma_milli", expr("sa div greatest(na, 1)"))
      .withColumn("mb_milli", expr("sb div greatest(nb, 1)"))
      .withColumn("va", expr(
        "(na * saa - CAST(sa AS DECIMAL(38,0)) * sa)" +
          " div greatest(CAST(na AS DECIMAL(38,0)) * (na - 1), 1)"))
      .withColumn("vb", expr(
        "(nb * sbb - CAST(sb AS DECIMAL(38,0)) * sb)" +
          " div greatest(CAST(nb AS DECIMAL(38,0)) * (nb - 1), 1)"))
      .withColumn("pooled", expr(
        "((na - 1) * va + (nb - 1) * vb) div greatest(na + nb - 2, 1)"))
      .withColumn("smd2_ppm", expr(
        "CAST(CAST(ma_milli - mb_milli AS DECIMAL(38,0))" +
          " * (ma_milli - mb_milli) * 1000000" +
          " div greatest(pooled, 1) AS BIGINT)"))
      .withColumn("balanced", col("smd2_ppm") <= 10000L)
      .select(col("event_type"), col("na"), col("nb"),
        col("ma_milli"), col("mb_milli"), col("smd2_ppm"), col("balanced"))
      .orderBy("event_type")
  }

  /** Two-sided CUSUM change-point chart
    * ([[graft.ops.Monitor.cusumDaily]], Page 1954) per event type:
    * cumulative milli-deviations from the type's own mean with the
    * standard k = target/2 slack and h = 4·target alarms — catches the
    * sustained level SHIFT (a crawl silently halving) that per-day
    * spike flags miss.
    */
  def cusumQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.cusumDaily(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "day")
  }

  /** Max-min fair (water-filling) token-budget allocator — the
    * OTHER answer to "how do I split a token budget across sources"
    * next to the temperature mix (`q_mix_plan`) and the epoch planner
    * (`q_epoch_plan`): give every source an equal share θ except
    * those whose whole supply fits under it (they take everything and
    * the freed budget raises θ for the rest) — the classic
    * progressive-filling allocation (Bertsekas & Gallager, Data
    * Networks §6.5.2). Exact integer closed form over the
    * capacity-ASC-sorted source list: source k is CAPPED iff
    * `c_k · (K−k+1) ≤ B − prefix(k−1)` (capped-ness is monotone in k,
    * so the capped set is a prefix); θ = the remaining budget div the
    * uncapped count, and the integer remainder goes one token each to
    * the first `rem` uncapped sources in sort order — allocations sum
    * to B EXACTLY. Budget = half the corpus supply, so the fixture
    * always exercises both regimes.
    *
    * Everything after the one corpus scan runs on the K-row source
    * frame: windows partition nothing wider than the dimension,
    * one-row totals ride a broadcast cross.
    */
  def waterfillQ(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap"), col("source"))
    val per = docs(s, d).groupBy("source")
      .agg(sum(size(TextStats.tokens(col("text")))).cast("long").as("cap"))
    val tot = per.agg(sum(col("cap")).as("supply"),
      count(lit(1)).as("k_total"))
    // the K-row frame sorts locally; a row_number window over ≤
    // thousands of sources is dimension-bounded by construction
    val ranked = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr("supply div 2"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("cap")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("capped",
        expr("cap * (k_total - k + 1) <= budget - (prefix - cap)"))
    val capStats = ranked.agg(
      coalesce(max(when(col("capped"), col("k"))), lit(0L)).as("kmax"),
      coalesce(max(when(col("capped"), col("prefix"))), lit(0L)).as("filled"))
    ranked.crossJoin(broadcast(capStats))
      .withColumn("uncapped_n", expr("greatest(k_total - kmax, 1)"))
      .withColumn("theta", expr("(budget - filled) div uncapped_n"))
      .withColumn("rem", expr("(budget - filled) % uncapped_n"))
      .withColumn("alloc", expr(
        "CASE WHEN capped THEN cap" +
          " WHEN k - kmax <= rem THEN theta + 1 ELSE theta END"))
      .withColumn("fill_ppm",
        expr("CAST(CAST(alloc AS DECIMAL(38,0)) * 1000000" +
          " div greatest(cap, 1) AS BIGINT)"))
      .select(col("source"), col("cap"), col("budget"), col("capped"),
        col("alloc"), col("fill_ppm"))
      .orderBy("source")
  }

  /** Per-source Pareto frontier of (length cost, lexical diversity) —
    * the skyline operator of data selection: a doc survives iff NO
    * other doc of the same source is at most as long AND at least as
    * diverse with one strict (Börzsönyi et al., ICDE 2001 "The
    * Skyline Operator"). Diversity = type-token ratio in exact milli.
    * The 2-D skyline needs only two windows, both partitioned by
    * source (no global window): `m1` = best diversity among STRICTLY
    * shorter docs (range frame to −1), `m2` = best within the doc's
    * own length class — frontier iff `ttr > m1 AND ttr = m2` (equal
    * (len, ttr) twins don't dominate each other and all survive).
    */
  def paretoQ(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("source"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(TextStats.tokens(col("text")))).cast("long")
          .as("n_distinct"))
      .withColumn("ttr_milli",
        expr("n_distinct * 1000 div greatest(n_tok, 1)"))
    val W = org.apache.spark.sql.expressions.Window
    val w1 = W.partitionBy("source").orderBy(col("n_tok"))
      .rangeBetween(W.unboundedPreceding, -1)
    val w2 = W.partitionBy("source", "n_tok")
    base.withColumn("m1", max(col("ttr_milli")).over(w1))
      .withColumn("m2", max(col("ttr_milli")).over(w2))
      .filter(col("ttr_milli") === col("m2") &&
        (col("m1").isNull || col("ttr_milli") > col("m1")))
      .select("source", "doc_id", "n_tok", "ttr_milli")
      .orderBy("source", "n_tok", "doc_id")
  }

  /** Pre-flight shuffle-skew preview for a join key: rows hashed into
    * 32 engine-neutral buckets (md5, not Spark's Murmur3 — the point
    * is an ENGINE-REPRODUCIBLE census of the key distribution, the
    * same reasoning as the Bloom-skip audit) with exact share ppm and
    * a >2× fair-share hot flag — the report a pipeline runs BEFORE
    * committing to a co-partitioned join layout, deciding between
    * plain hash, salting, or broadcast. One partial-agged aggregate;
    * the total rides a broadcast cross.
    */
  def skewPreviewQ(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val bucket = pmod(
      conv(substring(md5(concat(lit("sk:"), col("o_custkey").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(32L))
    o.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("total"))))
      .withColumn("share_ppm",
        expr("CAST(CAST(n_rows AS DECIMAL(38,0)) * 1000000" +
          " div total AS BIGINT)"))
      .withColumn("hot", expr("n_rows * 32 > total * 2"))
      .select("bucket", "n_rows", "share_ppm", "hot")
      .orderBy("bucket")
  }

  /** Dedup threshold sensitivity sweep over the SHARED pair memo:
    * for each candidate Jaccard threshold tier, surviving pair count
    * and distinct docs involved — the report that says whether
    * tightening 0.80 → 0.90 meaningfully shrinks the duplicate set
    * before anyone re-runs the pipeline. Pure composition over the
    * already-gated pair list (one definition, two gates); tiers ride
    * a broadcast literal.
    */
  def dedupSweepQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pj = jaccardPairs(s, d).select(col("doc_a"), col("doc_b"),
      floor(col("jaccard") * 1000).cast("long").as("j_milli"))
    val tiers = Seq(800L, 850L, 900L, 950L, 1000L).toDF("t_milli")
    // ONE pass over the pair list, not one per tier: a pair survives
    // tier t iff j >= t, and a doc is involved at tier t iff its BEST
    // pair reaches t — so a pair-level score histogram and a per-doc
    // max reduce the 5-way tier join to broadcast joins on two frames
    // that are already tier-countable
    val pairHist = pj.groupBy("j_milli").agg(count(lit(1)).as("c"))
    val docMax = pj
      .select(explode(array(col("doc_a"), col("doc_b"))).as("dd"),
        col("j_milli"))
      .groupBy("dd").agg(max(col("j_milli")).as("j_best"))
    val nPairs = broadcast(tiers)
      .join(pairHist, col("j_milli") >= col("t_milli"), "left")
      .groupBy("t_milli").agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs"))
    val nDocs = broadcast(tiers)
      .join(docMax, col("j_best") >= col("t_milli"), "left")
      .groupBy("t_milli").agg(count(col("dd")).as("n_docs"))
    nPairs.join(nDocs, Seq("t_milli"), "left")
      .na.fill(0L, Seq("n_docs"))
      .orderBy("t_milli")
  }

  /** Prefix-cache batching audit — the serving-side twin of the
    * packing reports: inference engines reuse the KV cache across
    * requests sharing a token PREFIX (vLLM's prefix caching /
    * RadixAttention, Zheng et al. 2023), so a batch scheduler wants
    * to know how much of the corpus re-pays. Docs group by their
    * 8-token prefix; a group of n docs re-computes the shared prefix
    * once instead of n times, saving `(n−1) · min_plen` tokens (the
    * group's SHORTEST member bounds the guaranteed-shared length —
    * a short doc equal to a longer doc's 8-token prefix shares only
    * itself). Per source: docs, total tokens, ≥2-doc prefix groups,
    * saved tokens, and the exact savings ppm — the number that says
    * whether prefix-aware batch ORDERING is worth the sort.
    *
    * One (source, prefix) hash-agg over the corpus scan, then a
    * source-bounded rollup; no joins, no windows.
    */
  private[graft] def prefixBatch(docsDf: DataFrame,
                                 prefixTokens: Int): DataFrame = {
    val t = docsDf.select(col("source"),
        TextStats.tokens(col("text")).as("ts"))
      .select(col("source"), size(col("ts")).cast("long").as("n_tok"),
        concat_ws(" ", slice(col("ts"), 1, prefixTokens)).as("prefix"),
        least(size(col("ts")), lit(prefixTokens)).cast("long").as("plen"))
    val groups = t.groupBy("source", "prefix")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("grp_tokens"),
        min(col("plen")).as("min_plen"))
    groups.groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("grp_tokens")).as("total_tokens"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("shared_groups"),
        sum(when(col("n_docs") >= 2, (col("n_docs") - 1) * col("min_plen"))
          .otherwise(0L)).as("saved_tokens"))
      .withColumn("saving_ppm",
        expr("CAST(CAST(saved_tokens AS DECIMAL(38,0)) * 1000000" +
          " div greatest(total_tokens, 1) AS BIGINT)"))
      .orderBy("source")
  }

  /** Two-token prefixes on the gate fixture (the synthetic corpus has
    * no longer shared openings); real chat/instruct corpora run much
    * longer prefixes — `prefixTokens` is that knob, spec-pinned on a
    * planted long-prefix fixture.
    */
  def prefixBatchQ(s: SparkSession, d: String): DataFrame =
    prefixBatch(docs(s, d), prefixTokens = 2)

  /** Progressive PII census over the scrub chain's OWN order
    * ([[TextStats.ScrubSteps]]): each class counts its matches on the
    * text AFTER the previous classes were redacted — exactly what the
    * scrubber would remove, so a 9-digit run inside an email is an
    * email, not an id (independent per-pattern counts double-book).
    * Per source: docs, per-class match totals, docs left fully clean.
    * Pure projection + one source-keyed aggregate.
    */
  private[graft] def piiCensus(docsDf: DataFrame): DataFrame = {
    val Seq((pEmail, rEmail), (pPhone, rPhone), (pId, _), _) =
      TextStats.ScrubSteps
    val t0 = col("text")
    val nEmail = regexp_count(t0, lit(pEmail))
    val t1 = regexp_replace(t0, pEmail, rEmail)
    val nPhone = regexp_count(t1, lit(pPhone))
    val t2 = regexp_replace(t1, pPhone, rPhone)
    val nId = regexp_count(t2, lit(pId))
    docsDf.select(col("source"),
        nEmail.cast("long").as("e"), nPhone.cast("long").as("p"),
        nId.cast("long").as("i"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("e")).as("n_email"), sum(col("p")).as("n_phone"),
        sum(col("i")).as("n_id"),
        sum(when(col("e") + col("p") + col("i") === 0L, 1L).otherwise(0L))
          .as("docs_clean"))
      .orderBy("source")
  }

  /** All-clean on the synthetic gate fixture (zero counts ARE the
    * audit's pass state, like the NFC identity on ASCII); the planted
    * email/phone/id precedence behavior is spec-pinned.
    */
  def piiCensusQ(s: SparkSession, d: String): DataFrame =
    piiCensus(docs(s, d))

  /** Content-defined chunking dedup-friendliness report
    * ([[TextStats.cdcChunks]], FastCDC shape at token granularity):
    * per source, chunk count, distinct chunk hashes, duplicate-chunk
    * ppm (how much of the corpus is repeated spans a CDC store would
    * dedup away), and exact mean chunk length in milli-tokens —
    * boundaries are a pure function of content, so repeated spans
    * land in identical chunks no matter where they sit in a doc,
    * which fixed-frame chunking (`q_chunks`) structurally cannot do.
    */
  def cdcChunksQ(s: SparkSession, d: String): DataFrame = {
    val ch = TextStats.cdcChunks(docs(s, d), avgLen = 8)
    docs(s, d).select(col("doc_id"), col("source"))
      .join(ch, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("distinct_chunks"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("dup_ppm",
        expr("CAST(CAST(n_chunks - distinct_chunks AS DECIMAL(38,0))" +
          " * 1000000 div n_chunks AS BIGINT)"))
      .withColumn("mean_len_milli", expr("n_tokens * 1000 div n_chunks"))
      .orderBy("source")
  }

  /** Exact-integer two-proportion chi-square (A/B) readout — per
    * event type, the even/odd-user split's engagement rates
    * (`value > 200`) with the pooled two-proportion z² statistic in
    * EXACT milli: `z²·1000 = diff_ppm² · (n_a·n_b div N) · 1000 div
    * (p̂(1e6−p̂))` with p̂ the pooled rate in ppm — every step integer,
    * so both engines land on the same milli value and the
    * significance verdict (`z² > 3.841`, the χ²₍₁₎ 5% critical
    * value) is an exact integer comparison, not a float judgment
    * call. The ppm quantization of the rates IS the statistic's
    * definition here, stated openly — the experiment readout a data
    * platform runs distributed, with the same discipline as every
    * other ppm audit in this file. Magnitudes stay under DECIMAL(38)
    * past N = 1e20.
    */
  private[graft] def chisq(ev: DataFrame): DataFrame = {
    ev.select(col("event_type"),
        when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
        when(col("value") > 200.0, 1L).otherwise(0L).as("hit"))
      .groupBy("event_type")
      .agg(sum(col("ga")).as("n_a"),
        sum(col("ga") * col("hit")).as("hits_a"),
        sum(lit(1L) - col("ga")).as("n_b"),
        sum((lit(1L) - col("ga")) * col("hit")).as("hits_b"))
      .withColumn("pa_ppm",
        expr("hits_a * 1000000 div greatest(n_a, 1)"))
      .withColumn("pb_ppm",
        expr("hits_b * 1000000 div greatest(n_b, 1)"))
      .withColumn("diff_ppm", expr("pa_ppm - pb_ppm"))
      .withColumn("pool_ppm",
        expr("(hits_a + hits_b) * 1000000 div greatest(n_a + n_b, 1)"))
      .withColumn("z2_milli",
        // harmonic term n_a·n_b/(n_a+n_b) fits BIGINT (≤ min arm),
        // but the PRODUCT n_a·n_b wraps past ~3e9 per arm — route it
        // through DECIMAL(38,0) like every other cross-multiplication
        expr("CAST(CAST(diff_ppm AS DECIMAL(38,0)) * diff_ppm" +
          " * (CAST(n_a AS DECIMAL(38,0)) * n_b div greatest(n_a + n_b, 1))" +
          " * 1000" +
          " div greatest(pool_ppm * (1000000 - pool_ppm), 1) AS BIGINT)"))
      .withColumn("significant", col("z2_milli") > 3841L)
      .select("event_type", "n_a", "hits_a", "n_b", "hits_b",
        "pa_ppm", "pb_ppm", "diff_ppm", "z2_milli", "significant")
      .orderBy("event_type")
  }

  /** The gate fixture's even/odd split is a NULL experiment, so the
    * correct readout is all-insignificant (a significant row there
    * would be the bug); the planted-effect significance path is
    * spec-pinned.
    */
  def chisqQ(s: SparkSession, d: String): DataFrame =
    chisq(Tables.events(s, d))

  /** Deterministic-hash bootstrap CI for mean daily volume (Efron
    * 1979, with md5 as the resampling RNG so the replica set is a
    * pure function of the data — reproducible on any engine, the
    * same trick as every sampled audit here): per event type, 32
    * replicas each resample the zero-filled day grid WITH
    * replacement (`draw j of replica b` picks day
    * `md5("bs:type:b:j") mod n_days`), replica means in exact milli,
    * and the 2nd/31st order statistics as the ~90% CI — the error
    * bar a volume dashboard should print next to the point estimate.
    * Work is B × span-days per key (span-bounded, event-volume-
    * independent); the grid reuses [[Monitor.dailyGrid]]'s one
    * exchange.
    */
  def bootstrapQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val W = org.apache.spark.sql.expressions.Window
    val g = Monitor.dailyGrid(ev, "event_type",
        AnalyticsQueries.epochUs(ev, "ts"))
      .withColumn("i", row_number().over(
        W.partitionBy("key").orderBy("day")).cast("long"))
    val nd = g.groupBy("key").agg(max(col("i")).as("nd"))
    val draws = nd
      .select(col("key"), col("nd"),
        explode(sequence(lit(0L), lit(31L))).as("b"))
      .select(col("key"), col("nd"), col("b"),
        explode(expr("sequence(0, nd - 1)")).as("j"))
      .withColumn("pick",
        pmod(conv(substring(md5(concat_ws(":",
          lit("bs"), col("key"), col("b"), col("j"))), 1, 6), 16, 10)
          .cast("long"), col("nd")) + 1L)
    val reps = draws
      .join(g.select(col("key"), col("i").as("pick"), col("n")),
        Seq("key", "pick"))
      .groupBy("key", "b")
      .agg(expr("sum(n) * 1000 div count(1)").as("mean_milli"))
    reps.groupBy("key")
      .agg(sort_array(collect_list(col("mean_milli"))).as("ms"))
      .select(col("key").as("event_type"),
        expr("element_at(ms, 2)").as("ci_lo_milli"),
        expr("element_at(ms, 31)").as("ci_hi_milli"),
        expr("aggregate(ms, 0L, (a, x) -> a + x) div 32")
          .as("boot_mean_milli"))
      .orderBy("event_type")
  }

  /** Exact-integer autocorrelation (ACF) of daily volume at lags 1–7
    * — the quantified version of the weekly-rhythm question
    * `q_seasonality` eyeballs: a human-driven feed shows a lag-7
    * peak, a bot flood is flat. Mean-centering is done WITHOUT
    * rationals by multiplying through by n: with `S = Σx` and each
    * term `(n·x_i − S)`, `acf_milli(k) = 1000·Σ(n·x_i−S)(n·x_{i+k}−S)
    * div Σ(n·x_i−S)²` — exact integers end to end (DECIMAL(38,0)
    * cross-products; magnitudes safe past 10⁹ events/day across
    * decades). Sign-split oracle mirrors the truncating division.
    * Work: the day grid (one exchange) + a lag join per k on the
    * span-bounded day table.
    */
  def acfQ(s: SparkSession, d: String): DataFrame =
    acfFrame(s, d).select("event_type", "lag_k", "acf_milli")
      .orderBy("event_type", "lag_k")

  /** The ACF grid with the day count carried alongside — shared by
    * `q_acf` (which drops `nd` for its gated shape) and the
    * Ljung–Box portmanteau built on top of it; materialized once per
    * (session, dataset) through [[FrameMemo]] so the two consumers
    * pay one build (the mh_pairs/lm_scores discipline — the lag
    * branches and localCheckpoint are the expensive part).
    */
  private def acfFrame(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "acf_grid")(acfFrameBuild(s, d))

  private def acfFrameBuild(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val W = org.apache.spark.sql.expressions.Window
    val g = Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts"))
    val stats = g.groupBy("key")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"))
    // materialize the tiny day-grid frame ONCE: seven lag branches and
    // the denominator would otherwise each re-run the full daily count
    val c = g.join(stats, "key")
      .withColumn("dev", col("nd") * col("n") - col("s"))
      .localCheckpoint()
    val w = W.partitionBy("key").orderBy("day")
    val lags = (1 to 7).map { k =>
      c.withColumn("dev_k", lead(col("dev"), k).over(w))
        .filter(col("dev_k").isNotNull)
        .groupBy("key")
        .agg(sum(expr("CAST(dev AS DECIMAL(38,0)) * dev_k")).as("num"))
        .withColumn("lag_k", lit(k.toLong))
    }.reduce(_ unionByName _)
    val denom = c.groupBy("key")
      .agg(sum(expr("CAST(dev AS DECIMAL(38,0)) * dev")).as("den"),
        max(col("nd")).as("nd"))
    lags.join(denom, "key")
      .select(col("key").as("event_type"), col("lag_k"), col("nd"),
        expr("CAST(CASE WHEN num >= 0" +
          " THEN num * 1000 div greatest(den, 1)" +
          " ELSE -((-num) * 1000 div greatest(den, 1)) END AS BIGINT)")
          .as("acf_milli"))
  }

  /** Ljung–Box portmanteau whiteness test (Ljung & Box, Biometrika
    * 1978) over the same seven gated autocorrelations `q_acf` emits:
    * `Q = n(n+2) Σ ρ̂²_k/(n−k)` against the χ²_m 5% ladder — the
    * FORMAL "is the daily series white noise" verdict the per-lag
    * ACF eyeball lacks (seven individually-small correlations can
    * jointly be overwhelming evidence of structure, which is the
    * whole point of the portmanteau). Exact integers on the e-3 ACF
    * grid: per-lag `ρ²`-milli² div (n−k), the n(n+2) blow-up, one
    * div-1000 rescale; m adapts to short spans (a key with nd ≤ 7
    * has fewer testable lags) with the matching pinned χ² critical
    * value (3841…14067 milli for m = 1…7). K-row frame throughout.
    */
  def ljungBoxQ(s: SparkSession, d: String): DataFrame = {
    acfFrame(s, d)
      .groupBy("event_type")
      .agg(max(col("nd")).as("nd"), count(lit(1)).as("m"),
        sum(expr("acf_milli * acf_milli div (nd - lag_k)")).as("sacc"))
      .withColumn("q_milli", expr("nd * (nd + 2) * sacc div 1000"))
      .withColumn("crit_milli", expr("CAST(CASE m WHEN 1 THEN 3841" +
        " WHEN 2 THEN 5991 WHEN 3 THEN 7815 WHEN 4 THEN 9488" +
        " WHEN 5 THEN 11070 WHEN 6 THEN 12592 ELSE 14067 END AS BIGINT)"))
      .withColumn("significant", col("q_milli") > col("crit_milli"))
      .select("event_type", "nd", "m", "q_milli", "crit_milli",
        "significant")
      .orderBy("event_type")
  }

  /** Shard rebalance move-plan over the gated shard order: the
    * minimum-volume set of (from, to, n) transfers that equalizes
    * shard sizes (target = equal split, remainder one doc each to the
    * low shard ids). Matching donors to receivers needs no search:
    * lay the donors' surpluses and the receivers' deficits out as
    * consecutive intervals on a shared number line (prefix sums in
    * shard-id order) — transfer overlap(donor interval, receiver
    * interval) between each overlapping pair. Total moved =
    * Σ surplus⁺, which is the information-theoretic floor (every
    * surplus doc must move somewhere), and each donor/receiver pairs
    * with at most a contiguous run of partners, so the plan has at
    * most donors + receivers − 1 rows. Everything after the shard
    * count runs on the K-row frame (the global window is
    * K-row-bounded by construction, the waterfill precedent).
    */
  def rebalancePlanQ(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy("shard").rowsBetween(W.unboundedPreceding, 0)
    val sizes = Sampling.shardAssign(docs(s, d), "doc_id", numShards = 8)
      .groupBy("shard").agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(sum(col("sz")).as("total"), count(lit(1)).as("k"))
    val t = sizes.crossJoin(broadcast(tot))
      .withColumn("target",
        expr("total div k + CASE WHEN shard < total % k THEN 1 ELSE 0 END"))
      .withColumn("surplus", col("sz") - col("target"))
    val donors = t.filter(col("surplus") > 0)
      .withColumn("hi", sum(col("surplus")).over(w))
      .withColumn("lo", col("hi") - col("surplus"))
      .select(col("shard").as("from_shard"),
        col("lo").as("d_lo"), col("hi").as("d_hi"))
    val recv = t.filter(col("surplus") < 0)
      .withColumn("need", -col("surplus"))
      .withColumn("hi", sum(col("need")).over(w))
      .withColumn("lo", col("hi") - col("need"))
      .select(col("shard").as("to_shard"),
        col("lo").as("r_lo"), col("hi").as("r_hi"))
    donors.join(recv, col("d_lo") < col("r_hi") && col("r_lo") < col("d_hi"))
      .select(col("from_shard"), col("to_shard"),
        (least(col("d_hi"), col("r_hi")) -
          greatest(col("d_lo"), col("r_lo"))).as("n_moves"))
      .orderBy("from_shard", "to_shard")
  }

  /** Kaplan–Meier retention survival (Kaplan & Meier, JASA 1958) over
    * user activity spans: "day" = days since the user's first event,
    * an event (churn) = the user's LAST active day when it falls
    * strictly inside the observation window, right-censored at the
    * dataset's end (users still active at the horizon contribute
    * at-risk time but no death — dropping them would bias survival
    * down, the classic mistake the estimator exists to fix). The
    * product-limit curve is a recurrence
    * (`S_t = S_{t−1}·(risk_t − d_t) div risk_t` in exact milli, S_0
    * seeded at 1000), run — like every sequential chart here — as an
    * array fold over the span-bounded day list, mirrored by a
    * recursive CTE. Output: per day-offset, at-risk count, deaths,
    * and survival_milli.
    *
    * One user-level aggregate (first/last day per user) feeds a
    * day-offset census; the fold runs on the GLOBAL day list, which
    * is span-bounded (≤ horizon days) — a single tiny array, not a
    * per-event structure.
    */
  private[graft] def survival(userDays: DataFrame): DataFrame = {
    val spans = userDays
      .groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val horizon = spans.agg(max(col("d1")).as("hmax"))
    // lifetime in day offsets; censored iff still active at horizon
    val lt = spans.crossJoin(broadcast(horizon))
      .select((col("d1") - col("d0")).as("life"),
        (col("d1") === col("hmax")).as("censored"))
    // per offset t: deaths (uncensored lifetimes ending at t) and
    // censor exits; at-risk derives from suffix sums over the census
    val census = lt.groupBy("life")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("deaths"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("censors"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("life"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val tot = census.agg(sum(col("deaths") + col("censors")).as("n_users"))
    // K-row day-offset frame (span-bounded): the global window and
    // the fold both run on it, never on user-level data
    val risk = census.crossJoin(broadcast(tot))
      .withColumn("exited_before",
        coalesce(sum(col("deaths") + col("censors")).over(w), lit(0L)))
      .withColumn("at_risk", col("n_users") - col("exited_before"))
      .select("life", "at_risk", "deaths", "censors")
    val folded = risk
      .groupBy(lit(1).as("g"))
      .agg(sort_array(collect_list(struct(col("life"), col("at_risk"),
        col("deaths"), col("censors")))).as("rows"))
      .withColumn("traj", expr(
        """aggregate(
          |  slice(rows, 2, greatest(size(rows) - 1, 0)),
          |  array(named_struct(
          |    'life', rows[0].life, 'at_risk', rows[0].at_risk,
          |    'deaths', rows[0].deaths, 'censors', rows[0].censors,
          |    's_milli', 1000L * (rows[0].at_risk - rows[0].deaths)
          |      div rows[0].at_risk)),
          |  (acc, x) -> acc || array(named_struct(
          |    'life', x.life, 'at_risk', x.at_risk,
          |    'deaths', x.deaths, 'censors', x.censors,
          |    's_milli', element_at(acc, size(acc)).s_milli
          |      * (x.at_risk - x.deaths) div x.at_risk)))""".stripMargin))
    folded.select(explode(col("traj")).as("t"))
      .select(col("t.life").as("life_days"), col("t.at_risk").as("at_risk"),
        col("t.deaths").as("deaths"), col("t.censors").as("censors"),
        col("t.s_milli").as("survival_milli"),
        // the discrete hazard — deaths among those still at risk, the
        // per-step churn probability the curve integrates
        expr("CAST(t.deaths * 1000000 div t.at_risk AS BIGINT)")
          .as("hazard_ppm"))
      .orderBy("life_days")
  }

  def survivalQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    survival(ev.select(col("user_id"),
      (AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day")))
  }

  /** Mann–Kendall trend significance (Mann 1945 / Kendall's tau
    * form): the nonparametric yes/no the Theil–Sen slope
    * (`q_trend`) reports without — S = Σ sign(x_j − x_i) over all
    * day pairs (days²-bounded BY CONSTRUCTION, same reasoning as the
    * slope query), tie-corrected variance
    * `18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5)`, and the z² verdict
    * computed exactly: `z2_milli = (|S|−1)²·18·1000 div (18·Var)`
    * (the standard continuity correction), significant iff
    * `z2_milli > 3841`. Every quantity integer; no sqrt anywhere.
    */
  def mannKendallQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val g = Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts"))
    val a = g.select(col("key"), col("day").as("d1"), col("n").as("x1"))
    val b = g.select(col("key"), col("day").as("d2"), col("n").as("x2"))
    val sStat = a.join(b, Seq("key"))
      .filter(col("d1") < col("d2"))
      .groupBy("key")
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val ties = g.groupBy("key", "n").agg(count(lit(1)).as("t"))
      .groupBy("key")
      .agg(sum(col("t")).as("nd"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)"))
          .as("tie_corr"))
    sStat.join(ties, "key")
      .withColumn("var18",
        expr("CAST(nd AS DECIMAL(38,0)) * (nd - 1) * (2 * nd + 5)" +
          " - tie_corr"))
      .withColumn("z2_milli",
        expr("CAST(CASE WHEN var18 <= 0 THEN 0 ELSE" +
          " CAST(greatest(abs(s_stat) - 1, 0) AS DECIMAL(38,0))" +
          " * greatest(abs(s_stat) - 1, 0) * 18 * 1000 div var18" +
          " END AS BIGINT)"))
      .select(col("key").as("event_type"), col("nd"), col("s_stat"),
        col("z2_milli"), (col("z2_milli") > 3841L).as("significant"))
      .orderBy("event_type")
  }

  /** Ingest backlog under finite capacity — Lindley's recursion
    * (Lindley 1952, the single-server waiting-time identity):
    * `backlog_t = max(0, backlog_{t−1} + arrivals_t − capacity)`,
    * with capacity provisioned at 120% of the key's own mean daily
    * volume (the classic "20% headroom" sizing). Answers the
    * question the control charts raise: when volume bursts, does the
    * pipeline DRAIN or does the queue walk away? Output per (key,
    * day): arrivals, the backlog trajectory, and a drained flag;
    * exact integers (capacity in milli-events/day so the 120% is
    * representable). Same span-bounded fold as every sequential
    * chart here.
    */
  def backlogQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.backlogDaily(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "day")
  }

  /** Poisson-bootstrap CI for the A/B engagement difference — the
    * LARGE-SCALE resampling trick (Chamandy et al., Google 2012,
    * "Estimating uncertainty for massive data streams"): instead of
    * drawing n indices per replica (which needs a global row index —
    * a non-starter at 100 TB), every USER gets an independent
    * Poisson(1) multiplicity per replica, here a deterministic
    * function of md5("pb:type:b:user") against the exact 24-bit
    * integer CDF lattice (truncated at 10, P ≈ 1e-8 — part of the
    * pinned definition). One pass, no global structure, 32 replicas;
    * per replica the weighted contingency re-derives `diff_ppm`
    * exactly as [[chisq]] does, and the 2nd/31st order statistics
    * give the ~90% CI. `ci_excludes_zero` is the bootstrap's
    * significance read — the resampling cross-check of the
    * chi-square verdict.
    */
  private[graft] def abBootstrap(ev: DataFrame): DataFrame = {
    // per (type, user): group flag, events, hits — the sufficient
    // statistics; the 32 replicas re-weight THESE rows, never raw events
    val perUser = ev.select(col("event_type"), col("user_id"),
        when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
        when(col("value") > 200.0, 1L).otherwise(0L).as("hit"))
      .groupBy("event_type", "user_id", "ga")
      .agg(count(lit(1)).as("n_u"), sum(col("hit")).as("h_u"))
    val ts = Seq(6171993L, 12343986L, 15429982L, 16458648L, 16715814L,
      16767247L, 16775819L, 16777044L, 16777197L, 16777214L, 16777216L)
    val drawn = perUser
      .select(col("event_type"), col("user_id"), col("ga"), col("n_u"),
        col("h_u"), explode(sequence(lit(0L), lit(31L))).as("b"))
      .withColumn("u24",
        conv(substring(md5(concat_ws(":", lit("pb"), col("event_type"),
          col("b"), col("user_id"))), 1, 6), 16, 10).cast("long"))
      // multiplicity = #thresholds the uniform clears (CDF inversion);
      // a CASE ladder instead of a filter-HOF keeps the 32x-per-user
      // hot path inside whole-stage codegen
      .withColumn("m", expr(
        ts.init.zipWithIndex
          .map { case (t, k) => s"WHEN u24 < ${t}L THEN ${k}L" }
          .mkString("CASE ", " ", s" ELSE ${ts.size - 1}L END")))
    val reps = drawn.groupBy("event_type", "b")
      .agg(sum(col("m") * col("ga") * col("n_u")).as("n_a"),
        sum(col("m") * col("ga") * col("h_u")).as("h_a"),
        sum(col("m") * (lit(1L) - col("ga")) * col("n_u")).as("n_b"),
        sum(col("m") * (lit(1L) - col("ga")) * col("h_u")).as("h_b"))
      .withColumn("diff_b",
        expr("h_a * 1000000 div greatest(n_a, 1)" +
          " - h_b * 1000000 div greatest(n_b, 1)"))
    val point = chisq(ev).select(col("event_type"), col("diff_ppm"))
    reps.groupBy("event_type")
      .agg(sort_array(collect_list(col("diff_b"))).as("ds"))
      .join(point, "event_type")
      .select(col("event_type"), col("diff_ppm"),
        expr("element_at(ds, 2)").as("ci_lo_ppm"),
        expr("element_at(ds, 31)").as("ci_hi_ppm"),
        expr("element_at(ds, 2) > 0 OR element_at(ds, 31) < 0")
          .as("ci_excludes_zero"))
      .orderBy("event_type")
  }

  def abBootstrapQ(s: SparkSession, d: String): DataFrame =
    abBootstrap(Tables.events(s, d))

  /** Batch SPRT replay — what Wald's sequential test WOULD have
    * decided over the recorded stream, per event type: the LLR needs no recursion because
    * `llr_n = hits_n·H + (n − hits_n)·M` is a pure function of the
    * cumulative hit count. Event types are FEW and HUGE, so a
    * per-type ordered window would sort every event of a type on one
    * task — the replay instead rides [[graft.ops.KeyedPrefix.cumsum]]
    * (the AuditSeq two-pass prefix-sum discipline): one scalable
    * range sort on (type, ts, id), per-(partition, type) totals, a
    * broadcast carry-in, and a parallel stamping pass. The FIRST
    * boundary crossing then freezes the verdict (struct-min pick);
    * types that never cross report `continue` with their full-sample
    * LLR.
    */
  def sprtQ(s: SparkSession, d: String): DataFrame = {
    val hitU = 405465L; val missU = -10257L
    val upper = 2944439L; val lower = -2944439L
    val ev = Tables.events(s, d)
    val base = ev.select(col("event_type"), col("event_id"),
      AnalyticsQueries.epochUs(ev, "ts").as("ts_us"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit"))
    val t = graft.ops.KeyedPrefix.cumsum(base,
        keys = Seq("event_type"), order = Seq("ts_us", "event_id"),
        sums = Seq("hit" -> "cumh"), countName = "n")
      .withColumn("llr_micro",
        col("cumh") * hitU + (col("n") - col("cumh")) * missU)
    val crossings = t
      .filter(col("llr_micro") >= upper || col("llr_micro") <= lower)
      .groupBy("event_type")
      .agg(min(struct(col("n"), col("llr_micro"))).as("st"))
      .select(col("event_type"), col("st.n").as("stop_n"),
        col("st.llr_micro").as("stop_llr"))
    val totals = t.groupBy("event_type")
      .agg(max(col("n")).as("n_total"),
        max(struct(col("n"), col("llr_micro"))).getField("llr_micro")
          .as("llr_final"))
    totals.join(crossings, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("stop_n"), col("n_total")).as("n_obs"),
        coalesce(col("stop_llr"), col("llr_final")).as("llr_micro"),
        when(col("stop_llr") >= upper, "accept_h1")
          .when(col("stop_llr") <= lower, "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("event_type")
  }

  /** DAU/WAU stickiness census: per type and day, the distinct daily
    * actives, the trailing-7-day distinct actives, and their ratio in
    * ppm — the engagement-depth number (how much of the weekly
    * audience shows up on a given day). Distinct-over-a-sliding-window
    * is NOT additive, so no daily-DAU sum can produce WAU; the
    * scalable exact form is the bounded fan-out: each (type, user,
    * day) activity contributes to the ≤7 window anchors it covers
    * (one explode ×7, capped at the span end), then one distinct +
    * one count per anchor — never a distinct aggregate over a window
    * frame. Truncated early-span windows are reported as-is
    * (standard dashboard semantics).
    */
  def stickinessQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    stickiness(ev.select(col("event_type"), col("user_id"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day")))
  }

  /** Core over a pre-projected (event_type, user_id, day) frame. */
  private[graft] def stickiness(activity: DataFrame): DataFrame = {
    // localCheckpoint: act feeds dau, spans AND the wau fan-out — three
    // consumers, each re-running the events scan + distinct exchange
    // without a barrier. The checkpointed frame is the (type, user,
    // day) activity set — users x days bounded, far below the stream.
    val act = activity.distinct().localCheckpoint()
    val dau = act.groupBy("event_type", "day").agg(count(lit(1)).as("dau"))
    val spans = act.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = spans.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val wau = act.join(broadcast(spans), Seq("event_type"))
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("day"), least(col("day") + 6, col("d1"))))
          .as("day"))
      .distinct()
      .groupBy("event_type", "day").agg(count(lit(1)).as("wau"))
    grid.join(dau, Seq("event_type", "day"), "left")
      .join(wau, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .withColumn("stickiness_ppm",
        expr("dau * 1000000 div greatest(wau, 1)"))
      .orderBy("event_type", "day")
  }

  /** Seasonal-naive forecast skill (Hyndman–Koehler 2006 MASE shape):
    * is tomorrow's volume best predicted by "same day last week" or
    * by "yesterday"? Per type over the zero-filled day grid, the MAE
    * of the lag-7 forecast over the MAE of the lag-1 naive, in exact
    * milli — below 1000 means the weekly rhythm is real signal a
    * capacity planner should use; the scale-free companion to the
    * ACF's correlation view. Two linear lag equi-joins on the
    * span-bounded grid, no windows.
    */
  def maseQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val g = Monitor.dailyGrid(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
    def lagJoin(k: Int) = g.as("a")
      .join(g.as("b"),
        col("a.key") === col("b.key") && col("b.day") === col("a.day") - k)
      .groupBy(col("a.key").as("key"))
      .agg(count(lit(1)).as(s"n$k"),
        sum(abs(col("a.n") - col("b.n"))).as(s"sae$k"))
    lagJoin(1).join(lagJoin(7), Seq("key"))
      .withColumn("mae1_milli", expr("sae1 * 1000 div greatest(n1, 1)"))
      .withColumn("mae7_milli", expr("sae7 * 1000 div greatest(n7, 1)"))
      .withColumn("mase_milli",
        expr("mae7_milli * 1000 div greatest(mae1_milli, 1)"))
      .select(col("key").as("event_type"), col("n1"), col("n7"),
        col("mae1_milli"), col("mae7_milli"), col("mase_milli"))
      .orderBy("event_type")
  }

  /** The sequential replay's cumulative frame driven from SQL text
    * through the `graft_cumsum` table function — the SQL surface for
    * [[graft.ops.KeyedPrefix.cumsum]], so a SQL user replaying a
    * recorded stream over few-huge keys gets the two-pass prefix
    * scan instead of a serializing window. Same window-mirror oracle
    * as the batch SPRT's cumulative core.
    */
  def cumsumSqlQ(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = Tables.events(s, d)
    ev.select(col("event_type"), col("event_id"),
        AnalyticsQueries.epochUs(ev, "ts").as("ts_us"),
        when(col("value") > 200.0, 1L).otherwise(0L).as("hit"))
      .createOrReplaceTempView("graft_events_cumsum")
    s.sql(
      """SELECT event_type, event_id, n, cumh
        |FROM graft_cumsum('graft_events_cumsum', 'event_type',
        |                  'ts_us,event_id', 'hit:cumh')
        |ORDER BY event_id""".stripMargin)
  }

  /** Robust daily-volume location estimates (Tukey, "The future of
    * data analysis" 1962): the 10%-trimmed mean (drop the k lowest
    * and highest days) and the winsorized mean (clamp them to the
    * surviving extremes) next to the plain mean — the robust-location
    * members of the family whose spread member is the MAD census and
    * whose slope member is Theil–Sen. One wild day moves the plain
    * mean by Δ/n; it cannot move these. Exact milli via order
    * statistics on the span-bounded sorted day array (k = nd div 10).
    */
  def robustMeanQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.dailyGrid(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
      .groupBy("key")
      .agg(sort_array(collect_list(col("n"))).as("xs"),
        count(lit(1)).as("nd"), sum(col("n")).as("s"))
      .withColumn("k", expr("nd div 10"))
      .withColumn("mean_milli", expr("s * 1000 div nd"))
      .withColumn("trimmed_milli", expr(
        "aggregate(slice(xs, k + 1, nd - 2 * k), 0L, (a, x) -> a + x)" +
          " * 1000 div greatest(nd - 2 * k, 1)"))
      .withColumn("winsor_milli", expr(
        "(aggregate(slice(xs, k + 1, nd - 2 * k), 0L, (a, x) -> a + x)" +
          " + k * element_at(xs, CAST(k + 1 AS INT))" +
          " + k * element_at(xs, CAST(nd - k AS INT))) * 1000 div nd"))
      .select(col("key").as("event_type"), col("nd"), col("mean_milli"),
        col("trimmed_milli"), col("winsor_milli"))
      .orderBy("event_type")
  }

  /** Sample-ratio mismatch (SRM) check, the first gate any experiment
    * readout must pass (Fabijan et al., KDD 2019 diagnoses): with a
    * 50/50 user split, the DISTINCT-user counts per arm should differ
    * only by chance — a per-surface imbalance means assignment or
    * logging loss, and every downstream p-value is garbage. One-df
    * goodness-of-fit chi-square in exact milli:
    * `z² = (n_a − n_b)² / (n_a + n_b)` (equal expected counts), same
    * 3.841 threshold as the effect test. Per event type so a lossy
    * surface is localized. One (type, user) distinct + one agg.
    */
  def srmQ(s: SparkSession, d: String): DataFrame =
    srm(Tables.events(s, d))

  private[graft] def srm(ev: DataFrame): DataFrame = {
    ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type")
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 === 0, 0L).otherwise(1L)).as("n_b"))
      .withColumn("z2_milli",
        expr("CAST(CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000" +
          " div greatest(n_a + n_b, 1) AS BIGINT)"))
      .withColumn("srm", col("z2_milli") > 3841L)
      .orderBy("event_type")
  }

  /** Design-phase power analysis: the sample size each arm needs to
    * detect a +10% relative lift on the observed base rate at 80%
    * power / 5% two-sided α (the standard two-proportion closed form,
    * `n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/(p₁−p₂)²`, with
    * `(1.9600+0.8416)² = 7.849` pinned in milli), plus the days to
    * reach it at the type's own observed event rate — the "how long
    * must this test run" number, exact integer in ppm end to end.
    */
  def powerQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    power(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, hit) frame. */
  private[graft] def power(dayHit: DataFrame): DataFrame = {
    dayHit
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("hits"),
        (max(col("day")) - min(col("day")) + lit(1L)).as("nd"))
      .withColumn("p1_ppm", expr("hits * 1000000 div greatest(n, 1)"))
      .withColumn("p2_ppm", expr("least(p1_ppm * 11 div 10, 1000000)"))
      .withColumn("diff_ppm", expr("p2_ppm - p1_ppm"))
      .withColumn("n_req",
        expr("CAST(7849 * (CAST(p1_ppm AS DECIMAL(38,0)) * (1000000 - p1_ppm)" +
          " + CAST(p2_ppm AS DECIMAL(38,0)) * (1000000 - p2_ppm))" +
          " div greatest(CAST(diff_ppm AS DECIMAL(38,0)) * diff_ppm * 1000, 1)" +
          " AS BIGINT)"))
      .withColumn("days_req",
        expr("CAST((CAST(n_req AS DECIMAL(38,0)) * 2 * nd + n - 1)" +
          " div greatest(n, 1) AS BIGINT)"))
      .select("event_type", "p1_ppm", "p2_ppm", "diff_ppm", "n_req", "days_req")
      .orderBy("event_type")
  }

  /** Group-sequential monitoring ledger (O'Brien–Fleming 1979 shape):
    * five interim looks at equal fractions of the type's day span,
    * each with the cumulative two-proportion z² against the OBF
    * spending boundary `z²_k = z*²·K/k` (final-look z*² pinned at
    * 4.162 milli for K = 5, the textbook table) — early looks pay a
    * near-impossible bar, the final look spends almost the full α.
    * The peeking-with-integrity companion to the SPRT: same question,
    * calendar-scheduled looks instead of per-event. `stop_look` = the
    * first crossing (0 = never). Day-grid bounded: per-(type, arm,
    * day) partial agg, a 5-row look frame per type, z² from the same
    * exact-milli formula as `q_chisq`.
    */
  def groupSeqQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    groupSeq(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, ga, hit) frame. */
  private[graft] def groupSeq(e: DataFrame): DataFrame = {
    val byDay = e
      .groupBy("event_type", "day")
      .agg(sum(col("ga")).as("da"), sum(col("ga") * col("hit")).as("dha"),
        sum(lit(1L) - col("ga")).as("db"),
        sum((lit(1L) - col("ga")) * col("hit")).as("dhb"))
    val looks = byDay.groupBy("event_type")
      .agg(min(col("day")).as("d0"),
        (max(col("day")) - min(col("day")) + lit(1L)).as("nd"))
      .select(col("event_type"), col("d0"), col("nd"),
        explode(sequence(lit(1L), lit(5L))).as("look"))
      .withColumn("cutoff", expr("d0 + nd * look div 5 - 1"))
    val cum = looks.join(byDay.withColumnRenamed("event_type", "et"),
        col("et") === col("event_type") && col("day") <= col("cutoff"), "left")
      .groupBy("event_type", "look")
      .agg(coalesce(sum(col("da")), lit(0L)).as("n_a"),
        coalesce(sum(col("dha")), lit(0L)).as("hits_a"),
        coalesce(sum(col("db")), lit(0L)).as("n_b"),
        coalesce(sum(col("dhb")), lit(0L)).as("hits_b"))
      .withColumn("pa_ppm", expr("hits_a * 1000000 div greatest(n_a, 1)"))
      .withColumn("pb_ppm", expr("hits_b * 1000000 div greatest(n_b, 1)"))
      .withColumn("pool_ppm",
        expr("(hits_a + hits_b) * 1000000 div greatest(n_a + n_b, 1)"))
      .withColumn("z2_milli",
        expr("CAST(CAST(pa_ppm - pb_ppm AS DECIMAL(38,0)) * (pa_ppm - pb_ppm)" +
          " * (CAST(n_a AS DECIMAL(38,0)) * n_b div greatest(n_a + n_b, 1))" +
          " * 1000" +
          " div greatest(pool_ppm * (1000000 - pool_ppm), 1) AS BIGINT)"))
      .withColumn("bound_milli", expr("4162 * 5 div look"))
      .withColumn("crossed", col("z2_milli") >= col("bound_milli"))
    val stops = cum.filter(col("crossed"))
      .groupBy("event_type").agg(min(col("look")).as("sl"))
    cum.join(stops, Seq("event_type"), "left")
      .withColumn("stop_look", coalesce(col("sl"), lit(0L)))
      .select("event_type", "look", "n_a", "hits_a", "n_b", "hits_b",
        "z2_milli", "bound_milli", "crossed", "stop_look")
      .orderBy("event_type", "look")
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi, Walker — WSDM 2013):
    * each user's PRE-period activity predicts their post-period
    * metric, and regressing it out shrinks the experiment's variance
    * by exactly ρ² — the single highest-leverage trick in online
    * experimentation (weeks of runtime back for one covariate).
    * Split each type's day span in half: covariate x = the user's
    * pre-half value total, metric y = the post-half total (whole
    * units; users present in either half, absent halves = 0). Output
    * per type: θ (the CUPED coefficient, micro), and the variance
    * reduction ρ²_ppm = cxy²/(cxx·cyy) over the n-cleared centered
    * sums (`c·· = n·S·· − S·S·`, DECIMAL(38,0); the ratio computed on
    * `c·· div n` so the squares stay under 38 digits — truncating
    * division, identical on both engines).
    */
  def cupedQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    cuped(ev.select(col("event_type"), col("user_id"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      expr("CAST(floor(value) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, user_id, day, v) frame. */
  private[graft] def cuped(ed: DataFrame): DataFrame = {
    val mids = ed.groupBy("event_type")
      .agg(expr("min(day) + (max(day) - min(day) + 1) div 2").as("mid"))
    val perUser = ed.join(broadcast(mids), Seq("event_type"))
      .groupBy("event_type", "user_id")
      .agg(sum(when(col("day") < col("mid"), col("v")).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("v")).otherwise(0L)).as("y"))
    perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("cxx", expr("n_users * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("cxy", expr("n_users * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("cyy", expr("n_users * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("theta_micro",
        expr("CAST(cxy * 1000000 div greatest(cxx, 1) AS BIGINT)"))
      .withColumn("varred_ppm",
        expr("CAST((cxy div n_users) * (cxy div n_users) * 1000000" +
          " div greatest((cxx div n_users) * (cyy div n_users), 1) AS BIGINT)"))
      .select("event_type", "n_users", "theta_micro", "varred_ppm")
      .orderBy("event_type")
  }

  /** Delete-one-day jackknife variance of the mean daily volume
    * (Quenouille '49 / Tukey '58): the leave-one-out pseudo-value
    * spread, the non-resampling uncertainty estimate next to the two
    * bootstraps — on the mean it collapses to s²/n by algebra, which
    * is exactly the cross-check. Exact integer: with `u_i = S − x_i`,
    * `var_jk = (n·Σu² − (Σu)²) / (n²·(n−1))` in milli over the
    * zero-filled day grid (span-bounded; DECIMAL(38,0) squares).
    */
  def jackknifeQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    jackknife(Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts")))
  }

  /** Core over a zero-filled (key, day, n) grid. */
  private[graft] def jackknife(g: DataFrame): DataFrame = {
    val t = g.groupBy("key")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"))
    g.join(t, Seq("key"))
      .groupBy("key", "nd", "s")
      .agg(sum(expr("CAST(s - n AS DECIMAL(38,0)) * (s - n)")).as("b"))
      .withColumn("a", expr("CAST(s AS DECIMAL(38,0)) * (nd - 1)"))
      .select(col("key").as("event_type"), col("nd"),
        expr("CAST(s * 1000 div nd AS BIGINT)").as("mean_milli"),
        expr("CAST((nd * b - a * a) * 1000" +
          " div greatest(CAST(nd AS DECIMAL(38,0)) * nd * (nd - 1), 1)" +
          " AS BIGINT)").as("jk_var_milli"))
      .orderBy("event_type")
  }

  /** Split-conformal prediction interval for daily volume (Vovk's
    * conformal framework in the Lei et al. JASA '18 split form): the
    * first ⅔ of the day span calibrates, the last ⅓ tests; the upper
    * bound is the ⌈0.9·(n_cal+1)⌉-th smallest calibration score,
    * which guarantees ≥ 90% marginal coverage on exchangeable data
    * WITHOUT any distributional assumption — the distribution-free
    * answer to "what's a normal day". Reported: the bound, the
    * finite-sample target `r/(n_cal+1)`, and the achieved test
    * coverage ppm. All on the span-bounded sorted day array.
    */
  def conformalQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    conformal(Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts")))
  }

  /** Core over a zero-filled (key, day, n) grid. */
  private[graft] def conformal(g: DataFrame): DataFrame = {
    g.groupBy("key")
      .agg(expr("transform(array_sort(collect_list(struct(day, n)))," +
        " s -> s.n)").as("xs"), count(lit(1)).as("nd"))
      .withColumn("nc", expr("greatest(2 * nd div 3, 1)"))
      .withColumn("n_test", expr("nd - nc"))
      .withColumn("r", expr("greatest(least((9 * (nc + 1) + 9) div 10, nc), 1)"))
      .withColumn("q_hat", expr(
        "element_at(array_sort(slice(xs, 1, CAST(nc AS INT)))," +
          " CAST(r AS INT))"))
      .withColumn("target_ppm", expr("1000000 * r div (nc + 1)"))
      .withColumn("coverage_ppm", expr(
        "1000000 * size(filter(slice(xs, CAST(nc + 1 AS INT)," +
          " CAST(n_test AS INT)), x -> x <= q_hat)) div greatest(n_test, 1)"))
      .select(col("key").as("event_type"), col("nc").as("n_cal"),
        col("n_test"), col("q_hat"), col("target_ppm"), col("coverage_ppm"))
      .orderBy("event_type")
  }

  /** Running-peak drawdown replay, the second consumer of
    * [[graft.ops.KeyedPrefix.cumsum]] (this one exercises the
    * running-MAX lane): per event type in (ts, id) order, the worst
    * observed slump of `value` relative to its running peak
    * (`dd = (peak − v)·1e6 div peak` ppm) and the first observation
    * where the slump crossed 50% — the metric-collapse alarm a
    * monitoring replay asks of a recorded stream. Like the SPRT
    * replay, a per-type ordered window would serialize each type;
    * the two-pass prefix scan keeps hot types parallel.
    */
  def drawdownQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    drawdown(ev.select(col("event_type"), col("event_id"),
      AnalyticsQueries.epochUs(ev, "ts").as("ts_us"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, event_id, ts_us, v) frame. */
  private[graft] def drawdown(base: DataFrame): DataFrame = {
    val t = graft.ops.KeyedPrefix.cumsum(base,
        keys = Seq("event_type"), order = Seq("ts_us", "event_id"),
        sums = Nil, countName = "n", maxes = Seq("v" -> "peak"))
      .withColumn("dd",
        expr("(peak - v) * 1000000 div greatest(peak, 1)"))
    val tops = t.groupBy("event_type")
      .agg(max(col("n")).as("n_total"), max(col("dd")).as("max_dd_ppm"))
    val alarms = t.filter(col("dd") >= 500000L)
      .groupBy("event_type").agg(min(col("n")).as("fa"))
    tops.join(alarms, Seq("event_type"), "left")
      .withColumn("first_alarm_n", coalesce(col("fa"), lit(0L)))
      .select("event_type", "n_total", "max_dd_ppm", "first_alarm_n")
      .orderBy("event_type")
  }

  /** FK fan-out census for the lake's central join (orders per
    * customer): the distribution a join planner reads BEFORE assuming
    * "FK join ≈ 1:few" — per distinct fan-out, how many customers sit
    * there and the cumulative ppm, so p99 fan-out and the explosion
    * tail are one glance. The histogram frame is bounded by DISTINCT
    * fan-out values (≪ customers); its window is that frame's, not
    * the data's.
    */
  def fanoutQ(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cnt = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("fanout"))
    val hist = cnt.groupBy("fanout").agg(count(lit(1)).as("n_customers"))
    val tot = hist.agg(sum(col("n_customers")).as("total"))
    hist.crossJoin(broadcast(tot))
      .withColumn("cum",
        sum(col("n_customers")).over(W.orderBy("fanout")
          .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("cum_ppm",
        expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 div total" +
          " AS BIGINT)"))
      .select("fanout", "n_customers", "cum_ppm")
      .orderBy("fanout")
  }

  /** Fano-factor burstiness census (index of dispersion,
    * variance/mean of daily volume): F ≈ 1 is Poisson-like arrival,
    * F ≫ 1 is bursty (crawler storms), F ≪ 1 is suspiciously regular
    * (bot cadence) — one number per event type next to the ACF's
    * seven. Exact: `F_milli = 1000·Σ(n·x_i−S)² div (n²·S)` (mean
    * cleared by multiplying through by n), DECIMAL(38,0) squares.
    */
  def fanoQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.dailyGrid(ev, "event_type", AnalyticsQueries.epochUs(ev, "ts"))
      .groupBy("key")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("sq"))
      .select(col("key").as("event_type"), col("nd"), col("s"),
        // F = (n·Σx² − S²) / (n·S); all nonneg (Cauchy–Schwarz)
        expr("CAST((CAST(nd AS DECIMAL(38,0)) * sq" +
          " - CAST(s AS DECIMAL(38,0)) * s) * 1000" +
          " div (CAST(nd AS DECIMAL(38,0)) * greatest(s, 1)) AS BIGINT)")
          .as("fano_milli"))
      .orderBy("event_type")
  }

  /** Incremental-ingestion exact dedup: the odd docs arrive against a
    * base of the even docs PLUS every odd doc with doc_id % 10 == 1
    * (those are "already ingested" by content) — survivors are the odd
    * docs whose text the base has never seen.
    */
  def dedupAgainst(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.exactAgainst(
        all.filter(col("doc_id") % 2 === 1),
        all.filter(col("doc_id") % 2 === 0 || col("doc_id") % 10 === 1))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered variant of [[dedupAgainst]] on a 1/3–2/3
    * snapshot split: identical output contract (the Bloom sketch only
    * routes rows around the verify join), so the oracle is the same
    * anti-join SQL.
    */
  def dedupBloom(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.bloomScreen(
        all.filter(col("doc_id") % 3 =!= 0),
        all.filter(col("doc_id") % 3 === 0),
        expectedItems = 100000L)
      .orderBy("doc_id")
  }

  def qualityScore(s: SparkSession, d: String): DataFrame =
    TextStats.qualityClassifier(docs(s, d)).orderBy("doc_id")

  /** Snapshot diff on a synthetic "next run": 1/5 of docs removed,
    * 1/13 rewritten (uppercased), 1/17 re-added under shifted ids.
    */
  def corpusDiffQ(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val cur = all.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
      .unionByName(all.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    Dedup.corpusDiff(all, cur).orderBy("doc_id", "status")
  }

  /** Shared positional 8-token window-hash index (doc_id, i, h) —
    * materialized once per (session, dataset) and read by BOTH span
    * ops (q_dup_spans' census and q_dup_remove's cleanup hash the
    * SAME windows; the doc_tf memo discipline applied to spans).
    */
  private def win8(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "win8")(
      docs(s, d).select(col("doc_id"),
          posexplode(graft.functions.WindowHashes(
            TextStats.tokens(col("text")), 8)))
        .select(col("doc_id"), (col("pos") + 1).as("i"),
          col("col").as("h")))

  def dupSpans(s: SparkSession, d: String): DataFrame =
    TextStats.duplicateSpans(docs(s, d), windowLen = 8,
        winIndex = Some(win8(s, d)))
      .orderBy("doc_id")

  /** Exact duplicated-span removal (Lee et al. ACL'22 shape) — the
    * cleanup twin of q_dup_spans: every 8-token window shared by >= 2
    * docs is deleted from all of them, and the cleaned text is emitted.
    */
  def dupRemove(s: SparkSession, d: String): DataFrame =
    TextStats.removeDuplicateSpans(docs(s, d), windowLen = 8,
        winIndex = Some(win8(s, d)))
      .orderBy("doc_id")

  /** The positional-inverted-index phrase probe set — pinned so the
    * Spark query and the DuckDB oracle search the same phrases: a
    * 2-term phrase, a self-overlapping repeated token (anchor-counting
    * semantics), and a 3-term rarity.
    */
  private[graft] val SearchPhrases =
    Seq("table scan", "stream stream", "merge sort row")

  def phraseSearchQ(s: SparkSession, d: String): DataFrame =
    TextStats.phraseSearch(docs(s, d), SearchPhrases)
      .orderBy("phrase", "doc_id")

  /** Shared winnow fingerprint sketch (k=3, w=4) — one gram-hash +
    * winnow pass serves both the census (q_winnow) and the near-dup
    * self-join (q_winnow_pairs).
    */
  private def winnow34(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "winnow34")(TextStats.winnow(docs(s, d), k = 3, w = 4))

  def winnowFp(s: SparkSession, d: String): DataFrame =
    winnow34(s, d).orderBy("doc_id", "fingerprint")

  def winnowPairs(s: SparkSession, d: String): DataFrame =
    Dedup.winnowNearDup(docs(s, d), k = 3, w = 4, minShared = 2,
        fpIndex = Some(winnow34(s, d)))
      .orderBy("doc_a", "doc_b")

  def embedProject(s: SparkSession, d: String): DataFrame =
    Similarity.randomProject(embs(s, d), outDim = 8, seed = "rp")
      .orderBy("vec_id")

  /** Leakage-safe split at the NEAR-DUP-CLUSTER level — the reason
    * [[Sampling.splitByGroup]] exists: near-duplicate documents must
    * land on the same side of the train/test boundary, so the split
    * key is the connected-components cluster id, not the row id.
    */
  def splitClusters(s: SparkSession, d: String): DataFrame =
    Sampling.splitByGroup(docClusters(s, d), "cluster_id",
        testFraction = 0.2)
      .orderBy("doc_id")

  /** Keep-best canonical per near-dup cluster: the longest member
    * (token count, id tiebreak) survives — the real-world survivor
    * rule over the connected-components clustering.
    */
  def canonical(s: SparkSession, d: String): DataFrame = {
    val clusters = docClusters(s, d)
      .join(docs(s, d).select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
        Seq("doc_id"))
    Dedup.canonicalByScore(clusters, col("n_tokens")).orderBy("doc_id")
  }

  /** Exact-k stratified sample: precisely 300 events per type. */
  def sampleExactK(s: SparkSession, d: String): DataFrame =
    Sampling.exactKPerStratum(
        Tables.events(s, d).select("event_id", "event_type", "value"),
        "event_type", "event_id", k = 300)
      .orderBy("event_id")

  /** Exact-50 weighted sample without replacement (Efraimidis–
    * Spirakis, integer-weight max-hash form): longer documents get
    * proportionally more tickets, capped at 32.
    */
  def weightedTopKQ(s: SparkSession, d: String): DataFrame =
    Sampling.weightedTopK(
      docs(s, d).select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", col("n_tokens"), k = 50)

  /** Deterministic global shuffle into 8 training shards. */
  def shard(s: SparkSession, d: String): DataFrame =
    Sampling.shardAssign(docs(s, d).select("doc_id"), "doc_id", numShards = 8)
      .orderBy("shard", "pos")

  /** Gopher-style word/bigram repetition signals per document. */
  def repetition(s: SparkSession, d: String): DataFrame =
    TextStats.repetitionSignals(docs(s, d)).orderBy("doc_id")

  /** Top-3 TF-IDF keywords per document. */
  def tfidf(s: SparkSession, d: String): DataFrame =
    TextStats.tfidfTopTerms(docs(s, d), k = 3,
      sharedTf = Some(docTf(s, d))).orderBy("doc_id", "rank")

  /** Decontamination screen: every 100th doc plays the benchmark set;
    * corpus docs sharing >= 2 distinct trigrams with a benchmark doc
    * are flagged with the overlap count.
    */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    TextStats.contamination(
        all.filter(col("doc_id") % 100 =!= 0),
        all.filter(col("doc_id") % 100 === 0),
        n = 3, minShared = 2)
      .orderBy("doc_id", "bench_id")
  }

  /** End-to-end curation pass: keep one canonical doc per exact-dup
    * group (min doc_id by content hash), then gate on quality
    * (length and lexical-diversity thresholds) — the compose-the-ops
    * pipeline a corpus build actually runs.
    */
  def curation(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val canon = Dedup.exact(all).select(col("canonical_id").as("doc_id"))
    TextStats.quality(all)
      .join(canon, Seq("doc_id"))
      .filter(col("n_tokens") >= 20 && col("distinct_ratio") >= 0.3)
      .select("doc_id", "n_tokens", "n_distinct")
      .orderBy("doc_id")
  }

  /** Per-document PROVENANCE ledger — the governance answer to "why
    * is my document (not) in the training set": EVERY doc gets a row
    * with the FIRST curation stage that dropped it (or `kept`). The
    * stage order is the pipeline order a corpus build runs —
    * unreadable(0) → heldout_benchmark(1) → too_short(2) →
    * low_diversity(3) → duplicate(4) → contaminated(5) → kept(6) —
    * and each gate reuses the exact rule an existing oracle-gated
    * query pins (q_curation's length/diversity thresholds and
    * min-doc_id-per-md5 canonical, q_contamination's >=2-shared-
    * distinct-trigram screen, the %100 benchmark split), so the
    * ledger can never drift from the gates it explains.
    *
    * Plan shape at 100 TB: text is dropped in the FIRST projection
    * (only ids, counts, and the md5 shuffle downstream); the
    * canonical id is one window over the content hash (single
    * shuffle, no self-join); the contamination flag is the existing
    * bucketed trigram join reduced to a distinct id set; verdict
    * assembly is two left joins on doc_id that AQE broadcasts when
    * the flagged sets are small (they are — flags, not corpora).
    * Integer cross-multiplication for the diversity rule keeps both
    * engines bit-agreed (no float ratio).
    */
  def provenance(s: SparkSession, d: String): DataFrame =
    provLedgerFrame(s, d).orderBy("doc_id")

  /** The ledger as a SHARED MEMO (and artifact-catalog entry): three
    * gated consumers (the ledger itself and both funnels) read one
    * materialization instead of re-running the trigram screen each,
    * and the library persists it — a provenance record is precisely
    * the artifact a deployment keeps, and because its rows carry
    * doc_id the erasure scan covers it automatically.
    */
  private def provLedgerFrame(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "prov_ledger")(provenanceLedger(docs(s, d)))

  /** The ledger composition itself, corpus injected — one definition
    * serving the oracle-gated query (above), the funnel, and the spec.
    */
  def provenanceLedger(all: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val t = TextStats.tokens(col("text"))
    val base = all.select(
      col("doc_id"),
      col("text").isNull.as("unreadable"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      md5(col("text")).as("h"))
    // canonical = min doc_id per content hash (null texts carry a
    // null hash and never form a group: they already died at stage 0)
    val withCanon = base.withColumn("canonical_id",
      when(col("h").isNotNull,
        min(col("doc_id")).over(W.partitionBy(col("h")))))
    val contamIds = TextStats.contamination(
        all.filter(col("doc_id") % 100 =!= 0),
        all.filter(col("doc_id") % 100 === 0),
        n = 3, minShared = 2)
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val verdict =
      when(col("unreadable"), lit("unreadable"))
        .when(col("doc_id") % 100 === 0, lit("heldout_benchmark"))
        .when(col("n_tokens") < 20, lit("too_short"))
        .when(col("n_distinct") * 10 < col("n_tokens") * 3,
          lit("low_diversity"))
        .when(col("doc_id") =!= col("canonical_id"), lit("duplicate"))
        .when(coalesce(col("contaminated"), lit(false)),
          lit("contaminated"))
        .otherwise(lit("kept"))
    val stageOf = Seq("unreadable", "heldout_benchmark", "too_short",
      "low_diversity", "duplicate", "contaminated", "kept")
    withCanon.join(contamIds, Seq("doc_id"), "left")
      .withColumn("verdict", verdict)
      .withColumn("stage",
        stageOf.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (v, i)) =>
          when(col("verdict") === v, lit(i.toLong)).otherwise(acc)
        })
      .select(col("doc_id"), col("stage"), col("verdict"))
  }

  /** INCREMENTAL provenance — the ledger for an ARRIVING batch judged
    * against the corpus already curated, in O(new) work: per-row gates
    * evaluate over the new docs only; the duplicate gate is
    * arrival-order semantics (a new doc whose content hash exists
    * ANYWHERE in the base is the duplicate, regardless of id — the
    * [[graft.ops.Dedup.exactAgainst]] contract — plus min-doc_id
    * canonical WITHIN the batch), so re-judging the base is never
    * needed; the contamination screen probes the GLOBAL benchmark set
    * (base + new), broadcast like the batch form. This is how the
    * batch ledger stays true under continuous ingest — the provenance
    * twin of the index library's incremental refresh.
    *
    * Honest limitation (by construction, not accident): the
    * contamination gate probes the benchmark set as known AT JUDGING
    * TIME — a benchmark doc arriving later does NOT retroactively
    * flag documents already judged kept. A benchmark refresh
    * therefore requires a decontamination RE-SCAN of the kept set
    * (the batch `q_contamination` over the lake), exactly as a
    * centroid retrain requires an index rebuild; the composition law
    * below holds when benchmark docs precede the corpus they screen.
    *
    * Plan shape: base contributes one skinny DISTINCT-md5 column scan
    * (no text crosses the join); the new side carries flags + hash
    * through one window shuffle; everything else rides the batch
    * ledger's shape.
    */
  def provenanceIncrLedger(newDocs: DataFrame,
                           base: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val t = TextStats.tokens(col("text"))
    val nb = newDocs.select(
      col("doc_id"),
      col("text").isNull.as("unreadable"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      md5(col("text")).as("h"))
    val baseH = base.filter(col("text").isNotNull)
      .select(md5(col("text")).as("h")).distinct()
      .withColumn("in_base", lit(true))
    val withDup = nb.join(baseH, Seq("h"), "left")
      .withColumn("batch_canonical",
        when(col("h").isNotNull,
          min(col("doc_id")).over(W.partitionBy(col("h")))))
    val contamIds = TextStats.contamination(
        newDocs.filter(col("doc_id") % 100 =!= 0),
        base.unionByName(newDocs).filter(col("doc_id") % 100 === 0),
        n = 3, minShared = 2)
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val verdict =
      when(col("unreadable"), lit("unreadable"))
        .when(col("doc_id") % 100 === 0, lit("heldout_benchmark"))
        .when(col("n_tokens") < 20, lit("too_short"))
        .when(col("n_distinct") * 10 < col("n_tokens") * 3,
          lit("low_diversity"))
        .when(coalesce(col("in_base"), lit(false)) ||
          col("doc_id") =!= col("batch_canonical"), lit("duplicate"))
        .when(coalesce(col("contaminated"), lit(false)),
          lit("contaminated"))
        .otherwise(lit("kept"))
    val stageOf = Seq("unreadable", "heldout_benchmark", "too_short",
      "low_diversity", "duplicate", "contaminated", "kept")
    withDup.join(contamIds, Seq("doc_id"), "left")
      .withColumn("verdict", verdict)
      .withColumn("stage",
        stageOf.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (v, i)) =>
          when(col("verdict") === v, lit(i.toLong)).otherwise(acc)
        })
      .select(col("doc_id"), col("stage"), col("verdict"))
  }

  /** [[provenanceIncrLedger]] on the lake's 1/3–2/3 arrival split
    * (doc_id % 3 = 1 plays the arriving batch).
    */
  def provenanceIncr(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    provenanceIncrLedger(
        all.filter(col("doc_id") % 3 === 1),
        all.filter(col("doc_id") % 3 =!= 1))
      .orderBy("doc_id")
  }

  /** The curation FUNNEL over the provenance ledger: per stage, how
    * many docs and how much token volume the gate removed (kept = the
    * surviving training set) — the one-page dashboard a corpus owner
    * reads before spending GPU-hours. Pure aggregation over
    * [[provenance]] joined back to per-doc token counts; inherits the
    * ledger's plan (the join adds one map-side-pruned pass over
    * documents for the token counts).
    */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    provLedgerFrame(s, d).join(toks, Seq("doc_id"))
      .groupBy("stage", "verdict")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "unreadable", lit(0L))
          .otherwise(col("n_tokens"))).as("n_tokens"))
      .orderBy("stage")
  }

  /** The funnel CUT BY SOURCE — which feed loses how many docs and
    * tokens at which gate: the dashboard that reallocates the
    * curation budget (a source bleeding at the quality gate needs a
    * cleaner upstream; one bleeding at contamination needs its
    * crawler's benchmark filter fixed). Same one-definition ledger,
    * one more grouping key; the source column joins in on doc_id
    * alongside the token counts (one extra pruned pass, no new
    * shuffle shape).
    */
  def funnelBySource(s: SparkSession, d: String): DataFrame = {
    val meta = docs(s, d).select(col("doc_id"), col("source"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    provLedgerFrame(s, d).join(meta, Seq("doc_id"))
      .groupBy("source", "stage", "verdict")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "unreadable", lit(0L))
          .otherwise(col("n_tokens"))).as("n_tokens"))
      .orderBy("source", "stage")
  }

  def langId(s: SparkSession, d: String): DataFrame =
    TextStats.languageId(docs(s, d)).orderBy("doc_id")

  def textQuality(s: SparkSession, d: String): DataFrame =
    TextStats.quality(docs(s, d)).orderBy("doc_id")

  def tokenCounts(s: SparkSession, d: String): DataFrame =
    TextStats.tokenCounts(docs(s, d)).orderBy("doc_id")

  def fingerprint(s: SparkSession, d: String): DataFrame =
    TextStats.fingerprint(docs(s, d)).orderBy("doc_id")

  /** Context-window chunking: 32-token windows advancing by 24
    * (8-token overlap), final short window kept.
    */
  def chunks(s: SparkSession, d: String): DataFrame =
    TextStats.chunk(docs(s, d), chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"), col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")

  /** Sequence packing over the chunk stream: every chunk stamped with
    * its global token start offset and the 512-token training sequence
    * it opens in ([[Pack.packSequences]] — distributed weighted
    * prefix sum, no single-partition stage).
    */
  /** Per-source exact-dup rates — the curation dashboard that decides
    * WHERE the dedup budget goes: a source with high dup_ppm gets the
    * aggressive near-dup pass, a clean one may skip it. Two-phase
    * count-distinct per group (map-side partials), one row per source.
    */
  def dupBySource(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      .withColumn("dup_ppm",
        expr("(n_docs - n_distinct) * 1000000 DIV n_docs"))
      .orderBy("source")

  /** Cross-source duplication matrix over the SHARED MinHash pair
    * list: how many near-dup pairs land within each unordered source
    * pair (diagonal = within-source redundancy, off-diagonal = source
    * A republishing source B) with an exact ppm share of all pairs —
    * the dashboard that decides which source INTERSECTIONS get the
    * dedup budget, not just which sources ([[dupBySource]]). Reads the
    * memoized candidate pairs; the source lookup is two skinny
    * id→source joins and one tiny matrix aggregation.
    */
  /** The (src_lo, src_hi, n_pairs) overlap matrix — grouped to the
    * tiny K²-bounded matrix FIRST (Spark gives no exchange reuse
    * across subtrees, the minhashEstimate lesson), and memoized: BOTH
    * q_source_overlap and q_source_lift label the same near-dup pair
    * list with sources, so the two id->source joins over the pair
    * list run once per session.
    */
  private def srcOverlapMatrix(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "src_matrix") {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      mhPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), "doc_b")
        .select(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .groupBy("src_lo", "src_hi")
        .agg(count(lit(1)).as("n_pairs"))
    }

  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val matrix = srcOverlapMatrix(s, d)
    val total = broadcast(
      matrix.agg(coalesce(sum(col("n_pairs")), lit(0L)).as("total_pairs")))
    matrix
      .crossJoin(total)
      .withColumn("share_ppm", expr("n_pairs * 1000000 DIV total_pairs"))
      .select("src_lo", "src_hi", "n_pairs", "total_pairs", "share_ppm")
      .orderBy("src_lo", "src_hi")
  }

  /** [[sourceOverlap]] with the size-baseline correction — dup LIFT:
    * observed pair share divided by the share expected if near-dup
    * pairs fell uniformly over all document pairs (possible pairs
    * within (a,b): n_a·n_b off-diagonal, n_a·(n_a−1)/2 diagonal).
    * A big source pair always tops the raw matrix just by being big;
    * lift > 1e6 ppm is the ACTUAL signal that two sources duplicate
    * each other beyond chance. Exact integer end to end: the lift
    * cross-multiplication routes through DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) before one integral division; the possible-pair
    * counts themselves are BIGINT, which bounds the exact-math
    * headroom at ~4e9 documents (N·(N−1)/2 overflow) — past that the
    * totals need the same DECIMAL widening.
    */
  def sourceLift(s: SparkSession, d: String): DataFrame = {
    val sizes = docs(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val nTot = broadcast(sizes.agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("n_total")))
    sourceOverlap(s, d)
      .join(broadcast(sizes.select(col("source").as("src_lo"),
        col("n_docs").as("n_lo"))), "src_lo")
      .join(broadcast(sizes.select(col("source").as("src_hi"),
        col("n_docs").as("n_hi"))), "src_hi")
      .crossJoin(nTot)
      .withColumn("possible_ab",
        when(col("src_lo") === col("src_hi"),
          expr("n_lo * (n_lo - 1) DIV 2"))
          .otherwise(col("n_lo") * col("n_hi")))
      .withColumn("possible_tot", expr("n_total * (n_total - 1) DIV 2"))
      .withColumn("lift_ppm",
        expr("""CAST(CAST(n_pairs AS DECIMAL(38,0)) * possible_tot * 1000000
               |  DIV (CAST(total_pairs AS DECIMAL(38,0)) * possible_ab)
               |  AS BIGINT)""".stripMargin))
      .select("src_lo", "src_hi", "n_pairs", "n_lo", "n_hi",
        "possible_ab", "lift_ppm")
      .orderBy("src_lo", "src_hi")
  }

  /** The (chunkSize 32, stride 24, budget 512) packed-sequence frame
    * BOTH q_pack and q_pack_mix read — identical chunk + prefix-sum
    * packing config, so the chunk explode and the two-job packing
    * scan run once per session (FrameMemo discipline), not once per
    * consumer. Footprint: chunk-level (one row per ~24 tokens, six
    * long columns — the largest resident shared frame; a long-lived
    * deployment would persist it via ArtifactStore instead of holding
    * it hot).
    */
  private def packedSeqs(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "packed32") {
      Pack.packSequences(
        TextStats.chunk(docs(s, d), chunkSize = 32, stride = 24)
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            col("n_tokens").cast("long").as("n_tokens")),
        budget = 512L)
    }

  /** Per-sequence packing mix over the SAME chunk/pack config as
    * [[pack]]: how many chunks and how many DISTINCT documents blend
    * into each fixed-budget training sequence (the cross-document
    * attention-contamination exposure), plus the used span (straddling
    * chunks run past the budget by design — start-offset semantics).
    */
  def packMix(s: SparkSession, d: String): DataFrame =
    packedSeqs(s, d)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("seq_offset")).as("first_offset"),
        max(col("seq_offset") + col("n_tokens")).as("used_span"))
      .orderBy("seq_id")

  def pack(s: SparkSession, d: String): DataFrame =
    packedSeqs(s, d)
      .select("doc_id", "chunk_idx", "n_tokens", "tok_start", "seq_id", "seq_offset")
      .orderBy("doc_id", "chunk_idx")

  /** PII scrub: the synthetic corpus has no PII, so the query plants a
    * deterministic email/phone/id preamble (a pure function of doc_id,
    * identical in the oracle) and proves the redaction fires: every
    * row must come back changed, with the planted tokens gone.
    */
  def scrub(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        TextStats.scrub(concat(
          lit("contact user"), col("doc_id"), lit("@example.com  tel 555-123-4567 acct 90010000"),
          col("doc_id"), lit(" "), col("text"))).as("clean_text"))
      .withColumn("redacted",
        col("clean_text").contains("<EMAIL>") &&
          col("clean_text").contains("<PHONE>") && col("clean_text").contains("<ID>"))
      .orderBy("doc_id")

  /** Compact media-meta decode over the REAL mixed container lake
    * ([[Multimodal.decodeMedia]] over the shared `media_payloads`
    * write — genuine RIFF/WAVE, genuine 24-bpp BMP, raw text): the
    * four-column (n_bytes, width, height, n_frames) shape a routing
    * pass keeps per payload. The oracle recomputes each analytically —
    * an image is 1 frame with its real header dims, an audio clip's
    * frames are its PCM sample frames, raw text is bytes-only — so the
    * dispatcher's modality folding sits under the hash gate on real
    * containers (the stub codec this query once rode is deleted).
    */
  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeMeta(mediaPayloads(s, d), "payload")
      .select("doc_id", "n_bytes", "width", "height", "n_frames")
      .orderBy("doc_id")

  /** REAL frame sampling under the hash gate (the sampled-featurization
    * input shape: decode every k-th frame of every clip, skip the
    * rest): token-derived samples become a genuine 16-bit WAV, the
    * decoder walks its REAL 16-sample frames and keeps every 7th with
    * exact integer energy and peak computed from the container bytes
    * ([[Multimodal.synthWavSampleFrames]]). The oracle recomputes every
    * kept frame's measurements from the same token hashes, so a frame
    * boundary, sampling stride, or sample-decode bug breaks the hash —
    * the row-explosion path runs on real bytes end to end (the
    * synthetic-geometry explosion it replaces is deleted).
    */
  def frameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.synthWavSampleFrames(
        docs(s, d).select(col("doc_id"), tokenSamples.as("samples")),
        "samples", frameLen = 16, everyK = 7)
      .select("doc_id", "frame_idx", "frame_n", "frame_energy",
        "frame_peak")
      .orderBy("doc_id", "frame_idx")

  /** REAL-codec audio audit under the hash gate: token-derived 16-bit
    * samples (expression-level, so the oracle can reproduce them) are
    * written into a genuine RIFF/WAVE binary and REALLY parsed back
    * sample-by-sample per partition ([[Multimodal.synthWavStats]] →
    * [[Multimodal.decodePcmStats]]). The DuckDB side computes the
    * expected peak/RMS/DC/clip/silence analytically from the same
    * token hashes, so a header-layout or sample-math bug in either the
    * writer or the parser breaks the hash — the binary codec path
    * itself sits under the oracle gate, not just its plumbing.
    */
  /** Token-derived 16-bit PCM samples — the oracle-reproducible
    * waveform both audio queries synthesize before the REAL
    * write→parse round-trip.
    */
  private def tokenSamples = graft.functions.TokenSamples(col("text"))

  def audioStats(s: SparkSession, d: String): DataFrame =
    Multimodal.synthWavStats(
        docs(s, d).select(col("doc_id"), tokenSamples.as("samples")),
        "samples")
      .drop("samples")
      .orderBy("doc_id")

  /** Frame-energy / voice-activity audit through the same REAL
    * write→parse path ([[Multimodal.decodePcmFrames]], 16-sample
    * frames): voiced-frame counts and the longest voiced run, which
    * the sequential decode pass computes for free while the DuckDB
    * oracle needs a two-window islands computation over the frame
    * table to reproduce — the audit that decides which clips are
    * silence-heavy enough to drop.
    */
  def audioVad(s: SparkSession, d: String): DataFrame =
    Multimodal.synthWavFrames(
        docs(s, d).select(col("doc_id"), tokenSamples.as("samples")),
        "samples", frameLen = 16)
      .drop("samples")
      .orderBy("doc_id")

  /** Mixed-corpus REAL-decoder dispatch under the hash gate: each doc
    * becomes one of three payloads by `doc_id % 3` — a genuine RIFF/
    * WAVE (token samples), a genuine 24-bpp BMP (token pixels), or raw
    * UTF-8 text — and [[Multimodal.sniffMedia]] must route each to the
    * matching REAL parser by magic bytes alone (no sel column reaches
    * the decoder). The oracle recomputes kind, exact container byte
    * length (44+2n WAV; 54+padded-stride BMP; octet length raw), and
    * the per-kind fields analytically, so a sniff misroute, container
    * layout drift, or header-parse bug all hash-mismatch. This is the
    * entry-point audit for the "media lake with mixed junk" shape —
    * unknowns surface as rows, never crashes.
    */
  /** The mixed synthetic media lake (doc_id, payload) both sniff
    * queries read — one container-write materialization per session,
    * the same memo discipline as the dedup/ANN indexes (a real lake is
    * written once too).
    */
  private def mediaPayloads(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "media_payloads") {
      val base = docs(s, d).select(col("doc_id"),
        (col("doc_id") % 3).cast("int").as("sel"),
        tokenSamples.as("samples"),
        graft.functions.TokenPixels(col("text")).as("pixels"),
        col("text"))
      Multimodal.synthMedia(base, "sel", "samples", "pixels", "text")
        .select("doc_id", "payload")
        .localCheckpoint()
    }

  def mediaSniff(s: SparkSession, d: String): DataFrame =
    Multimodal.sniffMeta(mediaPayloads(s, d), "payload")
      .select("doc_id", "kind", "n_bytes", "width", "height",
        "sample_rate", "n_samples", "duration_ms")
      .orderBy("doc_id")

  /** Routing census over the mixed lake through the CODEGEN'D tier
    * ([[graft.functions.SniffKind]] — header magic only, no parse):
    * per kind, payload count and total bytes — the split a pipeline
    * plans its modality-specific passes from, and the expression's own
    * oracle gate (q_media_sniff gates the decode tier; THIS gates the
    * router, including its null propagation, against the analytically
    * recomputed kinds and container sizes).
    */
  def mediaRoute(s: SparkSession, d: String): DataFrame =
    mediaPayloads(s, d)
      .groupBy(graft.functions.SniffKind(col("payload")).as("kind"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(length(col("payload")).cast("long")).as("total_bytes"))
      .orderBy("kind")

  /** REAL-codec video-container audit under the hash gate —
    * [[audioStats]]/[[imageStats]]'s video twin, closing the last
    * synthetic data path in the multimodal surface: expression-level
    * container parameters (timescale, duration, track count, display
    * dims, major brand — all doc_id/token-derived so DuckDB can
    * recompute them) are written into a genuine ISO-BMFF box tree
    * ([[Multimodal.mp4Bytes]]) and REALLY box-walked back
    * ([[Multimodal.decodeMp4]]). The sound tracks are written BEFORE
    * the video track with zero tkhd dims, so the parser's
    * skip-zero-dim-tracks rule is itself gated. The oracle recomputes
    * the exact container byte length (132 + 100·tracks), the
    * floor-divided duration_ms, and every surfaced field analytically
    * — a box-layout or fixed-point bug in writer OR parser breaks the
    * hash.
    */
  def videoMeta(s: SparkSession, d: String): DataFrame = {
    val ntok = size(filter(split(col("text"), " "),
      t => length(t) > lit(0)))
    val base = docs(s, d).select(col("doc_id"),
      (lit(600) * (lit(1) + col("doc_id") % 4)).cast("int").as("ts"),
      (ntok * 400).cast("long").as("dur"),
      (lit(1) + col("doc_id") % 3).cast("int").as("ntr"),
      (lit(16) * (lit(1) + col("doc_id") % 40)).cast("int").as("w"),
      (lit(16) * (lit(1) + col("doc_id") % 30)).cast("int").as("h"),
      when(col("text").isNull, lit(null).cast("string"))
        .otherwise(element_at(
          array(lit("isom"), lit("mp42"), lit("avc1")),
          (col("doc_id") % 3 + 1).cast("int"))).as("brand"))
    Multimodal.synthMp4Meta(base, "ts", "dur", "ntr", "w", "h", "brand")
      .select("doc_id", "n_bytes", "major_brand", "timescale",
        "duration_ms", "n_tracks", "width", "height", "container")
      .orderBy("doc_id")
  }

  /** REAL-codec image audit under the hash gate ([[audioStats]]'s
    * image twin): token-derived `0xRRGGBB` pixels become a genuine
    * 24-bpp BMP and are REALLY pixel-decoded back through `ImageIO`
    * ([[Multimodal.synthBmpStats]] → [[Multimodal.decodeImagePixels]])
    * — channel means and the Rec.709 dark-pixel ratio, with the
    * oracle computing the expectation analytically from the same
    * token hashes. A BMP-layout or pixel-read bug breaks the hash.
    */
  def imageStats(s: SparkSession, d: String): DataFrame =
    Multimodal.synthBmpStats(
        docs(s, d).select(col("doc_id"),
          graft.functions.TokenPixels(col("text")).as("pixels")), "pixels")
      .drop("pixels")
      .orderBy("doc_id")

  /** Collocations ([[TextStats.collocations]]): top-20 bigrams by the
    * exact integer PMI lift at min count 5 — the association table a
    * phrase vocabulary or merge-seed list starts from.
    */
  def collocationsQ(s: SparkSession, d: String): DataFrame =
    TextStats.collocations(docs(s, d), minCount = 5L, k = 20)

  /** Count–min sketch heavy hitters ([[Sketch.cmsHeavyHitters]]): the
    * top-20 tokens by 4×1024 CMS estimate with the exact count and
    * collision overcount alongside — the audit that sizes the sketch
    * before the exact vocabulary aggregation is retired at 100 TB.
    */
  def cmsTopK(s: SparkSession, d: String): DataFrame =
    Sketch.cmsHeavyHitters(docs(s, d), depth = 4, width = 1024, k = 20)

  /** Mergeable HyperLogLog distinct-cardinality audit
    * ([[Sketch.hllRegisters]]): per-source 64-register sketches over
    * the 5-gram shingle space, max-MERGED into the corpus-wide sketch
    * without touching the corpus again — the lake discipline where
    * each shard/day/source publishes its register table and any union
    * is a 64-row max. Every estimate is integer-exact (bigint shifts
    * over a common 2^41 denominator, one DECIMAL(38,0) truncating
    * division, ppm-pinned alpha) so the whole table — including the
    * merged `ALL` row — sits under the hash gate; the exact distinct
    * count and signed error ppm ride alongside as the audit that says
    * whether 64 cells are enough before exact count-distinct is
    * retired at 100 TB. `zero_regs` marks when the raw estimator
    * leaves its calibrated range (the linear-counting zone).
    */
  def hllSources(s: SparkSession, d: String): DataFrame = {
    // the shared gram memo feeds the register build AND the exact
    // audit (per-source and global)
    val grams = grams5(s, d)
    val perSrc = Sketch.hllRegisters(grams, "g", b = 6, Seq("source"))
      .localCheckpoint() // <= sources*64 rows; feeds estimates AND the merge
    val merged = Sketch.hllMerge(perSrc)
    val est = Sketch.hllEstimate(perSrc, b = 6, Seq("source"))
      .unionByName(Sketch.hllEstimate(merged, b = 6)
        .withColumn("source", lit("ALL")).select("source", "zero_regs", "est"))
    val exact = grams.groupBy("source")
      .agg(count_distinct(col("g")).as("n_exact"))
      .unionByName(grams.agg(count_distinct(col("g")).as("n_exact"))
        .withColumn("source", lit("ALL")).select("source", "n_exact"))
    // signed error in ppm, truncated TOWARD ZERO on both engines: Spark
    // `div` truncates but DuckDB `//` floors, so the negative branch
    // routes through the positive division and negates
    est.join(exact, Seq("source"))
      .withColumn("err_ppm",
        when(col("est") >= col("n_exact"),
          expr("CAST(CAST(est - n_exact AS DECIMAL(38,0)) * 1000000" +
            " div nullif(n_exact, 0) AS BIGINT)"))
          .otherwise(-expr("CAST(CAST(n_exact - est AS DECIMAL(38,0)) * 1000000" +
            " div nullif(n_exact, 0) AS BIGINT)")))
      .select("source", "n_exact", "zero_regs", "est", "err_ppm")
      .orderBy("source")
  }

  /** Length-bucket padding-waste audit ([[Pack.paddingWaste]]): the
    * table that picks bucketed-batching boundaries — per bucket, how
    * many token slots padding would burn; over-long docs land in the
    * overflow row (they get chunked, not padded).
    */
  def padWaste(s: SparkSession, d: String): DataFrame =
    Pack.paddingWaste(docs(s, d), Seq(32, 64, 128))

  /** Benford first-digit audit ([[Profile.benford]]) over extended
    * prices — the forensic tripwire that flags fabricated or
    * truncated numeric feeds by their leading-digit distribution.
    */
  def benfordQ(s: SparkSession, d: String): DataFrame =
    Profile.benford(Tables.lineitem(s, d), col("l_extendedprice"))

  /** Blocked record linkage ([[Dedup.blockedLinkage]]) over the
    * customer dimension, blocked by nation: the near-identical-name
    * pair table an entity-resolution pass reviews. Synthetic
    * `Customer#NNNNNNNNN` names make edit distance = differing digit
    * positions — dense enough to exercise the whole pair pipeline.
    */
  def recordLinkageQ(s: SparkSession, d: String): DataFrame =
    Dedup.blockedLinkage(Tables.customer(s, d), "c_nationkey", "c_custkey",
        "c_name", maxDist = 2)
      // truncate before the global sort: orderBy's range-sampling pass
      // would otherwise re-execute the whole pair evaluation
      .localCheckpoint()
      .orderBy("block", "id_a", "id_b")

  /** k-anonymity / l-diversity audit ([[Profile.kAnonymity]]) of the
    * customer dimension under the (nation, segment) quasi-identifier
    * with the account balance (bucketed to thousands) sensitive:
    * which quasi-groups are too small to release, and which are
    * k-anonymous yet sensitive-homogeneous.
    */
  def kAnonymityQ(s: SparkSession, d: String): DataFrame =
    Profile.kAnonymity(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"), k = 10L, l = 3L)
      .orderBy("c_nationkey", "c_mktsegment")

  /** t-closeness / entropy-l-diversity audit ([[Profile.tCloseness]])
    * over the same quasi-identifier + bucketed-balance frame as
    * q_k_anonymity — the distributional release gates the count forms
    * miss (skewed-but-l-distinct groups; groups whose balance profile
    * deviates from the global one by more than t). Completes the
    * privacy battery: k (size), count-l (distinct), entropy-l
    * (skew-proof diversity), t (closeness to the global distribution).
    */
  def tClosenessQ(s: SparkSession, d: String): DataFrame =
    Profile.tCloseness(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"),
        tPpm = 100000L, lMin = 5L)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Robust per-type outlier census ([[Profile.madOutliers]]) over the
    * event value feed: median/MAD z-score at the standard 3σ-equivalent
    * cut — the numeric-feed anomaly table that the mean/stddev rule
    * gets wrong exactly when it matters.
    */
  def madOutliersQ(s: SparkSession, d: String): DataFrame =
    Profile.madOutliers(Tables.events(s, d), "value", "event_type", "event_id")
      .withColumnRenamed("grp", "event_type")
      .orderBy("event_type")

  /** Pairwise functional-dependency discovery
    * ([[Profile.functionalDependencies]]) over the customer
    * dimension: which columns determine which — the candidate-key /
    * embedded-dimension map read before modeling a new source.
    * `c_custkey → *` holds (it is the key); nothing determines it
    * back.
    */
  def fdDiscovery(s: SparkSession, d: String): DataFrame =
    Profile.functionalDependencies(Tables.customer(s, d),
      Seq("c_custkey", "c_nationkey", "c_mktsegment"))
      .orderBy("det", "dep")

  /** Shared 5-gram shingle explosion (source, gram) — materialized
    * once per (session, dataset) and reused by every shingle-sketch
    * consumer (HLL registers, KMV sketches, their exact audits): the
    * same memo discipline as the dedup graph, because the gram
    * explosion is the corpus-sized cost these sketches exist to pay
    * only once.
    */
  private def grams5(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "grams5")(
      docs(s, d).select(col("source"),
        explode(graft.functions.WordNgrams(TextStats.tokens(col("text")), 5))
          .as("g")))

  /** Two-level tamper-evident hash chain over the event log
    * ([[Profile.hashChain]]): per event-type, rows chain within
    * 500-sequence segments and segment digests chain into the type's
    * head — the ledger audit where ANY edit/drop/insert/reorder moves
    * the head. Segment-bounded state at 100 TB; verification re-reads
    * one segment, not the log.
    */
  def hashChainQ(s: SparkSession, d: String): DataFrame =
    Profile.hashChain(Tables.events(s, d), "event_type", "event_id",
      Seq("user_id", "props"), segmentLen = 500L)
      .orderBy("grp", "seg")

  /** Pairwise distinct-shingle overlap between sources from KMV
    * bottom-k sketches alone ([[Sketch.kmvSketch]] /
    * [[Sketch.kmvPairOverlap]]): union, Jaccard, and INTERSECTION
    * estimates per source pair — the set algebra HLL cannot do
    * (registers union but never intersect) — with the exact
    * intersection alongside as the audit. The sketch build's shuffle
    * payload is sources × k longs (bounded [[graft.functions.BottomK]]
    * partials), never the distinct shingle space; the pair math is
    * codegen'd array expressions over a broadcast triangular join.
    */
  def kmvOverlap(s: SparkSession, d: String): DataFrame = {
    val grams = grams5(s, d) // shared memo: sketch build + exact audit
    // the sketch table is sources × (k+1) longs; checkpoint it so the
    // triangular pair join reads the materialized rows instead of each
    // side re-running the BottomK aggregation over the whole gram memo
    // (the before-plan showed two full md5+BottomK passes)
    val sk = Sketch.kmvSketch(grams, "g", k = 64, Seq("source"))
      .localCheckpoint()
    val est = Sketch.kmvPairOverlap(sk, "source", k = 64)
    // exact intersections in ONE gram pass (was: the distinct (source,
    // gram) frame computed twice and self-joined on the gram): per
    // gram, the sorted DISTINCT source set (collect_set dedups and the
    // source count is tiny), exploded into its a<b pairs — each
    // co-occurring gram contributes exactly the pairs the old join
    // emitted, with no second distinct pass and no sort-merge join
    val ex = grams.filter(col("g").isNotNull && col("source").isNotNull)
      .groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (x, i) =>
          transform(slice(col("ss"), i + lit(2), size(col("ss"))),
            y => struct(x.as("src_a"), y.as("src_b"))))))
        .as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_inter_exact"))
    est.join(ex, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
      .orderBy("src_a", "src_b")
  }

  /** CCNet-shaped line-level boilerplate removal
    * ([[TextStats.removeBoilerplateLines]]): lines occurring in >= 2
    * distinct documents are dropped from every document — the
    * header/footer/cookie-banner cleanup that runs before any
    * doc-level dedup. Document text never shuffles: fixed-width line
    * hashes count, the (small) common set broadcasts, and skinny
    * per-doc position arrays join back to the corpus scan.
    */
  def boilerplate(s: SparkSession, d: String): DataFrame =
    TextStats.removeBoilerplateLines(docs(s, d), minDocs = 2)
      .orderBy("doc_id")

  /** Leading principal axis of the embedding lake
    * ([[Spectral.topComponent]]): the exact centered Gram matrix —
    * built by ONE map-side-combining fold, shuffle payload =
    * partitions × d² cells, never the vectors — then three rounds of
    * integer power iteration on the collected d×d matrix (d² values,
    * corpus-size independent). Every quantity is integer-exact
    * (micro-quantized inputs, truncated means, truncating
    * renormalization), so the ITERATIVE eigen-trajectory itself sits
    * under the hash gate through unrolled oracle CTEs — the drift
    * axis / anisotropy probe an embedding pipeline tracks next to its
    * mean.
    */
  /** Shared centered Gram matrix of the embedding lake — one
    * materialization serving every spectral consumer (the power
    * iteration and the all-but-the-top correction).
    */
  private def gramFrame(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "gram_emb")(Spectral.gramMatrix(embs(s, d)))

  def pcaPower(s: SparkSession, d: String): DataFrame =
    Spectral.topComponentFromGram(gramFrame(s, d), iters = 3)

  /** All-but-the-top isotropy correction (Mu & Viswanath ICLR'18)
    * composing the shared Gram: per vector, the projection onto the
    * leading axis and the squared norm before/after removing mean +
    * top component — μ, the axis, and x·x ride the plan as literals,
    * so the per-vector pass is a pure codegen'd projection (no join,
    * no shuffle, streaming-safe).
    */
  def abtt(s: SparkSession, d: String): DataFrame =
    Spectral.removeTopComponent(embs(s, d), gramFrame(s, d), iters = 3)
      .orderBy("vec_id")

  /** Heaps'-law vocabulary growth ([[TextStats.vocabGrowth]]): per
    * corpus decile, token volume, NEW vocabulary, and the cumulative
    * type/token curve — is this corpus still buying coverage, or just
    * tokens?
    */
  def vocabGrowthQ(s: SparkSession, d: String): DataFrame =
    TextStats.vocabGrowth(docs(s, d), buckets = 10,
      sharedTf = Some(docTf(s, d)))

  /** Interval-interval overlap join ([[Skew.binnedIntervalJoin]]):
    * two large interval sets derived from the event stream (3 s
    * windows on one side, 4.5 s on the other, integer milliseconds)
    * meet by bin equi-join — never a nested loop — and each left
    * interval reports its overlap census. The attribution shape:
    * "which campaign windows did each outage window touch".
    */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), floor(col("value") * 1000).cast("long").as("lo"))
    val l = ev.filter(col("event_id") % 17 === 0)
      .select(col("event_id").as("l_id"), col("lo").as("l_lo"),
        (col("lo") + 3000L).as("l_hi"))
    val r = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("r_id"), col("lo").as("r_lo"),
        (col("lo") + 4500L).as("r_hi"))
    Skew.binnedIntervalJoin(l, "l_lo", "l_hi", r, "r_lo", "r_hi", 4000L)
      .groupBy("l_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("l_hi"), col("r_hi")) - greatest(col("l_lo"), col("r_lo")))
          .as("sum_overlap"),
        min("r_id").as("first_r"), max("r_id").as("last_r"))
      .orderBy("l_id")
  }

  /** The same interval-overlap aggregation written as a PLAIN theta
    * join and auto-binned by [[graft.plans.BinnedRangeJoinRule]]'s
    * two-sided path (both sides explode, first-shared-bin dedup) —
    * the optimizer-rule twin of `q_interval_join`, same DuckDB
    * oracle. Conf scoping as in [[rangeJoinAuto]].
    */
  def intervalJoinAuto(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), floor(col("value") * 1000).cast("long").as("lo"))
    val l = ev.filter(col("event_id") % 17 === 0)
      .select(col("event_id").as("l_id"), col("lo").as("l_lo"),
        (col("lo") + 3000L).as("l_hi"))
    val r = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("r_id"), col("lo").as("r_lo"),
        (col("lo") + 4500L).as("r_hi"))
    val theta = l.join(r, col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .groupBy("l_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("l_hi"), col("r_hi")) - greatest(col("l_lo"), col("r_lo")))
          .as("sum_overlap"),
        min("r_id").as("first_r"), max("r_id").as("last_r"))
      .orderBy("l_id")
    // auto width + thread-scoped conf, as in [[rangeJoinAuto]]: the
    // rule samples BOTH interval sides' p95 spans and bins at the max
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      org.apache.spark.sql.GraftSqlShim.withConfString(s,
        "spark.graft.rangeJoin.binWidth", "auto") {
        theta.queryExecution.optimizedPlan
      })
  }

  /** Training-shard manifest ([[Sampling.shardManifest]]): per shard,
    * doc/token counts and the order-free dual content checksum — the
    * record a data release ships so training runs can verify their
    * input without a second corpus read.
    */
  def shardManifestQ(s: SparkSession, d: String): DataFrame =
    Sampling.shardManifest(docs(s, d), "doc_id", "text", numShards = 8)
      .orderBy("shard")

  /** Corpus diversity (Distinct-n, Zhu et al. SIGIR'18) over word
    * 1/2/3-grams: total vs distinct vs cross-doc-shared n-grams with
    * exact ppm ratios — the repetitiveness dashboard that says when a
    * dedup pass pays for itself.
    */
  def ngramDiversity(s: SparkSession, d: String): DataFrame =
    TextStats.distinctNgramStats(docs(s, d), maxN = 3).orderBy("n")

  /** Z-order clustering effectiveness audit ([[Layout.zorderReport]])
    * over the lake's classic two-dimension access pattern
    * (part, supplier): every lineitem row lands in one of 64 files by
    * Morton-key prefix and the report shows each file's min/max
    * envelope on BOTH raw dims with exact ppm spans — the file-stats
    * tightness that decides multi-dim scan pruning at 100 TB. Exact
    * integer scaling/interleave on both engines.
    */
  /** Column-encoding advisor — the storage-layer sibling of the
    * layout reports: per audited column, exact distinct count, run
    * structure IN THE LAKE'S SORT ORDER (rows bucketed into 64
    * order-key "files", runs counted per file so no global sort
    * anywhere — at scale runs are a per-file property, which is
    * exactly how an encoder sees them), and the encoding verdict a
    * columnar writer would pick: `dictionary` when distinct ≤ 5% of
    * rows, else `rle` when the mean run ≥ 4 rows, else `plain`.
    * Numeric columns audit through exact BIGINT casts; run detection
    * compares string-normalized values so one unpivoted (column,
    * value) stream serves every audited column with ONE (col, file)-
    * keyed exchange.
    */
  def encodingAdvisorQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val nFiles = 64
    val maxKey = maxOrderKey(s, d)
    val fileOf = expr(s"l_orderkey * $nFiles div ${maxKey + 1}")
    val audited = Seq(
      "l_returnflag" -> col("l_returnflag"),
      "l_linestatus" -> col("l_linestatus"),
      "l_partkey" -> col("l_partkey").cast("string"),
      "l_suppkey" -> col("l_suppkey").cast("string"),
      "l_quantity" -> col("l_quantity").cast("long").cast("string"))
    // the unpivoted stream carries a TINYINT column index, not the
    // column-name string: the name was both the leading sort key and
    // ~20 bytes of every one of the 5N exchanged rows (guide §2.3 —
    // narrower types, project before the exchange); the index maps
    // back to the name on the 5-row aggregate, and partitioning /
    // grouping by index is the same grouping (bijective)
    val withVals = li.select(
      (Seq(fileOf.as("file_id"), col("l_orderkey"), col("l_linenumber")) ++
        audited.zipWithIndex.map { case ((_, c), i) => c.as(s"c_$i") }): _*)
      .select(col("file_id"), col("l_orderkey"), col("l_linenumber"),
        expr("stack(" + audited.size + ", " +
          audited.zipWithIndex.map { case (_, i) => s"${i}Y, c_$i" }
            .mkString(", ") + ") AS (cidx, val)"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lake —
    // ties order by the value itself, which is deterministic per
    // column and matches how a writer lays out equal-key rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cidx", "file_id")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("val"))
    val nameOf = audited.map(_._1).zipWithIndex
      .map { case (n, i) => (i, n) }.toMap
    withVals
      .withColumn("chg",
        when(lag(col("val"), 1).over(w).isNull ||
          lag(col("val"), 1).over(w) =!= col("val"), 1L).otherwise(0L))
      .groupBy("cidx")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("val")).as("n_distinct"),
        sum(col("chg")).as("n_runs"))
      .withColumn("colname",
        element_at(typedlit(nameOf), col("cidx").cast("int")))
      .withColumn("avg_run_micro", expr("n * 1000000 div n_runs"))
      .withColumn("encoding",
        when(col("n_distinct") * 20 <= col("n"), lit("dictionary"))
          .when(col("avg_run_micro") >= 4000000L, lit("rle"))
          .otherwise(lit("plain")))
      .select("colname", "n", "n_distinct", "n_runs", "avg_run_micro",
        "encoding")
      .orderBy("colname")
  }

  /** Theil–Sen robust trend of daily event volume (Theil 1950 / Sen
    * JASA'68: the MEDIAN of all pairwise day-count slopes — one wild
    * day moves an OLS fit, it cannot move the median of 435 slopes;
    * the volume-drift detector that pairs with [[madOutliersQ]]'s
    * value-outlier census). Slopes in exact milli-events/day
    * (`(c_j−c_i)·1000 div (d_j−d_i)`, sign-split in the oracle), the
    * median an element PICK with deterministic tie order. Per type:
    * n_days, n_pairs, slope_milli, and the direction verdict.
    *
    * The day-count table is days × types rows BY CONSTRUCTION, so the
    * pair self-join and median window are bounded regardless of event
    * volume — the heavy lifting is the one partial-agged daily count.
    */
  def trendQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val daily = ev.select(col("event_type"),
        (AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("c").as("c2"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .withColumn("slope",
        expr("CASE WHEN c2 >= c1 THEN (c2 - c1) * 1000 div (d2 - d1) " +
          "ELSE -(((c1 - c2) * 1000) div (d2 - d1)) END"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("slope"), col("d1"), col("d2"))
    val pw = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(pw))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
        Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("np").as("n_pairs"),
        col("slope").as("slope_milli"),
        when(col("slope") > 0, lit("rising"))
          .when(col("slope") < 0, lit("falling"))
          .otherwise(lit("flat")).as("direction"))
      .orderBy("event_type")
  }

  /** Day-of-week seasonality profile — per event type, each weekday's
    * exact share ppm against the uniform 1/7 expectation and the
    * deviation ppm (the weekly-rhythm fingerprint: human-driven types
    * dip on weekends, machine-driven ones don't — a flat profile on a
    * supposedly human feed is a bot signature). Day-of-week from epoch
    * days (`(day + 4) % 7`, 1970-01-01 = Thursday); one daily
    * partial-agg, one 7×types-bounded rollup.
    */
  def seasonalityQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val base = ev.select(col("event_type"),
      pmod((AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long") + lit(4L), lit(7L)).as("dow"))
    val counts = base.groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("event_type").agg(sum(col("n")).as("total"))
    counts.join(broadcast(totals), Seq("event_type"))
      .withColumn("share_ppm", expr("n * 1000000 div total"))
      .withColumn("dev_ppm",
        expr("CASE WHEN n * 1000000 div total >= 142857 " +
          "THEN n * 1000000 div total - 142857 " +
          "ELSE -(142857 - n * 1000000 div total) END"))
      .select("event_type", "dow", "n", "share_ppm", "dev_ppm")
      .orderBy("event_type", "dow")
  }

  /** Per-file Bloom skipping audit — the third member of the
    * data-skipping family (zone maps: q_prune_audit; statistics:
    * q_selectivity): files clustered by ORDER KEY carry useless
    * l_partkey envelopes (the dimensions are uncorrelated, every
    * envelope spans the domain — zone maps cannot skip a point probe
    * here), but a tiny per-file Bloom filter (4096 bits, 3 md5-derived
    * hashes — engine-reproducible, unlike Spark's native binary
    * sketch) skips almost everything: per probe value, the files that
    * ACTUALLY contain it, the files the Bloom test hits, the files the
    * envelope test would read (all 64), and the false-positive ppm
    * over non-containing files. The table that justifies paying for
    * bloom indexes on high-cardinality point-lookup columns.
    *
    * Shape: (file, bit) membership is ONE distinct-agg over an
    * explode-by-k; probes are a broadcast literal; every comparison
    * is an equi-join on the bit id.
    */
  def bloomSkipQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = 4096L
    val k = 3
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey").as("v"))
    val maxKey = maxOrderKey(s, d)
    val rows = li.select(
      expr(s"l_orderkey * 64 div ${maxKey + 1}").as("file_id"), col("v"))
    def bit(j: Int, c: Column) = pmod(
      conv(substring(md5(concat(lit(s"bl$j:"), c.cast("string"))), 1, 6),
        16, 10).cast("long"), lit(m))
    val fileBits = rows.select(col("file_id"),
        explode(array((0 until k).map(j => bit(j, col("v"))): _*)).as("bit"))
      .distinct()
    // ONE zone pass, collected (bounded: ≤64 files by construction —
    // this is footer-statistics metadata, not data), then served to the
    // THREE consumers that each used to re-scan lineitem: the probe
    // domain (min vmin / max vmax ≡ min/max of v), the file count
    // (was a separate count() job), and the envelope test (64×5
    // comparisons, driver-side exactly like a scan planner pruning
    // against footer stats). Guide §1.2: 5 full scans + a count job →
    // 3 scans (bits, zones, actuals).
    val zonesLocal = rows.groupBy("file_id")
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .select(col("file_id").cast("long"), col("vmin").cast("long"),
        col("vmax").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nFiles = zonesLocal.length.toLong
    val amin = zonesLocal.map(_._2).min
    val amax = zonesLocal.map(_._3).max
    // pv = amin + (amax - amin) * num div den, exact integer arithmetic
    // (both operands non-negative, so Long / matches SQL div); the
    // envelope count per probe is computed here against the collected
    // zone table
    val probesLocal = Seq((0, 0L, 4L), (1, 1L, 4L), (2, 2L, 4L),
        (3, 3L, 4L), (4, 41L, 100L))
      .map { case (id, num, den) =>
        val pv = amin + (amax - amin) * num / den
        val zoneHit = zonesLocal.count(z => pv >= z._2 && pv <= z._3).toLong
        (id, pv, zoneHit)
      }
    val probes = probesLocal.toDF("probe_id", "pv", "files_zone_hit")
    val probeBits = probes.select(col("probe_id"), col("pv"),
        explode(array((0 until k).map(j => bit(j, col("pv"))): _*)).as("bit"))
      .distinct()
    val kd = probeBits.groupBy("probe_id", "pv")
      .agg(count(lit(1)).as("k_bits"))
    val bloomHits = fileBits.join(broadcast(probeBits), Seq("bit"))
      .groupBy("probe_id", "pv", "file_id").agg(count(lit(1)).as("nb"))
      .join(broadcast(kd), Seq("probe_id", "pv"))
      .filter(col("nb") === col("k_bits"))
      .groupBy("probe_id", "pv").agg(count(lit(1)).as("files_bloom_hit"))
    val actual = rows.join(broadcast(probes.select("probe_id", "pv")),
        col("v") === col("pv"))
      .groupBy("probe_id", "pv")
      .agg(countDistinct(col("file_id")).as("files_actual"))
    probes
      .join(actual, Seq("probe_id", "pv"), "left")
      .join(bloomHits, Seq("probe_id", "pv"), "left")
      .select(col("probe_id"), col("pv"), lit(nFiles).as("n_files"),
        coalesce(col("files_actual"), lit(0L)).as("files_actual"),
        coalesce(col("files_bloom_hit"), lit(0L)).as("files_bloom_hit"),
        col("files_zone_hit"))
      .withColumn("bloom_fp_ppm",
        when(col("n_files") > col("files_actual"),
          expr("(files_bloom_hit - files_actual) * 1000000 " +
            "div (n_files - files_actual)")).otherwise(lit(0L)))
      .orderBy("probe_id")
  }

  /** Histogram-selectivity quality audit — the optimizer-statistics
    * half of the scan-planning story (the layout reports ask "can we
    * skip files", this asks "how well would a 64-bucket equi-width
    * histogram have predicted the read"): per probe band, the
    * histogram ESTIMATE (full buckets inside + boundary buckets
    * prorated linearly, all integer arithmetic) against the ACTUAL
    * row count, with the signed error ppm a statistics-quality
    * dashboard tracks. Estimate reads the 64-row histogram only;
    * actuals are one broadcast range join — no per-probe rescans.
    */
  def selectivityQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select(col("l_partkey").as("v"))
    val dom = li.agg(min(col("v")).as("amin"), max(col("v")).as("amax"))
    val probes = Seq((0, 0, 1, 4), (1, 1, 2, 4), (2, 2, 3, 4), (3, 3, 4, 4),
        (4, 40, 41, 100))
      .toDF("probe_id", "lo_num", "hi_num", "den")
      .crossJoin(broadcast(dom))
      .select(col("probe_id"),
        expr("amin + (amax - amin) * lo_num div den").as("lo"),
        expr("amin + (amax - amin) * hi_num div den").as("hi"))
    val hist = li.crossJoin(broadcast(dom))
      .select(expr("(v - amin) * 64 div (amax - amin + 1)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_b"))
      .crossJoin(broadcast(dom))
      .select(col("bucket"), col("n_b"),
        expr("amin + (amax - amin + 1) * bucket div 64").as("blo"),
        expr("amin + (amax - amin + 1) * (bucket + 1) div 64 - 1").as("bhi"))
    val est = hist.crossJoin(broadcast(probes))
      .withColumn("ov",
        greatest(lit(0L), least(col("hi"), col("bhi")) -
          greatest(col("lo"), col("blo")) + 1L))
      .groupBy("probe_id", "lo", "hi")
      .agg(sum(expr("n_b * ov div (bhi - blo + 1)")).as("est_rows"))
    val actual = li.join(broadcast(probes),
        col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy("probe_id").agg(count(lit(1)).as("actual_rows"))
    est.join(actual, Seq("probe_id"))
      .withColumn("err_ppm",
        expr("(est_rows - actual_rows) * 1000000 div actual_rows"))
      .select("probe_id", "lo", "hi", "est_rows", "actual_rows", "err_ppm")
      .orderBy("probe_id")
  }

  /** Zone-map pruning-effectiveness audit — the "is the clustering
    * actually buying scan skips" number that justifies a layout
    * rewrite: for each layout (Z-order vs Hilbert, same dimensions,
    * same file count) and each pinned probe band on the leading
    * dimension, how many file ENVELOPES exclude the band entirely
    * (`a_max < lo OR a_min > hi` — exactly the min/max test a scan
    * planner runs against footer statistics) and how much row mass
    * those skipped files carry. Quarter-domain bands measure broad
    * scans, the 1%-width band measures point-ish lookups — where
    * curve locality pays or doesn't.
    *
    * Composes the two already-gated file-envelope reports (one
    * definition per layout, no drift); the probe table is a
    * broadcast literal × one 2-scalar domain agg.
    */
  def pruneAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
    val rep = Layout.zorderReport(li, "l_partkey", "l_suppkey", 16, 64)
      .withColumn("layout", lit("zorder"))
      .unionByName(Layout.hilbertReport(li, "l_partkey", "l_suppkey", 8, 64)
        .withColumn("layout", lit("hilbert")))
    val dom = li.agg(min(col("l_partkey")).as("amin"),
      max(col("l_partkey")).as("amax"))
    val probes = Seq((0, 0, 1, 4), (1, 1, 2, 4), (2, 2, 3, 4), (3, 3, 4, 4),
        (4, 40, 41, 100))
      .toDF("probe_id", "lo_num", "hi_num", "den")
      .crossJoin(broadcast(dom))
      .select(col("probe_id"),
        expr("amin + (amax - amin) * lo_num div den").as("lo"),
        expr("amin + (amax - amin) * hi_num div den").as("hi"))
    val skip = col("a_max") < col("lo") || col("a_min") > col("hi")
    rep.crossJoin(broadcast(probes))
      .groupBy("layout", "probe_id", "lo", "hi")
      .agg(count(lit(1)).as("n_files"),
        sum(when(skip, 1L).otherwise(0L)).as("files_skipped"),
        sum(when(skip, col("n_rows")).otherwise(0L)).as("rows_skipped"),
        sum(col("n_rows")).as("n_rows_total"))
      .withColumn("skip_ppm", expr("files_skipped * 1000000 div n_files"))
      .orderBy("layout", "probe_id")
  }

  /** Batch JSON payload key census — per event type, which keys the
    * `props` payloads actually carry and in what share of that type's
    * events. One explode of the parsed key array + one (type, key) hash-agg; the
    * per-type event totals broadcast back for exact share ppm.
    */
  def jsonKeysQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val totals = ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
    ev.select(col("event_type"),
        explode(expr("json_object_keys(props)")).as("key"))
      .groupBy("event_type", "key").agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("share_ppm", expr("n * 1000000 div n_events"))
      .orderBy("event_type", "key")
  }

  def zorder(s: SparkSession, d: String): DataFrame =
    Layout.zorderReport(
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 16, nFiles = 64)
      .orderBy("file_id")

  /** Hilbert-curve clustering report ([[Layout.hilbertReport]], the
    * native [[graft.functions.HilbertKey]] kernel): the same
    * file-envelope audit as q_zorder over the same dimensions, so the
    * two curves' pruning power is comparable file by file. The oracle
    * replays the xy2d loop as 8 unrolled CTE rounds.
    */
  def hilbert(s: SparkSession, d: String): DataFrame =
    Layout.hilbertReport(
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 8, nFiles = 64)
      .orderBy("file_id")

  /** REAL-codec perceptual image dedup under the hash gate: the same
    * token-derived BMPs as q_image_stats are REALLY pixel-decoded
    * through `ImageIO` into the 63-bit sequence-sampled dHash
    * ([[Multimodal.synthBmpDHash]]), then near-dup pairs surface via
    * the banded Hamming join ([[Dedup.hammingPairs]], 4x16-bit bands,
    * exact popcount verify at radius 6). Exact-dup docs land at
    * dist 0; same-length near-dups at the few changed-pixel bits.
    * The oracle computes the hash analytically from the token md5s —
    * a BMP-layout, pixel-read, sampling, or band bug breaks the hash.
    */
  def imageDHash(s: SparkSession, d: String): DataFrame = {
    val hashed = Multimodal.synthBmpDHash(
        docs(s, d).select(col("doc_id"),
          graft.functions.TokenPixels(col("text")).as("pixels")), "pixels")
      .select(col("doc_id"), col("dhash"))
    Dedup.hammingPairs(hashed, maxDist = 6).orderBy("doc_a", "doc_b")
  }

  /** Deterministic mean-pooling: every run of 10 consecutive vec_ids
    * plays one "document" whose chunk embeddings pool to a single
    * vector (flat per-dimension rows; micro-fixed-point sums make the
    * mean order-free).
    */
  def embedPool(s: SparkSession, d: String): DataFrame =
    Similarity.meanPool(embs(s, d), expr("vec_id div 10"))
      .select(col("group_id"), col("dim_idx").cast("long").as("dim_idx"),
        col("n"), col("sum_micro"), col("mean_v"))
      .orderBy("group_id", "dim_idx")

  /** Referential coverage between documents and embeddings (ids play
    * the foreign key): matched rows and orphans on each side.
    */
  def refCheck(s: SparkSession, d: String): DataFrame =
    Profile.referentialCheck(docs(s, d), embs(s, d), "doc_id", "vec_id")

  /** Numeric distribution histogram: events.value over [0, 500) in 20
    * fixed-width bins, out-of-range clamped to the edges.
    */
  def histogram(s: SparkSession, d: String): DataFrame =
    Profile.histogram(Tables.events(s, d), "value", lo = 0.0, hi = 500.0, bins = 20)

  /** LSH index diagnostics: per-table bucket count, hottest bucket,
    * and total in-bucket candidate pairs for the 4×12 geometry — the
    * measurement that drives the planes/tables tuning knob (candidate
    * volume is Σ c(c-1)/2; recall comes from the table count).
    */
  def lshStats(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    Similarity.lshBands(e, "vec_id", "v", tables = 4, planes = 12, dim = 64)
      .groupBy("t", "bucket").agg(count(lit(1)).as("c"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_buckets"), max(col("c")).as("max_bucket"),
        expr("sum(c * (c - 1)) div 2").as("n_cand_pairs"))
      .orderBy("t")
  }

  /** IVF posting-list health over the SHARED materialized index (the
    * same assignment memo every q_ann_ivf* query reads): per-list
    * population, exact ppm share, skew flag — the re-train /
    * re-balance trigger a long-running ANN service watches (a skewed
    * list dominates probe cost; its centroid wants a split).
    */
  def ivfHealth(s: SparkSession, d: String): DataFrame =
    Profile.indexHealth(ivfAssignment(s, d), "centroid_id")
      .orderBy("list_key")

  /** The trained index's posting-list health — the same audit
    * q_ivf_health publishes for the stride index, over the Lloyd
    * quantizer's lists: the lifecycle symmetry that lets the rebuild/
    * split machinery watch WHICHEVER index serves. Balanced lists are
    * the point of training (the stride index's skew is accidental);
    * the skew flag here fires only when the data actually moved.
    */
  def trainedHealthQ(s: SparkSession, d: String): DataFrame =
    Profile.indexHealth(kmeansAssignment(s, d), "centroid_id")
      .orderBy("list_key")

  /** Incremental ingest into the TRAINED index: "new" vectors (the
    * %7 stride stand-in for an arriving batch) assign against the
    * FROZEN Lloyd centroids — bit-equal rows of the full assignment's
    * subset (the [[Similarity.assignToCentroids]] `centroids`
    * contract: growing the corpus is O(new vectors), never a
    * re-index).
    */
  def trainedIncrQ(s: SparkSession, d: String): DataFrame =
    Similarity.assignToCentroids(
        embs(s, d).filter(col("vec_id") % 7 === 0),
        centroids = Some(kmeansCentroids(s, d)
          .select(col("centroid_id"), col("centv"))))
      .select("vec_id", "centroid_id")
      .orderBy("vec_id")

  /** The re-train recommendation that closes the ANN lifecycle loop:
    * [[Profile.rebuildDecision]] over the SAME shared assignment the
    * q_ann_ivf* queries and q_ivf_health read — size skew from the
    * index, probe traffic from the odd-vec_id half of the corpus (the
    * same base/current split q_embed_drift uses as its batch stand-in
    * for live traffic), one action per posting list.
    */
  def ivfRebuild(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssignment(s, d)
    val loads = assign.filter(col("vec_id") % 2 === 1)
      .groupBy(col("centroid_id").cast("string").as("list_key"))
      .agg(count(lit(1)).as("n_probes"))
    Profile.rebuildDecision(
        Profile.indexHealth(assign, "centroid_id"), loads)
      .orderBy("list_key")
  }

  /** MinHash band-index health for the 16×2 geometry q_dedup_minhash
    * runs: hot band keys are the candidate-volume hazard (each
    * contributes c·(c−1)/2 pairs), so the skew flag is the re-band /
    * AQE-split signal. List key = band number : band hash.
    */
  def bandHealth(s: SparkSession, d: String): DataFrame =
    // reads the SHARED band index (same 16x2 config) — the health
    // audit must measure the index the dedup actually serves, and
    // rebuilding it here would re-run the signature scan the memo
    // exists to avoid
    Profile.indexHealth(
      mhBands(s, d)
        .select(concat(col("b"), lit(":"), col("band_key")).as("bk")),
      "bk").orderBy("list_key")

  /** BPE tokenizer: train 24 merges on the corpus word-frequency
    * table (vocab-sized driver loop — [[Bpe.train]]), encode every
    * document with the frozen merges (pure projection, native
    * kernel), emit per-doc BPE token counts. Oracle-gated via the
    * DYNAMIC oracle path: the trained merges aren't static SQL (the
    * greedy merge loop is iterative), so Verify builds the oracle at
    * dump time — [[bpeEncodeOracleSql]] embeds the trained merge list
    * as literals in the same delimiter-wrapped sequential-replace form
    * the fixed twin proves exact ([[Bpe.sequentialReplaceUnsafe]]
    * carries the proof obligations), and DuckDB independently re-runs
    * char split → 24 replaces → token count. Trainer semantics stay
    * pinned by BpeSpec (hand-computed traces + the classic worked
    * example + the lossless round-trip on this very corpus).
    */
  def bpeEncodeQ(s: SparkSession, d: String): DataFrame =
    Bpe.encode(docs(s, d), bpeMerges(s, d))
      .select("doc_id", "n_bpe_tokens").orderBy("doc_id")

  /** The q_bpe_encode oracle, parameterized by a trained merge list:
    * each word renders as -char- delimited symbols plus the
    * delimited end mark, the document's words concatenate, and each
    * merge applies once in rank order as a whole-string replace-all —
    * bit-identical to the kernel's greedy-by-rank loop whenever
    * [[Bpe.sequentialReplaceUnsafe]] returns None (see its scaladoc for
    * the four conditions and the proof; trained lists satisfy them by
    * construction except for astronomically unlikely textual product/
    * component collisions, where this returns None and the driver falls
    * back to the rows-only check it recorded before round 11).
    */
  def bpeEncodeOracleSql(merges: Seq[(String, String)]): Option[String] =
    Bpe.sequentialReplaceUnsafe(merges) match {
      case Some(_) => None
      case None =>
        def lit(v: String) = "'" + v.replace("'", "''") + "'"
        def sym(v: String) = s"chr(2) || ${lit(v)} || chr(3)"
        val folded = merges.foldLeft("s") { case (acc, (l, r)) =>
          s"replace($acc, ${sym(l)} || ${sym(r)}, ${sym(l + r)})"
        }
        Some(
          s"""WITH sym AS (SELECT doc_id,
             |    array_to_string(list_transform(
             |      list_filter(string_split(text, ' '), w -> length(w) > 0),
             |      w -> regexp_replace(w, '(.)', chr(2) || '\\1' || chr(3), 'g')
             |           || chr(2) || '</w>' || chr(3)), '') AS s
             |  FROM documents),
             |enc AS (SELECT doc_id, $folded AS s FROM sym)
             |SELECT doc_id,
             |  CAST(len(s) - len(replace(s, chr(2), '')) AS BIGINT)
             |    AS n_bpe_tokens
             |FROM enc ORDER BY doc_id""".stripMargin)
    }

  /** Oracles that depend on run-trained artifacts (today: the BPE merge
    * table) — Verify overlays these on the static map when dumping
    * oracle_sql.json, so the driver's DuckDB compare gates the trained
    * encode too.
    */
  def dynamicOracle(s: SparkSession, d: String): Map[String, String] =
    bpeEncodeOracleSql(bpeMerges(s, d))
      .map("q_bpe_encode" -> _).toMap

  /** Pinned WELL-FORMED merge list for the oracle-checkable encode
    * path: components are single characters or products of EARLIER
    * merges, no pair is self-overlapping (l == r), and no earlier
    * pair's component equals a later pair's product. Under exactly
    * those conditions greedy-by-rank merging equals applying each
    * merge to fixpoint in rank order — a later merge can never create
    * an adjacency an earlier pair matches (products only grow, and no
    * earlier component names a later product), and replace-all on the
    * space-joined symbol string cannot match across symbol boundaries
    * (after merge k's pass, no residual (l_k, r_k) adjacency exists,
    * and the only symbol ending in "ta" is "ta" itself). That makes
    * the full encode reproducible as three nested string replaces —
    * SQL an oracle can run.
    */
  private val BpeFixedMerges = Seq("t" -> "a", "ta" -> "b", "s" -> "l")

  /** The BPE encode KERNEL under the hash gate: same kernel, same
    * char-split, same flatten as [[bpeEncodeQ]], but with the pinned
    * [[BpeFixedMerges]] instead of trained merges, so DuckDB can
    * reproduce the exact token string per document (see the merge
    * list's scaladoc for why sequential replace is exact here). The
    * trained-merges query stays rows-only; THIS one pins the kernel.
    */
  def bpeEncodeFixedQ(s: SparkSession, d: String): DataFrame =
    Bpe.encode(docs(s, d), BpeFixedMerges)
      .select(col("doc_id"),
        concat_ws(" ", col("bpe_tokens")).as("bpe_str"),
        col("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Mixed-language segmentation ([[TextStats.languageSegments]]):
    * per-window stopword language ID + run-length merge — the
    * code-switching report that separates genuinely multilingual
    * documents from single-language ones before a doc-level label
    * routes them.
    */
  def langSegments(s: SparkSession, d: String): DataFrame =
    TextStats.languageSegments(docs(s, d), window = 16).orderBy("doc_id")

  /** Encoding-corruption audit ([[TextStats.mojibake]]). The clean
    * synthetic corpus is salted with deterministic corruption (the
    * q_scrub planting pattern): every 3rd doc gets double-encoded
    * UTF-8 tells, every 5th a U+FFFD, every 7th a stray C0 control —
    * so the audit provably counts each class and the gate fires where
    * it must.
    */
  def mojibakeQ(s: SparkSession, d: String): DataFrame = {
    val planted = docs(s, d).withColumn("text",
      concat(
        when(col("doc_id") % 3 === 0, lit("naÃ¯ve cafÃ© Ã© ")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("� ")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\u0007 ")).otherwise(lit("")),
        col("text")))
    TextStats.mojibake(planted).orderBy("doc_id")
  }

  /** Markup strip + density ([[TextStats.stripMarkup]]); tags planted
    * deterministically (wrapping paragraph tags on even docs, a
    * self-closing break + attribute-carrying span on every 4th) so
    * strip, density, and tag count are all exercised against known
    * truth.
    */
  def htmlStripQ(s: SparkSession, d: String): DataFrame = {
    val planted = docs(s, d).withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(lit("<p class=\"intro\">"), col("text"),
          lit("</p><br/><span id=\"x\">end</span>")))
        .when(col("doc_id") % 2 === 0,
          concat(lit("<p>"), col("text"), lit("</p>")))
        .otherwise(col("text")))
    TextStats.stripMarkup(planted).orderBy("doc_id")
  }

  /** Special-token contamination rollup
    * ([[TextStats.specialTokenAudit]]); markers planted on pinned
    * residue classes (every 11th doc an `<|endoftext|>`, every 13th
    * an `[INST]`, every 17th TWO `</s>`) so per-marker doc and
    * occurrence counts separate provably.
    */
  def specialTokensQ(s: SparkSession, d: String): DataFrame = {
    val planted = docs(s, d).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 11 === 0, lit(" <|endoftext|>")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" [INST]")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" </s> </s>")).otherwise(lit(""))))
    TextStats.specialTokenAudit(planted)
  }

  /** Fused ingest hygiene gate ([[TextStats.ingestGate]]): all four
    * tripwires in one projection, each exercised by its own planted
    * residue class (mojibake on %3, markup on %4, template leakage on
    * %11, blocklist density natural). maxMarkupPpm=20000 so the
    * planted wrapper tags trip the density wire on ordinary-length
    * docs.
    */
  def ingestGateQ(s: SparkSession, d: String): DataFrame = {
    val planted = docs(s, d).withColumn("text",
      concat(
        when(col("doc_id") % 3 === 0, lit("cafÃ© ")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("<p class=\"intro\">"))
          .otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("</p>")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" <|endoftext|>"))
          .otherwise(lit(""))))
    TextStats.ingestGate(planted, maxBadPpm = 10000L, maxMarkupPpm = 20000L)
      .orderBy("doc_id")
  }

  /** Blocklist gate ([[TextStats.badwordGate]]) over the raw corpus —
    * the pinned placeholder list contains a token the synthetic
    * vocabulary actually emits, so densities vary doc-to-doc and the
    * threshold genuinely splits the corpus.
    */
  def badwordsQ(s: SparkSession, d: String): DataFrame =
    TextStats.badwordGate(docs(s, d), maxPpm = 10000L).orderBy("doc_id")

  /** Tokenizer vocab-size sweep — the "how many merges buy how much
    * compression" curve a tokenizer review reads before fixing vocab
    * size: corpus fertility at every PREFIX of the merge list (BPE
    * merges are ordered, so the first k merges ARE the vocab-k
    * tokenizer). Pinned [[BpeFixedMerges]] prefixes keep it
    * oracle-expressible (the trained list's sweep would be rows-only);
    * ONE corpus scan carries all k encodes as scan-side kernel
    * columns, one 1-row aggregate, then `stack` unpivots the curve.
    */
  def bpeSweep(s: SparkSession, d: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val ks = (0 to BpeFixedMerges.size).map(k => BpeFixedMerges.take(k))
    val nw = size(filter(TextStats.tokens(t), w => length(w) > 0)).cast("long")
    val stackArgs = ks.indices.map(k => s"$k, s$k").mkString(", ")
    docs(s, d)
      .select(nw.as("w") +: ks.zipWithIndex.map { case (m, k) =>
        size(Bpe.bpeTokens(t, m)).cast("long").as(s"t$k") }: _*)
      .agg(sum(col("w")).as("n_words"),
        ks.indices.map(k => sum(col(s"t$k")).as(s"s$k")): _*)
      .select(col("n_words"),
        expr(s"stack(${ks.size}, $stackArgs) AS (n_merges, n_bpe_tokens)"))
      .select(col("n_merges"), col("n_words"), col("n_bpe_tokens"),
        expr("CAST(n_bpe_tokens * 1000000 div nullif(n_words, 0) AS BIGINT)")
          .as("fert_ppm"))
      .orderBy("n_merges")
  }

  /** Packing mix budgeted in REAL tokenizer tokens — the number a
    * training run actually bills — instead of whitespace tokens: the
    * same chunk config as [[pack]], per-chunk BPE token counts from
    * the pinned [[BpeFixedMerges]] (oracle-expressible; the trained
    * list would be rows-only), then the same two-job prefix-sum
    * packing on a 1024-BPE-token budget.
    */
  def packBpe(s: SparkSession, d: String): DataFrame =
    Pack.packSequences(
        TextStats.chunk(docs(s, d), chunkSize = 32, stride = 24)
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            size(Bpe.bpeTokens(col("chunk_text"), BpeFixedMerges))
              .cast("long").as("n_tokens")),
        budget = 1024L)
      .select("doc_id", "chunk_idx", "n_tokens", "tok_start", "seq_id", "seq_offset")
      .orderBy("doc_id", "chunk_idx")

  /** Per-language tokenizer fertility audit ([[Bpe.fertilityByGroup]])
    * under the pinned [[BpeFixedMerges]] (oracle-expressible; the
    * trained list would be rows-only) — the tokens-per-word /
    * chars-per-token skew table a multilingual tokenizer review reads.
    */
  def bpeFertilityQ(s: SparkSession, d: String): DataFrame =
    Bpe.fertilityByGroup(docs(s, d), BpeFixedMerges).orderBy("lang")

  /** Per-doc OOV audit against a top-10 frequency vocab derived from
    * the corpus itself (small enough that the fixture's ~31-token
    * vocabulary yields real nonzero OOV rates) — the freeze-the-
    * tokenizer gate.
    */
  def vocabCoverageQ(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    val vocab = ds.select(explode(TextStats.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("token")).limit(10)
    TextStats.vocabCoverage(ds, vocab).orderBy("doc_id")
  }

  /** Corpus coverage curve (top-50 ranks — covers the fixture's whole
    * vocabulary, so the curve visibly saturates at 1e6 ppm).
    */
  def coverageCurveQ(s: SparkSession, d: String): DataFrame =
    TextStats.coverageCurve(docs(s, d), k = 50).orderBy("rank")

  /** Quality-weighted downsampling: survival probability follows the
    * token count (p = n_tokens/100, clamped) — long documents always
    * survive, short ones thin proportionally.
    */
  def qualitySample(s: SparkSession, d: String): DataFrame =
    Sampling.weightedSample(
        docs(s, d).select(col("doc_id"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", col("n_tokens") / 100.0)
      .orderBy("doc_id")

  /** k-NN graph over the FULL embedding corpus from the shared IVF
    * index (posting-list equi-join, no broadcast of the probe side —
    * see [[graft.ops.Similarity.knnGraph]]): the edge list graph-based
    * curation starts from, with the mutual-edge backbone flag.
    */
  def knnGraphQ(s: SparkSession, d: String): DataFrame =
    knnEdges(s, d).orderBy("src", "rank")

  /** Label-noise audit by neighborhood agreement (the k-NN heart of
    * confident-learning / Deep-kNN label cleaning — Northcutt et al.
    * JAIR'21 §related, Papernot & McDaniel '18: a point whose k
    * nearest neighbors MAJORITY-disagree with its own label is a
    * likely mislabel or a boundary case, and both belong in a review
    * queue before the labels train anything). Per vector: its label,
    * neighborhood size, agreeing-neighbor count, exact agreement ppm,
    * and the majority-disagree suspect flag.
    *
    * Rides the SHARED k-NN memo: two skinny id→label joins and ONE
    * (src)-keyed partial agg — label auditing costs nothing beyond
    * the index the pipeline already maintains.
    */
  def labelNoiseQ(s: SparkSession, d: String): DataFrame = {
    val labels = embs(s, d).select(col("vec_id"), col("label"))
    knnEdges(s, d).select("src", "dst")
      .join(labels.select(col("vec_id").as("src"), col("label").as("src_label")),
        Seq("src"))
      .join(labels.select(col("vec_id").as("dst"), col("label").as("dst_label")),
        Seq("dst"))
      .groupBy("src", "src_label")
      .agg(count(lit(1)).as("k"),
        sum(when(col("dst_label") === col("src_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_ppm", expr("n_agree * 1000000 div k"))
      .withColumn("suspect", expr("2 * n_agree < k"))
      .orderBy("src")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk ACL'19: candidate
    * pair score = cos(x,y) normalized by the mean cosine of each
    * side's own k-NN neighborhood — the RATIO margin, which demotes
    * hubs whose raw cosine is high to everything). Candidates are
    * cross-label k-NN edges (label = the language stand-in on the
    * synthetic embeddings), the margin is exact integer ppm
    * (`2·cos·k_x·k_y·10⁶ div (Σx·k_y + Σy·k_x)`), the best candidate
    * per query survives, and the global top-50 is the mining output.
    *
    * Shape for scale: rides the SHARED k-NN memo — no new vector
    * work at all. Neighborhood sums are one (src)-keyed agg over the
    * edge list (corpus×k rows, skinny), labels join by id, and the
    * final ranking is a per-src window then TakeOrdered(50). The
    * margin's whole point at 100 TB: it is computed on the index's
    * existing edges, never on raw vector pairs.
    */
  def bitextMargin(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges(s, d).select("src", "dst", "cos_q")
    val sums = edges.groupBy("src")
      .agg(sum("cos_q").as("sumk"), count(lit(1)).as("k"))
    val labels = embs(s, d).select(col("vec_id"), col("label"))
    val cand = edges
      .join(labels.select(col("vec_id").as("src"), col("label").as("src_label")),
        Seq("src"))
      .join(labels.select(col("vec_id").as("dst"), col("label").as("dst_label")),
        Seq("dst"))
      .filter(col("src_label") =!= col("dst_label") && col("cos_q") > 0)
    val scored = cand
      .join(sums.select(col("src"), col("sumk").as("sum_x"), col("k").as("k_x")),
        Seq("src"))
      .join(sums.select(col("src").as("dst"), col("sumk").as("sum_y"),
        col("k").as("k_y")), Seq("dst"))
      .withColumn("den", expr("sum_x * k_y + sum_y * k_x"))
      .filter(col("den") > 0)
      .withColumn("margin_ppm",
        expr("2 * cos_q * k_x * k_y * 1000000 div den"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("margin_ppm").desc, col("dst"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("src", "dst", "src_label", "dst_label", "cos_q", "margin_ppm")
      .orderBy(col("margin_ppm").desc, col("src"))
      .limit(50)
  }

  /** Corpus cartography: the top DISTINCTIVE terms of every semantic
    * cluster — per (IVF cluster, term), the exact integer lift
    * `c_ct·N·10⁶ div (c_t·T_c)` (the cluster-level PMI ranking, same
    * statistic as [[TextStats.collocations]], min-count floored), top
    * 5 per cluster. This is the "describe each embedding cluster in
    * words" table an Atlas-style corpus map shows; it reads the
    * SHARED posting-list assignment (one scan + three token-keyed
    * hash-aggs + two vocab equi-joins, then a per-cluster top-k
    * window over the c_ct>=floor survivors).
    */
  def clusterTerms(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssignment(s, d)
      .select(col("vec_id").as("doc_id"), col("centroid_id"))
    val tf = docs(s, d).join(assign, Seq("doc_id"))
      .select(col("centroid_id"),
        explode(TextStats.tokens(col("text"))).as("term"))
      .groupBy("centroid_id", "term").agg(count(lit(1)).as("c_ct"))
      .localCheckpoint() // feeds cluster totals, term totals, scoring
    val ctot = tf.groupBy("centroid_id").agg(sum(col("c_ct")).as("t_c"))
    val ttot = tf.groupBy("term").agg(sum(col("c_ct")).as("c_t"))
    val gtot = tf.agg(sum(col("c_ct")).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("centroid_id").orderBy(col("lift_ppm").desc, col("term"))
    tf.filter(col("c_ct") >= 3)
      .join(ttot, Seq("term"))
      .join(ctot, Seq("centroid_id"))
      .join(broadcast(gtot))
      .withColumn("lift_ppm",
        expr("(CAST(c_ct AS DECIMAL(38,0)) * n_total * 1000000) div " +
          "(CAST(c_t AS DECIMAL(38,0)) * t_c)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("centroid_id", "term", "c_ct", "c_t", "t_c", "lift_ppm", "rank")
      .orderBy("centroid_id", "rank")
  }

  /** Semantic communities ([[Graph.labelPropagation]]): deterministic
    * synchronous LPA over the shared k-NN graph, 2 bounded rounds —
    * the community structure (with sizes) that groups related
    * documents beyond near-dup connected components.
    */
  def communitiesQ(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges(s, d).select("src", "dst")
    val lab = Graph.labelPropagation(edges,
      embs(s, d).select(col("vec_id").as("node")), iterations = 2)
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("c_size"))
    lab.join(sizes, Seq("label"))
      .select(col("node").as("vec_id"), col("label").as("community"),
        col("c_size"))
      .orderBy("vec_id")
  }

  /** Hubness audit (Radovanović, Nanopoulos & Ivanović, JMLR 2010 —
    * the high-dimensional pathology where a few "hub" vectors appear
    * in everyone's top-k while "antihubs" appear in no one's): the
    * in-degree distribution of the shared k-NN graph, with the mutual
    * edge count alongside. A heavy in-degree tail says cosine
    * neighborhoods are degenerating and retrieval/dedup quality will
    * follow; antihubs (in_deg 0) are the unreachable rows.
    */
  def hubnessQ(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges(s, d)
    val ind = edges.groupBy(col("dst").as("vec_id"))
      .agg(count(lit(1)).as("in_deg"),
        sum(when(col("mutual"), 1L).otherwise(0L)).as("n_mutual"))
    embs(s, d).select(col("vec_id"))
      .join(ind, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .orderBy("vec_id")
  }

  /** Document-level co-occurrence PMI ([[TextStats.cooccurrence]]):
    * which token pairs share documents beyond what their document
    * frequencies predict — topical structure, where collocations find
    * phrases. Top-vocab-bounded pair space, exact integer lift.
    */
  def cooccurQ(s: SparkSession, d: String): DataFrame =
    TextStats.cooccurrence(docs(s, d), topVocab = 30, minPairDocs = 5L, k = 30)

  /** Per-source score calibration ([[Profile.quantileCalibrate]]):
    * within-source percentile of the integer distinct-token-ratio
    * score — the rank transformation that makes quality thresholds
    * comparable across differently-scaled sources.
    */
  def scoreCalib(s: SparkSession, d: String): DataFrame = {
    val t = TextStats.tokens(col("text"))
    val base = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(array_distinct(t)).cast("long").as("num"),
        size(t).cast("long").as("den"))
      .filter(col("den") > 0)
      .select(col("doc_id"), col("source"),
        expr("num * 1000000 div den").as("score_ppm"))
    Profile.quantileCalibrate(base, "score_ppm", "source", "doc_id")
      .orderBy("doc_id")
  }

  /** Source-interleaved training order
    * ([[Sampling.interleaveBySource]]): the deterministic total order
    * that rotates through sources position by position — no
    * same-source run longer than one, however the lake is laid out.
    */
  def interleave(s: SparkSession, d: String): DataFrame =
    Sampling.interleaveBySource(docs(s, d)).orderBy("global_pos")

  /** Diversified retrieval ([[Similarity.mmrRerank]]): MMR greedy
    * re-rank of each query's ANN top-5 down to 3 picks (λ = 0.7) —
    * relevance minus redundancy, integer-exact, over the shared k-NN
    * edge list and embedding table.
    */
  def mmrQ(s: SparkSession, d: String): DataFrame = {
    val cand = knnEdges(s, d).filter(col("src") % 50 === 0)
      .select(col("src").as("query_id"), col("dst").as("cand_id"),
        col("cos_q").as("rel_q"))
    Similarity.mmrRerank(cand, embs(s, d), picks = 3)
      .orderBy("query_id", "pick")
  }

  /** IVF assignment-confidence audit (the simplified-silhouette
    * margin): per vector, best-centroid cos minus second-best-centroid
    * cos — small margins mark boundary vectors whose list assignment
    * is fragile (they are why nprobe > 1 exists); per cluster, the
    * mean/min margin and boundary count say which lists are
    * well-separated and which leak. Margins are differences of
    * quantized cosines — exact integers; margin ≥ 0 by construction
    * (argmax assignment).
    */
  def clusterMargin(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nv", Similarity.norm(col("v"), 64))
    val cent = e.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("centv"),
        col("nv").as("centn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("c_cos").desc, col("centroid_id"))
    val per = e.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        Similarity.cosQ(col("v"), col("centv"), col("nv"), col("centn"), 64))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(max(when(col("rn") === 1, col("centroid_id"))).as("centroid_id"),
        max(when(col("rn") === 1, col("c_cos"))).as("best_cos"),
        max(when(col("rn") === 2, col("c_cos"))).as("second_cos"))
      .withColumn("margin", col("best_cos") - col("second_cos"))
    per.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_items"),
        expr("sum(margin) div count(*)").as("mean_margin"),
        min(col("margin")).as("min_margin"),
        sum(when(col("margin") < 500, 1L).otherwise(0L)).as("n_boundary"))
      .orderBy("centroid_id")
  }

  /** Quality-gate ENSEMBLE — the production filter shape (no single
    * gate is trusted alone): majority vote of three independent
    * signals — the Gopher hard rules, the hashed linear classifier
    * (score > 0), and the within-source rank gate (distinct-token
    * ratio at or above its source's median via
    * [[Profile.quantileCalibrate]] — so a uniformly-low source still
    * keeps its better half instead of being wiped by a global
    * threshold). Docs missing from any gate's domain (null text,
    * empty token list) vote false there; keep = votes ≥ 2.
    */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val gopher = TextStats.gopherRules(docs(s, d))
      .select(col("doc_id"), col("pass").as("g_gopher"))
    val clf = TextStats.qualityClassifier(docs(s, d))
      .select(col("doc_id"), (col("score") > 0).as("g_clf"))
    val t = TextStats.tokens(col("text"))
    val base = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(array_distinct(t)).cast("long").as("num"),
        size(t).cast("long").as("den"))
      .filter(col("den") > 0)
      .select(col("doc_id"), col("source"),
        expr("num * 1000000 div den").as("score_ppm"))
    val rank = Profile.quantileCalibrate(base, "score_ppm", "source", "doc_id")
      .select(col("doc_id"), (col("pct_ppm") >= 500000L).as("g_rank"))
    docs(s, d).select("doc_id")
      .join(gopher, Seq("doc_id"), "left")
      .join(clf, Seq("doc_id"), "left")
      .join(rank, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("g_gopher"), lit(false)).as("g_gopher"),
        coalesce(col("g_clf"), lit(false)).as("g_clf"),
        coalesce(col("g_rank"), lit(false)).as("g_rank"))
      .withColumn("votes", expr(
        "CAST(g_gopher AS INT) + CAST(g_clf AS INT) + CAST(g_rank AS INT)"))
      .withColumn("keep", col("votes") >= 2)
      .orderBy("doc_id")
  }

  /** Core/periphery split ([[Graph.kCore]]): bounded 3-round peel of
    * the shared k-NN graph at k=3 — densely-embedded documents
    * survive, hangers-on peel off.
    */
  def kCoreQ(s: SparkSession, d: String): DataFrame =
    Graph.kCore(knnEdges(s, d),
        embs(s, d).select(col("vec_id").as("node")), k = 3, rounds = 3)
      .select(col("node").as("vec_id"), col("in_core"), col("core_deg"))
      .orderBy("vec_id")

  /** Dataset card — the one-table corpus summary a data release ships
    * (docs, tokens, vocabulary, sources, languages, exact-dup mass,
    * empties, mean length): every number an exact integer from two
    * scans (one row-level aggregate + one vocabulary aggregate),
    * unpivoted to (metric, value) rows.
    */
  def dataCard(s: SparkSession, d: String): DataFrame = {
    val t = TextStats.tokens(col("text"))
    val base = docs(s, d).agg(
      count(lit(1)).as("n_docs"),
      sum(coalesce(size(t), lit(0))).cast("long").as("n_tokens"),
      count_distinct(md5(coalesce(col("text"), lit("")))).as("n_distinct_texts"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"),
      sum(when(col("text").isNull || size(t) === 0, 1L).otherwise(0L))
        .as("n_empty_docs"))
    val vocab = docs(s, d).select(explode(t).as("tok"))
      .agg(count_distinct(col("tok")).as("n_vocab"))
    base.join(broadcast(vocab))
      .selectExpr(
        """stack(8,
          |  'n_docs', n_docs,
          |  'n_tokens', n_tokens,
          |  'n_vocab', n_vocab,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources,
          |  'n_exact_dup_docs', n_docs - n_distinct_texts,
          |  'n_empty_docs', n_empty_docs,
          |  'mean_doc_tokens_x100', n_tokens * 100 div n_docs
          |) AS (metric, value)""".stripMargin)
      .orderBy("metric")
  }

  /** Retrieval-quality evaluation: nDCG@5 (Järvelin & Kekäläinen,
    * TOIS 2002) of the LEXICAL ranking against dense-cosine graded
    * relevance — how much of the semantically ideal ordering the
    * cheap token-overlap retrieval recovers, per query. Everything is
    * integer-exact: gains are the clamped quantized cosines, the
    * log₂ position discounts are the five pinned constants
    * floor(10⁶/log₂(i+1)), DCG/IDCG are long sums, and nDCG is exact
    * ppm — an IR metric under the hash gate.
    */
  /** Shared lexical top-5 (every 50th doc querying the corpus by
    * distinct-token overlap) — the retrieval run q_ndcg scores and
    * q_hybrid_rrf fuses; one materialization, two readers (each used
    * to re-run the corpus-wide overlap join).
    */
  private def lexTop5(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "lex_top5")(
      TextStats.tokenOverlapTopK(
          docs(s, d).filter(col("doc_id") % 50 === 0), docs(s, d), k = 5)
        .select(col("query_id"), col("cand_id"), col("rank")))

  def ndcgQ(s: SparkSession, d: String): DataFrame = {
    val disc = Map(1 -> 1000000L, 2 -> 630929L, 3 -> 500000L,
      4 -> 430676L, 5 -> 386852L)
    val lex = lexTop5(s, d)
    val vv = embs(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nv", Similarity.norm(col("v"), 64))
    val scored = lex
      .join(vv.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nv").as("qn")), Seq("query_id"))
      .join(vv.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nv").as("cn")), Seq("cand_id"))
      .withColumn("gain", greatest(
        Similarity.cosQ(col("qv"), col("cv"), col("qn"), col("cn"), 64),
        lit(0L)))
    def discOf(c: Column): Column =
      (1 to 5).foldRight(lit(0L): Column) { (i, acc) =>
        when(c === i, lit(disc(i))).otherwise(acc)
      }
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("gain").desc, col("cand_id"))
    scored.withColumn("irank", row_number().over(iw))
      .groupBy("query_id")
      .agg(sum(col("gain") * discOf(col("rank"))).as("dcg"),
        sum(col("gain") * discOf(col("irank"))).as("idcg"))
      .select(col("query_id"), col("dcg"), col("idcg"),
        expr("dcg * 1000000 div nullif(idcg, 0)").as("ndcg_ppm"))
      .orderBy("query_id")
  }

  /** Triangle census ([[Graph.triangleCensus]]) of the shared k-NN
    * graph: edges, wedges, triangles, and exact-ppm transitivity —
    * the neighborhood-coherence number that says whether the
    * embedding space has real local structure or hub mush.
    */
  def trianglesQ(s: SparkSession, d: String): DataFrame =
    Graph.triangleCensus(knnEdges(s, d))

  /** Consistent-hashing reshard audit: when 8 shards become 9, naive
    * `hash mod k` reassigns ~8/9 of all documents while a vnode ring
    * (Karger et al., STOC 1997) moves only the ~1/9 that land on the
    * new shard's arcs — the difference between rewriting the corpus
    * and appending a shard. Both assignments computed exactly
    * (md5-derived 24-bit key and vnode positions, 16 vnodes/shard,
    * wrap via a (wrapped, position, shard) `min_by` — no windows),
    * one summary row with exact moved-ppm for each policy.
    */
  def reshard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def hex24(parts: String): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(parts.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(6), 16)
    }
    def ring(k: Int): DataFrame =
      (for (sh <- 0 until k; v <- 0 until 16)
        yield (sh.toLong, hex24(s"s:$sh:$v"))).toDF("shard", "vh")
    val keyed = docs(s, d).select(col("doc_id"),
      pmod(conv(substring(md5(concat(lit("k:"), col("doc_id").cast("string"))), 1, 6),
        16, 10).cast("long"), lit(1L << 24)).as("h"))
      .localCheckpoint() // four assignment passes read it
    def assignRing(k: Int, out: String): DataFrame =
      keyed.crossJoin(broadcast(ring(k)))
        .groupBy("doc_id")
        .agg(first(col("h")).as("h"),
          min_by(col("shard"),
            struct((col("vh") < col("h")).as("wrapped"), col("vh"),
              col("shard"))).as(out))
    val both = assignRing(8, "r8").join(assignRing(9, "r9")
      .select(col("doc_id"), col("r9")), Seq("doc_id"))
    both.agg(count(lit(1)).as("n_docs"),
        sum(when(expr("h % 8 != h % 9"), 1L).otherwise(0L)).as("moved_naive"),
        sum(when(col("r8") =!= col("r9"), 1L).otherwise(0L)).as("moved_ring"))
      .select(col("n_docs"), col("moved_naive"), col("moved_ring"),
        expr("moved_naive * 1000000 div n_docs").as("naive_ppm"),
        expr("moved_ring * 1000000 div n_docs").as("ring_ppm"))
  }

  /** Integer-exact int8 ANN serving ([[Similarity.quantizeInt8]]):
    * brute-force top-5 by RAW INTEGER dot product over the quantized
    * vectors — the post-quantization serving path where ranking needs
    * no floats at all (products ≤ 127², sums exact in long), so the
    * entire search is bit-deterministic by construction.
    */
  def annInt8(s: SparkSession, d: String): DataFrame = {
    val qz = Similarity.quantizeInt8(embs(s, d))
    val q = qz.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("qvec").as("qv"))
    val c = qz.select(col("vec_id").as("neighbor_id"), col("qvec").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dot_q").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot_q",
        aggregate(zip_with(col("qv"), col("cv"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "dot_q")
      .orderBy("query_id", "rank")
  }

  /** Language-ID confusion audit: the stopword classifier's
    * predictions against the corpus's labeled `lang` column, as the
    * full confusion matrix with per-true-language share — the
    * classifier-quality table that decides whether the cheap
    * heuristic is good enough to route documents.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val pred = TextStats.languageId(docs(s, d))
      .select("doc_id", "pred_lang")
    val joined = docs(s, d).select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val totals = joined.groupBy("lang").agg(sum(col("n")).as("lang_total"))
    joined.join(broadcast(totals), Seq("lang"))
      .withColumn("share_ppm", expr("n * 1000000 div lang_total"))
      .select("lang", "pred_lang", "n", "lang_total", "share_ppm")
      .orderBy("lang", "pred_lang")
  }

  /** Hybrid retrieval ([[Similarity.rrfFuse]]): reciprocal-rank
    * fusion of the lexical ranking (distinct-token overlap,
    * [[TextStats.tokenOverlapTopK]]) with the dense ranking (IVF ANN
    * over the shared index, nprobe 2) for the same query documents —
    * the RAG-stack retrieval shape, integer-exact end to end. The
    * dense side rides the same posting-list memo as every other ANN
    * consumer; doc_id↔vec_id is the lake's 1:1 key (q_ref_check
    * audits it).
    */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val lex = lexTop5(s, d)
    // the dense ranking IS the edge list restricted to the query
    // subset (same k/nprobe/index — per-query results are independent),
    // so it reads the shared graph instead of re-probing
    val den = knnEdges(s, d).filter(col("src") % 50 === 0)
      .select(col("src").as("query_id"), col("dst").as("cand_id"),
        col("rank"))
    Similarity.rrfFuse(lex, den, "lex_rank", "dense_rank", k = 5)
      .select("query_id", "cand_id", "lex_rank", "dense_rank",
        "rrf_score", "rank")
      .orderBy("query_id", "rank")
  }

  /** Corpus centrality ([[Graph.pageRank]]): exact integer PageRank
    * over the shared k-NN graph — the hub documents of the embedding
    * space (diversity sampling drops them last; near-dup auditing
    * looks at them first). Same index memos as every ANN consumer;
    * three bounded iterations; top-50 by final rank mass.
    */
  def pageRankQ(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges(s, d).select("src", "dst")
    Graph.pageRank(edges, embs(s, d).select(col("vec_id").as("node")),
        iterations = 3)
      .orderBy(col("pr").desc, col("node"))
      .limit(50)
      .select(col("node").as("vec_id"), col("pr"))
  }

  /** Seed-trust propagation ([[Graph.personalizedPageRank]]) over the
    * shared k-NN graph: a small audited "trusted" subset (label-0
    * vectors at a 1-in-5 stride — the hand-reviewed seed list a
    * curation pipeline actually has) teleports all rank mass, and
    * every other document scores by how reachable it is from trust
    * through the similarity structure — the seed-expanded quality
    * filter (TrustRank applied to corpus curation). Top-50 with the
    * seed flag carried so the interesting rows — HIGH-trust NON-seeds,
    * the expansion candidates — read directly.
    */
  def trustRankQ(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val seeds = e.filter(col("label") === 0 && col("vec_id") % 5 === 0)
      .select(col("vec_id").as("node"))
    Graph.personalizedPageRank(knnEdges(s, d).select("src", "dst"),
        e.select(col("vec_id").as("node")), seeds, iterations = 3)
      .join(seeds.withColumn("_s", lit(true)), Seq("node"), "left")
      .select(col("node").as("vec_id"),
        coalesce(col("_s"), lit(false)).as("is_seed"), col("pr"))
      .orderBy(col("pr").desc, col("vec_id"))
      .limit(50)
  }

  /** ANN recall@k audit — the standard index-quality metric (recall
    * of the approximate top-k against brute-force ground truth, the
    * number every ANN paper reports): per query, how many of the true
    * top-5 the IVF nprobe=2 probe returned. The ground-truth side is
    * exact brute force over the SAME query subset the other ANN
    * oracles use; at 100 TB this runs on a sampled query set (exactly
    * as here — %50) while the index serves the rest. The number that
    * decides whether nprobe/centroid counts need retuning.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = annTruth(s, d)
    val approx = Similarity.ivfTopK(q, e, k = 5, nprobe = 2,
        corpusAssigned = Some(ivfAssignment(s, d)),
        centroids = ivfCentroidsOpt(s, d))
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("_h"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_h"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
      .orderBy("query_id")
  }

  /** The nprobe→recall TUNING CURVE the recall audit motivates: one
    * aggregate recall@5 row per probe width (1, 2, 4) against the same
    * brute-force ground truth — the table an operator reads to pick
    * the probe width meeting a recall target (recall rises with
    * nprobe at linearly growing probe cost; the index itself never
    * changes). Exact integer mean: sum(hits)·10⁶ div sum(truth).
    */
  def recallCurve(s: SparkSession, d: String): DataFrame =
    sharedRecallCurve(s, d).orderBy("nprobe")

  /** The swept curve as a SHARED frame: q_recall_curve reports it and
    * [[annAdvisorQ]] argmins over it — advising must read the same
    * measurement the audit published, and the sweep (3 probes + the
    * ground-truth join) is the expensive part, so it materializes
    * once.
    */
  private def sharedRecallCurve(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "recall_curve") {
      import s.implicits._
      val e = embs(s, d)
      val q = e.filter(col("vec_id") % 50 === 0)
      val exact = annTruth(s, d)
      val arms = Seq(1, 2, 4)
      // ONE probe at the widest width; every arm derives from it
      // ([[Similarity.ivfTopKSweep]], arm-for-arm identical to the
      // per-width probes this replaced — OpsSpec pins it)
      val approx = Similarity.ivfTopKSweep(q, e, k = 5, sweeps = arms,
          corpusAssigned = Some(ivfAssignment(s, d)),
          centroids = ivfCentroidsOpt(s, d))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"),
          lit(1L).as("_h"))
      exact.crossJoin(broadcast(arms.toDF("nprobe")))
        .join(approx, Seq("nprobe", "query_id", "neighbor_id"), "left")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("_h"), lit(0L))).as("n_hits"))
        .select(col("nprobe"), col("n_truth"), col("n_hits"),
          expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
    }

  /** The TRAINED index's nprobe→recall curve — the same one-probe
    * sweep as [[sharedRecallCurve]] over the kmeansExact quantizer's
    * posting lists, so the two indexes publish comparable tuning
    * tables against the SAME shared ground truth.
    */
  private def sharedTrainedCurve(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "trained_curve") {
      import s.implicits._
      val e = embs(s, d)
      val q = e.filter(col("vec_id") % 50 === 0)
      val exact = annTruth(s, d)
      val arms = Seq(1, 2, 4)
      val approx = Similarity.ivfTopKSweep(q, e, k = 5, sweeps = arms,
          corpusAssigned = Some(kmeansAssignment(s, d)),
          centroids = Some(kmeansCentroids(s, d)
            .select(col("centroid_id"), col("centv"))))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"),
          lit(1L).as("_h"))
      exact.crossJoin(broadcast(arms.toDF("nprobe")))
        .join(approx, Seq("nprobe", "query_id", "neighbor_id"), "left")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("_h"), lit(0L))).as("n_hits"))
        .select(col("nprobe"), col("n_truth"), col("n_hits"),
          expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
    }

  def trainedCurveQ(s: SparkSession, d: String): DataFrame =
    sharedTrainedCurve(s, d).orderBy("nprobe")

  /** CROSS-INDEX serving advisor — the decision the per-index tools
    * leave to the operator: given BOTH gated tuning curves (stride +
    * trained) and each index's real posting-list geometry, pick per
    * recall target the (index, nprobe) pair that meets it at the
    * LOWEST expected probe cost; when no arm meets a target, the
    * best-recall arm is returned flagged `met_target = false` (the
    * q_ann_advisor honesty rule). Deterministic tie order: cost, then
    * variant, then nprobe. A tiny frame end to end — two 3-row curves
    * × 4 targets — every expensive input already memoized.
    */
  def indexAdvisorQ(s: SparkSession, d: String): DataFrame =
    indexAdvisorFrom(s,
      Seq(("stride", sharedRecallCurve(s, d), ivfAssignment(s, d)),
        ("trained", sharedTrainedCurve(s, d), kmeansAssignment(s, d))),
      Seq(150000L, 250000L, 400000L, 600000L))

  /** The advisor core over explicit (variant, curve, assignment) arms —
    * [[indexAdvisorQ]] feeds the two shared indexes; a spec feeds a
    * synthetic skewed assignment to pin the flip. `index_action` is the
    * round-12 wiring of the health audit into the serving decision:
    * the chosen arm carries `rebuild` when ANY of its posting lists
    * trips [[Profile.indexHealth]]'s skew rule (the same flag
    * q_trained_health / q_ivf_health publish), `serve` otherwise — so
    * one row now answers both "which index at what nprobe" and "is
    * that index still healthy enough to serve as-is".
    */
  private[graft] def indexAdvisorFrom(s: SparkSession,
      arms: Seq[(String, DataFrame, DataFrame)],
      targets: Seq[Long]): DataFrame = {
    import s.implicits._
    def costed(tag: String, curve: DataFrame, assign: DataFrame): DataFrame = {
      // ONE health aggregation supplies geometry (items, lists) AND
      // the skew verdict — the advisor reads the audit, not a second
      // opinion (max over the constant n_lists/total_items columns;
      // max(skewed int) = bool_or, exact-integer like the audit)
      val stats = Profile.indexHealth(assign, "centroid_id")
        .agg(max(col("n_lists")).as("n_lists"),
          max(col("total_items")).as("n_items"),
          (max(col("skewed").cast("int")) === 1).as("rebuild_any"))
      curve.crossJoin(broadcast(stats))
        .select(lit(tag).as("variant"), col("nprobe"), col("recall_ppm"),
          expr("nprobe * (n_items div n_lists)").as("cost_rows_mean"),
          when(col("rebuild_any"), "rebuild").otherwise("serve")
            .as("index_action"))
    }
    val armsDf = arms.map { case (tag, curve, assign) =>
      costed(tag, curve, assign)
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("target_ppm")
      .orderBy(col("met_target").desc,
        when(col("met_target"), col("cost_rows_mean"))
          .otherwise(-col("recall_ppm")),
        col("cost_rows_mean"), col("variant"), col("nprobe"))
    armsDf.crossJoin(broadcast(targets.toDF("target_ppm")))
      .withColumn("met_target", col("recall_ppm") >= col("target_ppm"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("target_ppm", "variant", "nprobe", "recall_ppm",
        "cost_rows_mean", "met_target", "index_action")
      .orderBy("target_ppm")
  }

  /** ANN serving advisor ([[Similarity.servingAdvisor]]) — the row a
    * service reads instead of eyeballing q_recall_curve: per recall
    * target, the smallest swept nprobe that meets it on the sampled
    * ground truth, the expected and worst-case probe cost in scanned
    * vectors, and the rebuild flag from the same posting-list health
    * the q_ivf_health audit publishes. Shares the curve and health
    * frames with the audits (zero extra probe work); targets bracket
    * the fixture's measured 0.18/0.28/0.44 recall arms so every
    * outcome shape (met at 1, met at 2, met at 4, unmet) appears.
    */
  def annAdvisorQ(s: SparkSession, d: String): DataFrame =
    Similarity.servingAdvisor(sharedRecallCurve(s, d), ivfHealth(s, d),
      Seq(150000L, 250000L, 400000L, 600000L))

  /** Matryoshka truncation-recall audit (Kusupati et al., NeurIPS
    * 2022 "Matryoshka Representation Learning"): recall@5 of
    * brute-force search over the embedding's FIRST 16/32/64
    * dimensions against full-dimension ground truth — the table that
    * says how many dimensions the ANN index actually needs to store
    * (truncated + renormalized cosine, exactly MRL serving). The
    * 64-dim arm is the built-in sanity row (recall ≡ 10⁶ ppm).
    */
  def mrlRecall(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val truth = annTruth(s, d) // the shared ground-truth memo
    Seq(16, 32, 64).map { dm =>
      // the truncation is REAL: slice the stored vectors to the first
      // dm dims (the native dot kernel always consumes whole arrays)
      val eT = e.select(col("vec_id"),
        slice(col("embedding"), 1, dm).as("embedding"))
      val approx = Similarity.bruteForceTopK(
          eT.filter(col("vec_id") % 50 === 0), eT, k = 5, dim = dm)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("_h"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("_h"), lit(0L))).as("n_hits"))
        .select(lit(dm).as("trunc_dim"), col("n_truth"), col("n_hits"),
          expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy("trunc_dim")
  }

  /** Hard-negative mining over the shared ANN index
    * ([[Similarity.hardNegatives]]): per vector, its top ANN neighbors
    * that score in the high-cos band yet sit in a DIFFERENT coarse
    * cluster — the contrastive-training examples random sampling never
    * finds. Same index memos as every other ANN consumer.
    */
  def hardNegativesQ(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(embs(s, d), k = 8, perVec = 3,
        corpusAssigned = Some(ivfAssignment(s, d)),
        centroids = ivfCentroidsOpt(s, d))
      .orderBy("src", "rank")

  /** Edit-distance near-dup pairs (Ed-Join prefix filter + threshold
    * levenshtein verify) — catches character-level mutations that
    * token-set similarity barely moves.
    */
  def editPairs(s: SparkSession, d: String): DataFrame =
    Dedup.editDistancePairs(docs(s, d), maxDist = 5)
      .orderBy("doc_a", "doc_b")

  /** Gopher-style hard rule gate (word count, mean word length,
    * stopword presence, alpha-word fraction) — integer-exact signals
    * plus per-rule booleans and the conjunctive pass flag.
    */
  def gopherRulesQ(s: SparkSession, d: String): DataFrame =
    TextStats.gopherRules(docs(s, d)).orderBy("doc_id")

  /** Dup × quality interaction (the 2×2 a curation review reads before
    * ordering the pipeline stages: if the duplicated mass is mostly
    * HIGH-quality, dedup-then-filter and filter-then-dedup yield very
    * different corpora — boilerplate dups usually fail quality, mirror
    * dups usually pass): doc and token mass by (is_dup from the SHARED
    * cluster memo, pass from the Gopher gate). Two already-gated
    * definitions composed — no third definition to drift.
    */
  def dupQualityQ(s: SparkSession, d: String): DataFrame = {
    val cl = docClusters(s, d)
    val sizes = cl.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
    val dup = cl.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), (col("csize") > 1).as("is_dup"))
    val gate = TextStats.gopherRules(docs(s, d)).select("doc_id", "pass")
    val toks = docs(s, d).select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_toks"))
    dup.join(gate, Seq("doc_id")).join(toks, Seq("doc_id"))
      .groupBy("is_dup", "pass")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("is_dup", "pass")
  }

  /** Per-cluster dedup economics over the SHARED cluster assignment
    * (token counts as the score): dup_score = tokens reclaimed by
    * keeping only each cluster's best member.
    */
  def clusterQuality(s: SparkSession, d: String): DataFrame =
    Dedup.clusterReport(docClusters(s, d),
        docs(s, d).select(col("doc_id"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
        scoreCol = "n_tokens")
      .orderBy("cluster_id")

  /** Embedding distribution drift between the even-id and odd-id
    * snapshot halves, per (label, dimension) — the re-train audit.
    */
  def embedDrift(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.embeddingDrift(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        groupExpr = col("label"), thresholdMicro = 10000L)
      .orderBy("group_id", "dim_idx")
  }

  /** Column profiling (exact): long/string columns only in the oracle
    * set — numeric-to-string casts format identically for integers and
    * strings in both engines (doubles would not).
    */
  def profile(s: SparkSession, d: String): DataFrame =
    Profile.exact(Tables.lineitem(s, d),
      Seq("l_orderkey", "l_returnflag", "l_linestatus")).orderBy("col_name")

  /** HLL profiling (scale path): the sketch estimate itself is
    * engine-specific, so the driver-visible projection keeps only the
    * oracle-exact columns; the estimate's accuracy is bounds-checked
    * in SkewProfileSpec (±3·rsd of the exact distinct count).
    */
  def profileApprox(s: SparkSession, d: String): DataFrame =
    Profile.approx(Tables.lineitem(s, d),
      Seq("l_orderkey", "l_returnflag", "l_partkey"))
      .drop("n_distinct_est").orderBy("col_name")

  /** Deterministic salted two-phase aggregation: same result as a
    * plain GROUP BY (the oracle computes that), hot keys spread over 8
    * phase-1 reducers. min/max/count only — fully order-independent.
    */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    Skew.twoPhaseAgg(
      Tables.events(s, d), Seq("event_type"), col("event_id"), salts = 8,
      phase1 = Seq(count(lit(1)).as("pc"), min(col("value")).as("pmin"),
        max(col("value")).as("pmax")),
      phase2 = Seq(sum(col("pc")).as("n"), min(col("pmin")).as("min_value"),
        max(col("pmax")).as("max_value")))
      .orderBy("event_type")

  /** Range join: events bucketed into value bands via the binned
    * range-join (equi-join on bins + residual predicate — see
    * [[graft.ops.Skew.binnedRangeJoin]]); oracle computes the same
    * thing with a plain interval join.
    */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq.tabulate(10)(i => (s"band_$i", i * 50.0, (i + 1) * 50.0))
      .toDF("band", "lo", "hi")
    Skew.binnedRangeJoin(
        Tables.events(s, d).select("event_id", "value"), "value",
        bands, "lo", "hi", binWidth = 50.0)
      .groupBy("band")
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .orderBy("band")
  }

  /** The same band histogram written as a PLAIN theta join — no
    * hand-binning — and rewritten to the binned equi-join by
    * [[graft.plans.BinnedRangeJoinRule]]: the optimizer-rule twin of
    * `q_range_join`, proving a SQL user's naive `ON v >= lo AND
    * v < hi` gets the scalable plan automatically, with the bin width
    * DERIVED by the rule's plan-time sample (`auto`) rather than
    * hand-set. The conf rides a thread-local SQLConf copy scoped to
    * this one optimization; re-optimization of the returned frame is
    * idempotent (the rewrite carries a cross-side equality, which the
    * rule skips).
    */
  def rangeJoinAuto(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val bands = Seq.tabulate(10)(i => (s"band_$i", i * 50.0, (i + 1) * 50.0))
      .toDF("band", "lo", "hi")
    val theta = Tables.events(s, d).select("event_id", "value")
      .join(bands, col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .orderBy("band")
    // `auto`: no hand-set width — the rule samples the band side's
    // p95 span at plan time. The conf rides a THREAD-LOCAL SQLConf
    // copy scoped to this optimization (GraftSqlShim.withConfString),
    // so a query planned concurrently on the same session never sees
    // the flag — no session-global mutation anywhere in the path.
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      org.apache.spark.sql.GraftSqlShim.withConfString(s,
        "spark.graft.rangeJoin.binWidth", "auto") {
        theta.queryExecution.optimizedPlan
      })
  }

  /** LEFT-OUTER band histogram — the "which events have NO covering
    * window" shape the inner rewrite could not serve: bands cover only
    * [0, 200), so every event above lands in the `uncovered` bucket
    * with null band columns preserved by the outer join. The rule's
    * outer path bins it (point side = preserved side, so no row
    * duplication); width is `auto`-derived and the conf thread-scoped
    * as in [[rangeJoinAuto]].
    */
  def rangeJoinOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val bands = Seq.tabulate(4)(i => (s"band_$i", i * 50.0, (i + 1) * 50.0))
      .toDF("band", "lo", "hi")
    val theta = Tables.events(s, d).select("event_id", "value")
      .join(bands, col("value") >= col("lo") && col("value") < col("hi"), "left")
      .groupBy(coalesce(col("band"), lit("uncovered")).as("band"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .orderBy("band")
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      org.apache.spark.sql.GraftSqlShim.withConfString(s,
        "spark.graft.rangeJoin.binWidth", "auto") {
        theta.queryExecution.optimizedPlan
      })
  }

  /** LEFT-ANTI twin of [[rangeJoinOuter]]: the uncovered events alone,
    * via the rule's anti path — one row summarizing the out-of-band
    * population. Same auto width, same thread-scoped conf.
    */
  def rangeJoinAnti(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val bands = Seq.tabulate(4)(i => (s"band_$i", i * 50.0, (i + 1) * 50.0))
      .toDF("band", "lo", "hi")
    val theta = Tables.events(s, d).select("event_id", "value")
      .join(bands, col("value") >= col("lo") && col("value") < col("hi"),
        "left_anti")
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      org.apache.spark.sql.GraftSqlShim.withConfString(s,
        "spark.graft.rangeJoin.binWidth", "auto") {
        theta.queryExecution.optimizedPlan
      })
  }

  /** DuckDB SQL for LSH table `t`'s bucket over double-list column
    * `vcol`, generated from the SAME coefficients as
    * `Similarity.planeBit` (term order, signs, zero-term skipping all
    * identical) — oracle parity by construction instead of by a
    * parallel in-SQL LCG derivation.
    */
  private def bucketSql(t: Int, planes: Int, dim: Int, vcol: String): String =
    (0 until planes).map { p =>
      val terms = Similarity.planeCoeffs(t * planes + p, dim).zipWithIndex.collect {
        case (1, d)  => s"$vcol[${d + 1}]"
        case (-1, d) => s"(-$vcol[${d + 1}])"
      }
      s"CASE WHEN ${terms.mkString(" + ")} > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** UNION ALL of per-table bucket rows (vec_id, t, bucket) from CTE
    * `e` — the SQL mirror of `Similarity.lshBands`.
    */
  private def bandsSql(tables: Int, planes: Int, dim: Int): String =
    (0 until tables).map { t =>
      s"SELECT vec_id, $t AS t, ${bucketSql(t, planes, dim, "v")} AS bucket FROM e"
    }.mkString("\n  UNION ALL ")

  /** Shared WITH-prefix producing the k-NN `edges` CTE (src, dst,
    * rank, cos_q) — the SQL mirror of [[Similarity.knnGraph]]'s edge
    * build, used verbatim by q_knn_graph and q_pagerank so the two
    * oracles can never drift apart.
    */
  private val knnEdgesCte: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
      |ranked AS (
      |    SELECT a.vec_id, a.v, c.centroid_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        CAST(floor(10000 * (
      |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
      |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
      |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
      |        c.centroid_id) AS rn
      |    FROM e a CROSS JOIN cent c),
      |cassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1),
      |qassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn <= 2),
      |scored AS (
      |  SELECT q.vec_id AS src, c.vec_id AS dst,
      |    CAST(floor(10000 * (
      |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
      |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
      |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
      |  FROM qassign q JOIN cassign c ON q.centroid_id = c.centroid_id
      |  WHERE q.vec_id <> c.vec_id),
      |r AS (SELECT src, dst, cos_q,
      |    row_number() OVER (PARTITION BY src ORDER BY cos_q DESC, dst) AS rank
      |  FROM scored),
      |edges AS (SELECT src, dst, rank, cos_q FROM r WHERE rank <= 5)""".stripMargin

  /** Dedup-cluster size histogram over the shared components memo:
    * how much of the corpus sits in singletons vs dup cliques — the
    * one-table summary a dedup report leads with. Two tiny hash-aggs
    * over the already-materialized assignment.
    */
  def clusterSizes(s: SparkSession, d: String): DataFrame =
    docClusters(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")

  /** In-batch negative contamination estimate for contrastive
    * training (the birthday-bound census): when batches are sampled
    * uniformly, the expected number of near-duplicate pairs INSIDE a
    * batch — false negatives that actively fight the loss — is
    * `C(B,2)·Σs(s−1)/(N(N−1))` from the dedup-cluster size profile
    * alone. One agg over the shared components memo + the corpus
    * count, evaluated at the standard batch-size ladder; exact milli
    * (B(B−1) is always even, so the C(B,2) halving is exact).
    */
  def negCollisionsQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sizes = docClusters(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val dup = sizes.agg(
      coalesce(sum(expr("sz * (sz - 1)")), lit(0L)).as("dup2"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    Seq(64L, 256L, 1024L, 4096L).toDF("batch")
      .crossJoin(broadcast(dup)).crossJoin(broadcast(n))
      .withColumn("b_eff", least(col("batch"), col("n_docs")))
      .withColumn("exp_dup_pairs_milli", expr(
        "CAST(1000 * (CAST(b_eff AS DECIMAL(38,0)) * (b_eff - 1) div 2)" +
          " * dup2 div greatest(CAST(n_docs AS DECIMAL(38,0))" +
          " * (n_docs - 1), 1) AS BIGINT)"))
      .select("batch", "b_eff", "exp_dup_pairs_milli")
      .orderBy("batch")
  }

  /** Per-source quantile normalization of document length — the rank
    * map that makes one quality threshold comparable ACROSS sources
    * whose raw distributions differ (the cross-source calibration
    * step before any global length/quality cut). Rank-within-source
    * is the textbook per-key ordered window — and sources are few
    * and huge, so this is the third consumer of
    * [[graft.ops.KeyedPrefix.cumsum]] (count lane only): one range
    * sort on (source, n_chars, doc_id), no per-source single-task
    * sort. Ties break by doc_id, so the rank is the deterministic
    * `row_number` both engines agree on; `quantile_ppm =
    * (rank−1)·1e6 div (n_src−1)`.
    */
  def quantileNormQ(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    val ranked = graft.ops.KeyedPrefix.cumsum(dd,
      keys = Seq("source"), order = Seq("n_chars", "doc_id"),
      sums = Nil, countName = "rank")
    val tot = dd.groupBy("source").agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(tot), Seq("source"))
      .withColumn("quantile_ppm",
        expr("(rank - 1) * 1000000 div greatest(n_src - 1, 1)"))
      .select("doc_id", "source", "n_chars", "rank", "quantile_ppm")
      .orderBy("doc_id")
  }

  /** Empirical-Bayes (beta-binomial) shrinkage of per-type hit rates
    * (Efron–Morris '75 shape, method-of-moments prior): small
    * segments borrow strength from the ensemble — the prior's
    * pseudo-count `M = m(1−m)/v − 1` comes from the mean and
    * variance of the K per-type rates themselves, and each segment
    * reports `(hits·1e6 + m·M) div (n + M)` — raw rates for big
    * segments, the pooled mean for tiny ones, exactly the
    * low-traffic-segment stabilizer a per-segment dashboard needs.
    * All integer ppm on the K-row type frame; overdispersed
    * ensembles (v > m(1−m), no valid beta prior) clamp M to 0 =
    * no shrinkage, documented rather than silent.
    */
  def ebShrinkQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ebShrink(ev.select(col("event_type"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, hit) frame. */
  private[graft] def ebShrink(e: DataFrame): DataFrame = {
    val perType = e
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("hits"))
      .withColumn("raw_ppm", expr("hits * 1000000 div greatest(n, 1)"))
    val prior = perType.agg(count(lit(1)).as("k"),
        sum(col("raw_ppm")).as("sp"),
        sum(expr("CAST(raw_ppm AS DECIMAL(38,0)) * raw_ppm")).as("spp"))
      .withColumn("m_ppm", expr("sp div greatest(k, 1)"))
      .withColumn("v_ppm2", expr(
        "CAST((k * spp - CAST(sp AS DECIMAL(38,0)) * sp)" +
          " div greatest(CAST(k AS DECIMAL(38,0)) * (k - 1), 1) AS BIGINT)"))
      .withColumn("big_m", expr(
        "greatest(CAST(CAST(m_ppm AS DECIMAL(38,0)) * (1000000 - m_ppm)" +
          " div greatest(v_ppm2, 1) AS BIGINT) - 1, 0)"))
      .select("m_ppm", "v_ppm2", "big_m")
    perType.crossJoin(broadcast(prior))
      .withColumn("shrunk_ppm", expr(
        "CAST((CAST(hits AS DECIMAL(38,0)) * 1000000" +
          " + CAST(m_ppm AS DECIMAL(38,0)) * big_m)" +
          " div greatest(n + big_m, 1) AS BIGINT)"))
      .select("event_type", "n", "hits", "raw_ppm", "m_ppm", "big_m",
        "shrunk_ppm")
      .orderBy("event_type")
  }

  /** Zipf rank-frequency fit (Zipf '49): natural corpora follow
    * `freq ∝ rank^(−s)` with s ≈ 1, so the SLOPE of the log-log
    * rank-frequency line is a one-number corpus-health check —
    * |slope| far above 1 means a few tokens dominate (boilerplate,
    * template spam), far below 1 means shredded/near-uniform text
    * (OCR noise, encoding damage). Fit = Theil–Sen over the top-200
    * tokens' (ln rank, ln freq) points, both coordinates quantized to
    * e-4 BEFORE the integer pairwise slopes (the established log
    * discipline; the median over ≤19,900 bounded pairs, deterministic
    * tie order). The heavy lift is one token count; everything after
    * the top-K pick runs on a 200-row frame.
    */
  def zipfQ(s: SparkSession, d: String): DataFrame =
    zipf(docs(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0))

  /** Core over a one-column (tok) token stream. */
  private[graft] def zipf(tokens: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = tokens.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = toks.agg(sum(col("c")).as("total"),
      count(lit(1)).as("n_vocab"))
    val top = toks.orderBy(col("c").desc, col("tok")).limit(200)
      .withColumn("r", row_number().over(
        W.orderBy(col("c").desc, col("tok"))).cast("long"))
      .select(col("r"), col("c"),
        expr("CAST(floor(ln(CAST(r AS DOUBLE)) * 10000) AS BIGINT)").as("lr"),
        expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 10000) AS BIGINT)").as("lf"))
    val a = top.select(col("r").as("r1"), col("lr").as("lr1"),
      col("lf").as("lf1"))
    val b = top.select(col("r").as("r2"), col("lr").as("lr2"),
      col("lf").as("lf2"))
    val slopes = a.crossJoin(b).filter(col("r1") < col("r2"))
      .withColumn("slope_milli",
        expr("(lf2 - lf1) * 1000 div (lr2 - lr1)"))
    val wOrd = W.orderBy(col("slope_milli"), col("r1"), col("r2"))
    val med = slopes
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("np", count(lit(1)).over(
        W.partitionBy(lit(1))))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .select(col("np").as("n_pairs"), col("slope_milli"))
    val top1 = top.filter(col("r") === 1L).select(col("c").as("c1"))
    med.crossJoin(broadcast(tot)).crossJoin(broadcast(top1))
      .select(col("n_vocab"), col("total").as("n_tokens"), col("n_pairs"),
        col("slope_milli").as("zipf_slope_milli"),
        expr("c1 * 1000000 div greatest(total, 1)").as("top1_share_ppm"))
  }

  /** Exact two-sample Kolmogorov–Smirnov test between arms
    * (Kolmogorov '33/Smirnov '39): the FULL-DISTRIBUTION companion to
    * the mean-level checks — `q_chisq` compares a rate, `q_balance`
    * compares a mean, this compares the whole CDF, catching the
    * variance/shape shifts both miss (same mean, different tails).
    * `D = max_v |F_a(v) − F_b(v)|` needs the running per-arm counts
    * in global VALUE order per type — the few-huge-keys ordered scan
    * again, so this is the fourth [[graft.ops.KeyedPrefix.cumsum]]
    * consumer; D stays exact via cross-multiplication
    * (`|ca·nb − cb·na|`, DECIMAL(38,0)), and the 5% verdict is the
    * integer comparison `D²·n_a n_b/(n_a+n_b) ≥ 1.358²` carried in
    * milli (1844) — no square root, no float.
    */
  def ksQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ks(ev.select(col("event_type"), col("event_id"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, event_id, ga, v) frame. */
  private[graft] def ks(e: DataFrame): DataFrame = {
    // The empirical CDFs step only at COMPLETED values, so the prefix
    // scan needs only the (type, v)-grouped per-arm counts, not the
    // row stream: aggregate FIRST (map-side partial agg, §2.3 of the
    // optimization guide), then run the same two-pass KeyedPrefix
    // scan over the grouped distribution — the cumulative (ca, cb)
    // at a group is exactly the row-level scan's final cumulative
    // within that tie-group, so `steps` is unchanged by construction
    // and the full-stream range sort is gone.
    // localCheckpoint: g feeds tot AND both KeyedPrefix passes (the
    // two-pass scan re-evaluates its input lineage once per pass), so
    // without a barrier the events scan + group agg ran 3x — measured
    // SLOWER than the row-level scan this rewrite replaced (isolated
    // paired A/B at sf0.1: old 1.51 s, unbarriered rewrite 2.11 s).
    // The barrier pins ONE scan; the checkpointed frame is bounded by
    // distinct (type, v) — footer-stats-sized, not stream-sized.
    val g = e.select(col("event_type"), col("v"), col("ga"),
        (lit(1L) - col("ga")).as("gb"))
      .groupBy("event_type", "v")
      .agg(sum(col("ga")).as("an"), sum(col("gb")).as("bn"))
      .localCheckpoint()
    val tot = g.groupBy("event_type")
      .agg(sum(col("an")).as("na"), sum(col("bn")).as("nb"))
    val steps = graft.ops.KeyedPrefix.cumsum(g,
      keys = Seq("event_type"), order = Seq("v"),
      sums = Seq("an" -> "ca", "bn" -> "cb"), countName = "cn")
    steps.join(broadcast(tot), Seq("event_type"))
      .withColumn("gap", expr(
        "abs(CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na)"))
      .groupBy("event_type", "na", "nb")
      .agg(max(col("gap")).as("mg"))
      .withColumn("d_ppm", expr(
        "CAST(mg * 1000000 div greatest(CAST(na AS DECIMAL(38,0)) * nb, 1)" +
          " AS BIGINT)"))
      .withColumn("t_milli", expr(
        "CAST(CAST(d_ppm AS DECIMAL(38,0)) * d_ppm" +
          " * (CAST(na AS DECIMAL(38,0)) * nb div greatest(na + nb, 1))" +
          " div 1000000000 AS BIGINT)"))
      .withColumn("significant", col("t_milli") >= 1844L)
      .select("event_type", "na", "nb", "d_ppm", "t_milli", "significant")
      .orderBy("event_type")
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test between arms (Mann &
    * Whitney '47): the rank-based location test that doesn't care
    * about outliers or distribution shape — the robust sibling
    * completing the nonparametric pair with the KS test (KS asks "any
    * CDF difference anywhere", U asks "does one arm stochastically
    * dominate"). Exactness without a per-value step window: TWO
    * prefix scans — ordering (v, arm, id) puts B's ties BEFORE each A
    * row (cb = B_≤), ordering (v, 1−arm, id) puts them AFTER
    * (cb = B_<) — so `2U = Σ_A (B_< + B_≤)` is two integer sums, the
    * fifth and sixth [[graft.ops.KeyedPrefix.cumsum]] rides. The
    * tie-corrected variance needs only a per-(type, value) count
    * (`T = Σ(t³−t)`, one hash agg), and the 5% verdict is the exact
    * integer `z²` comparison in milli. Long/DECIMAL bound documented:
    * the z² numerator carries (n_a·n_b)²·N², DECIMAL(38,0)-safe past
    * 1e8 rows per (type, arm).
    */
  def mannWhitneyQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    mannWhitney(ev.select(col("event_type"), col("event_id"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, event_id, ga, v) frame. */
  private[graft] def mannWhitney(e: DataFrame): DataFrame = {
    // `2U = Σ_A (B_< + B_≤)` depends only on the (type, v)-grouped
    // arm counts: with cble = B_≤ from ONE prefix scan over the
    // grouped distribution, every a-row at v contributes
    // (cble − bn) + cble, so u2 = Σ_v an·(2·cble − bn) — identical
    // term-by-term to the old two row-level scans (b-ties-before
    // gave B_≤, b-ties-after gave B_<). Aggregating first (map-side
    // partial agg, guide §2.3) removes both full-stream range sorts;
    // the tie term reuses the same grouped counts (t = an + bn).
    // localCheckpoint: g feeds the prefix scan (2 passes), tot AND
    // ties — 4 re-evaluations of the events scan + group agg without
    // a barrier (see ks above; same paired-A/B evidence). Bounded by
    // distinct (type, v).
    val g = e.select(col("event_type"), col("v"), col("ga"),
        (lit(1L) - col("ga")).as("gb"))
      .groupBy("event_type", "v")
      .agg(sum(col("ga")).as("an"), sum(col("gb")).as("bn"))
      .localCheckpoint()
    val c = graft.ops.KeyedPrefix.cumsum(g,
      keys = Seq("event_type"), order = Seq("v"),
      sums = Seq("bn" -> "cble"), countName = "cn")
    // per-term product an·(2·cble − bn) ≤ 2·na·nb — the same Long
    // envelope the old per-row running sums carried
    val s = c.groupBy("event_type")
      .agg(sum(expr("an * (2 * cble - bn)")).as("u2s"))
    val tot = g.groupBy("event_type")
      .agg(sum(col("an")).as("na"), sum(col("bn")).as("nb"))
    val ties = g.select(col("event_type"), (col("an") + col("bn")).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tsum"))
    s.join(broadcast(tot), Seq("event_type"))
      .join(broadcast(ties), Seq("event_type"))
      // the row-level scans dropped a type with no a-rows (the sum
      // over the filtered empty group produced no row); mirror that
      .filter(col("na") > 0L)
      .withColumn("u2", col("u2s"))
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("z2_milli", expr(
        "CAST(3000 * CAST(nn AS DECIMAL(38,0)) * (nn - 1)" +
          " * CAST(u2 - na * nb AS DECIMAL(38,0)) * (u2 - na * nb)" +
          " div greatest(CAST(na AS DECIMAL(38,0)) * nb" +
          " * (CAST(nn + 1 AS DECIMAL(38,0)) * nn * (nn - 1) - tsum), 1)" +
          " AS BIGINT)"))
      .withColumn("significant", col("z2_milli") > 3841L)
      .select("event_type", "na", "nb", "u2", "z2_milli", "significant")
      .orderBy("event_type")
  }

  /** Unseen-vocabulary projection: the Turing missing-mass estimator
    * (Good '53 — the probability the NEXT token is one never seen,
    * `n₁/N` from the singleton count) and the Chao1 species richness
    * floor (Chao '84 — `V + n₁²/(2·n₂)`, an integer lower bound on
    * TRUE vocabulary size from singletons and doubletons). The
    * collect-more-data-or-not numbers next to `q_vocab_growth`'s
    * empirical curve: high missing mass = the corpus is still
    * discovering its own vocabulary. Per source, so undersampled
    * sources stand out; one token count + one frequency-of-frequency
    * rollup, both partial-agged.
    */
  def chaoQ(s: SparkSession, d: String): DataFrame =
    chao(docs(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0))

  /** Core over a (source, tok) token stream. */
  private[graft] def chao(tokens: DataFrame): DataFrame = {
    tokens.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("v"), sum(col("c")).as("n"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .withColumn("missing_mass_ppm",
        expr("n1 * 1000000 div greatest(n, 1)"))
      // Chao '84 with the standard bias-corrected fallback shape when
      // n2 = 0: n1*(n1-1)/2 (Chao1-bc denominator 2*(n2+1))
      .withColumn("chao1", expr(
        "v + CAST(n1 AS DECIMAL(38,0)) * n1 div (2 * greatest(n2, 1))"))
      .withColumn("chao1", expr(
        "CAST(CASE WHEN n2 > 0 THEN chao1" +
          " ELSE v + CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) div 2 END" +
          " AS BIGINT)"))
      .select("source", "v", "n", "n1", "n2", "missing_mass_ppm", "chao1")
      .orderBy("source")
  }

  /** Embedding isotropy census (Ethayarajh EMNLP'19's anisotropy
    * diagnosis: contextual embedding spaces collapse into a narrow
    * cone, and the MEAN PAIRWISE COSINE is the one-number symptom —
    * near 0 = isotropic/healthy, large = cone — which silently breaks
    * cosine-threshold dedup and similarity cutoffs calibrated on the
    * unit sphere). Computed EXACTLY (no pair sampling, no pair join)
    * through the identity `Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖²`: unit
    * vectors quantize per-component to e-6 integers FIRST (the
    * deterministic lattice — cross-ROW float sums would be
    * order-dependent, integer sums are not), then one posexplode +
    * d-bounded component rollup. Overall + per label, so cone
    * tightness per cluster rides the same pass.
    */
  def isotropyQ(s: SparkSession, d: String): DataFrame =
    isotropy(Tables.embeddings(s, d).select(col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))

  /** Core over a pre-projected (label, v: array<double>) frame. */
  private[graft] def isotropy(e: DataFrame): DataFrame = {
    val q = e
      .withColumn("q", expr(
        "transform(v, x -> CAST(floor(x / sqrt(aggregate(" +
          "transform(v, y -> y * y), 0.0D, (a, y) -> a + y))" +
          " * 1000000) AS BIGINT))"))
      .withColumn("qq", expr(
        "aggregate(transform(q, x -> x * x), 0L, (a, x) -> a + x)"))
    def scoped(scope: Column): DataFrame = {
      val base = q.select(scope.as("scope"), col("q"), col("qq"))
      val comp = base
        .select(col("scope"), posexplode(col("q")).as(Seq("pos", "qc")))
        .groupBy("scope", "pos").agg(sum(col("qc")).as("sc"))
        .groupBy("scope")
        .agg(sum(expr("CAST(sc AS DECIMAL(38,0)) * sc")).as("t"))
      val diag = base.groupBy("scope")
        .agg(count(lit(1)).as("n"), sum(col("qq")).as("diag"))
      diag.join(comp, Seq("scope"))
        .select(col("scope"), col("n"),
          expr("CAST((t - diag) div greatest(CAST(n AS DECIMAL(38,0))" +
            " * (n - 1), 1) div 1000000 AS BIGINT)").as("mean_cos_ppm"))
    }
    scoped(lit("all")).unionByName(
        scoped(concat(lit("label:"), col("label").cast("string"))))
      .orderBy("scope")
  }

  /** Categorical mutual-information census (Shannon '48; the
    * uncertainty coefficient is Theil's U): how much does knowing one
    * metadata column tell you about another — the SOFT-dependency
    * sibling of the exact-FD profiler (`q_fd` finds the hard
    * `x → y`s; this ranks the leaky ones), the signal for dropping
    * redundant partition columns or spotting proxy features. Per
    * column pair: `MI = Σ n_xy·ln(n_xy·N/(n_x·n_y))/N` with every
    * per-cell log-ratio quantized to e-4 BEFORE the integer sum (the
    * suite's established cross-engine log discipline — the lattice
    * is coarse enough that both engines' libm agree on the floor),
    * entropies the same way, and `U = MI/min(H(x),H(y))` in ppm.
    * Work per pair = one distinct-cell aggregate (cells ≪ rows).
    */
  def mutualInfoQ(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("source"), col("lang"),
      expr("least(n_chars div 200, 9)").as("len_bucket"))
    val pairs = Seq(("source", "lang"), ("source", "len_bucket"),
      ("lang", "len_bucket"))
    pairs.map { case (x, y) => miPair(dd, x, y) }
      .reduce(_ unionByName _)
      .orderBy("pair")
  }

  /** Cramér's V association census (Cramér '46) over the same column
    * pairs as the MI census — the 0-to-1 EFFECT SIZE next to MI's
    * bits: `V² = χ²/(N·(min(r,c)−1))` with the per-cell χ² term
    * `(O·N − n_x·n_y)²·1000 div (N·n_x·n_y)` kept integer (the
    * per-cell truncation is the statistic's stated definition,
    * mirrored on both engines). MI says how much information the
    * columns share; V says how strong the association is on a fixed
    * scale — together they rank redundant metadata defensibly.
    */
  def cramersVQ(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("source"), col("lang"),
      expr("least(n_chars div 200, 9)").as("len_bucket"))
    Seq(("source", "lang"), ("source", "len_bucket"),
      ("lang", "len_bucket"))
      .map { case (x, y) => cramersV(dd, x, y) }
      .reduce(_ unionByName _)
      .orderBy("pair")
  }

  private[graft] def cramersV(df: DataFrame, x: String, y: String): DataFrame = {
    val cells = df.groupBy(col(x).as("x"), col(y).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val mx = cells.groupBy("x").agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy("y").agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("nn"),
      countDistinct(col("x")).as("r"), countDistinct(col("y")).as("c"))
    cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
      .withColumn("term", expr(
        "(CAST(nxy AS DECIMAL(38,0)) * nn - CAST(nx AS DECIMAL(38,0)) * ny)" +
          " * (CAST(nxy AS DECIMAL(38,0)) * nn" +
          " - CAST(nx AS DECIMAL(38,0)) * ny) * 1000" +
          " div (CAST(nn AS DECIMAL(38,0)) * nx * ny)"))
      // ABSENT cells contribute E = nx·ny/N each; their margin mass is
      // the identity Σ_all nx·ny = N² minus the present cells' mass —
      // dropping them understates χ² exactly when association is
      // strongest (a deterministic map would read V² = 1/2, not 1)
      .groupBy("nn", "r", "c").agg(sum(col("term")).as("present_milli"),
        sum(expr("CAST(nx AS DECIMAL(38,0)) * ny")).as("presmass"))
      .withColumn("chi2_milli", expr(
        "present_milli + (CAST(nn AS DECIMAL(38,0)) * nn - presmass)" +
          " * 1000 div nn"))
      .select(lit(s"$x|$y").as("pair"), col("nn").as("n"),
        expr("CAST(chi2_milli AS BIGINT)").as("chi2_milli"),
        expr("CAST(chi2_milli * 1000 div greatest(CAST(nn AS DECIMAL(38,0))" +
          " * (least(r, c) - 1), 1) AS BIGINT)").as("v2_ppm"))
  }

  private[graft] def miPair(df: DataFrame, x: String, y: String): DataFrame = {
    val cells = df.groupBy(col(x).as("x"), col(y).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val mx = cells.groupBy("x").agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy("y").agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("nn"))
    def entE4(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .select(expr(s"CAST(floor(ln(CAST($cnt AS DOUBLE) / nn) * 10000)" +
          s" AS BIGINT) * $cnt").as("t"), col("nn"))
        .groupBy("nn").agg((-sum(col("t"))).as("hsum"))
        .select(expr("hsum div nn").as("h_e4"))
    val hx = entE4(mx, "nx"); val hy = entE4(my, "ny")
    val mi = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
      .select(expr("CAST(floor(ln(CAST(nxy AS DOUBLE) * nn" +
        " / (CAST(nx AS DOUBLE) * ny)) * 10000) AS BIGINT) * nxy").as("t"),
        col("nn"))
      .groupBy("nn").agg(sum(col("t")).as("msum"))
      .select(col("nn"), expr("msum div nn").as("mi_e4"))
    mi.crossJoin(broadcast(hx.select(col("h_e4").as("hx_e4"))))
      .crossJoin(broadcast(hy.select(col("h_e4").as("hy_e4"))))
      .select(lit(s"$x|$y").as("pair"), col("nn").as("n"),
        col("mi_e4"), col("hx_e4"), col("hy_e4"),
        expr("mi_e4 * 1000000 div greatest(least(hx_e4, hy_e4), 1)")
          .as("uncert_ppm"))
  }

  /** Per-source Flesch-shape readability profile
    * ([[TextStats.readability]]) — integer milli-unit scores under the
    * hash gate.
    */
  def readabilityQ(s: SparkSession, d: String): DataFrame =
    TextStats.readability(docs(s, d)).orderBy("source")

  /** Per-language Gini concentration of docs across sources
    * ([[Profile.giniConcentration]]) — "is this language's data all
    * one crawl?" in exact ppm.
    */
  def giniSources(s: SparkSession, d: String): DataFrame =
    Profile.giniConcentration(docs(s, d), "lang", "source")
      .withColumnRenamed("grp", "lang").orderBy("lang")

  /** Source-balanced curriculum schedule
    * ([[Sampling.curriculumSchedule]]): 4 difficulty stages per
    * source, composite schedule key — no global window.
    */
  def curriculumQ(s: SparkSession, d: String): DataFrame =
    Sampling.curriculumSchedule(docs(s, d))
      .orderBy("stage", "rn_in_stage", "source")

  /** Salted skewed fact-to-dim join ([[Skew.saltedJoin]]) under the
    * oracle gate: revenue per market segment must equal the PLAIN
    * join's answer — salting is a physical rewrite, not a semantic
    * one. The `shuffle_hash` hint pins the shuffled-join path the
    * operator exists for (at 100 TB a wide dim does not broadcast;
    * locally Spark would broadcast 15 k customers and the salt would
    * be decorative).
    */
  def saltedJoinQ(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"),
      col("o_orderkey"), col("o_totalprice"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")).hint("shuffle_hash")
    Skew.saltedJoin(o, c, Seq("c_custkey"), col("o_orderkey"), salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        // exact decimal sum, ONE double conversion at the end (the q14
        // money discipline — sum then cast, never sum of doubles)
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Erasure audit ([[Profile.erasureAudit]]) across the corpus and
    * its DERIVED artifacts: a simulated deletion list (doc_id % 97)
    * probed against documents, the chunk table, and the minhash
    * near-dup pair table (doc_a OR doc_b), plus the anti-join-scrubbed
    * corpus and chunk twins that must audit clean (0 residuals). The
    * artifact definitions are the already-gated ones (q_chunks'
    * chunker, the shared mh_pairs memo), so the audit and the
    * artifacts cannot drift apart.
    */
  def erasureAuditQ(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val del = dd.filter(col("doc_id") % 97 === 0).select("doc_id")
    val ch = TextStats.chunk(dd, chunkSize = 32, stride = 24)
    val pairs = mhPairs(s, d)
    val scrubbedDocs = dd.join(del, Seq("doc_id"), "left_anti")
    val scrubbedChunks = ch.join(del, Seq("doc_id"), "left_anti")
    Profile.erasureAudit(del, "doc_id", Seq(
        ("chunks", ch, Seq("doc_id")),
        ("chunks_scrubbed", scrubbedChunks, Seq("doc_id")),
        ("documents", dd, Seq("doc_id")),
        ("documents_scrubbed", scrubbedDocs, Seq("doc_id")),
        ("minhash_pairs", pairs.select(col("doc_a").as("ref_a"),
          col("doc_b").as("ref_b")), Seq("ref_a", "ref_b"))))
      .orderBy("artifact")
  }

  /** Page–Hinkley drift ledger
    * ([[graft.ops.Monitor.pageHinkleyDaily]], Page 1954 / Hinkley
    * 1971) per event type: the running-mean-anchored cumulative
    * deviation tests, both sides, with self-calibrated slack and
    * alarm. The third chart of the set: `q_ewma` flags a one-day
    * spike, `q_cusum` accumulates against a FIXED target (and stays
    * alarmed after a permanent shift), this one adapts its anchor —
    * it flags the transition once and re-calms, the
    * acknowledge-and-move-on semantics an on-call rotation wants.
    */
  def pageHinkleyQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.pageHinkleyDaily(ev, "event_type",
        AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "day")
  }

  /** Single best change-point per event type — binary segmentation's
    * first (and most informative) split (Scott & Knott, Biometrics
    * 1974; Sen & Srivastava, Ann. Stat. 1975): the day that maximizes
    * the within-segment sum-of-squares reduction
    * `S_L²/n_L + S_R²/n_R − S²/n` over the zero-filled day grid, in
    * exact milli via DECIMAL(38,0) cross-products. The WHERE to the
    * control charts' WHEN: CUSUM/Page–Hinkley alarm as evidence
    * accumulates (lagging the true break); the offline split point is
    * the retrospective answer ("the crawl config changed on day 17")
    * that turns an alarm into a diff-able incident. One day-grid
    * exchange + span-bounded prefix windows; keys with a single day
    * have no split and are absent by construction (mirrored by the
    * oracle's `i < nd` filter).
    */
  def changepointQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    changepoint(Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts")))
  }

  /** Core over a (key, day, n) day-grid frame. */
  private[graft] def changepoint(g: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDay = W.partitionBy("key").orderBy("day")
    val c = g.withColumn("i", row_number().over(byDay).cast("long"))
      .withColumn("cum",
        sum(col("n")).over(byDay.rowsBetween(W.unboundedPreceding, 0)))
    val tot = c.groupBy("key").agg(max(col("i")).as("nd"),
      max(col("cum")).as("s"))
    val splits = c.join(tot, "key").filter(col("i") < col("nd"))
      .withColumn("gain_milli", expr(
        "CAST(CAST(cum AS DECIMAL(38,0)) * cum * 1000 div i" +
          " + CAST(s - cum AS DECIMAL(38,0)) * (s - cum) * 1000" +
          " div (nd - i)" +
          " - CAST(s AS DECIMAL(38,0)) * s * 1000 div nd AS BIGINT)"))
    splits
      .withColumn("rn", row_number().over(
        W.partitionBy("key").orderBy(col("gain_milli").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("key").as("event_type"), col("nd").as("n_days"),
        col("day").as("split_day"), col("gain_milli"),
        expr("cum * 1000 div i").as("mean_left_milli"),
        expr("(s - cum) * 1000 div (nd - i)").as("mean_right_milli"))
      .orderBy("event_type")
  }

  /** Theil–Sen robust trend slope (Theil 1950; Sen, JASA 1968) per
    * event type: the MEDIAN of all pairwise day-grid slopes, in milli
    * events/day — the magnitude estimate that pairs with
    * `q_mann_kendall`'s significance verdict (the two are the
    * textbook couple: Kendall's S says WHETHER volume trends, the
    * Sen slope says HOW FAST, and neither is dragged by the outlier
    * days that wreck least squares — breakdown point 29%). Same
    * days²-bounded pair join as the Mann–Kendall and ACF family
    * (span-bounded by construction, never event-volume-bounded);
    * sign-split truncating division mirrored by the oracle; lower
    * median (`rank = (n_pairs+1) div 2`) with (slope, d1, d2)
    * tie-ordering so both engines pick the identical pair.
    */
  def theilSenQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    theilSen(Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts")))
  }

  /** Core over a (key, day, n) day-grid frame. */
  private[graft] def theilSen(g: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val nd = g.groupBy("key").agg(count(lit(1)).as("n_days"))
    val a = g.select(col("key"), col("day").as("d1"), col("n").as("n1"))
    val b = g.select(col("key"), col("day").as("d2"), col("n").as("n2"))
    val pairs = a.join(b, Seq("key")).filter(col("d1") < col("d2"))
      .withColumn("slope_milli", expr(
        "CASE WHEN n2 >= n1 THEN (n2 - n1) * 1000 div (d2 - d1)" +
          " ELSE -((n1 - n2) * 1000 div (d2 - d1)) END"))
    pairs
      .withColumn("rn", row_number().over(W.partitionBy("key")
        .orderBy(col("slope_milli"), col("d1"), col("d2"))))
      .withColumn("np", count(lit(1)).over(W.partitionBy("key")))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .join(nd, "key")
      .select(col("key").as("event_type"), col("n_days"),
        col("np").as("n_pairs"), col("slope_milli").as("sen_slope_milli"))
      .orderBy("event_type")
  }

  /** Population Stability Index (the credit-scoring industry's
    * standard drift score — Yurdakul's 2018 dissertation is the
    * public statistical treatment; `PSI = Σ (p_i−q_i)·ln(p_i/q_i)`
    * over binned score distributions, with the folklore 0.1 / 0.2
    * action cutoffs) between each event type's first-half-of-span and
    * second-half value distributions: the one-number
    * "did the metric's SHAPE move" readout a scorecard owner tracks
    * per release, complementing the KS test (which answers with a
    * verdict) with the magnitude in the units practitioners already
    * calibrate on. Fixed 10-bin value grid, ε-smoothed via
    * `greatest(cnt, 1)` (the standard zero-cell patch), and every
    * contribution is `diff_ppm · floor(ln(p/q)·1e4)` — quantization
    * AFTER the single `ln`, the `q_mutual_info` discipline, and every
    * term is provably ≥ 0 after flooring (diff and floored-ln always
    * share sign), so the e10→e4 rescale needs no sign split. One
    * grouped count per half + a 10-row-per-type grid join.
    */
  def psiQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    psi(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      // clamped at BOTH ends: a negative value must land in bucket 0,
      // not fall out of the 0..9 grid
      // join while still counting in n_ref/n_cur
      expr("greatest(least(CAST(floor(value * 1000) AS BIGINT) div 25000, 9L), 0L)")
        .as("bucket")))
  }

  /** Core over a pre-projected (event_type, day, bucket) frame. */
  private[graft] def psi(e: DataFrame): DataFrame = {
    val sp = e.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("mid", expr("(d0 + d1) div 2"))
    val tagged = e
      .join(broadcast(sp.select("event_type", "mid")), "event_type")
      .withColumn("is_ref", col("day") <= col("mid"))
    val cnt = tagged.groupBy("event_type", "bucket")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val tot = tagged.groupBy("event_type")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val grid = tot.select(col("event_type"),
      explode(sequence(lit(0L), lit(9L))).as("bucket"))
    grid.join(cnt, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("cr", "cc"))
      .join(broadcast(tot), "event_type")
      .withColumn("p_ppm",
        expr("greatest(cr, 1) * 1000000 div greatest(n_ref, 1)"))
      .withColumn("q_ppm",
        expr("greatest(cc, 1) * 1000000 div greatest(n_cur, 1)"))
      .withColumn("contrib", expr("(p_ppm - q_ppm)" +
        " * CAST(floor(ln(CAST(p_ppm AS DOUBLE) / q_ppm) * 10000)" +
        " AS BIGINT)"))
      .groupBy("event_type", "n_ref", "n_cur")
      .agg(expr("sum(contrib) div 1000000").as("psi_e4"))
      .withColumn("verdict", expr("CASE WHEN psi_e4 < 1000 THEN 'stable'" +
        " WHEN psi_e4 < 2000 THEN 'minor_shift' ELSE 'shifted' END"))
      .select("event_type", "n_ref", "n_cur", "psi_e4", "verdict")
      .orderBy("event_type")
  }

  /** Jensen–Shannon divergence (Lin, IEEE Trans. IT 1991) between
    * each source's token distribution and the REST of the corpus —
    * the symmetric, always-finite distinctiveness score (bounded by
    * ln 2 ≈ 0.6931, so `jsd_e4` ∈ [0, 6931]) that mixture-weighting
    * reads to decide whether a source adds diversity or repeats what
    * the corpus already has. KL would be infinite on any
    * source-exclusive token; JSD's ½(P+Q) mixture absorbs them, which
    * is exactly why it is the dedup/contamination literature's
    * between-corpora measure of choice. Exact-integer discipline: the
    * ln ratio is formed from RAW COUNT cross-products
    * (`2·c·nr / (c·nr + r·ns)` — no ppm underflow inside the log),
    * quantized once via `floor(·1e4)`, weighted by the ppm
    * probability, sign-split at the final rescale. Work: one token
    * count + a vocab×sources frame (sources are a bounded broadcast;
    * the vocab side stays distributed). Long bound: the `c·nr`
    * product wraps past ~9.2e18 — beyond any realistic corpus×source
    * split, noted here for the audit trail.
    */
  def jsDivQ(s: SparkSession, d: String): DataFrame =
    jsDiv(docs(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0))

  /** Core over a (source, tok) token stream. */
  private[graft] def jsDiv(tokens: DataFrame): DataFrame = {
    val tc = tokens.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val g = tc.groupBy("tok").agg(sum(col("c")).as("cg"))
    val ns = tc.groupBy("source").agg(sum(col("c")).as("ns"),
      count(lit(1)).as("v_src"))
    val tot = g.agg(sum(col("cg")).as("nn"))
    // sources × vocab frame: the source list is a bounded broadcast,
    // the vocab side stays distributed
    g.crossJoin(broadcast(ns.crossJoin(broadcast(tot))))
      .join(tc, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("r", col("cg") - col("c"))
      .withColumn("nr", col("nn") - col("ns"))
      .withColumn("term_p", expr("CASE WHEN c > 0 AND nr > 0 THEN" +
        " (c * 1000000 div ns) * CAST(floor(ln(" +
        " CAST(2 * c * nr AS DOUBLE) / (c * nr + r * ns)) * 10000)" +
        " AS BIGINT) ELSE 0L END"))
      .withColumn("term_q", expr("CASE WHEN r > 0 THEN" +
        " (r * 1000000 div nr) * CAST(floor(ln(" +
        " CAST(2 * r * ns AS DOUBLE) / (c * nr + r * ns)) * 10000)" +
        " AS BIGINT) ELSE 0L END"))
      .groupBy("source", "ns", "v_src")
      .agg(sum(col("term_p") + col("term_q")).as("tot_e10"))
      .select(col("source"), col("ns").as("n_tokens"),
        col("v_src").as("n_vocab_src"),
        expr("CASE WHEN tot_e10 >= 0 THEN tot_e10 div 2000000" +
          " ELSE -((-tot_e10) div 2000000) END").as("jsd_e4"))
      .orderBy("source")
  }

  /** Cohen's kappa (Cohen, Educ. Psychol. Meas. 1960) between two
    * independent document-quality raters — a length-window rule and a
    * distinct-token-ratio rule — per source: chance-corrected
    * agreement, the standard answer to "my two quality filters both
    * pass 80% of docs, do they actually AGREE or is that
    * coincidence?". Raw overlap (`po`) flatters whenever both raters
    * are permissive; kappa subtracts the agreement their marginals
    * would produce by luck (`pe`), which is why annotation-quality
    * audits report it instead. Exact ppm: `pe` via DECIMAL(38,0)
    * marginal cross-products over n², kappa in milli with a
    * sign-split final division (negative kappa = systematic
    * disagreement, a real finding), Landis–Koch (Biometrics 1977)
    * verdict bands. One grouped aggregate over the corpus.
    */
  /** Bradley–Terry pairwise-preference ranking (the MM algorithm,
    * Hunter, Ann. Stat. 2004) — the RLHF-data QC op: given pairwise
    * comparisons, fit a strength per item so annotator/system/source
    * quality can be ranked from preferences alone. Comparisons derive
    * deterministically from the events stream: each user's
    * consecutive event pair (by event_id) is a duel between the two
    * event types, won by the one carrying the higher `value` (ties,
    * self-pairs, and null values drop).
    *
    * The MM update `w_i ← W_i / Σ_j N_ij/(w_i+w_j)` runs THREE fixed
    * iterations in pure integer fixed-point: weights live in micros,
    * each denominator term quantizes to `N_ij·10¹² div (w_i+w_j)`
    * BEFORE the per-item sum (longs add order-free — the lmScore
    * discipline), and the update is one long division, so DuckDB
    * replays the whole optimization bit-exactly (the q_train_probe
    * precedent: gate the learned weights, not just a score).
    * Never-winning items floor at weight 1 (greatest guard), keeping
    * every denominator positive.
    *
    * Shape for scale: one shuffle on user_id for the lag window; the
    * comparison counts partial-agg before their (i,j)-keyed shuffle;
    * each MM iteration joins the pair-count frame against the
    * BROADCAST current weights twice and re-aggregates per item —
    * at millions of items the pair frame shuffles on i while weights
    * stay the map-side build.
    */
  def btRankQ(s: SparkSession, d: String): DataFrame =
    bradleyTerry(Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value")))

  /** Core over a (user_id, event_id, event_type, value) frame. */
  private[graft] def bradleyTerry(ev: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byUser = W.partitionBy("user_id").orderBy("event_id")
    val lagged = ev
      .withColumn("a", lag(col("event_type"), 1).over(byUser))
      .withColumn("va", lag(col("value"), 1).over(byUser))
      .filter(col("a").isNotNull && col("va").isNotNull &&
        col("value").isNotNull &&
        col("va") =!= col("value") && col("a") =!= col("event_type"))
    val n = lagged
      .select(when(col("va") > col("value"), col("a"))
          .otherwise(col("event_type")).as("i"),
        when(col("va") > col("value"), col("event_type"))
          .otherwise(col("a")).as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("c"))
    val nt = n.select(col("i"), col("j"), col("c"))
      .unionByName(n.select(col("j").as("i"), col("i").as("j"), col("c")))
      .groupBy("i", "j").agg(sum(col("c")).as("c"))
      .localCheckpoint() // read 3× by the MM loop + twice for the report
    val wins = n.groupBy("i").agg(sum(col("c")).as("n_wins"))
    var w = nt.select("i").distinct()
      .withColumn("wq", lit(1000000L))
    for (_ <- 1 to 3) {
      val sI = nt
        .join(broadcast(w.select(col("i"), col("wq").as("wi"))), Seq("i"))
        .join(broadcast(w.select(col("i").as("j"), col("wq").as("wj"))),
          Seq("j"))
        .withColumn("t", expr("c * 1000000000000 div (wi + wj)"))
        .groupBy("i").agg(sum(col("t")).as("s"))
      w = sI.join(broadcast(wins), Seq("i"), "left")
        .select(col("i"),
          greatest(expr("coalesce(n_wins, 0) * 1000000000000 div s"),
            lit(1L)).as("wq"))
    }
    val nComps = nt.groupBy("i").agg(sum(col("c")).as("n_comps"))
    w.join(broadcast(wins), Seq("i"), "left")
      .join(broadcast(nComps), Seq("i"))
      .select(col("i").as("event_type"),
        coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        col("n_comps"), col("wq").as("w_q"))
      .withColumn("rank", row_number().over(
        W.orderBy(col("w_q").desc, col("event_type"))))
      .orderBy("event_type")
  }

  /** Dawid–Skene label aggregation (Dawid & Skene, JRSS-C 1979) — the
    * crowdsourced-label QC op: three deterministic raters vote a
    * binary quality label per document (length rule, vocab-diversity
    * rule, and an md5-bit noise rater), and two EM rounds jointly
    * estimate per-rater confusion matrices and per-doc posteriors —
    * each rater scored by its agreement with the latent consensus
    * (α+β ≈ 1 signals a chance-level rater), the label-quality
    * signal a training-data pipeline uses to weight annotators. On
    * this corpus the three synthetic raters all sit near chance
    * against each other's consensus — the gated value is the exact
    * EM arithmetic, not a planted separation.
    *
    * EM in pure integer fixed-point (the q_train_probe / q_bt_rank
    * discipline — gate the learned parameters themselves): posteriors
    * live in ppm; every M-step sum is a long; confusion entries get
    * one pseudo-doc of Laplace smoothing and quantize via long
    * division; the E-step odds are exact DECIMAL(38,0) products
    * (≤10³⁰, no doubles anywhere), so DuckDB replays both rounds
    * bit-exactly with HUGEINT CTEs.
    *
    * Shape for scale: votes are three codegen'd projections of one
    * corpus scan; each M-step is ONE single-pass aggregate whose
    * result is a bounded driver probe (2 numbers per rater + 2 — at
    * thousands of raters keep it a frame and broadcast it back);
    * each E-step is a literal-only projection. No join touches
    * corpus-sized data.
    */
  def dawidSkeneQ(s: SparkSession, d: String): DataFrame =
    dawidSkene(docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        (col("n_chars") >= 300).cast("int").as("vl"),
        expr("CAST(size(array_distinct(split(text, ' '))) * 2" +
          " >= size(split(text, ' ')) AS INT)").as("vv"),
        (conv(substring(md5(concat(lit("ds:"), col("doc_id").cast("string"))),
          1, 1), 16, 10).cast("long") % 2).cast("int").as("vh")))

  /** Core over a (doc_id, vl, vv, vh) 0/1 votes frame; annotator
    * output names stay the l/v/h trio ("len"/"vocab"/"hash").
    */
  private[graft] def dawidSkene(votes: DataFrame): DataFrame = {
    val s = votes.sparkSession
    val v0 = votes
      .withColumn("p", expr("(vl + vv + vh) * 1000000 div 3"))
      .localCheckpoint() // scanned by two M-step aggregates + E-steps
    final case class Conf(al: Long, bl: Long, av: Long, bv: Long,
                          ah: Long, bh: Long, rho: Long)
    def mStep(cur: DataFrame): Conf = {
      def a1(v: String) =
        sum(when(col(v) === 1, col("p")).otherwise(0L))
      def b0(v: String) =
        sum(when(col(v) === 0, lit(1000000L) - col("p")).otherwise(0L))
      val r = cur.agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
        a1("vl"), b0("vl"), a1("vv"), b0("vv"), a1("vh"), b0("vh")).head()
      val n = r.getLong(0); val sp = r.getLong(1)
      val sn = n * 1000000L - sp
      def alpha(i: Int) = (1000000L + r.getLong(i)) * 1000000L /
        (2000000L + sp)
      def beta(i: Int) = (1000000L + r.getLong(i)) * 1000000L /
        (2000000L + sn)
      Conf(alpha(2), beta(3), alpha(4), beta(5), alpha(6), beta(7),
        (1000000L + sp) / (n + 2))
    }
    def eStep(cur: DataFrame, c: Conf): DataFrame = {
      def pos(v: String, a: Long) = // P(vote | true=1) in ppm
        when(col(v) === 1, lit(a)).otherwise(lit(1000000L - a))
      def neg(v: String, b: Long) = // P(vote | true=0) in ppm
        when(col(v) === 1, lit(1000000L - b)).otherwise(lit(b))
      cur.withColumn("nn", expr(s"CAST(${c.rho} AS DECIMAL(38,0))") *
          pos("vl", c.al) * pos("vv", c.av) * pos("vh", c.ah))
        .withColumn("dd", expr(s"CAST(${1000000L - c.rho} AS DECIMAL(38,0))") *
          neg("vl", c.bl) * neg("vv", c.bv) * neg("vh", c.bh))
        .withColumn("p", expr("CAST(nn * 1000000 div (nn + dd) AS BIGINT)"))
        .drop("nn", "dd")
    }
    val c2 = mStep(eStep(v0, mStep(v0)))
    val rows = Seq(("hash", c2.ah, c2.bh), ("len", c2.al, c2.bl),
      ("vocab", c2.av, c2.bv))
    import s.implicits._
    rows.toDF("annotator", "alpha_ppm", "beta_ppm")
      .withColumn("acc_ppm", expr("(alpha_ppm + beta_ppm) div 2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("acc_ppm").desc, col("annotator"))))
      .orderBy("annotator")
  }

  def kappaQ(s: SparkSession, d: String): DataFrame =
    kappa(docs(s, d).select(col("source"),
      (col("n_chars") >= 150 && col("n_chars") <= 1500).as("ra"),
      expr("size(array_distinct(split(text, ' '))) * 2" +
        " >= size(split(text, ' '))").as("rb")))

  /** Core over a pre-projected (source, ra, rb) boolean-rater frame. */
  private[graft] def kappa(r: DataFrame): DataFrame = {
    r.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ra"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("rb"), 1L).otherwise(0L)).as("b1"),
        sum(when(col("ra") === col("rb"), 1L).otherwise(0L)).as("agree"))
      .withColumn("po_ppm", expr("agree * 1000000 div n_docs"))
      .withColumn("pe_ppm", expr(
        "CAST((CAST(a1 AS DECIMAL(38,0)) * b1" +
          " + CAST(n_docs - a1 AS DECIMAL(38,0)) * (n_docs - b1))" +
          " * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)" +
          " AS BIGINT)"))
      .withColumn("kappa_milli", expr(
        "CASE WHEN po_ppm >= pe_ppm" +
          " THEN (po_ppm - pe_ppm) * 1000 div greatest(1000000 - pe_ppm, 1)" +
          " ELSE -((pe_ppm - po_ppm) * 1000" +
          " div greatest(1000000 - pe_ppm, 1)) END"))
      .withColumn("band", expr("CASE WHEN kappa_milli < 0 THEN 'poor'" +
        " WHEN kappa_milli < 200 THEN 'slight'" +
        " WHEN kappa_milli < 400 THEN 'fair'" +
        " WHEN kappa_milli < 600 THEN 'moderate'" +
        " WHEN kappa_milli < 800 THEN 'substantial'" +
        " ELSE 'almost_perfect' END"))
      .select("source", "n_docs", "a1", "b1", "po_ppm", "pe_ppm",
        "kappa_milli", "band")
      .orderBy("source")
  }

  /** Benjamini–Hochberg FDR control (Benjamini & Hochberg, JRSS-B
    * 1995) across the per-event-type chi-square battery: the
    * experiment platform's answer to "we test every metric every day
    * — which alarms survive multiplicity?". Per-test p-values come
    * from the SAME gated [[chisq]] statistic via a pinned χ²₍₁₎
    * quantile ladder (each z²-milli mapped to the CONSERVATIVE upper
    * p of its bracket — 455/1642/2706/3841/5412/6635/7879/10828 milli
    * are the public .5/.2/.1/.05/.02/.01/.005/.001 critical values),
    * then the step-up rule `max k : p_(k)·m ≤ k·α` runs as exact
    * integer comparisons on the m-row test frame (m = #event types,
    * bounded; the global rank window is K-row-bounded by
    * construction, the waterfill precedent). α = 5%.
    */
  def bhFdrQ(s: SparkSession, d: String): DataFrame =
    bhFdr(chisq(Tables.events(s, d)).select("event_type", "z2_milli"))

  /** Core over a per-test (event_type, z2_milli) frame. */
  private[graft] def bhFdr(z2: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val p = z2
      .withColumn("p_ppm", expr(
        "CASE WHEN z2_milli >= 10828 THEN 1000" +
          " WHEN z2_milli >= 7879 THEN 5000" +
          " WHEN z2_milli >= 6635 THEN 10000" +
          " WHEN z2_milli >= 5412 THEN 20000" +
          " WHEN z2_milli >= 3841 THEN 50000" +
          " WHEN z2_milli >= 2706 THEN 100000" +
          " WHEN z2_milli >= 1642 THEN 200000" +
          " WHEN z2_milli >= 455 THEN 500000" +
          " ELSE 1000000 END"))
    val ranked = p
      .withColumn("rank",
        row_number().over(W.orderBy("p_ppm", "event_type")).cast("long"))
      .withColumn("m", count(lit(1)).over(W.partitionBy()))
      .withColumn("ok", expr("p_ppm * m <= rank * 50000"))
    val kmax = ranked
      .agg(max(when(col("ok"), col("rank")).otherwise(0L)).as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .withColumn("rejected", col("rank") <= col("kmax"))
      .select("event_type", "z2_milli", "p_ppm", "rank", "m", "rejected")
      .orderBy("event_type")
  }

  /** Deterministic-hash permutation test (Fisher's exact-randomization
    * logic, Design of Experiments 1935; Monte-Carlo form per Dwass,
    * Ann. Math. Stat. 1957) for the between-arm difference in mean
    * event value: 64 replicas each re-assign WHOLE USERS to arms by
    * md5 parity (user-level re-randomization — resampling events
    * would break within-user correlation, the same reason the
    * bootstrap CIs resample days, not events), and the p-value is the
    * add-one-smoothed fraction of replicas at least as extreme as the
    * observed split, `(1 + #{|d_b| ≥ |d_obs|}) / (B + 1)` — the
    * standard unbiased Monte-Carlo estimator. The model-free
    * cross-check on `q_chisq`/`q_balance`'s normal approximations:
    * no variance formula, no distributional assumption, same verdict
    * scale. Work: one user-level partial agg, then B×users bounded
    * re-weighting of per-user sufficient statistics (the Poisson-
    * bootstrap discipline), exact-milli means via truncating div.
    */
  def permutationQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    permutation(ev.select(col("event_type"), col("user_id"),
        when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
      .groupBy("event_type", "user_id", "ga")
      .agg(count(lit(1)).as("nu"), sum(col("v")).as("su")))
  }

  /** Core over a per-user sufficient-statistics frame
    * (event_type, user_id, ga, nu, su). */
  private[graft] def permutation(u: DataFrame): DataFrame = {
    def armAgg(df: DataFrame, arm: Column, extra: Seq[String]): DataFrame =
      df.groupBy("event_type", extra: _*)
        .agg(sum(when(arm === 1L, col("su")).otherwise(0L)).as("sa"),
          sum(when(arm === 1L, col("nu")).otherwise(0L)).as("ca"),
          sum(when(arm =!= 1L, col("su")).otherwise(0L)).as("sb"),
          sum(when(arm =!= 1L, col("nu")).otherwise(0L)).as("cb"))
        .withColumn("d_milli", expr(
          "abs(sa div greatest(ca, 1) - sb div greatest(cb, 1))"))
    val obs = armAgg(u, col("ga"), Nil)
      .select(col("event_type"), col("d_milli").as("d_obs_milli"))
    val reps = armAgg(
      u.select(col("event_type"), col("user_id"), col("nu"), col("su"),
          explode(sequence(lit(0L), lit(63L))).as("b"))
        .withColumn("gb", pmod(conv(substring(md5(concat_ws(":",
          lit("perm"), col("event_type"), col("b"), col("user_id"))),
          1, 6), 16, 10).cast("long"), lit(2))),
      col("gb"), Seq("b"))
    reps.join(broadcast(obs), "event_type")
      .groupBy("event_type", "d_obs_milli")
      .agg(sum(when(col("d_milli") >= col("d_obs_milli"), 1L)
        .otherwise(0L)).as("n_ge"))
      .withColumn("p_ppm", expr("(n_ge + 1) * 1000000 div 65"))
      .withColumn("significant", col("p_ppm") <= 50000L)
      .select("event_type", "d_obs_milli", "n_ge", "p_ppm", "significant")
      .orderBy("event_type")
  }

  /** Difference-in-differences (the Card & Krueger AER 1994 design)
    * on the recorded stream: arms = the even/odd user split, periods
    * = first/second half of each type's day span, outcome = mean
    * event value in exact milli. `DiD = (T_post − T_pre) −
    * (C_post − C_pre)` nets out both the arm-level baseline gap and
    * the common time trend — the readout that says "the treated arm
    * moved MORE than the control's own drift explains", which a naive
    * post-period comparison (q_balance's territory) cannot
    * distinguish from seasonality. On the null even/odd fixture DiD
    * should hover near zero — a large value here would be the
    * parallel-trends red flag. One grouped 8-cell aggregate per type;
    * all means truncating-div milli, mirrored exactly.
    */
  def didQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    did(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, day, ga, v) frame. */
  private[graft] def did(e: DataFrame): DataFrame = {
    val sp = e.groupBy("event_type")
      .agg(expr("(min(day) + max(day)) div 2").as("mid"))
    e.join(broadcast(sp), "event_type")
      .withColumn("post", col("day") > col("mid"))
      .groupBy("event_type")
      .agg(
        sum(when(col("ga") === 1L && !col("post"), 1L).otherwise(0L))
          .as("c_t_pre"),
        sum(when(col("ga") === 1L && !col("post"), col("v")).otherwise(0L))
          .as("s_t_pre"),
        sum(when(col("ga") === 1L && col("post"), 1L).otherwise(0L))
          .as("c_t_post"),
        sum(when(col("ga") === 1L && col("post"), col("v")).otherwise(0L))
          .as("s_t_post"),
        sum(when(col("ga") === 0L && !col("post"), 1L).otherwise(0L))
          .as("c_c_pre"),
        sum(when(col("ga") === 0L && !col("post"), col("v")).otherwise(0L))
          .as("s_c_pre"),
        sum(when(col("ga") === 0L && col("post"), 1L).otherwise(0L))
          .as("c_c_post"),
        sum(when(col("ga") === 0L && col("post"), col("v")).otherwise(0L))
          .as("s_c_post"))
      .withColumn("m_t_pre", expr("s_t_pre div greatest(c_t_pre, 1)"))
      .withColumn("m_t_post", expr("s_t_post div greatest(c_t_post, 1)"))
      .withColumn("m_c_pre", expr("s_c_pre div greatest(c_c_pre, 1)"))
      .withColumn("m_c_post", expr("s_c_post div greatest(c_c_post, 1)"))
      .withColumn("did_milli", expr(
        "(m_t_post - m_t_pre) - (m_c_post - m_c_pre)"))
      .select("event_type", "c_t_pre", "c_t_post", "c_c_pre", "c_c_post",
        "m_t_pre", "m_t_post", "m_c_pre", "m_c_post", "did_milli")
      .orderBy("event_type")
  }

  /** Mantel–Haenszel common odds ratio (Mantel & Haenszel, JNCI 1959;
    * Cochran, Biometrics 1954) across day strata — the Simpson's-
    * paradox guard on the A/B readout: when arm allocation shifts
    * over time (a ramp-up, a holdback change) the CRUDE pooled odds
    * ratio mixes the arm effect with the calendar trend, and can even
    * reverse sign; the MH estimator pools the per-stratum ratios
    * `Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)` with each stratum judged against only
    * its own contemporaneous traffic. The classic epidemiology
    * confounder control, here with days as strata (span-bounded, the
    * same stratification the DiD uses as periods). Exact integers:
    * each per-stratum term quantized once to e-6 via DECIMAL(38,0)
    * cross-products (aᵢdᵢ ≤ stratum² wraps BIGINT at scale — the
    * chi-square lesson applied from day one), ratio in milli, and the
    * `confounded` verdict (crude vs MH differing by >10%) an integer
    * comparison. One (type, day) grouped aggregate, then a per-type
    * rollup — no windows, no joins.
    */
  def mantelHaenszelQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    mantelHaenszel(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("stratum"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("ga"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, stratum, ga, hit) frame. */
  private[graft] def mantelHaenszel(e: DataFrame): DataFrame = {
    val cells = e.groupBy("event_type", "stratum")
      .agg(sum(when(col("ga") === 1L, col("hit")).otherwise(0L)).as("a"),
        sum(when(col("ga") === 1L, lit(1L) - col("hit")).otherwise(0L))
          .as("bm"),
        sum(when(col("ga") === 0L, col("hit")).otherwise(0L)).as("c"),
        sum(when(col("ga") === 0L, lit(1L) - col("hit")).otherwise(0L))
          .as("dm"))
      .withColumn("n", expr("a + bm + c + dm"))
    cells.groupBy("event_type")
      .agg(count(lit(1)).as("n_strata"),
        sum(expr("CAST(CAST(a AS DECIMAL(38,0)) * dm * 1000000 div n" +
          " AS BIGINT)")).as("num_e6"),
        sum(expr("CAST(CAST(bm AS DECIMAL(38,0)) * c * 1000000 div n" +
          " AS BIGINT)")).as("den_e6"),
        sum(col("a")).as("ha"), sum(col("bm")).as("ma"),
        sum(col("c")).as("hb"), sum(col("dm")).as("mb"))
      .withColumn("crude_or_milli",
        expr("CAST(CAST(ha AS DECIMAL(38,0)) * mb * 1000" +
          " div greatest(CAST(ma AS DECIMAL(38,0)) * hb, 1) AS BIGINT)"))
      .withColumn("mh_or_milli",
        expr("num_e6 * 1000 div greatest(den_e6, 1)"))
      .withColumn("confounded",
        expr("abs(crude_or_milli - mh_or_milli) * 1000" +
          " div greatest(mh_or_milli, 1) > 100"))
      .select("event_type", "n_strata", "crude_or_milli", "mh_or_milli",
        "confounded")
      .orderBy("event_type")
  }

  /** Stationary distribution of the user-journey Markov chain — the
    * long-run occupancy the transition matrix (`q_transitions`)
    * implies: where sessions SETTLE, not just where they step next;
    * the PageRank idea specialized to the behavioral chain (power
    * iteration, von Mises–Pollaczek 1929). The matrix is densified
    * over the full observed state set (types with no outgoing
    * transition get the standard self-loop absorbing patch, stated
    * loudly) and 20 power-iteration steps run as ONE array fold on a
    * single collected K×K frame — K = |event types|, bounded by
    * nature, the suite's K-row-frame precedent (waterfill, rebalance)
    * — never a driver loop over 20 Spark jobs. Exact integers
    * end-to-end: v₀ splits 1e6 with the remainder pinned to the
    * lexicographically first state, each step's terms truncate at
    * `v_i·p_ij div 1e6` (mirrored per-term by the oracle's recursive
    * CTE), and the small truncation mass leak is deterministic on
    * both engines. The heavy lift remains the per-user lead window
    * (high-cardinality key, parallel by construction).
    */
  def markovStationaryQ(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val w = W.partitionBy("user_id").orderBy("event_id")
    // same barrier as entropyRateQ: the core reads `pairs` in both
    // the tot and dense subtrees and `states` twice; checkpoint the
    // K-bounded frames so the per-user lead window runs once
    val pairs = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    markovStationary(pairs,
      ev.select(col("event_type").as("state")).distinct().localCheckpoint())
  }

  /** Core over a (from_type, to_type, n) count frame and a (state)
    * state-set frame; both K-bounded.
    */
  /** Row-stochastic densified transition matrix (f, t, p_ppm) over
    * the full state set; terminal states carry the self-loop patch.
    */
  private def markovDense(pairs: DataFrame, states: DataFrame): DataFrame = {
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("ft"))
    states.select(col("state").as("f"))
      .crossJoin(broadcast(states.select(col("state").as("t"))))
      .join(pairs.withColumnRenamed("from_type", "f")
        .withColumnRenamed("to_type", "t"), Seq("f", "t"), "left")
      .na.fill(0L, Seq("n"))
      .join(broadcast(tot.withColumnRenamed("from_type", "f")),
        Seq("f"), "left")
      .withColumn("p_ppm", expr(
        "CASE WHEN ft IS NULL OR ft = 0 THEN" +
          " IF(f = t, 1000000L, 0L)" +
          " ELSE n * 1000000 div ft END"))
      .select("f", "t", "p_ppm")
  }

  private[graft] def markovStationary(pairs: DataFrame,
                                      states: DataFrame): DataFrame = {
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("ft"))
    val dense = markovDense(pairs, states)
    val folded = dense
      .groupBy(lit(1).as("g"))
      .agg(sort_array(collect_list(struct(col("f"), col("t"),
          col("p_ppm")))).as("m"),
        sort_array(collect_set(col("f"))).as("sts"))
      .withColumn("v0", expr(
        """transform(sts, (st, ix) -> named_struct('s', st, 'w',
          |  CASE WHEN ix = 0 THEN
          |    1000000L - (1000000L div size(sts)) * (size(sts) - 1)
          |  ELSE 1000000L div size(sts) END))""".stripMargin))
      .withColumn("vn", expr(
        """aggregate(sequence(1, 20), v0,
          |  (v, it) -> transform(v, sj -> named_struct('s', sj.s, 'w',
          |    aggregate(filter(m, e -> e.t = sj.s), 0L,
          |      (a, e) -> a + element_at(
          |        map_from_entries(transform(v, x -> struct(x.s, x.w))),
          |        e.f) * e.p_ppm div 1000000))))""".stripMargin))
    folded.select(explode(col("vn")).as("x"))
      .select(col("x.s").as("event_type"),
        col("x.w").as("stationary_ppm"))
      .join(tot.withColumnRenamed("from_type", "event_type"),
        Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("ft"), lit(0L)).as("out_total"),
        col("stationary_ppm"))
      .orderBy("event_type")
  }

  /** Holt–Winters weekly-seasonal forecast ledger
    * ([[graft.ops.Monitor.holtWintersDaily]], Winters 1960): level +
    * trend + 7-slot additive seasonal per event type — the smoother
    * that stops calling every weekend an anomaly, and the triple of
    * which `q_holt` is the de-seasoned half. On perfectly periodic
    * traffic the one-step forecast is EXACT (spec-pinned), where
    * plain Holt lags every weekly swing; `q_mase` is the referee for
    * which forecast a capacity planner should trust. Emission starts
    * at day 8 — the first week is the textbook simple initialization
    * (week-1 mean level, zero trend, week-1 deviations seasonal).
    */
  def holtWintersQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Monitor.holtWintersDaily(ev, "event_type",
        AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "day")
  }

  /** Entropy rate of the user-journey chain (Shannon 1948,
    * `H = Σᵢ πᵢ Σⱼ pᵢⱼ ln(1/pᵢⱼ)`) — how PREDICTABLE the next step is
    * once the chain has settled: the one-number companion to
    * `q_markov_stationary`'s WHERE (low H = railroaded funnels, high
    * H = genuinely exploratory sessions; an absorbing state
    * contributes zero by construction, ln 1 = 0, visible in the
    * output). Per state: its stationary weight, its conditional
    * next-step entropy, and the π-weighted contribution — the total
    * rate is the contribution column's sum. The suite's e-4 log
    * discipline: each `ln(1e6/p)` quantized once on its exact
    * rational argument, weighted in ppm, one `div 1e6` rescale;
    * π comes from the same 20-step integer power iteration the
    * stationary query pins. K²-bounded after the per-user lead
    * window.
    */
  def entropyRateQ(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val w = W.partitionBy("user_id").orderBy("event_id")
    // localCheckpoint both K-bounded frames: the core reads `pairs`
    // in FOUR subtrees (hCond's dense, stationary's dense, and a tot
    // branch in each) and `states` in two crossJoin sides — without
    // the barrier each re-runs the per-user lead window over the full
    // event stream (8 parquet scans in the before-plan, see
    // plans/r15). Both frames are K²-/K-sized (transition counts over
    // the event-type alphabet), so the materialization is trivial.
    val pairs = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    entropyRate(pairs,
      ev.select(col("event_type").as("state")).distinct().localCheckpoint())
  }

  /** Core over the same (from_type, to_type, n) + (state) frames as
    * [[markovStationary]].
    */
  private[graft] def entropyRate(pairs: DataFrame,
                                 states: DataFrame): DataFrame = {
    val hCond = markovDense(pairs, states)
      .filter(col("p_ppm") > 0L)
      .groupBy(col("f").as("event_type"))
      .agg(expr("sum(p_ppm * CAST(floor(ln(CAST(1000000 AS DOUBLE)" +
        " / p_ppm) * 10000) AS BIGINT)) div 1000000").as("h_cond_e4"))
    markovStationary(pairs, states)
      .join(hCond, Seq("event_type"))
      .withColumn("contrib_e4",
        expr("stationary_ppm * h_cond_e4 div 1000000"))
      .select("event_type", "stationary_ppm", "h_cond_e4", "contrib_e4")
      .orderBy("event_type")
  }

  /** Cochran–Armitage trend-in-proportions test (Cochran, Biometrics
    * 1954; Armitage 1955) over the day-ordered hit RATE: Mann–Kendall
    * asks whether VOLUME trends; this asks whether the RATE does —
    * the pair separates "more traffic" from "different traffic", and
    * the spec pins the separating fixture (volume doubling at a
    * constant rate reads exactly T = 0 here while MK fires).
    * Day-offset scores, `T·N = N·Σwh − H·Σwn`, `z² = (NΣwh−HΣwn)²·N
    * / (H(N−H)·(NΣnw²−(Σnw)²))` — all integer via DECIMAL(38,0)
    * cross-products with the same large-N envelope note as
    * Mann–Kendall; degenerate all-hit/no-hit/one-day frames read 0
    * by the guard on both engines. One (type, day) partial agg + a
    * per-type rollup; direction is the sign of the exact numerator.
    */
  def cochranArmitageQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    cochranArmitage(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, hit) frame. */
  private[graft] def cochranArmitage(e: DataFrame): DataFrame = {
    val byday = e.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("h"))
    val d0 = byday.groupBy("event_type").agg(min(col("day")).as("dmin"))
    byday.join(broadcast(d0), "event_type")
      .withColumn("w", col("day") - col("dmin"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("nn"), sum(col("h")).as("hh"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * h")).as("swh"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * n")).as("swn"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * w * n")).as("snw2"))
      .withColumn("tnum", expr("nn * swh - hh * swn"))
      .withColumn("den", expr(
        "CAST(hh AS DECIMAL(38,0)) * (nn - hh)" +
          " * (nn * snw2 - swn * swn)"))
      .withColumn("z2_milli", expr(
        "CAST(CASE WHEN den <= 0 THEN 0" +
          " ELSE tnum * tnum * nn * 1000 div den END AS BIGINT)"))
      .withColumn("direction", expr(
        "CASE WHEN tnum > 0 THEN 'up' WHEN tnum < 0 THEN 'down'" +
          " ELSE 'flat' END"))
      .select(col("event_type"), col("nn").as("n_total"),
        col("hh").as("hits"), col("z2_milli"), col("direction"),
        (col("z2_milli") > 3841L).as("significant"))
      .orderBy("event_type")
  }

  /** Lead–lag cross-correlation census (the CCF of Box–Jenkins
    * practice, lags 0–3) between every ordered pair of event types on
    * the COMMON zero-filled day axis: does type A's volume today
    * predict type B's tomorrow — the "which feed leads which"
    * dependency map an ops team reads before blaming the downstream
    * for the upstream's burst (and the cross-series sibling of
    * `q_acf`'s self view). Exactness with NO irrational step at all:
    * the statistic is the SIGNED r² in milli —
    * `sign(num)·num²·1000 / (denx·deny)` with `num = nΣxy−ΣxΣy`,
    * `den = nΣx²−(Σx)²` — so perfect lead reads exactly ±1000 and no
    * sqrt exists to quantize (DECIMAL(38,0) cross-products; the
    * den·den product bounds Long-safe far past any daily-count scale
    * the day grid itself survives, same envelope note as
    * Mann–Kendall). Constant series carry zero variance and read 0
    * by the guard on both engines. Work: one global-span grid
    * (types × days, both bounded) + one lag-shifted self-join on the
    * day axis + a K²·4-row rollup.
    */
  def ccfQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ccf(ev.groupBy(col("event_type"),
        floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("n")))
  }

  /** Core over a per-(event_type, day) count frame; the common axis
    * spans the min..max day over ALL types, zero-filled.
    */
  private[graft] def ccf(byday: DataFrame): DataFrame = {
    val span = byday.agg(min(col("day")).as("g0"), max(col("day")).as("g1"))
    val types = byday.select("event_type").distinct()
    val grid = types.crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("g0"), col("g1"))).as("day"))
      .join(byday, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
    val a = grid.select(col("event_type").as("ta"), col("day"),
        col("n").as("x"))
      .withColumn("k", explode(expr("sequence(0L, 3L)")))
    val b = grid.select(col("event_type").as("tb"),
      col("day").as("dayb"), col("n").as("y"))
    a.join(b, col("dayb") === col("day") + col("k") &&
        col("ta") =!= col("tb"))
      .groupBy("ta", "tb", "k")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("num", expr("n_days * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("denx", expr("n_days * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("deny", expr("n_days * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("ccf_r2_milli", expr(
        "CAST(CASE WHEN denx <= 0 OR deny <= 0 THEN 0" +
          " WHEN num >= 0 THEN num * num * 1000 div (denx * deny)" +
          " ELSE -(num * num * 1000 div (denx * deny)) END AS BIGINT)"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("k").as("lag_k"), col("n_days"), col("ccf_r2_milli"))
      .orderBy("type_a", "type_b", "lag_k")
  }

  /** Seasonal Mann–Kendall (Hirsch & Slack, Water Resources Research
    * 1984): the trend verdict `q_mann_kendall` gives, computed the
    * way a weekly-rhythmed feed NEEDS it — sign pairs form only
    * WITHIN the same weekday class (day mod 7), so the weekend dip
    * stops masquerading as ±trend evidence and a real drift must
    * show up consistently across all seven seasons. `S = Σ_season
    * S_s`, `Var = Σ_season Var_s` (the Hirsch–Slack independence
    * form, serial-correlation caveat theirs), same tie-corrected 18·
    * variance and continuity-corrected integer z² as the flat test —
    * on a strongly weekly series the flat MK and this one DISAGREE
    * by design, which is the point. Pair join stays days²-bounded
    * (now ÷7 per class).
    */
  def seasonalMkQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    seasonalMk(Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts")))
  }

  /** Core over a (key, day, n) day-grid frame. */
  private[graft] def seasonalMk(g0: DataFrame): DataFrame = {
    val g = g0.withColumn("wd", pmod(col("day"), lit(7L)))
    val a = g.select(col("key"), col("wd"), col("day").as("d1"),
      col("n").as("x1"))
    val b = g.select(col("key"), col("wd"), col("day").as("d2"),
      col("n").as("x2"))
    val sStat = a.join(b, Seq("key", "wd"))
      .filter(col("d1") < col("d2"))
      .groupBy("key")
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"))
    val ties = g.groupBy("key", "wd", "n").agg(count(lit(1)).as("t"))
      .groupBy("key", "wd")
      .agg(sum(col("t")).as("nd"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)"))
          .as("tc"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_seasons"), sum(col("nd")).as("nd_total"),
        sum(expr("CAST(nd AS DECIMAL(38,0)) * (nd - 1) * (2 * nd + 5)" +
          " - tc")).as("var18"))
    sStat.join(ties, "key")
      .withColumn("z2_milli",
        expr("CAST(CASE WHEN var18 <= 0 THEN 0 ELSE" +
          " CAST(greatest(abs(s_stat) - 1, 0) AS DECIMAL(38,0))" +
          " * greatest(abs(s_stat) - 1, 0) * 18 * 1000 div var18" +
          " END AS BIGINT)"))
      .select(col("key").as("event_type"), col("n_seasons"),
        col("nd_total"), col("s_stat"), col("z2_milli"),
        (col("z2_milli") > 3841L).as("significant"))
      .orderBy("event_type")
  }

  /** Kruskal–Wallis rank test (JASA 1952) across ALL event types at
    * once — does ANY type draw its values from a different
    * distribution? The k-group generalization completing the
    * two-sample pair (KS: any-shape; Mann–Whitney: dominance): one
    * omnibus answer before k·(k−1)/2 pairwise tests spend the FDR
    * budget. Exactness without a global sort of raw events: ranks
    * collapse onto DISTINCT values (tie-averaged, carried DOUBLED so
    * halves stay integer — `r₂ = 2·C_v + c_v + 1`), and the
    * distinct-value prefix counts are the EIGHTH
    * [[graft.ops.KeyedPrefix.cumsum]] ride (single logical key =
    * one global value order; the range sort spreads it across
    * partitions, which is the entire point). `H = [3000·Σ R₂ⱼ²/nⱼ
    * / (N(N+1)) − 3000(N+1)]·(N³−N)/(N³−N−ΣT)` — the tie-corrected
    * form in exact milli via DECIMAL(38,0); the all-tied degenerate
    * corpus reads H = 0 (guarded, both engines). Verdict against the
    * pinned χ²₍ₖ₋₁₎ 5% ladder.
    */
  def kruskalQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    kruskal(ev.select(col("event_type"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, v) frame. */
  private[graft] def kruskal(e: DataFrame): DataFrame = {
    val dv = e.groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("g", lit(0L))
    val ranked = graft.ops.KeyedPrefix.cumsum(dv,
        keys = Seq("g"), order = Seq("v"),
        sums = Seq("c" -> "cum"), countName = "rn")
      .withColumn("r2", expr("2 * cum - c + 1"))
      .select("v", "r2", "c")
    val groups = e.join(ranked.select("v", "r2"), "v")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_j"), sum(col("r2")).as("r2_j"))
    val ties = ranked.agg(
      sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("t_sum"))
    val tot = groups.agg(sum(col("n_j")).as("nn"),
      count(lit(1)).as("k"),
      sum(expr("CAST(r2_j AS DECIMAL(38,0)) * r2_j div n_j")).as("s"))
    val h = tot.crossJoin(broadcast(ties))
      // H >= 0 mathematically; greatest() pins the truncation dust so
      // the corrected division below never sees a negative dividend
      // (where div/floor semantics could diverge across engines)
      .withColumn("h0_milli", expr(
        "greatest(CAST(3000 * s div (CAST(nn AS DECIMAL(38,0))" +
          " * (nn + 1)) - 3000 * (nn + 1) AS BIGINT), 0L)"))
      .withColumn("h_milli", expr(
        "CAST(CASE WHEN CAST(nn AS DECIMAL(38,0)) * nn * nn - nn" +
          " - t_sum <= 0 THEN 0" +
          " ELSE h0_milli * (CAST(nn AS DECIMAL(38,0)) * nn * nn - nn)" +
          " div (CAST(nn AS DECIMAL(38,0)) * nn * nn - nn - t_sum)" +
          " END AS BIGINT)"))
      .withColumn("crit_milli", expr("CAST(CASE k - 1 WHEN 1 THEN 3841" +
        " WHEN 2 THEN 5991 WHEN 3 THEN 7815 WHEN 4 THEN 9488" +
        " WHEN 5 THEN 11070 WHEN 6 THEN 12592 ELSE 14067 END AS BIGINT)"))
      .withColumn("significant", col("h_milli") > col("crit_milli"))
      .select("k", "nn", "h_milli", "crit_milli", "significant")
    groups.crossJoin(broadcast(h))
      .withColumn("mean_rank_milli", expr("r2_j * 500 div n_j"))
      .select(col("event_type"), col("n_j"), col("mean_rank_milli"),
        col("k").as("n_groups"), col("nn").as("n_total"),
        col("h_milli"), col("crit_milli"), col("significant"))
      .orderBy("event_type")
  }

  /** Holt–Winters forecast skill vs the lag-1 naive (the MAE-ratio
    * referee, Hyndman–Koehler 2006 shape, applied to the seasonal
    * smoother the way `q_mase` referees the seasonal-naive): over the
    * smoother's own emitted days, `Σ|n − ŷ| / Σ|n − n_prev|` in exact
    * milli — below 1000 means the seasonal model earns its state over
    * just carrying yesterday forward; on perfectly periodic traffic
    * it reads EXACTLY 0 (the fixed-point property, spec-pinned),
    * which no naive can match across a weekly swing. Same emitted-day
    * frame as `q_holt_winters` (shared oracle body), one lag window
    * on the span-bounded emission, one rollup.
    */
  def hwSkillQ(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val h = Monitor.holtWintersDaily(ev, "event_type",
        AnalyticsQueries.epochUs(ev, "ts"))
      .withColumnRenamed("key", "event_type")
    h.withColumn("pn",
        lag(col("n"), 1).over(W.partitionBy("event_type").orderBy("day")))
      .filter(col("pn").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("n") * 1000L - col("forecast_milli")))
          .as("hw_err_milli"),
        sum(abs(col("n") * 1000L - col("pn") * 1000L))
          .as("naive_err_milli"))
      .withColumn("skill_milli",
        expr("hw_err_milli * 1000 div greatest(naive_err_milli, 1)"))
      .select("event_type", "n_days", "hw_err_milli", "naive_err_milli",
        "skill_milli")
      .orderBy("event_type")
  }

  /** McNemar's paired-proportion test (Psychometrika 1947) on each
    * user's OWN before/after: among users active in both half-spans,
    * only the DISCORDANT ones — hit-before-but-not-after vs
    * after-but-not-before — carry information, and
    * `z² = (|b−c|−1)²/(b+c)` (continuity-corrected) asks whether the
    * flips are one-sided. The within-user companion the unpaired
    * chi-square cannot be: `q_chisq` compares two user POPULATIONS,
    * this detects the same users CHANGING — a cohort-wide behavior
    * shift reads here while leaving the cross-arm comparison silent.
    * Exact integers (the squared discordant margin through
    * DECIMAL(38,0), the chi-square overflow lesson); zero-discordant
    * frames read 0 by the guard on both engines; users active in
    * only one half pair with nobody and drop, stated.
    */
  def mcnemarQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    mcnemar(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      col("user_id"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, user_id, hit) frame. */
  private[graft] def mcnemar(e: DataFrame): DataFrame = {
    val sp = e.groupBy("event_type")
      .agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val u = e.join(broadcast(sp), "event_type")
      .groupBy("event_type", "user_id")
      .agg(max(when(col("day") <= col("mid"), col("hit")).otherwise(0L))
          .as("pre_hit"),
        max(when(col("day") > col("mid"), col("hit")).otherwise(0L))
          .as("post_hit"),
        max(when(col("day") <= col("mid"), 1L).otherwise(0L))
          .as("has_pre"),
        max(when(col("day") > col("mid"), 1L).otherwise(0L))
          .as("has_post"))
      .filter(col("has_pre") === 1L && col("has_post") === 1L)
    u.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("pre_hit") === 0L && col("post_hit") === 1L, 1L)
          .otherwise(0L)).as("n_01"),
        sum(when(col("pre_hit") === 1L && col("post_hit") === 0L, 1L)
          .otherwise(0L)).as("n_10"))
      .withColumn("z2_milli", expr(
        "CAST(CASE WHEN n_01 + n_10 = 0 THEN 0 ELSE" +
          " CAST(greatest(abs(n_01 - n_10) - 1, 0) AS DECIMAL(38,0))" +
          " * greatest(abs(n_01 - n_10) - 1, 0) * 1000" +
          " div (n_01 + n_10) END AS BIGINT)"))
      .withColumn("significant", col("z2_milli") > 3841L)
      .select("event_type", "n_pairs", "n_01", "n_10", "z2_milli",
        "significant")
      .orderBy("event_type")
  }

  /** Hill tail-index estimator (Hill, Ann. Stat. 1975) over the top
    * `k = clamp(N/20, 2, 100)` order statistics per type —
    * `α̂ = k / Σ ln(x₍ₙ₋ᵢ₎/x₍ₙ₋ₖ₎)` — the third extremes reading
    * beside the POT mean excess (is the tail heavy AT ALL) and the
    * Gumbel return level (what peak to plan for): α below ~2 means
    * infinite variance — averages and z-tests on that metric are
    * lies, the robust/rank battery is the only honest one, which is
    * exactly the routing decision this number drives. Rides the SAME
    * KeyedPrefix global ranking as the mean excess (ninth consumer);
    * each log quantized once on its exact rational argument (e-4,
    * the suite discipline), k·1e7 over the integer log-sum. Zero or
    * negative thresholds make the tail unusable and read α = 0 /
    * `tail_usable = false`, loudly, on both engines.
    */
  def hillQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    hill(ev.select(col("event_type"), col("event_id"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, event_id, v) frame. */
  private[graft] def hill(e: DataFrame): DataFrame = {
    // Rank-threshold and tail ln-sum both depend only on the
    // (type, v)-grouped counts: the threshold value is the group
    // whose cumulative count spans rank r0 = n_total − k_used, and a
    // tail tie at v_thr contributes floor(ln(1)·1e4) = 0, so the ln
    // sum needs only the groups strictly above it. Aggregating first
    // (guide §2.3) removes the full-stream range sort; the grouped
    // prefix scan keeps the same two-pass KeyedPrefix shape.
    // localCheckpoint on g AND on the scan output c: g feeds the two
    // prefix passes + tot, and c is consumed by BOTH the threshold
    // pick and the final rollup — each consumer re-sorts and re-runs
    // pass 2 without a barrier (see ks; paired A/B pinned the
    // unbarriered shape slower than the row-level scan it replaced).
    val g = e.groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val c = graft.ops.KeyedPrefix.cumsum(g,
      keys = Seq("event_type"), order = Seq("v"),
      sums = Seq("cnt" -> "cum"), countName = "gn")
      .localCheckpoint()
    val tot = g.groupBy("event_type").agg(sum(col("cnt")).as("n_total"))
      .withColumn("k_used",
        expr("greatest(least(100L, n_total div 20), 2L)"))
      .withColumn("r0", col("n_total") - col("k_used"))
    // the row-level rk === r0 filter found no row when r0 = 0 and the
    // inner join dropped the type; the r0 >= 1 guard mirrors that
    val thr = c.join(broadcast(tot), "event_type")
      .filter(col("r0") >= 1L && col("cum") >= col("r0") &&
        col("cum") - col("cnt") < col("r0"))
      .select(col("event_type"), col("v").as("v_thr"))
    // no pre-filter on v > v_thr: an all-ties tail must still emit its
    // type's row (lnsum 0, tail_usable false), exactly as the row-level
    // groupBy over the nonempty rank tail did — the CASE guards instead
    c.join(broadcast(thr), "event_type")
      .join(broadcast(tot.drop("r0")), "event_type")
      .groupBy("event_type")
      .agg(max(col("n_total")).as("n_total"),
        max(col("k_used")).as("k_used"),
        max(col("v_thr")).as("u_milli"),
        sum(expr("CASE WHEN v > v_thr AND v_thr > 0 AND v > 0 THEN" +
          " cnt * CAST(floor(ln(CAST(v AS DOUBLE) / v_thr) * 10000)" +
          " AS BIGINT) ELSE 0L END")).as("lnsum_e4"))
      .withColumn("tail_usable", expr("u_milli > 0 AND lnsum_e4 > 0"))
      .withColumn("hill_alpha_milli", expr(
        "CASE WHEN u_milli > 0 AND lnsum_e4 > 0" +
          " THEN k_used * 10000000 div lnsum_e4 ELSE 0L END"))
      .withColumn("heavy_tail",
        col("tail_usable") && col("hill_alpha_milli") < 2000L)
      .select("event_type", "n_total", "k_used", "u_milli",
        "hill_alpha_milli", "tail_usable", "heavy_tail")
      .orderBy("event_type")
  }

  /** Gumbel return level from daily maxima (Gumbel 1958, the
    * block-maxima half of extreme-value theory; method-of-moments
    * fit) — "what daily peak should capacity absorb once a month?":
    * per type, the Gumbel location/scale from the mean and variance
    * of the DAILY MAXIMA (`β = s·√6/π`, `μ = m̄ − 0.5772·β`), and the
    * 30-day return level `μ + β·(−ln(−ln(29/30)))` — the planning
    * number the raw p95 (`q_mean_excess`'s threshold) understates
    * because peaks, not typical values, break capacity. Exact
    * integers to the last step: `n²·Var = n·Σm² − (Σm)²` in
    * DECIMAL(38,0), then ONE sqrt and ONE floor (the single-
    * quantization ln discipline, applied to the only irrational
    * step); √6/π, Euler–Mascheroni, and the T=30 Gumbel quantile are
    * pinned public constants (0.779696801, 0.5772, 3.3843). The
    * `exceeded` flag — observed max above the fitted monthly level —
    * is the one-glance "this tail is heavier than Gumbel" warning.
    */
  def returnLevelQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    returnLevel(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, day, v) frame. */
  private[graft] def returnLevel(e: DataFrame): DataFrame = {
    val dm = e.groupBy("event_type", "day").agg(max(col("v")).as("m"))
    dm.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), max(col("m")).as("max_obs_milli"),
        sum(col("m")).as("sm"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * m")).as("sm2"))
      .withColumn("mean_max_milli", expr("sm div nd"))
      .withColumn("beta_milli", expr(
        "CAST(floor(sqrt(CAST(nd * sm2" +
          " - CAST(sm AS DECIMAL(38,0)) * sm AS DOUBLE))" +
          " / nd * 0.779696801) AS BIGINT)"))
      .withColumn("mu_milli",
        expr("mean_max_milli - beta_milli * 5772 div 10000"))
      .withColumn("ret30_milli",
        expr("mu_milli + beta_milli * 33843 div 10000"))
      .withColumn("exceeded", col("max_obs_milli") > col("ret30_milli"))
      .select("event_type", "nd", "max_obs_milli", "mean_max_milli",
        "beta_milli", "mu_milli", "ret30_milli", "exceeded")
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test (Ann. Math. Stat. 1940) on the daily
    * grid: are above-median and below-median days RANDOMLY
    * interleaved, or do they cluster (too few runs — regime-y
    * traffic) or alternate (too many — load-balancer flapping,
    * batch-cadence artifacts)? Completes the randomness trio: Mann–
    * Kendall asks "does it trend", Ljung–Box asks "is it white",
    * this asks "does the SIGN sequence look drawn at random" — and
    * it is the only one of the three that is distribution-free on
    * the level itself. Median = the lower order statistic on the
    * span-bounded sorted day array (robust-mean discipline);
    * median-equal days drop per the classic recipe (a key whose days
    * all tie the median is absent, both engines); the run count is a
    * fold over the day-ordered sign array; `z² = (RN−N−2n₁n₂)²(N−1)
    * / (2n₁n₂(2n₁n₂−N))` exact via DECIMAL(38,0), continuity left
    * out on both sides by the same pinned definition.
    */
  def runsTestQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    runsTest(Monitor.dailyGrid(ev, "event_type",
      AnalyticsQueries.epochUs(ev, "ts")))
  }

  /** Core over a (key, day, n) day-grid frame. */
  private[graft] def runsTest(g: DataFrame): DataFrame = {
    val med = g.groupBy("key")
      .agg(sort_array(collect_list(col("n"))).as("xs"))
      .withColumn("med",
        expr("element_at(xs, CAST((size(xs) + 1) div 2 AS INT))"))
      .select("key", "med")
    g.join(broadcast(med), "key")
      .filter(col("n") =!= col("med"))
      .withColumn("sgn", when(col("n") > col("med"), 1L).otherwise(0L))
      .groupBy("key")
      .agg(sort_array(collect_list(struct(col("day"), col("sgn"))))
          .as("sq"),
        sum(col("sgn")).as("n1"),
        sum(lit(1L) - col("sgn")).as("n2"))
      .withColumn("runs", expr(
        "CAST(1 + size(filter(zip_with(" +
          "slice(sq, 1, size(sq) - 1), slice(sq, 2, size(sq) - 1)," +
          " (a, b) -> a.sgn != b.sgn), x -> x)) AS BIGINT)"))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("z2_milli", expr(
        "CAST(CASE WHEN n1 = 0 OR n2 = 0 OR 2 * n1 * n2 <= nn THEN 0" +
          " ELSE CAST(runs * nn - nn - 2 * n1 * n2 AS DECIMAL(38,0))" +
          " * (runs * nn - nn - 2 * n1 * n2) * (nn - 1) * 1000" +
          " div (CAST(2 AS DECIMAL(38,0)) * n1 * n2" +
          " * (2 * n1 * n2 - nn)) END AS BIGINT)"))
      .withColumn("significant", col("z2_milli") > 3841L)
      .select(col("key").as("event_type"), col("n1"), col("n2"),
        col("runs"), col("z2_milli"), col("significant"))
      .orderBy("event_type")
  }

  /** Peak-over-threshold mean-excess census (the POT half of extreme-
    * value practice, Davison & Smith JRSS-B 1990; Pickands 1975): per
    * event type, the EXACT p95 value threshold, how often it is
    * exceeded, and the mean exceedance — the mean-excess-plot point a
    * capacity planner reads before trusting any tail extrapolation
    * (rising mean excess = heavy tail, the "plan for the p95 and add
    * headroom" rule quantified). The threshold is a true order
    * statistic (`k = ceil(0.95·N)`), NOT an approximate percentile,
    * and it is found WITHOUT a per-type window: the SEVENTH
    * [[graft.ops.KeyedPrefix.cumsum]] ride (count lane) ranks events
    * in global (type, value, id) order — event types are few and
    * huge, exactly the straggler shape the two-pass prefix scan
    * exists for. Second pass: one broadcast-threshold grouped
    * aggregate. Unique (value, event_id) ordering makes the k-th row
    * identical on both engines; ties above the threshold stay strict
    * (`v > u`) on both.
    */
  def meanExcessQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    meanExcess(ev.select(col("event_type"), col("event_id"),
      expr("CAST(floor(value * 1000) AS BIGINT)").as("v")))
  }

  /** Core over a pre-projected (event_type, event_id, v) frame. */
  private[graft] def meanExcess(e: DataFrame): DataFrame = {
    // The p95 order statistic and the excess sums depend only on the
    // (type, v)-grouped counts: u is the v of the group whose
    // cumulative count spans rank k95, and the tail sums fold
    // cnt-weighted over groups. Aggregating first (guide §2.3)
    // removes the full-stream range sort; the grouped prefix scan
    // keeps the same two-pass KeyedPrefix shape. k95 ∈ [1, n_total]
    // whenever the type has rows, so the spanning group always exists.
    // Same barrier discipline as hill: g feeds two prefix passes +
    // tot; c is consumed by the threshold pick AND the final rollup.
    val g = e.groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val c = graft.ops.KeyedPrefix.cumsum(g,
      keys = Seq("event_type"), order = Seq("v"),
      sums = Seq("cnt" -> "cum"), countName = "gn")
      .localCheckpoint()
    val tot = g.groupBy("event_type").agg(sum(col("cnt")).as("n_total"))
      .withColumn("k95", expr("(95 * n_total + 99) div 100"))
    val thr = c.join(broadcast(tot), "event_type")
      .filter(col("cum") >= col("k95") &&
        col("cum") - col("cnt") < col("k95"))
      .select(col("event_type"), col("v").as("u_milli"))
    c.join(broadcast(thr), "event_type")
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n_total"),
        max(col("u_milli")).as("u_milli"),
        sum(when(col("v") > col("u_milli"), col("cnt")).otherwise(0L))
          .as("n_exceed"),
        sum(when(col("v") > col("u_milli"),
            col("cnt") * (col("v") - col("u_milli")))
          .otherwise(0L)).as("sum_excess"))
      .withColumn("exceed_ppm", expr("n_exceed * 1000000 div n_total"))
      .withColumn("mean_excess_milli",
        expr("sum_excess div greatest(n_exceed, 1)"))
      .select("event_type", "n_total", "u_milli", "n_exceed",
        "exceed_ppm", "mean_excess_milli")
      .orderBy("event_type")
  }

  /** Expected Calibration Error (Naeini et al., AAAI 2015; the
    * reliability-diagram summary of DeGroot–Fienberg 1983) of the
    * "past predicts future" baseline: each user's FIRST-half-span hit
    * rate is the predicted probability for their SECOND-half events,
    * and ECE asks whether those probabilities mean what they say —
    * the calibration half of the filter audit whose discrimination
    * half is `q_filter_auc` (AUC rewards ranking; a model can rank
    * perfectly and still lie about its confidence, which is what a
    * sampling/curation pipeline that THRESHOLDS on scores actually
    * consumes). Standard 10-bin form: `ECE = Σ n_b·|obs_b − pred_b|
    * / N` in exact ppm (per-bin truncating divisions mirrored), plus
    * the worst bin — the reliability diagram's tallest gap — via a
    * (gap, bin) struct-max. Users with no first-half history are
    * unscored by construction (no prediction exists), stated here.
    * One user-level agg + one broadcast-span join + a 10-row-per-type
    * bin rollup; no windows.
    */
  def eceQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ece(ev.select(col("event_type"),
      floor(AnalyticsQueries.epochUs(ev, "ts") / lit(86400000000L))
        .cast("long").as("day"),
      col("user_id"),
      when(col("value") > 200.0, 1L).otherwise(0L).as("hit")))
  }

  /** Core over a pre-projected (event_type, day, user_id, hit) frame. */
  private[graft] def ece(e: DataFrame): DataFrame = {
    val sp = e.groupBy("event_type")
      .agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val t = e.join(broadcast(sp), "event_type")
    val rate = t.filter(col("day") <= col("mid"))
      .groupBy("event_type", "user_id")
      .agg(expr("sum(hit) * 1000000 div count(1)").as("r_ppm"))
    val bins = t.filter(col("day") > col("mid"))
      .join(rate, Seq("event_type", "user_id"))
      .withColumn("bin", expr("least(r_ppm div 100000, 9L)"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_b"), sum(col("hit")).as("h_b"),
        sum(col("r_ppm")).as("p_b"))
      .withColumn("obs_ppm", expr("h_b * 1000000 div n_b"))
      .withColumn("pred_ppm", expr("p_b div n_b"))
      .withColumn("gap_ppm", expr("abs(obs_ppm - pred_ppm)"))
    bins.groupBy("event_type")
      .agg(sum(col("n_b")).as("n_scored"),
        sum(expr("n_b * gap_ppm")).as("w"),
        max(struct(col("gap_ppm"), col("bin"))).as("wb"))
      .select(col("event_type"), col("n_scored"),
        expr("w div n_scored").as("ece_ppm"),
        col("wb.bin").as("worst_bin"),
        col("wb.gap_ppm").as("worst_gap_ppm"))
      .orderBy("event_type")
  }

  // lazy: oracleBase is declared below (keeping the giant literal at the
  // end of the file); by first access it is initialized
  lazy val oracle: Map[String, String] = oracleBase +
    // the persistence round-trip serves from LOADED frames; its gate is
    // bit-identity with the live trained index, so the oracle IS
    // q_ivf_trained's — one definition, two gates, any round-trip
    // divergence hash-mismatches exactly one of them
    ("q_trained_persist" -> oracleBase("q_ivf_trained")) +
    // the partitioned on-disk IVF serving path: same oracle as the
    // in-memory index — the gate proves the Hive-partitioned round
    // trip (and its pruned probe) bit-exact
    ("q_ivf_pruned" -> oracleBase("q_ann_ivf")) +
    // the persisted MinHash band index serving the banded candidate
    // join — same oracle as the live index, round-trip proven by hash
    ("q_minhash_persist" -> oracleBase("q_dedup_minhash")) +
    // the persisted provenance ledger served through the manifest
    // gate — same oracle as the live ledger, round-trip proven by hash
    ("q_prov_persist" -> oracleBase("q_provenance")) +
    // the funnels aggregate the (already hash-gated) provenance
    // ledger — one verdict definition, multiple gates, no drift
    ("q_curation_funnel" ->
      s"""WITH prov AS (SELECT * FROM (${oracleBase("q_provenance")}) zp),
         |toks AS (SELECT doc_id, len(string_split(text,' ')) AS n_tokens
         |  FROM documents)
         |SELECT stage, verdict, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN verdict = 'unreadable' THEN 0
         |    ELSE t.n_tokens END) AS BIGINT) AS n_tokens
         |FROM prov JOIN toks t USING (doc_id)
         |GROUP BY stage, verdict ORDER BY stage""".stripMargin) +
    ("q_funnel_by_source" ->
      s"""WITH prov AS (SELECT * FROM (${oracleBase("q_provenance")}) zp),
         |meta AS (SELECT doc_id, source,
         |    len(string_split(text,' ')) AS n_tokens FROM documents)
         |SELECT m.source, stage, verdict,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN verdict = 'unreadable' THEN 0
         |    ELSE m.n_tokens END) AS BIGINT) AS n_tokens
         |FROM prov JOIN meta m USING (doc_id)
         |GROUP BY m.source, stage, verdict
         |ORDER BY m.source, stage""".stripMargin) +
    // the filter yield curve wraps the (already hash-gated) bigram-LM
    // score chain — one definition, two gates, no drift between them
    ("q_filter_yield" ->
      s"""WITH sc AS (SELECT CAST(floor(CAST(sum_lpq AS DOUBLE) / n_bigrams)
         |    AS BIGINT) AS score, n_bigrams
         |  FROM (${oracleBase("q_lm_score")}) zlm),
         |t AS (SELECT CAST(unnest([-90000, -70000, -50000, -30000])
         |    AS BIGINT) AS threshold)
         |SELECT t.threshold, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN sc.score >= t.threshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN sc.score >= t.threshold THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS kept_ppm,
         |  CAST(sum(sc.n_bigrams) AS BIGINT) AS vol_total,
         |  CAST(sum(CASE WHEN sc.score >= t.threshold
         |    THEN sc.n_bigrams ELSE 0 END) AS BIGINT) AS vol_kept,
         |  CAST(sum(CASE WHEN sc.score >= t.threshold
         |      THEN sc.n_bigrams ELSE 0 END)
         |    * 1000000 // sum(sc.n_bigrams) AS BIGINT) AS vol_kept_ppm
         |FROM t CROSS JOIN sc GROUP BY 1 ORDER BY 1""".stripMargin) +
    // advisor over the (already hash-gated) curve + health chains —
    // one definition per input, two gates, no drift between them
    ("q_ann_advisor" ->
      s"""WITH c AS (SELECT * FROM ($recallCurveOracleSql)),
         |h AS (SELECT * FROM (${oracleBase("q_ivf_health")})),
         |t AS (SELECT CAST(unnest([150000, 250000, 400000, 600000])
         |    AS BIGINT) AS target_ppm),
         |pick AS (SELECT t.target_ppm,
         |    CAST(COALESCE(min(CASE WHEN c.recall_ppm >= t.target_ppm
         |        THEN c.nprobe END), (SELECT max(nprobe) FROM c)) AS BIGINT)
         |      AS nprobe
         |  FROM t CROSS JOIN c GROUP BY 1),
         |hr AS (SELECT n_items,
         |    row_number() OVER (ORDER BY n_items DESC, list_key) AS rk
         |  FROM h),
         |g AS (SELECT CAST(max(n_lists) AS BIGINT) AS n_lists,
         |    CAST(max(total_items) AS BIGINT) AS total_items,
         |    bool_or(skewed) AS rebuild_any FROM h)
         |SELECT p.target_ppm, p.nprobe,
         |  CAST(c.recall_ppm AS BIGINT) AS recall_ppm,
         |  c.recall_ppm >= p.target_ppm AS met_target,
         |  CAST(p.nprobe * (g.total_items // g.n_lists) AS BIGINT)
         |    AS cost_rows_mean,
         |  (SELECT CAST(sum(n_items) AS BIGINT) FROM hr
         |   WHERE rk <= p.nprobe) AS cost_rows_worst,
         |  g.rebuild_any
         |FROM pick p JOIN c ON c.nprobe = p.nprobe CROSS JOIN g
         |ORDER BY p.target_ppm""".stripMargin) +
    // cross-index advisor: wraps BOTH gated curves; index geometry
    // (items, occupied lists) re-stated in the same assignment form
    // the per-index oracles use
    ("q_index_advisor" ->
      s"""WITH sc AS (SELECT nprobe, recall_ppm FROM ($recallCurveOracleSql) zsc),
         |tc AS (SELECT nprobe, recall_ppm FROM ($trainedCurveOracleSql) ztc),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |scent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
         |sranked AS (
         |    SELECT a.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |        c.centroid_id) AS rn
         |    FROM e a CROSS JOIN scent c),
         |sstats AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(count(DISTINCT centroid_id) AS BIGINT) AS n_lists
         |  FROM sranked WHERE rn = 1),
         |km AS (
         |  SELECT vec_id, mv, list_transform(mv, y -> CAST(y AS DOUBLE)) AS dv
         |  FROM (SELECT vec_id,
         |      list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
         |    FROM e) mq),
         |${kmeansChainCtes(16, "k")},
         |tcent AS (SELECT centroid_id, cd AS centv FROM kc2),
         |tranked AS (
         |    SELECT a.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |        c.centroid_id) AS rn
         |    FROM e a CROSS JOIN tcent c),
         |tstats AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(count(DISTINCT centroid_id) AS BIGINT) AS n_lists
         |  FROM tranked WHERE rn = 1),
         |shl AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS li
         |  FROM sranked WHERE rn = 1 GROUP BY 1),
         |sskew AS (SELECT coalesce(bool_or(
         |    li * (SELECT count(*) FROM shl) * 1000 >
         |      2000 * (SELECT sum(li) FROM shl)), false) AS rebuild_any
         |  FROM shl),
         |thl AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS li
         |  FROM tranked WHERE rn = 1 GROUP BY 1),
         |tskew AS (SELECT coalesce(bool_or(
         |    li * (SELECT count(*) FROM thl) * 1000 >
         |      2000 * (SELECT sum(li) FROM thl)), false) AS rebuild_any
         |  FROM thl),
         |allarms AS (
         |  SELECT 'stride' AS variant, sc.nprobe, sc.recall_ppm,
         |    CAST(sc.nprobe * (s.n_items // s.n_lists) AS BIGINT) AS cost_rows_mean,
         |    CASE WHEN (SELECT rebuild_any FROM sskew)
         |      THEN 'rebuild' ELSE 'serve' END AS index_action
         |  FROM sc CROSS JOIN sstats s
         |  UNION ALL
         |  SELECT 'trained' AS variant, tc.nprobe, tc.recall_ppm,
         |    CAST(tc.nprobe * (t.n_items // t.n_lists) AS BIGINT) AS cost_rows_mean,
         |    CASE WHEN (SELECT rebuild_any FROM tskew)
         |      THEN 'rebuild' ELSE 'serve' END AS index_action
         |  FROM tc CROSS JOIN tstats t),
         |tg AS (SELECT CAST(unnest([150000, 250000, 400000, 600000]) AS BIGINT) AS target_ppm),
         |rkd AS (SELECT tg.target_ppm, a.variant, a.nprobe, a.recall_ppm,
         |    a.cost_rows_mean, a.index_action,
         |    a.recall_ppm >= tg.target_ppm AS met_target,
         |    row_number() OVER (PARTITION BY tg.target_ppm ORDER BY
         |      (a.recall_ppm >= tg.target_ppm) DESC,
         |      CASE WHEN a.recall_ppm >= tg.target_ppm
         |        THEN a.cost_rows_mean ELSE -a.recall_ppm END,
         |      a.cost_rows_mean, a.variant, a.nprobe) AS rn
         |  FROM allarms a CROSS JOIN tg)
         |SELECT target_ppm, variant, CAST(nprobe AS BIGINT) AS nprobe,
         |  recall_ppm, cost_rows_mean, met_target, index_action
         |FROM rkd WHERE rn = 1 ORDER BY target_ppm""".stripMargin) +
    // the at-scale clustering route: components over the BANDED pair
    // graph, wrapping the already-gated minhash pair SQL verbatim
    ("q_minhash_clusters" ->
      s"""WITH RECURSIVE mh AS (
         |  SELECT doc_a, doc_b FROM (${oracleBase("q_dedup_minhash")}) zmh),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh
         |  UNION ALL SELECT doc_b, doc_a FROM mh),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) +
    // the histogram oracle wraps the (already hash-gated) cluster
    // chain — one definition, two gates, no drift between them
    ("q_cluster_sizes" ->
      s"""SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |      FROM (${oracleBase("q_dedup_clusters")}) GROUP BY 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin) +
    ("q_neg_collisions" ->
      s"""WITH cl AS (${oracleBase("q_dedup_clusters")}),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM cl GROUP BY 1),
         |m AS (SELECT CAST(COALESCE(sum(sz * (sz - 1)), 0) AS HUGEINT)
         |    AS dup2 FROM sz),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |b AS (SELECT CAST(unnest([64, 256, 1024, 4096]) AS BIGINT) AS batch)
         |SELECT batch,
         |  CAST(least(batch, n_docs) AS BIGINT) AS b_eff,
         |  CAST(1000 * (CAST(least(batch, n_docs) AS HUGEINT)
         |      * (least(batch, n_docs) - 1) // 2) * dup2
         |    // greatest(CAST(n_docs AS HUGEINT) * (n_docs - 1), 1)
         |    AS BIGINT) AS exp_dup_pairs_milli
         |FROM b, m, n ORDER BY batch""".stripMargin) +
    ("q_quantile_norm" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rank,
        |  CAST((rank - 1) * 1000000 // greatest(n_src - 1, 1) AS BIGINT)
        |    AS quantile_ppm
        |FROM r ORDER BY doc_id""".stripMargin) +
    ("q_eb_shrink" ->
      """WITH t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hits
        |  FROM events GROUP BY 1),
        |r AS (SELECT *,
        |    CAST(hits * 1000000 // greatest(n, 1) AS BIGINT) AS raw_ppm
        |  FROM t),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(raw_ppm) AS BIGINT) AS sp,
        |    CAST(sum(CAST(raw_ppm AS HUGEINT) * raw_ppm) AS HUGEINT) AS spp
        |  FROM r),
        |q AS (SELECT *, CAST(sp // greatest(k, 1) AS BIGINT) AS m_ppm,
        |    CAST((k * spp - CAST(sp AS HUGEINT) * sp)
        |      // greatest(CAST(k AS HUGEINT) * (k - 1), 1) AS BIGINT)
        |      AS v_ppm2
        |  FROM p),
        |w AS (SELECT m_ppm, v_ppm2,
        |    greatest(CAST(CAST(m_ppm AS HUGEINT) * (1000000 - m_ppm)
        |      // greatest(v_ppm2, 1) AS BIGINT) - 1, 0) AS big_m
        |  FROM q)
        |SELECT event_type, n, hits, raw_ppm, m_ppm, big_m,
        |  CAST((CAST(hits AS HUGEINT) * 1000000
        |      + CAST(m_ppm AS HUGEINT) * big_m)
        |    // greatest(n + big_m, 1) AS BIGINT) AS shrunk_ppm
        |FROM r, w ORDER BY event_type""".stripMargin) +
    // control charts: the day grid is shared text; the recurrences
    // run as recursive CTEs indexed per key — DuckDB's recursion
    // mirrors the Spark array fold step for step, exact integers
    ("q_ewma" ->
      """WITH RECURSIVE byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
        |    row_number() OVER (PARTITION BY gr.event_type ORDER BY gr.day) AS i
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |e AS (
        |  SELECT event_type, day, n, i, n * 1000 AS prev_milli,
        |    n * 1000 AS ewma_milli
        |  FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i, e.ewma_milli,
        |    (300 * x.n * 1000 + 700 * e.ewma_milli) // 1000
        |  FROM g x JOIN e ON x.event_type = e.event_type AND x.i = e.i + 1)
        |SELECT event_type, day, n, ewma_milli,
        |  CAST(CASE WHEN n * 1000 >= prev_milli
        |    THEN CAST(n * 1000 - prev_milli AS HUGEINT) * 1000000 // greatest(prev_milli, 1)
        |    ELSE -(CAST(prev_milli - n * 1000 AS HUGEINT) * 1000000 // greatest(prev_milli, 1))
        |  END AS BIGINT) AS dev_ppm,
        |  abs(CASE WHEN n * 1000 >= prev_milli
        |    THEN CAST(n * 1000 - prev_milli AS HUGEINT) * 1000000 // greatest(prev_milli, 1)
        |    ELSE -(CAST(prev_milli - n * 1000 AS HUGEINT) * 1000000 // greatest(prev_milli, 1))
        |  END) > 500000 AS flagged
        |FROM e ORDER BY event_type, day""".stripMargin) +
    ("q_mann_whitney" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |st AS (SELECT event_type, v, CAST(sum(ga) AS BIGINT) AS av,
        |    CAST(sum(1 - ga) AS BIGINT) AS bv FROM e GROUP BY 1, 2),
        |c AS (SELECT *, CAST(COALESCE(sum(bv) OVER w, 0) AS BIGINT) AS blt
        |  FROM st WINDOW w AS (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u AS (SELECT event_type,
        |    CAST(sum(av * (2 * blt + bv)) AS BIGINT) AS u2
        |  FROM c GROUP BY 1),
        |tot AS (SELECT event_type, CAST(sum(ga) AS BIGINT) AS na,
        |    CAST(sum(1 - ga) AS BIGINT) AS nb FROM e GROUP BY 1),
        |tie AS (SELECT event_type,
        |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tsum
        |  FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
        |        FROM e GROUP BY 1, 2) g GROUP BY 1),
        |z AS (SELECT u.event_type, na, nb, u2, na + nb AS nn, tsum
        |  FROM u JOIN tot ON u.event_type = tot.event_type
        |  JOIN tie ON u.event_type = tie.event_type)
        |SELECT event_type, na, nb, u2,
        |  CAST(3000 * CAST(nn AS HUGEINT) * (nn - 1)
        |    * CAST(u2 - na * nb AS HUGEINT) * (u2 - na * nb)
        |    // greatest(CAST(na AS HUGEINT) * nb
        |    * (CAST(nn + 1 AS HUGEINT) * nn * (nn - 1) - tsum), 1)
        |    AS BIGINT) AS z2_milli,
        |  CAST(3000 * CAST(nn AS HUGEINT) * (nn - 1)
        |    * CAST(u2 - na * nb AS HUGEINT) * (u2 - na * nb)
        |    // greatest(CAST(na AS HUGEINT) * nb
        |    * (CAST(nn + 1 AS HUGEINT) * nn * (nn - 1) - tsum), 1)
        |    AS BIGINT) > 3841 AS significant
        |FROM z ORDER BY event_type""".stripMargin) +
    ("q_ks" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |c AS (SELECT event_type, v,
        |    CAST(sum(ga) OVER w AS BIGINT) AS ca,
        |    CAST(sum(1 - ga) OVER w AS BIGINT) AS cb
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY v, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (SELECT event_type, v, max(ca) AS ca, max(cb) AS cb
        |  FROM c GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(ga) AS BIGINT) AS na,
        |    CAST(sum(1 - ga) AS BIGINT) AS nb FROM e GROUP BY 1),
        |g AS (SELECT st.event_type, na, nb,
        |    max(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
        |      AS mg
        |  FROM st JOIN tot ON st.event_type = tot.event_type
        |  GROUP BY 1, 2, 3),
        |dd AS (SELECT event_type, na, nb,
        |    CAST(mg * 1000000 // greatest(CAST(na AS HUGEINT) * nb, 1)
        |      AS BIGINT) AS d_ppm FROM g),
        |tm AS (SELECT *,
        |    CAST(CAST(d_ppm AS HUGEINT) * d_ppm
        |      * (CAST(na AS HUGEINT) * nb // greatest(na + nb, 1))
        |      // 1000000000 AS BIGINT) AS t_milli FROM dd)
        |SELECT event_type, na, nb, d_ppm, t_milli,
        |  t_milli >= 1844 AS significant
        |FROM tm ORDER BY event_type""".stripMargin) +
    ("q_chao" ->
      """WITH toks AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM tc GROUP BY 1)
        |SELECT source, v, n, n1, n2,
        |  CAST(n1 * 1000000 // greatest(n, 1) AS BIGINT)
        |    AS missing_mass_ppm,
        |  CAST(CASE WHEN n2 > 0
        |    THEN v + CAST(n1 AS HUGEINT) * n1 // (2 * greatest(n2, 1))
        |    ELSE v + CAST(n1 AS HUGEINT) * (n1 - 1) // 2 END AS BIGINT)
        |    AS chao1
        |FROM g ORDER BY source""".stripMargin) +
    ("q_zipf" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks
        |  WHERE tok <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_vocab FROM tc),
        |top AS (SELECT c,
        |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS r
        |  FROM tc ORDER BY c DESC, tok LIMIT 200),
        |pts AS (SELECT r, c,
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 10000) AS BIGINT) AS lr,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 10000) AS BIGINT) AS lf
        |  FROM top),
        |sl AS (SELECT a.r AS r1, b.r AS r2,
        |    CAST((b.lf - a.lf) * 1000 // (b.lr - a.lr) AS BIGINT)
        |      AS slope_milli
        |  FROM pts a JOIN pts b ON a.r < b.r),
        |m AS (SELECT slope_milli,
        |    row_number() OVER (ORDER BY slope_milli, r1, r2) AS rn,
        |    count(*) OVER () AS np FROM sl)
        |SELECT n_vocab, total AS n_tokens, CAST(np AS BIGINT) AS n_pairs,
        |  CAST(slope_milli AS BIGINT) AS zipf_slope_milli,
        |  CAST((SELECT c FROM top WHERE r = 1) * 1000000
        |    // greatest(total, 1) AS BIGINT) AS top1_share_ppm
        |FROM m, tot WHERE rn = (np + 1) // 2""".stripMargin) +
    ("q_isotropy" -> {
      def scoped(scopeExpr: String): String =
        s"""SELECT $scopeExpr AS scope, qv.q AS q,
           |  list_reduce(list_transform(qv.q, x -> x * x), (a, b) -> a + b)
           |    AS qq
           |FROM qv""".stripMargin
      s"""WITH e AS (SELECT label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |qv AS (SELECT label,
         |    list_transform(v, x -> CAST(floor(x / sqrt(
         |      list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))
         |      * 1000000) AS BIGINT)) AS q
         |  FROM e),
         |b AS (${scoped("'all'")} UNION ALL
         |      ${scoped("'label:' || CAST(label AS VARCHAR)")}),
         |comp AS (SELECT scope, i.i AS pos, CAST(sum(q[i.i]) AS HUGEINT)
         |    AS sc
         |  FROM b, (SELECT unnest(range(1, 65)) AS i) i GROUP BY 1, 2),
         |tt AS (SELECT scope, CAST(sum(sc * sc) AS HUGEINT) AS t
         |  FROM comp GROUP BY 1),
         |dg AS (SELECT scope, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(qq) AS HUGEINT) AS diag FROM b GROUP BY 1)
         |SELECT dg.scope, dg.n,
         |  CAST((t - diag) // greatest(CAST(n AS HUGEINT) * (n - 1), 1)
         |    // 1000000 AS BIGINT) AS mean_cos_ppm
         |FROM dg JOIN tt ON dg.scope = tt.scope
         |ORDER BY dg.scope""".stripMargin
    }) +
    ("q_cramers_v" -> {
      def block(x: String, y: String): String =
        s"""SELECT '$x|$y' AS pair, t.nn AS n,
           |  (SELECT CAST(sum(
           |      (CAST(nxy AS HUGEINT) * t.nn - CAST(nx AS HUGEINT) * ny)
           |      * (CAST(nxy AS HUGEINT) * t.nn - CAST(nx AS HUGEINT) * ny)
           |      * 1000 // (CAST(t.nn AS HUGEINT) * nx * ny))
           |    + (CAST(t.nn AS HUGEINT) * t.nn
           |       - sum(CAST(nx AS HUGEINT) * ny)) * 1000 // t.nn
           |    AS HUGEINT)
           |   FROM (SELECT $x AS x, $y AS y, CAST(count(*) AS BIGINT)
           |           AS nxy FROM dd GROUP BY 1, 2) c
           |   JOIN (SELECT $x AS x, CAST(count(*) AS BIGINT) AS nx
           |         FROM dd GROUP BY 1) sx USING (x)
           |   JOIN (SELECT $y AS y, CAST(count(*) AS BIGINT) AS ny
           |         FROM dd GROUP BY 1) sy USING (y)) AS chi2_milli,
           |  (SELECT CAST(count(DISTINCT $x) AS BIGINT) FROM dd) AS r,
           |  (SELECT CAST(count(DISTINCT $y) AS BIGINT) FROM dd) AS c
           |FROM t""".stripMargin
      s"""WITH dd AS (SELECT source, lang,
         |    least(n_chars // 200, 9) AS len_bucket FROM documents),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM dd),
         |u AS (
         |${block("source", "lang")}
         |UNION ALL
         |${block("source", "len_bucket")}
         |UNION ALL
         |${block("lang", "len_bucket")})
         |SELECT pair, n, CAST(chi2_milli AS BIGINT) AS chi2_milli,
         |  CAST(chi2_milli * 1000 // greatest(CAST(n AS HUGEINT)
         |    * (least(r, c) - 1), 1) AS BIGINT) AS v2_ppm
         |FROM u ORDER BY pair""".stripMargin
    }) +
    ("q_mutual_info" -> {
      def block(x: String, y: String): String =
        s"""SELECT '$x|$y' AS pair, nn AS n,
           |  (SELECT CAST(sum(CAST(floor(ln(CAST(nxy AS DOUBLE) * t.nn
           |      / (CAST(nx AS DOUBLE) * ny)) * 10000) AS BIGINT) * nxy)
           |      AS BIGINT)
           |   FROM (SELECT $x AS x, $y AS y, CAST(count(*) AS BIGINT)
           |           AS nxy FROM dd GROUP BY 1, 2) c
           |   JOIN (SELECT $x AS x, CAST(count(*) AS BIGINT) AS nx
           |         FROM dd GROUP BY 1) sx USING (x)
           |   JOIN (SELECT $y AS y, CAST(count(*) AS BIGINT) AS ny
           |         FROM dd GROUP BY 1) sy USING (y)) // nn AS mi_e4,
           |  (SELECT CAST(-sum(CAST(floor(ln(CAST(nx AS DOUBLE) / t.nn)
           |      * 10000) AS BIGINT) * nx) AS BIGINT)
           |   FROM (SELECT $x AS x, CAST(count(*) AS BIGINT) AS nx
           |         FROM dd GROUP BY 1) sx) // nn AS hx_e4,
           |  (SELECT CAST(-sum(CAST(floor(ln(CAST(ny AS DOUBLE) / t.nn)
           |      * 10000) AS BIGINT) * ny) AS BIGINT)
           |   FROM (SELECT $y AS y, CAST(count(*) AS BIGINT) AS ny
           |         FROM dd GROUP BY 1) sy) // nn AS hy_e4
           |FROM t""".stripMargin
      s"""WITH dd AS (SELECT source, lang,
         |    least(n_chars // 200, 9) AS len_bucket FROM documents),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM dd),
         |u AS (
         |${block("source", "lang")}
         |UNION ALL
         |${block("source", "len_bucket")}
         |UNION ALL
         |${block("lang", "len_bucket")})
         |SELECT pair, n, CAST(mi_e4 AS BIGINT) AS mi_e4,
         |  CAST(hx_e4 AS BIGINT) AS hx_e4, CAST(hy_e4 AS BIGINT) AS hy_e4,
         |  CAST(mi_e4 * 1000000 // greatest(least(hx_e4, hy_e4), 1)
         |    AS BIGINT) AS uncert_ppm
         |FROM u ORDER BY pair""".stripMargin
    }) +
    ("q_ips" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit FROM events),
        |byday AS (SELECT event_type, day,
        |    CAST(sum(ga) AS BIGINT) AS da,
        |    CAST(sum(ga * hit) AS BIGINT) AS dha,
        |    CAST(sum(1 - ga) AS BIGINT) AS db,
        |    CAST(sum((1 - ga) * hit) AS BIGINT) AS dhb
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(COALESCE(sum(da) OVER w, 0) AS BIGINT) AS ca,
        |    CAST(COALESCE(sum(dha) OVER w, 0) AS BIGINT) AS cha,
        |    CAST(COALESCE(sum(db) OVER w, 0) AS BIGINT) AS cb,
        |    CAST(COALESCE(sum(dhb) OVER w, 0) AS BIGINT) AS chb
        |  FROM byday WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |l AS (SELECT event_type, day,
        |    CAST(cha AS HUGEINT) * greatest(cb, 1)
        |      >= CAST(chb AS HUGEINT) * greatest(ca, 1) AS chose_a
        |  FROM c),
        |j AS (SELECT e.event_type,
        |    CASE WHEN (e.ga = 1) = l.chose_a THEN 1 ELSE 0 END AS m,
        |    e.hit
        |  FROM e JOIN l ON e.event_type = l.event_type AND e.day = l.day),
        |r AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(m) AS BIGINT) AS matched,
        |    CAST(sum(m * hit) AS BIGINT) AS matched_hits
        |  FROM j GROUP BY 1)
        |SELECT event_type, n, matched, matched_hits,
        |  CAST(matched_hits * 2000000 // greatest(n, 1) AS BIGINT)
        |    AS ips_ppm,
        |  CAST(matched_hits * 1000000 // greatest(matched, 1) AS BIGINT)
        |    AS snips_ppm
        |FROM r ORDER BY event_type""".stripMargin) +
    ("q_balance" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |g AS (SELECT event_type,
        |    CAST(sum(ga) AS BIGINT) AS na,
        |    CAST(sum(ga * v) AS BIGINT) AS sa,
        |    CAST(sum(CAST(ga * v AS HUGEINT) * v) AS HUGEINT) AS saa,
        |    CAST(sum(1 - ga) AS BIGINT) AS nb,
        |    CAST(sum((1 - ga) * v) AS BIGINT) AS sb,
        |    CAST(sum(CAST((1 - ga) * v AS HUGEINT) * v) AS HUGEINT) AS sbb
        |  FROM e GROUP BY 1),
        |m AS (SELECT *,
        |    CAST(sa // greatest(na, 1) AS BIGINT) AS ma_milli,
        |    CAST(sb // greatest(nb, 1) AS BIGINT) AS mb_milli,
        |    (na * saa - CAST(sa AS HUGEINT) * sa)
        |      // greatest(CAST(na AS HUGEINT) * (na - 1), 1) AS va,
        |    (nb * sbb - CAST(sb AS HUGEINT) * sb)
        |      // greatest(CAST(nb AS HUGEINT) * (nb - 1), 1) AS vb
        |  FROM g),
        |p AS (SELECT *,
        |    ((na - 1) * va + (nb - 1) * vb)
        |      // greatest(na + nb - 2, 1) AS pooled FROM m)
        |SELECT event_type, na, nb, ma_milli, mb_milli,
        |  CAST(CAST(ma_milli - mb_milli AS HUGEINT)
        |    * (ma_milli - mb_milli) * 1000000
        |    // greatest(pooled, 1) AS BIGINT) AS smd2_ppm,
        |  CAST(CAST(ma_milli - mb_milli AS HUGEINT)
        |    * (ma_milli - mb_milli) * 1000000
        |    // greatest(pooled, 1) AS BIGINT) <= 10000 AS balanced
        |FROM p ORDER BY event_type""".stripMargin) +
    ("q_bandit" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit FROM events),
        |byday AS (SELECT event_type, day,
        |    CAST(sum(ga) AS BIGINT) AS da,
        |    CAST(sum(ga * hit) AS BIGINT) AS dha,
        |    CAST(sum(1 - ga) AS BIGINT) AS db,
        |    CAST(sum((1 - ga) * hit) AS BIGINT) AS dhb
        |  FROM e GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT g.event_type, g.day,
        |    COALESCE(b.da, 0) AS da, COALESCE(b.dha, 0) AS dha,
        |    COALESCE(b.db, 0) AS db, COALESCE(b.dhb, 0) AS dhb
        |  FROM (SELECT event_type, unnest(range(d0, d1 + 1)) AS day
        |        FROM sp) g
        |  LEFT JOIN byday b USING (event_type, day)),
        |c AS (SELECT *,
        |    CAST(COALESCE(sum(da) OVER w, 0) AS BIGINT) AS ca,
        |    CAST(COALESCE(sum(dha) OVER w, 0) AS BIGINT) AS cha,
        |    CAST(COALESCE(sum(db) OVER w, 0) AS BIGINT) AS cb,
        |    CAST(COALESCE(sum(dhb) OVER w, 0) AS BIGINT) AS chb
        |  FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |l AS (SELECT *,
        |    CAST(cha AS HUGEINT) * greatest(cb, 1)
        |      >= CAST(chb AS HUGEINT) * greatest(ca, 1) AS chose_a
        |  FROM c),
        |r AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS days,
        |    CAST(sum(CASE WHEN chose_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS days_on_a,
        |    CAST(sum(CASE WHEN chose_a THEN dha ELSE dhb END) AS BIGINT)
        |      AS reward,
        |    CAST(sum(CASE WHEN chose_a THEN da ELSE db END) AS BIGINT)
        |      AS pulls,
        |    CAST(sum(da) AS BIGINT) AS ta, CAST(sum(dha) AS BIGINT) AS tha,
        |    CAST(sum(db) AS BIGINT) AS tb, CAST(sum(dhb) AS BIGINT) AS thb
        |  FROM l GROUP BY 1)
        |SELECT event_type, days, days_on_a, reward, pulls,
        |  CAST(reward * 1000000 // greatest(pulls, 1) AS BIGINT)
        |    AS achieved_ppm,
        |  CAST(greatest(tha * 1000000 // greatest(ta, 1),
        |    thb * 1000000 // greatest(tb, 1)) AS BIGINT) AS best_ppm,
        |  CAST(greatest(tha * 1000000 // greatest(ta, 1),
        |    thb * 1000000 // greatest(tb, 1))
        |    - reward * 1000000 // greatest(pulls, 1) AS BIGINT)
        |    AS regret_ppm
        |FROM r ORDER BY event_type""".stripMargin) +
    ("q_holt" ->
      """WITH RECURSIVE byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
        |    row_number() OVER (PARTITION BY gr.event_type ORDER BY gr.day) AS i
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |e AS (
        |  SELECT event_type, day, n, i,
        |    CAST(n * 1000 AS BIGINT) AS level_milli,
        |    CAST(0 AS BIGINT) AS trend_milli
        |  FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i,
        |    CAST((300 * x.n * 1000
        |      + 700 * (e.level_milli + e.trend_milli)) // 1000 AS BIGINT),
        |    CAST((100 * ((300 * x.n * 1000
        |        + 700 * (e.level_milli + e.trend_milli)) // 1000
        |        - e.level_milli) + 900 * e.trend_milli) // 1000 AS BIGINT)
        |  FROM g x JOIN e ON x.event_type = e.event_type AND x.i = e.i + 1)
        |SELECT event_type, day, n, level_milli, trend_milli,
        |  CAST(level_milli + trend_milli AS BIGINT) AS forecast_milli
        |FROM e ORDER BY event_type, day""".stripMargin) +
    ("q_cusum" ->
      """WITH RECURSIVE byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
        |    row_number() OVER (PARTITION BY gr.event_type ORDER BY gr.day) AS i
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |p AS (SELECT event_type,
        |    CAST(sum(n) * 1000 // count(*) AS BIGINT) AS target_milli,
        |    CAST(sum(n) * 1000 // count(*) // 2 AS BIGINT) AS slack_milli,
        |    CAST((sum(n) * 1000 // count(*)) * 4 AS BIGINT) AS h_milli
        |  FROM g GROUP BY 1),
        |c AS (
        |  SELECT g.event_type, g.day, g.n, g.i,
        |    greatest(0, g.n * 1000 - p.target_milli - p.slack_milli) AS pos_milli,
        |    greatest(0, p.target_milli - g.n * 1000 - p.slack_milli) AS neg_milli
        |  FROM g JOIN p USING (event_type) WHERE g.i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i,
        |    greatest(0, c.pos_milli + x.n * 1000 - p.target_milli - p.slack_milli),
        |    greatest(0, c.neg_milli + p.target_milli - x.n * 1000 - p.slack_milli)
        |  FROM g x JOIN c ON x.event_type = c.event_type AND x.i = c.i + 1
        |  JOIN p ON p.event_type = x.event_type)
        |SELECT c.event_type, c.day, c.n, p.target_milli, c.pos_milli,
        |  c.neg_milli, c.pos_milli > p.h_milli AS alarm_up,
        |  c.neg_milli > p.h_milli AS alarm_down
        |FROM c JOIN p USING (event_type)
        |ORDER BY c.event_type, c.day""".stripMargin) +
    ("q_survival" ->
      """WITH RECURSIVE sp AS (SELECT user_id,
        |    min(epoch_us(ts) // 86400000000) AS d0,
        |    max(epoch_us(ts) // 86400000000) AS d1
        |  FROM events GROUP BY 1),
        |hz AS (SELECT max(d1) AS hmax FROM sp),
        |lt AS (SELECT d1 - d0 AS life,
        |    d1 = (SELECT hmax FROM hz) AS censored FROM sp),
        |cen AS (SELECT life,
        |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS deaths,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS censors
        |  FROM lt GROUP BY 1),
        |tot AS (SELECT CAST(sum(deaths + censors) AS BIGINT) AS n_users
        |  FROM cen),
        |risk AS (SELECT life, deaths, censors,
        |    CAST((SELECT n_users FROM tot) - COALESCE(
        |      sum(deaths + censors) OVER (ORDER BY life
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS at_risk,
        |    CAST(row_number() OVER (ORDER BY life) AS BIGINT) AS i
        |  FROM cen),
        |km AS (
        |  SELECT life, at_risk, deaths, censors, i,
        |    1000 * (at_risk - deaths) // at_risk AS s_milli
        |  FROM risk WHERE i = 1
        |  UNION ALL
        |  SELECT x.life, x.at_risk, x.deaths, x.censors, x.i,
        |    km.s_milli * (x.at_risk - x.deaths) // x.at_risk
        |  FROM risk x JOIN km ON x.i = km.i + 1)
        |SELECT life AS life_days, at_risk, deaths, censors,
        |  CAST(s_milli AS BIGINT) AS survival_milli,
        |  CAST(deaths * 1000000 // at_risk AS BIGINT) AS hazard_ppm
        |FROM km ORDER BY life_days""".stripMargin) +
    ("q_backlog" ->
      """WITH RECURSIVE byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
        |    row_number() OVER (PARTITION BY gr.event_type ORDER BY gr.day) AS i
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |cp AS (SELECT event_type,
        |    CAST(sum(n) * 1200 // count(*) AS BIGINT) AS cap_milli
        |  FROM g GROUP BY 1),
        |q AS (
        |  SELECT g.event_type, g.day, g.n, g.i,
        |    greatest(0, g.n * 1000 - cp.cap_milli) AS backlog_milli
        |  FROM g JOIN cp USING (event_type) WHERE g.i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i,
        |    greatest(0, q.backlog_milli + x.n * 1000 - cp.cap_milli)
        |  FROM g x JOIN q ON x.event_type = q.event_type AND x.i = q.i + 1
        |  JOIN cp ON cp.event_type = x.event_type)
        |SELECT q.event_type, q.day, q.n, cp.cap_milli,
        |  CAST(q.backlog_milli AS BIGINT) AS backlog_milli,
        |  q.backlog_milli = 0 AS drained
        |FROM q JOIN cp USING (event_type)
        |ORDER BY q.event_type, q.day""".stripMargin) +
    ("q_robust_mean" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |a AS (SELECT event_type, list_sort(list(n)) AS xs,
        |    CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS s
        |  FROM g GROUP BY 1),
        |b AS (SELECT *, nd // 10 AS k FROM a)
        |SELECT event_type, nd,
        |  CAST(s * 1000 // nd AS BIGINT) AS mean_milli,
        |  CAST(list_sum(xs[(k+1):(nd-k)]) * 1000
        |    // greatest(nd - 2*k, 1) AS BIGINT) AS trimmed_milli,
        |  CAST((list_sum(xs[(k+1):(nd-k)]) + k * xs[k+1] + k * xs[nd-k])
        |    * 1000 // nd AS BIGINT) AS winsor_milli
        |FROM b ORDER BY event_type""".stripMargin) +
    ("q_srm" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM u GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000
        |    // greatest(n_a + n_b, 1) AS BIGINT) AS z2_milli,
        |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000
        |    // greatest(n_a + n_b, 1) AS BIGINT) > 3841 AS srm
        |FROM g ORDER BY event_type""".stripMargin) +
    ("q_power" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(hit) AS BIGINT) AS hits,
        |    CAST(max(day) - min(day) + 1 AS BIGINT) AS nd
        |  FROM d GROUP BY 1),
        |p AS (SELECT *,
        |    CAST(hits * 1000000 // greatest(n, 1) AS BIGINT) AS p1_ppm FROM g),
        |q AS (SELECT *,
        |    CAST(least(p1_ppm * 11 // 10, 1000000) AS BIGINT) AS p2_ppm FROM p),
        |r AS (SELECT *, CAST(p2_ppm - p1_ppm AS BIGINT) AS diff_ppm FROM q),
        |s AS (SELECT *,
        |    CAST(7849 * (CAST(p1_ppm AS HUGEINT) * (1000000 - p1_ppm)
        |      + CAST(p2_ppm AS HUGEINT) * (1000000 - p2_ppm))
        |      // greatest(CAST(diff_ppm AS HUGEINT) * diff_ppm * 1000, 1)
        |      AS BIGINT) AS n_req FROM r)
        |SELECT event_type, p1_ppm, p2_ppm, diff_ppm, n_req,
        |  CAST((CAST(n_req AS HUGEINT) * 2 * nd + n - 1)
        |    // greatest(n, 1) AS BIGINT) AS days_req
        |FROM s ORDER BY event_type""".stripMargin) +
    ("q_group_seq" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit FROM events),
        |byday AS (SELECT event_type, day,
        |    CAST(sum(ga) AS BIGINT) AS da,
        |    CAST(sum(ga * hit) AS BIGINT) AS dha,
        |    CAST(sum(1 - ga) AS BIGINT) AS db,
        |    CAST(sum((1 - ga) * hit) AS BIGINT) AS dhb
        |  FROM e GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0,
        |    max(day) - min(day) + 1 AS nd FROM byday GROUP BY 1),
        |lk AS (SELECT event_type, d0, nd, unnest(range(1, 6)) AS look FROM sp),
        |lc AS (SELECT event_type, CAST(look AS BIGINT) AS look,
        |    d0 + nd * look // 5 - 1 AS cutoff FROM lk),
        |c AS (SELECT l.event_type, l.look,
        |    CAST(COALESCE(sum(b.da), 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(sum(b.dha), 0) AS BIGINT) AS hits_a,
        |    CAST(COALESCE(sum(b.db), 0) AS BIGINT) AS n_b,
        |    CAST(COALESCE(sum(b.dhb), 0) AS BIGINT) AS hits_b
        |  FROM lc l LEFT JOIN byday b
        |    ON b.event_type = l.event_type AND b.day <= l.cutoff
        |  GROUP BY 1, 2),
        |z AS (SELECT *,
        |    CAST(hits_a * 1000000 // greatest(n_a, 1) AS BIGINT) AS pa_ppm,
        |    CAST(hits_b * 1000000 // greatest(n_b, 1) AS BIGINT) AS pb_ppm,
        |    CAST((hits_a + hits_b) * 1000000 // greatest(n_a + n_b, 1)
        |      AS BIGINT) AS pool_ppm
        |  FROM c),
        |zz AS (SELECT *,
        |    CAST(CAST(pa_ppm - pb_ppm AS HUGEINT) * (pa_ppm - pb_ppm)
        |      * (CAST(n_a AS HUGEINT) * n_b // greatest(n_a + n_b, 1)) * 1000
        |      // greatest(pool_ppm * (1000000 - pool_ppm), 1) AS BIGINT)
        |      AS z2_milli,
        |    CAST(4162 * 5 // look AS BIGINT) AS bound_milli
        |  FROM z),
        |f AS (SELECT *, z2_milli >= bound_milli AS crossed FROM zz),
        |st AS (SELECT event_type, CAST(min(look) AS BIGINT) AS sl
        |  FROM f WHERE crossed GROUP BY 1)
        |SELECT f.event_type, f.look, n_a, hits_a, n_b, hits_b,
        |  z2_milli, bound_milli, crossed,
        |  CAST(COALESCE(st.sl, 0) AS BIGINT) AS stop_look
        |FROM f LEFT JOIN st ON f.event_type = st.event_type
        |ORDER BY f.event_type, f.look""".stripMargin) +
    ("q_cuped" ->
      """WITH ed AS (SELECT event_type, user_id,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value) AS BIGINT) AS v FROM events),
        |m AS (SELECT event_type,
        |    min(day) + (max(day) - min(day) + 1) // 2 AS mid
        |  FROM ed GROUP BY 1),
        |pu AS (SELECT ed.event_type, ed.user_id,
        |    CAST(sum(CASE WHEN ed.day < m.mid THEN ed.v ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ed.day >= m.mid THEN ed.v ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM ed JOIN m ON ed.event_type = m.event_type GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM pu GROUP BY 1),
        |cc AS (SELECT *,
        |    n_users * sxx - CAST(sx AS HUGEINT) * sx AS cxx,
        |    n_users * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
        |    n_users * syy - CAST(sy AS HUGEINT) * sy AS cyy
        |  FROM st)
        |SELECT event_type, n_users,
        |  CAST(cxy * 1000000 // greatest(cxx, 1) AS BIGINT) AS theta_micro,
        |  CAST((cxy // n_users) * (cxy // n_users) * 1000000
        |    // greatest((cxx // n_users) * (cyy // n_users), 1) AS BIGINT)
        |    AS varred_ppm
        |FROM cc ORDER BY event_type""".stripMargin) +
    ("q_jackknife" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(n) AS BIGINT) AS s FROM g GROUP BY 1),
        |j AS (SELECT g.event_type, t.nd, t.s,
        |    CAST(sum(CAST(t.s - g.n AS HUGEINT) * (t.s - g.n)) AS HUGEINT) AS b
        |  FROM g JOIN t USING (event_type) GROUP BY 1, 2, 3),
        |a AS (SELECT *, CAST(s AS HUGEINT) * (nd - 1) AS aa FROM j)
        |SELECT event_type, nd,
        |  CAST(s * 1000 // nd AS BIGINT) AS mean_milli,
        |  CAST((nd * b - aa * aa) * 1000
        |    // greatest(CAST(nd AS HUGEINT) * nd * (nd - 1), 1) AS BIGINT)
        |    AS jk_var_milli
        |FROM a ORDER BY event_type""".stripMargin) +
    ("q_conformal" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |a AS (SELECT event_type, list(n ORDER BY day) AS xs,
        |    CAST(count(*) AS BIGINT) AS nd FROM g GROUP BY 1),
        |b AS (SELECT *, CAST(greatest(2 * nd // 3, 1) AS BIGINT) AS nc FROM a),
        |c AS (SELECT *, nd - nc AS n_test,
        |    CAST(greatest(least((9 * (nc + 1) + 9) // 10, nc), 1) AS BIGINT)
        |      AS r FROM b),
        |d AS (SELECT *, (list_sort(xs[1:nc]))[r] AS q_hat,
        |    xs[(nc+1):nd] AS test FROM c)
        |SELECT event_type, nc AS n_cal, CAST(n_test AS BIGINT) AS n_test,
        |  CAST(q_hat AS BIGINT) AS q_hat,
        |  CAST(1000000 * r // (nc + 1) AS BIGINT) AS target_ppm,
        |  CAST(1000000 * len(list_filter(test, x -> x <= q_hat))
        |    // greatest(n_test, 1) AS BIGINT) AS coverage_ppm
        |FROM d ORDER BY event_type""".stripMargin) +
    ("q_drawdown" ->
      """WITH t AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |c AS (SELECT event_type, v,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(max(v) OVER w AS BIGINT) AS peak
        |  FROM t WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT event_type, n,
        |    CAST((peak - v) * 1000000 // greatest(peak, 1) AS BIGINT) AS dd
        |  FROM c),
        |s AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
        |    CAST(max(dd) AS BIGINT) AS max_dd_ppm FROM d GROUP BY 1),
        |f AS (SELECT event_type, CAST(min(n) AS BIGINT) AS fa
        |  FROM d WHERE dd >= 500000 GROUP BY 1)
        |SELECT s.event_type, n_total, max_dd_ppm,
        |  CAST(COALESCE(f.fa, 0) AS BIGINT) AS first_alarm_n
        |FROM s LEFT JOIN f ON s.event_type = f.event_type
        |ORDER BY s.event_type""".stripMargin) +
    ("q_mase" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |l1 AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n1,
        |    CAST(sum(abs(a.n - b.n)) AS BIGINT) AS sae1
        |  FROM g a JOIN g b ON a.event_type = b.event_type
        |    AND b.day = a.day - 1 GROUP BY 1),
        |l7 AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n7,
        |    CAST(sum(abs(a.n - b.n)) AS BIGINT) AS sae7
        |  FROM g a JOIN g b ON a.event_type = b.event_type
        |    AND b.day = a.day - 7 GROUP BY 1),
        |m AS (SELECT l1.event_type, n1, n7,
        |    CAST(sae1 * 1000 // greatest(n1, 1) AS BIGINT) AS mae1_milli,
        |    CAST(sae7 * 1000 // greatest(n7, 1) AS BIGINT) AS mae7_milli
        |  FROM l1 JOIN l7 ON l1.event_type = l7.event_type)
        |SELECT event_type, n1, n7, mae1_milli, mae7_milli,
        |  CAST(mae7_milli * 1000 // greatest(mae1_milli, 1) AS BIGINT)
        |    AS mase_milli
        |FROM m ORDER BY event_type""".stripMargin) +
    ("q_stickiness" ->
      """WITH act AS (SELECT DISTINCT event_type, user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM act GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |dau AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS dau
        |  FROM act GROUP BY 1, 2),
        |wau AS (SELECT g.event_type, g.day,
        |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
        |  FROM grid g JOIN act a ON a.event_type = g.event_type
        |    AND a.day BETWEEN g.day - 6 AND g.day
        |  GROUP BY 1, 2)
        |SELECT g.event_type, g.day,
        |  CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
        |  CAST(COALESCE(wau.wau, 0) AS BIGINT) AS wau,
        |  CAST(COALESCE(dau.dau, 0) * 1000000
        |    // greatest(COALESCE(wau.wau, 0), 1) AS BIGINT)
        |    AS stickiness_ppm
        |FROM grid g
        |LEFT JOIN dau ON dau.event_type = g.event_type AND dau.day = g.day
        |LEFT JOIN wau ON wau.event_type = g.event_type AND wau.day = g.day
        |ORDER BY g.event_type, g.day""".stripMargin) +
    ("q_cumsum_sql" ->
      """WITH t AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit FROM events)
        |SELECT event_type, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n,
        |  CAST(sum(hit) OVER w AS BIGINT) AS cumh
        |FROM t WINDOW w AS (PARTITION BY event_type
        |  ORDER BY ts_us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) +
    ("q_sprt" ->
      """WITH t AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit FROM events),
        |c AS (SELECT event_type, event_id, ts_us,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(hit) OVER w AS BIGINT) AS cumh
        |  FROM t WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |l AS (SELECT event_type, n,
        |    cumh * 405465 + (n - cumh) * (-10257) AS llr FROM c),
        |cr AS (SELECT event_type, min(n) AS stop_n FROM l
        |  WHERE llr >= 2944439 OR llr <= -2944439 GROUP BY 1),
        |st AS (SELECT l.event_type, cr.stop_n, l.llr AS stop_llr
        |  FROM cr JOIN l ON l.event_type = cr.event_type
        |    AND l.n = cr.stop_n),
        |tot AS (SELECT event_type, max(n) AS n_total FROM l GROUP BY 1),
        |fin AS (SELECT l.event_type, tot.n_total, l.llr AS llr_final
        |  FROM tot JOIN l ON l.event_type = tot.event_type
        |    AND l.n = tot.n_total)
        |SELECT f.event_type,
        |  CAST(COALESCE(st.stop_n, f.n_total) AS BIGINT) AS n_obs,
        |  CAST(COALESCE(st.stop_llr, f.llr_final) AS BIGINT) AS llr_micro,
        |  CASE WHEN st.stop_llr >= 2944439 THEN 'accept_h1'
        |       WHEN st.stop_llr <= -2944439 THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM fin f LEFT JOIN st USING (event_type)
        |ORDER BY f.event_type""".stripMargin) +
    ("q_ab_bootstrap" -> {
      val hex = "(" + (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hh,${1 + i},1))-1)*${BigInt(16).pow(5 - i)}")
        .mkString(" + ") + ")"
      val ts = Seq(6171993L, 12343986L, 15429982L, 16458648L, 16715814L,
        16767247L, 16775819L, 16777044L, 16777197L, 16777214L)
      s"""WITH pu AS (SELECT event_type, user_id,
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
         |    CAST(count(*) AS BIGINT) AS n_u,
         |    CAST(sum(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS h_u
         |  FROM events GROUP BY 1, 2, 3),
         |dr AS (SELECT event_type, user_id, ga, n_u, h_u, b,
         |    $hex AS u24
         |  FROM (SELECT pu.*, ub.b,
         |      substr(md5('pb:' || event_type || ':' || ub.b || ':'
         |        || user_id), 1, 6) AS hh
         |    FROM pu, unnest(range(0, 32)) AS ub(b))),
         |mm AS (SELECT *,
         |    CAST(len(list_filter([${ts.mkString(",")}],
         |      t -> u24 >= t)) AS BIGINT) AS m
         |  FROM dr),
         |reps AS (SELECT event_type, b,
         |    CAST(sum(m * ga * n_u) AS BIGINT) AS n_a,
         |    CAST(sum(m * ga * h_u) AS BIGINT) AS h_a,
         |    CAST(sum(m * (1 - ga) * n_u) AS BIGINT) AS n_b,
         |    CAST(sum(m * (1 - ga) * h_u) AS BIGINT) AS h_b
         |  FROM mm GROUP BY 1, 2),
         |db AS (SELECT event_type, b,
         |    h_a * 1000000 // greatest(n_a, 1)
         |      - h_b * 1000000 // greatest(n_b, 1) AS diff_b
         |  FROM reps),
         |ci AS (SELECT event_type, list_sort(list(diff_b)) AS ds
         |  FROM db GROUP BY 1),
         |pt AS (SELECT event_type,
         |    CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 200
         |        THEN 1 ELSE 0 END) * 1000000
         |      // greatest(sum(CASE WHEN user_id % 2 = 0
         |        THEN 1 ELSE 0 END), 1)
         |    - sum(CASE WHEN user_id % 2 = 1 AND value > 200
         |        THEN 1 ELSE 0 END) * 1000000
         |      // greatest(sum(CASE WHEN user_id % 2 = 1
         |        THEN 1 ELSE 0 END), 1) AS BIGINT) AS diff_ppm
         |  FROM events GROUP BY 1)
         |SELECT ci.event_type, pt.diff_ppm,
         |  CAST(ds[2] AS BIGINT) AS ci_lo_ppm,
         |  CAST(ds[31] AS BIGINT) AS ci_hi_ppm,
         |  ds[2] > 0 OR ds[31] < 0 AS ci_excludes_zero
         |FROM ci JOIN pt USING (event_type)
         |ORDER BY ci.event_type""".stripMargin }) +
    ("q_fanout" ->
      """WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS fanout
        |  FROM orders GROUP BY 1),
        |h AS (SELECT fanout, CAST(count(*) AS BIGINT) AS n_customers
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n_customers) AS BIGINT) AS total FROM h)
        |SELECT h.fanout, h.n_customers,
        |  CAST(CAST(sum(h.n_customers) OVER (ORDER BY h.fanout
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
        |    * 1000000 // t.total AS BIGINT) AS cum_ppm
        |FROM h CROSS JOIN t ORDER BY h.fanout""".stripMargin) +
    ("q_mann_kendall" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |p AS (SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
        |      ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM g a JOIN g b ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |ties AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS nd,
        |    sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tie_corr
        |  FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
        |        FROM g GROUP BY 1, 2)
        |  GROUP BY 1),
        |f AS (SELECT p.event_type, ties.nd, p.s_stat,
        |    CAST(ties.nd AS HUGEINT) * (ties.nd - 1) * (2 * ties.nd + 5)
        |      - ties.tie_corr AS var18
        |  FROM p JOIN ties USING (event_type))
        |SELECT event_type, nd, s_stat,
        |  CAST(CASE WHEN var18 <= 0 THEN 0
        |    ELSE CAST(greatest(abs(s_stat) - 1, 0) AS HUGEINT)
        |      * greatest(abs(s_stat) - 1, 0) * 18 * 1000 // var18 END
        |    AS BIGINT) AS z2_milli,
        |  CAST(CASE WHEN var18 <= 0 THEN 0
        |    ELSE CAST(greatest(abs(s_stat) - 1, 0) AS HUGEINT)
        |      * greatest(abs(s_stat) - 1, 0) * 18 * 1000 // var18 END
        |    AS BIGINT) > 3841 AS significant
        |FROM f ORDER BY event_type""".stripMargin) +
    ("q_fano" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |  CAST(sum(n) AS BIGINT) AS s,
        |  CAST((CAST(count(*) AS HUGEINT) * sum(CAST(n AS HUGEINT) * n)
        |    - CAST(sum(n) AS HUGEINT) * sum(n)) * 1000
        |    // (CAST(count(*) AS HUGEINT) * greatest(sum(n), 1)) AS BIGINT)
        |    AS fano_milli
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) +
    // the rebalance plan wraps the gated shard-order oracle — one
    // order definition, two gates
    ("q_rebalance_plan" ->
      s"""WITH sh AS (SELECT shard FROM (${oracleBase("q_shard")})),
         |sz AS (SELECT shard, CAST(count(*) AS BIGINT) AS sz
         |  FROM sh GROUP BY 1),
         |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS k FROM sz),
         |t AS (SELECT shard, sz,
         |    total // k + CASE WHEN shard < total % k THEN 1 ELSE 0 END
         |      AS target
         |  FROM sz CROSS JOIN tot),
         |d AS (SELECT shard, surplus,
         |    CAST(sum(surplus) OVER (ORDER BY shard
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS hi
         |  FROM (SELECT shard, sz - target AS surplus FROM t)
         |  WHERE surplus > 0),
         |r AS (SELECT shard, need,
         |    CAST(sum(need) OVER (ORDER BY shard
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS hi
         |  FROM (SELECT shard, target - sz AS need FROM t)
         |  WHERE need > 0)
         |SELECT d.shard AS from_shard, r.shard AS to_shard,
         |  CAST(least(d.hi, r.hi) - greatest(d.hi - d.surplus, r.hi - r.need)
         |    AS BIGINT) AS n_moves
         |FROM d JOIN r ON d.hi - d.surplus < r.hi AND r.hi - r.need < d.hi
         |ORDER BY 1, 2""".stripMargin) +
    ("q_acf" -> acfSql) +
    ("q_ljung_box" ->
      s"""WITH a AS ($acfSql),
         |nd AS (SELECT event_type,
         |    CAST(max(epoch_us(ts) // 86400000000)
         |      - min(epoch_us(ts) // 86400000000) + 1 AS BIGINT) AS nd
         |  FROM events GROUP BY 1),
         |t AS (SELECT a.event_type, nd.nd, CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(a.acf_milli * a.acf_milli // (nd.nd - a.lag_k))
         |      AS BIGINT) AS sacc
         |  FROM a JOIN nd USING (event_type) GROUP BY 1, 2)
         |SELECT event_type, nd, m,
         |  CAST(nd * (nd + 2) * sacc // 1000 AS BIGINT) AS q_milli,
         |  CAST(CASE m WHEN 1 THEN 3841 WHEN 2 THEN 5991 WHEN 3 THEN 7815
         |    WHEN 4 THEN 9488 WHEN 5 THEN 11070 WHEN 6 THEN 12592
         |    ELSE 14067 END AS BIGINT) AS crit_milli,
         |  nd * (nd + 2) * sacc // 1000 > CASE m WHEN 1 THEN 3841
         |    WHEN 2 THEN 5991 WHEN 3 THEN 7815 WHEN 4 THEN 9488
         |    WHEN 5 THEN 11070 WHEN 6 THEN 12592 ELSE 14067 END
         |    AS significant
         |FROM t ORDER BY event_type""".stripMargin) +
    ("q_chisq" ->
      """WITH b AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit
        |  FROM events),
        |g AS (SELECT event_type,
        |    CAST(sum(ga) AS BIGINT) AS n_a,
        |    CAST(sum(ga * hit) AS BIGINT) AS hits_a,
        |    CAST(sum(1 - ga) AS BIGINT) AS n_b,
        |    CAST(sum((1 - ga) * hit) AS BIGINT) AS hits_b
        |  FROM b GROUP BY 1),
        |p AS (SELECT *,
        |    CAST(hits_a * 1000000 // greatest(n_a, 1) AS BIGINT) AS pa_ppm,
        |    CAST(hits_b * 1000000 // greatest(n_b, 1) AS BIGINT) AS pb_ppm,
        |    CAST((hits_a + hits_b) * 1000000 // greatest(n_a + n_b, 1)
        |      AS BIGINT) AS pool_ppm
        |  FROM g)
        |SELECT event_type, n_a, hits_a, n_b, hits_b, pa_ppm, pb_ppm,
        |  CAST(pa_ppm - pb_ppm AS BIGINT) AS diff_ppm,
        |  CAST(CAST(pa_ppm - pb_ppm AS HUGEINT) * (pa_ppm - pb_ppm)
        |    * (CAST(n_a AS HUGEINT) * n_b // greatest(n_a + n_b, 1)) * 1000
        |    // greatest(pool_ppm * (1000000 - pool_ppm), 1) AS BIGINT)
        |    AS z2_milli,
        |  CAST(CAST(pa_ppm - pb_ppm AS HUGEINT) * (pa_ppm - pb_ppm)
        |    * (CAST(n_a AS HUGEINT) * n_b // greatest(n_a + n_b, 1)) * 1000
        |    // greatest(pool_ppm * (1000000 - pool_ppm), 1) AS BIGINT) > 3841
        |    AS significant
        |FROM p ORDER BY event_type""".stripMargin) +
    ("q_bootstrap" -> {
      val hex = "(" + (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hh,${1 + i},1))-1)*${BigInt(16).pow(5 - i)}")
        .mkString(" + ") + ")"
      s"""WITH byday AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
         |  FROM byday GROUP BY 1),
         |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
         |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
         |    CAST(row_number() OVER (PARTITION BY gr.event_type
         |      ORDER BY gr.day) AS BIGINT) AS i
         |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
         |nd AS (SELECT event_type, CAST(max(i) AS BIGINT) AS nd
         |  FROM g GROUP BY 1),
         |draws AS (SELECT event_type, nd, b, j,
         |    ($hex) % nd + 1 AS pick
         |  FROM (SELECT n1.event_type, n1.nd, ub.b, uj.j,
         |      substr(md5('bs:' || n1.event_type || ':' || ub.b || ':'
         |        || uj.j), 1, 6) AS hh
         |    FROM nd n1, unnest(range(0, 32)) AS ub(b),
         |      unnest(range(0, n1.nd)) AS uj(j))),
         |reps AS (SELECT d.event_type, d.b,
         |    CAST(sum(g.n) * 1000 // count(*) AS BIGINT) AS mean_milli
         |  FROM draws d JOIN g ON g.event_type = d.event_type
         |    AND g.i = d.pick
         |  GROUP BY 1, 2),
         |ms AS (SELECT event_type, list_sort(list(mean_milli)) AS l
         |  FROM reps GROUP BY 1)
         |SELECT event_type, CAST(l[2] AS BIGINT) AS ci_lo_milli,
         |  CAST(l[31] AS BIGINT) AS ci_hi_milli,
         |  CAST(list_sum(l) // 32 AS BIGINT) AS boot_mean_milli
         |FROM ms ORDER BY event_type""".stripMargin }) +
    ("q_cdc_chunks" -> {
      val hex = "(" + (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hh,${1 + i},1))-1)*${BigInt(16).pow(5 - i)}")
        .mkString(" + ") + ")"
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts
         |  FROM documents),
         |p AS (SELECT doc_id, source, i - 1 AS pos, ts[i] AS tok
         |  FROM t, unnest(range(1, len(ts) + 1)) AS u(i)),
         |b AS (SELECT doc_id, source, pos, tok,
         |    CASE WHEN $hex % 8 = 0 THEN 1 ELSE 0 END AS boundary
         |  FROM (SELECT doc_id, source, pos, tok,
         |        substr(md5('cdc:' || tok), 1, 6) AS hh FROM p)),
         |c AS (SELECT *, sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_idx
         |  FROM b),
         |h AS (SELECT doc_id, source, chunk_idx,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
         |    CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM c GROUP BY 1, 2, 3)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT chunk_hash) AS BIGINT) AS distinct_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(count(*) - count(DISTINCT chunk_hash) AS HUGEINT)
         |    * 1000000 // count(*) AS BIGINT) AS dup_ppm,
         |  CAST(sum(n_tokens) * 1000 // count(*) AS BIGINT) AS mean_len_milli
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin }) +
    ("q_prefix_batch" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
        |u AS (SELECT source, CAST(len(ts) AS BIGINT) AS n_tok,
        |    array_to_string(ts[1:2], ' ') AS prefix,
        |    CAST(least(len(ts), 2) AS BIGINT) AS plen FROM t),
        |g AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS grp_tokens,
        |    CAST(min(plen) AS BIGINT) AS min_plen FROM u GROUP BY 1, 2)
        |SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(grp_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS shared_groups,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN (n_docs - 1) * min_plen
        |    ELSE 0 END) AS BIGINT) AS saved_tokens,
        |  CAST(CAST(sum(CASE WHEN n_docs >= 2 THEN (n_docs - 1) * min_plen
        |      ELSE 0 END) AS HUGEINT) * 1000000
        |    // greatest(sum(grp_tokens), 1) AS BIGINT) AS saving_ppm
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) +
    ("q_pii_census" -> {
      val Seq((pe, re_), (pp, rp), (pi, _), _) = TextStats.ScrubSteps
      s"""WITH c AS (SELECT source,
         |    CAST(len(regexp_extract_all(text, '$pe')) AS BIGINT) AS e,
         |    CAST(len(regexp_extract_all(
         |      regexp_replace(text, '$pe', '$re_', 'g'), '$pp')) AS BIGINT) AS p,
         |    CAST(len(regexp_extract_all(
         |      regexp_replace(regexp_replace(text, '$pe', '$re_', 'g'),
         |        '$pp', '$rp', 'g'), '$pi')) AS BIGINT) AS i
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(e) AS BIGINT) AS n_email,
         |  CAST(sum(p) AS BIGINT) AS n_phone,
         |  CAST(sum(i) AS BIGINT) AS n_id,
         |  CAST(sum(CASE WHEN e + p + i = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_clean
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin }) +
    ("q_waterfill" ->
      """WITH per AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(cap) AS BIGINT) AS supply,
        |    CAST(count(*) AS BIGINT) AS k_total FROM per),
        |r AS (SELECT p.source, p.cap, t.k_total, t.supply // 2 AS budget,
        |    CAST(row_number() OVER (ORDER BY p.cap, p.source) AS BIGINT) AS k,
        |    CAST(sum(p.cap) OVER (ORDER BY p.cap, p.source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS prefix
        |  FROM per p CROSS JOIN tot t),
        |r2 AS (SELECT *,
        |    cap * (k_total - k + 1) <= budget - (prefix - cap) AS capped
        |  FROM r),
        |cs AS (SELECT COALESCE(max(CASE WHEN capped THEN k END), 0) AS kmax,
        |    COALESCE(max(CASE WHEN capped THEN prefix END), 0) AS filled
        |  FROM r2),
        |f AS (SELECT r2.*, cs.kmax, cs.filled,
        |    greatest(r2.k_total - cs.kmax, 1) AS uncapped_n
        |  FROM r2 CROSS JOIN cs),
        |a AS (SELECT source, cap, budget, capped,
        |    CAST(CASE WHEN capped THEN cap
        |      WHEN k - kmax <= (budget - filled) % uncapped_n
        |        THEN (budget - filled) // uncapped_n + 1
        |      ELSE (budget - filled) // uncapped_n END AS BIGINT) AS alloc
        |  FROM f)
        |SELECT source, cap, budget, capped, alloc,
        |  CAST(CAST(alloc AS HUGEINT) * 1000000 // greatest(cap, 1) AS BIGINT)
        |    AS fill_ppm
        |FROM a ORDER BY source""".stripMargin) +
    ("q_pareto" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_distinct
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    CAST(n_distinct * 1000 // greatest(n_tok, 1) AS BIGINT)
        |      AS ttr_milli FROM b),
        |f AS (SELECT *,
        |    max(ttr_milli) OVER (PARTITION BY source ORDER BY n_tok
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |    max(ttr_milli) OVER (PARTITION BY source, n_tok) AS m2
        |  FROM c)
        |SELECT source, doc_id, n_tok, ttr_milli FROM f
        |WHERE ttr_milli = m2 AND (m1 IS NULL OR ttr_milli > m1)
        |ORDER BY source, n_tok, doc_id""".stripMargin) +
    ("q_skew_preview" -> {
      val hex = "(" + (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr(h,${1 + i},1))-1)*${BigInt(16).pow(5 - i)}")
        .mkString(" + ") + ")"
      s"""WITH h AS (SELECT md5('sk:' || CAST(o_custkey AS VARCHAR)) AS full_h
         |  FROM orders),
         |b AS (SELECT $hex % 32 AS bucket
         |  FROM (SELECT substr(full_h, 1, 6) AS h FROM h)),
         |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM b GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b)
         |SELECT g.bucket, g.n_rows,
         |  CAST(CAST(g.n_rows AS HUGEINT) * 1000000 // t.total AS BIGINT)
         |    AS share_ppm,
         |  g.n_rows * 32 > t.total * 2 AS hot
         |FROM g CROSS JOIN t ORDER BY g.bucket""".stripMargin }) +
    // the threshold sweep wraps the gated pair oracle — one pair
    // definition, two gates
    ("q_dedup_sweep" ->
      s"""WITH p AS (SELECT doc_a, doc_b,
         |    CAST(floor(jaccard * 1000) AS BIGINT) AS j_milli
         |  FROM (${oracleBase("q_dedup_ngram")})),
         |t AS (SELECT CAST(unnest([800, 850, 900, 950, 1000]) AS BIGINT)
         |    AS t_milli)
         |SELECT t.t_milli,
         |  CAST((SELECT count(*) FROM p WHERE p.j_milli >= t.t_milli)
         |    AS BIGINT) AS n_pairs,
         |  CAST((SELECT count(DISTINCT d) FROM (
         |      SELECT doc_a AS d FROM p WHERE p.j_milli >= t.t_milli
         |      UNION ALL
         |      SELECT doc_b FROM p WHERE p.j_milli >= t.t_milli))
         |    AS BIGINT) AS n_docs
         |FROM t ORDER BY t.t_milli""".stripMargin) +
    // the striping audit wraps the gated shard-order oracle — one
    // order definition, two gates
    ("q_stripe_audit" ->
      s"""WITH s AS (SELECT doc_id, shard, pos FROM (${oracleBase("q_shard")})),
         |j AS (SELECT s.shard, s.pos, d.source
         |  FROM s JOIN documents d USING (doc_id)),
         |p AS (SELECT a.shard, a.source AS src_a, b.source AS src_b
         |  FROM j a JOIN j b ON a.shard = b.shard AND b.pos = a.pos + 1),
         |agg AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN src_a = src_b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS same_src_pairs FROM p GROUP BY 1),
         |cnts AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS c
         |  FROM j GROUP BY 1, 2),
         |tot AS (SELECT shard, CAST(sum(c) AS BIGINT) AS n_docs,
         |    sum(CAST(c AS HUGEINT) * (c - 1)) AS same_mass FROM cnts GROUP BY 1)
         |SELECT t.shard, n_docs, n_pairs, same_src_pairs,
         |  CAST(CAST(same_src_pairs AS HUGEINT) * 1000000 // n_pairs AS BIGINT)
         |    AS same_src_ppm,
         |  CAST(same_mass * 1000000 // (CAST(n_docs AS HUGEINT) * (n_docs - 1))
         |    AS BIGINT) AS expected_ppm
         |FROM tot t JOIN agg USING (shard) ORDER BY shard""".stripMargin) +
    // the erasure audit wraps the gated chunker and pair-table
    // oracles — artifact definitions shared, no drift
    ("q_erasure_audit" ->
      s"""WITH del AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 97 = 0),
         |ch AS (SELECT doc_id FROM (${oracleBase("q_chunks")})),
         |mp AS (SELECT doc_a, doc_b FROM (${oracleBase("q_dedup_minhash")}))
         |SELECT * FROM (
         |  SELECT 'chunks' AS artifact,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ch) AS n_rows,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ch
         |      WHERE doc_id IN (SELECT doc_id FROM del)) AS n_refs_deleted
         |  UNION ALL SELECT 'chunks_scrubbed',
         |    (SELECT CAST(count(*) AS BIGINT) FROM ch
         |      WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |    CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'documents',
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents
         |      WHERE doc_id IN (SELECT doc_id FROM del))
         |  UNION ALL SELECT 'documents_scrubbed',
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents
         |      WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |    CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'minhash_pairs',
         |    (SELECT CAST(count(*) AS BIGINT) FROM mp),
         |    (SELECT CAST(count(*) AS BIGINT) FROM mp
         |      WHERE doc_a IN (SELECT doc_id FROM del)
         |         OR doc_b IN (SELECT doc_id FROM del))
         |) ORDER BY artifact""".stripMargin) +
    ("q_bloom_skip" -> {
      def ladder(src: String) = (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr($src,${1 + i},1))-1)*${BigInt(16).pow(5 - i)}")
        .mkString("(", " + ", ")")
      def bit(j: Int, v: String) =
        s"${ladder(s"md5('bl$j:' || CAST($v AS VARCHAR))")} % 4096"
      s"""WITH mk AS (SELECT max(l_orderkey) AS mx FROM lineitem),
         |dom AS (SELECT min(l_partkey) AS amin, max(l_partkey) AS amax
         |  FROM lineitem),
         |rws AS (SELECT l_orderkey * 64 // (mk.mx + 1) AS file_id,
         |    l_partkey AS v FROM lineitem CROSS JOIN mk),
         |fb AS (SELECT DISTINCT file_id, b FROM rws,
         |  LATERAL (VALUES (${bit(0, "v")}), (${bit(1, "v")}),
         |    (${bit(2, "v")})) t(b)),
         |probes AS (SELECT probe_id,
         |    amin + (amax - amin) * num // den AS pv
         |  FROM (VALUES (0,0,4), (1,1,4), (2,2,4), (3,3,4), (4,41,100))
         |    x(probe_id, num, den) CROSS JOIN dom),
         |pb AS (SELECT DISTINCT probe_id, pv, b FROM probes,
         |  LATERAL (VALUES (${bit(0, "pv")}), (${bit(1, "pv")}),
         |    (${bit(2, "pv")})) t(b)),
         |kd AS (SELECT probe_id, pv, count(*) AS k_bits FROM pb GROUP BY 1, 2),
         |bh AS (SELECT probe_id, pv,
         |    CAST(count(*) AS BIGINT) AS files_bloom_hit
         |  FROM (SELECT pb.probe_id, pb.pv, fb.file_id, count(*) AS nb
         |      FROM fb JOIN pb USING (b) GROUP BY 1, 2, 3) h
         |    JOIN kd USING (probe_id, pv)
         |  WHERE h.nb = kd.k_bits GROUP BY 1, 2),
         |zn AS (SELECT file_id, min(v) AS vmin, max(v) AS vmax
         |  FROM rws GROUP BY 1),
         |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_files FROM zn),
         |zh AS (SELECT probe_id, pv, CAST(count(*) AS BIGINT)
         |    AS files_zone_hit
         |  FROM zn JOIN probes ON pv >= vmin AND pv <= vmax GROUP BY 1, 2),
         |ac AS (SELECT probe_id, pv,
         |    CAST(count(DISTINCT file_id) AS BIGINT) AS files_actual
         |  FROM rws JOIN probes ON v = pv GROUP BY 1, 2)
         |SELECT p.probe_id, p.pv, nf.n_files,
         |  coalesce(ac.files_actual, 0) AS files_actual,
         |  coalesce(bh.files_bloom_hit, 0) AS files_bloom_hit,
         |  coalesce(zh.files_zone_hit, 0) AS files_zone_hit,
         |  CASE WHEN nf.n_files > coalesce(ac.files_actual, 0)
         |    THEN (coalesce(bh.files_bloom_hit, 0)
         |        - coalesce(ac.files_actual, 0)) * 1000000
         |      // (nf.n_files - coalesce(ac.files_actual, 0))
         |    ELSE 0 END AS bloom_fp_ppm
         |FROM probes p CROSS JOIN nf
         |  LEFT JOIN ac USING (probe_id, pv)
         |  LEFT JOIN bh USING (probe_id, pv)
         |  LEFT JOIN zh USING (probe_id, pv)
         |ORDER BY probe_id""".stripMargin
    }) +
    ("q_selectivity" ->
      """WITH dom AS (SELECT min(l_partkey) AS amin, max(l_partkey) AS amax
        |  FROM lineitem),
        |probes AS (SELECT probe_id,
        |    amin + (amax - amin) * lo_num // den AS lo,
        |    amin + (amax - amin) * hi_num // den AS hi
        |  FROM (VALUES (0,0,1,4), (1,1,2,4), (2,2,3,4), (3,3,4,4),
        |    (4,40,41,100)) v(probe_id, lo_num, hi_num, den) CROSS JOIN dom),
        |hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
        |    max(amin + (amax - amin + 1) * bucket // 64) AS blo,
        |    max(amin + (amax - amin + 1) * (bucket + 1) // 64 - 1) AS bhi
        |  FROM (SELECT (l_partkey - amin) * 64 // (amax - amin + 1) AS bucket,
        |      amin, amax FROM lineitem CROSS JOIN dom)
        |  GROUP BY bucket),
        |est AS (SELECT probe_id, lo, hi,
        |    CAST(sum(n_b * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1)
        |      // (bhi - blo + 1)) AS BIGINT) AS est_rows
        |  FROM hist CROSS JOIN probes GROUP BY 1, 2, 3),
        |act AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM lineitem JOIN probes ON l_partkey >= lo AND l_partkey <= hi
        |  GROUP BY 1)
        |SELECT est.probe_id, est.lo, est.hi, est.est_rows, act.actual_rows,
        |  CASE WHEN est.est_rows >= act.actual_rows
        |    THEN (est.est_rows - act.actual_rows) * 1000000 // act.actual_rows
        |    ELSE -((act.actual_rows - est.est_rows) * 1000000
        |      // act.actual_rows) END AS err_ppm
        |FROM est JOIN act USING (probe_id) ORDER BY probe_id""".stripMargin) +
    ("q_encoding_advisor" ->
      """WITH mk AS (SELECT max(l_orderkey) AS mx FROM lineitem),
        |st AS (SELECT l_orderkey * 64 // (mk.mx + 1) AS file_id,
        |    l_orderkey, l_linenumber, colname, val
        |  FROM lineitem CROSS JOIN mk,
        |  LATERAL (VALUES
        |    ('l_returnflag', l_returnflag),
        |    ('l_linestatus', l_linestatus),
        |    ('l_partkey', CAST(l_partkey AS VARCHAR)),
        |    ('l_suppkey', CAST(l_suppkey AS VARCHAR)),
        |    ('l_quantity', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)))
        |      v(colname, val)),
        |ch AS (SELECT colname, val,
        |    CASE WHEN lag(val) OVER (PARTITION BY colname, file_id
        |        ORDER BY l_orderkey, l_linenumber, val) IS NULL
        |      OR lag(val) OVER (PARTITION BY colname, file_id
        |        ORDER BY l_orderkey, l_linenumber, val) <> val
        |      THEN 1 ELSE 0 END AS chg
        |  FROM st),
        |agg AS (SELECT colname, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
        |    CAST(sum(chg) AS BIGINT) AS n_runs
        |  FROM ch GROUP BY 1)
        |SELECT colname, n, n_distinct, n_runs,
        |  n * 1000000 // n_runs AS avg_run_micro,
        |  CASE WHEN n_distinct * 20 <= n THEN 'dictionary'
        |       WHEN n * 1000000 // n_runs >= 4000000 THEN 'rle'
        |       ELSE 'plain' END AS encoding
        |FROM agg ORDER BY colname""".stripMargin) +
    // the pruning audit composes the two gated file-envelope reports
    ("q_prune_audit" ->
      s"""WITH rep AS (
         |  SELECT 'zorder' AS layout, * FROM (${oracleBase("q_zorder")})
         |  UNION ALL
         |  SELECT 'hilbert' AS layout, * FROM (${oracleBase("q_hilbert")})),
         |dom AS (SELECT min(l_partkey) AS amin, max(l_partkey) AS amax
         |  FROM lineitem),
         |probes AS (SELECT * FROM (VALUES (0,0,1,4), (1,1,2,4), (2,2,3,4),
         |    (3,3,4,4), (4,40,41,100)) v(probe_id, lo_num, hi_num, den)),
         |pb AS (SELECT probe_id,
         |    amin + (amax - amin) * lo_num // den AS lo,
         |    amin + (amax - amin) * hi_num // den AS hi
         |  FROM probes CROSS JOIN dom)
         |SELECT rep.layout, pb.probe_id, pb.lo, pb.hi,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN a_max < lo OR a_min > hi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS files_skipped,
         |  CAST(sum(CASE WHEN a_max < lo OR a_min > hi THEN n_rows ELSE 0 END)
         |    AS BIGINT) AS rows_skipped,
         |  CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
         |  CAST(sum(CASE WHEN a_max < lo OR a_min > hi THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS skip_ppm
         |FROM rep CROSS JOIN pb
         |GROUP BY 1, 2, 3, 4 ORDER BY layout, probe_id""".stripMargin) +
    ("q_json_keys" ->
      """WITH t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |k AS (SELECT event_type, unnest(json_keys(props)) AS key FROM events),
        |c AS (SELECT event_type, key, CAST(count(*) AS BIGINT) AS n
        |  FROM k GROUP BY 1, 2)
        |SELECT c.event_type, c.key, c.n, t.n_events,
        |  c.n * 1000000 // t.n_events AS share_ppm
        |FROM c JOIN t USING (event_type)
        |ORDER BY event_type, key""".stripMargin) +
    // dup × quality composes the gated cluster chain with the gated
    // Gopher gate — again no third definition to drift
    ("q_dup_quality" ->
      s"""WITH cl AS (${oracleBase("q_dedup_clusters")}),
         |sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY 1),
         |dup AS (SELECT cl.doc_id, sz.csize > 1 AS is_dup
         |  FROM cl JOIN sz USING (cluster_id)),
         |gate AS (SELECT doc_id, pass FROM (${oracleBase("q_gopher_rules")})),
         |tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |    AS n_toks FROM documents)
         |SELECT dup.is_dup, gate.pass, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tk.n_toks) AS BIGINT) AS n_tokens
         |FROM dup JOIN gate USING (doc_id) JOIN tk USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) +
    ("q_page_hinkley" ->
      """WITH RECURSIVE byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
        |    row_number() OVER (PARTITION BY gr.event_type ORDER BY gr.day)
        |      AS i
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |kk AS (SELECT event_type,
        |    CAST(sum(n) * 1000 // count(*) AS BIGINT) AS target_milli,
        |    CAST(sum(n) * 1000 // count(*) // 20 AS BIGINT) AS delta_milli,
        |    CAST(sum(n) * 1000 // count(*) * 4 AS BIGINT) AS lambda_milli
        |  FROM g GROUP BY 1),
        |e AS (
        |  SELECT g.event_type, g.day, g.n, g.i, g.n AS cum,
        |    CAST(0 - kk.delta_milli AS BIGINT) AS mu,
        |    CAST(least(0, 0 - kk.delta_milli) AS BIGINT) AS minu,
        |    CAST(0 - kk.delta_milli AS BIGINT) AS md,
        |    CAST(least(0, 0 - kk.delta_milli) AS BIGINT) AS mind
        |  FROM g JOIN kk USING (event_type) WHERE g.i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i, e.cum + x.n,
        |    e.mu + x.n * 1000 - ((e.cum + x.n) * 1000 // x.i)
        |      - kk.delta_milli,
        |    least(e.minu, e.mu + x.n * 1000 - ((e.cum + x.n) * 1000 // x.i)
        |      - kk.delta_milli),
        |    e.md + ((e.cum + x.n) * 1000 // x.i) - x.n * 1000
        |      - kk.delta_milli,
        |    least(e.mind, e.md + ((e.cum + x.n) * 1000 // x.i) - x.n * 1000
        |      - kk.delta_milli)
        |  FROM g x JOIN e ON x.event_type = e.event_type AND x.i = e.i + 1
        |  JOIN kk ON kk.event_type = x.event_type)
        |SELECT e.event_type, e.day, e.n,
        |  e.mu - e.minu AS ph_up_milli, e.md - e.mind AS ph_down_milli,
        |  kk.lambda_milli,
        |  e.mu - e.minu > kk.lambda_milli AS alarm_up,
        |  e.md - e.mind > kk.lambda_milli AS alarm_down
        |FROM e JOIN kk USING (event_type)
        |ORDER BY event_type, day""".stripMargin) +
    ("q_changepoint" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
        |    CAST(row_number() OVER (PARTITION BY gr.event_type
        |      ORDER BY gr.day) AS BIGINT) AS i,
        |    CAST(sum(COALESCE(b.n, 0)) OVER (PARTITION BY gr.event_type
        |      ORDER BY gr.day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |t AS (SELECT event_type, max(i) AS nd, max(cum) AS s
        |  FROM g GROUP BY 1),
        |sp2 AS (SELECT g.event_type, g.day, g.i, g.cum, t.nd, t.s,
        |    CAST(CAST(g.cum AS HUGEINT) * g.cum * 1000 // g.i
        |      + CAST(t.s - g.cum AS HUGEINT) * (t.s - g.cum) * 1000
        |        // (t.nd - g.i)
        |      - CAST(t.s AS HUGEINT) * t.s * 1000 // t.nd AS BIGINT)
        |      AS gain_milli
        |  FROM g JOIN t USING (event_type) WHERE g.i < t.nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain_milli DESC, day) AS rn FROM sp2)
        |SELECT event_type, nd AS n_days, day AS split_day, gain_milli,
        |  CAST(cum * 1000 // i AS BIGINT) AS mean_left_milli,
        |  CAST((s - cum) * 1000 // (nd - i) AS BIGINT) AS mean_right_milli
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin) +
    ("q_theil_sen" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM g GROUP BY 1),
        |p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
        |    CAST(CASE WHEN b.n >= a.n
        |      THEN (b.n - a.n) * 1000 // (b.day - a.day)
        |      ELSE -((a.n - b.n) * 1000 // (b.day - a.day)) END AS BIGINT)
        |      AS slope_milli
        |  FROM g a JOIN g b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |m AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope_milli, d1, d2) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS np FROM p)
        |SELECT m.event_type, nd.n_days, CAST(np AS BIGINT) AS n_pairs,
        |  slope_milli AS sen_slope_milli
        |FROM m JOIN nd USING (event_type)
        |WHERE rn = (np + 1) // 2 ORDER BY event_type""".stripMargin) +
    ("q_psi" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    greatest(least(CAST(floor(value * 1000) AS BIGINT) // 25000, 9), 0)
        |      AS bucket
        |  FROM events),
        |sp AS (SELECT event_type, (min(day) + max(day)) // 2 AS mid
        |  FROM e GROUP BY 1),
        |tg AS (SELECT e.event_type, e.bucket, e.day <= sp.mid AS is_ref
        |  FROM e JOIN sp USING (event_type)),
        |cnt AS (SELECT event_type, bucket,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
        |  FROM tg GROUP BY 1, 2),
        |tot AS (SELECT event_type,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_cur
        |  FROM tg GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(0, 10)) AS bucket
        |  FROM tot),
        |f AS (SELECT g.event_type, g.bucket,
        |    COALESCE(c.cr, 0) AS cr, COALESCE(c.cc, 0) AS cc,
        |    t.n_ref, t.n_cur
        |  FROM grid g LEFT JOIN cnt c USING (event_type, bucket)
        |  JOIN tot t USING (event_type)),
        |p AS (SELECT *,
        |    greatest(cr, 1) * 1000000 // greatest(n_ref, 1) AS p_ppm,
        |    greatest(cc, 1) * 1000000 // greatest(n_cur, 1) AS q_ppm
        |  FROM f),
        |sm AS (SELECT event_type, n_ref, n_cur,
        |    CAST(sum((p_ppm - q_ppm)
        |      * CAST(floor(ln(CAST(p_ppm AS DOUBLE) / q_ppm) * 10000)
        |        AS BIGINT)) // 1000000 AS BIGINT) AS psi_e4
        |  FROM p GROUP BY 1, 2, 3)
        |SELECT event_type, n_ref, n_cur, psi_e4,
        |  CASE WHEN psi_e4 < 1000 THEN 'stable'
        |       WHEN psi_e4 < 2000 THEN 'minor_shift'
        |       ELSE 'shifted' END AS verdict
        |FROM sm ORDER BY event_type""".stripMargin) +
    ("q_js_div" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM toks
        |  WHERE tok <> '' GROUP BY 1, 2),
        |g AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cg FROM tc GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
        |    CAST(count(*) AS BIGINT) AS v_src FROM tc GROUP BY 1),
        |tot AS (SELECT CAST(sum(cg) AS BIGINT) AS nn FROM g),
        |f AS (SELECT ns.source, g.cg, ns.ns, ns.v_src,
        |    tot.nn - ns.ns AS nr, COALESCE(tc.c, 0) AS c
        |  FROM g CROSS JOIN ns CROSS JOIN tot
        |  LEFT JOIN tc ON tc.source = ns.source AND tc.tok = g.tok),
        |t AS (SELECT source, ns, v_src,
        |    CAST(sum(
        |      CASE WHEN c > 0 AND nr > 0 THEN (c * 1000000 // ns)
        |        * CAST(floor(ln(CAST(2 * c * nr AS DOUBLE)
        |          / (c * nr + (cg - c) * ns)) * 10000) AS BIGINT)
        |      ELSE 0 END
        |      + CASE WHEN cg - c > 0 THEN ((cg - c) * 1000000 // nr)
        |        * CAST(floor(ln(CAST(2 * (cg - c) * ns AS DOUBLE)
        |          / (c * nr + (cg - c) * ns)) * 10000) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS tot_e10
        |  FROM f GROUP BY 1, 2, 3)
        |SELECT source, ns AS n_tokens, v_src AS n_vocab_src,
        |  CAST(CASE WHEN tot_e10 >= 0 THEN tot_e10 // 2000000
        |       ELSE -((-tot_e10) // 2000000) END AS BIGINT) AS jsd_e4
        |FROM t ORDER BY source""".stripMargin) +
    ("q_bt_rank" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, value FROM events),
        |lagd AS (SELECT
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS a,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS va,
        |    event_type AS b, value AS vb
        |  FROM ev),
        |comp AS (SELECT
        |    CASE WHEN va > vb THEN a ELSE b END AS i,
        |    CASE WHEN va > vb THEN b ELSE a END AS j
        |  FROM lagd
        |  WHERE a IS NOT NULL AND va IS NOT NULL AND vb IS NOT NULL
        |    AND va <> vb AND a <> b),
        |n AS (SELECT i, j, CAST(count(*) AS BIGINT) AS c FROM comp GROUP BY 1, 2),
        |nt AS (SELECT i, j, CAST(sum(c) AS BIGINT) AS c FROM (
        |    SELECT i, j, c FROM n
        |    UNION ALL SELECT j AS i, i AS j, c FROM n) GROUP BY 1, 2),
        |wins AS (SELECT i, CAST(sum(c) AS BIGINT) AS n_wins FROM n GROUP BY 1),
        |w0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS wq FROM nt),
        |s1 AS (SELECT nt.i, CAST(sum(nt.c * 1000000000000 // (wa.wq + wb.wq)) AS BIGINT) AS s
        |  FROM nt JOIN w0 wa ON nt.i = wa.i JOIN w0 wb ON nt.j = wb.i GROUP BY nt.i),
        |w1 AS (SELECT s1.i,
        |    greatest(COALESCE(wins.n_wins, 0) * 1000000000000 // s1.s, 1) AS wq
        |  FROM s1 LEFT JOIN wins ON s1.i = wins.i),
        |s2 AS (SELECT nt.i, CAST(sum(nt.c * 1000000000000 // (wa.wq + wb.wq)) AS BIGINT) AS s
        |  FROM nt JOIN w1 wa ON nt.i = wa.i JOIN w1 wb ON nt.j = wb.i GROUP BY nt.i),
        |w2 AS (SELECT s2.i,
        |    greatest(COALESCE(wins.n_wins, 0) * 1000000000000 // s2.s, 1) AS wq
        |  FROM s2 LEFT JOIN wins ON s2.i = wins.i),
        |s3 AS (SELECT nt.i, CAST(sum(nt.c * 1000000000000 // (wa.wq + wb.wq)) AS BIGINT) AS s
        |  FROM nt JOIN w2 wa ON nt.i = wa.i JOIN w2 wb ON nt.j = wb.i GROUP BY nt.i),
        |w3 AS (SELECT s3.i,
        |    CAST(greatest(COALESCE(wins.n_wins, 0) * 1000000000000 // s3.s, 1) AS BIGINT) AS wq
        |  FROM s3 LEFT JOIN wins ON s3.i = wins.i),
        |nc AS (SELECT i, CAST(sum(c) AS BIGINT) AS n_comps FROM nt GROUP BY 1)
        |SELECT w3.i AS event_type, COALESCE(wins.n_wins, 0) AS n_wins,
        |  nc.n_comps, w3.wq AS w_q,
        |  CAST(row_number() OVER (ORDER BY w3.wq DESC, w3.i) AS INT) AS rank
        |FROM w3 LEFT JOIN wins ON w3.i = wins.i JOIN nc ON w3.i = nc.i
        |ORDER BY event_type""".stripMargin) +
    ("q_dawid_skene" ->
      """WITH v AS (SELECT doc_id,
        |    CAST(n_chars >= 300 AS INT) AS vl,
        |    CAST(len(list_distinct(string_split(text,' '))) * 2
        |      >= len(string_split(text,' ')) AS INT) AS vv,
        |    CAST((strpos('0123456789abcdef',
        |      substr(md5('ds:'||doc_id),1,1))-1) % 2 AS INT) AS vh
        |  FROM documents WHERE text IS NOT NULL),
        |p0 AS (SELECT doc_id, vl, vv, vh,
        |    CAST((vl+vv+vh) * 1000000 // 3 AS BIGINT) AS p FROM v),
        |m1 AS (SELECT count(*) AS n, CAST(sum(p) AS BIGINT) AS sp,
        |    CAST(sum(CASE WHEN vl=1 THEN p ELSE 0 END) AS BIGINT) AS s_al,
        |    CAST(sum(CASE WHEN vl=0 THEN 1000000-p ELSE 0 END) AS BIGINT) AS s_bl,
        |    CAST(sum(CASE WHEN vv=1 THEN p ELSE 0 END) AS BIGINT) AS s_av,
        |    CAST(sum(CASE WHEN vv=0 THEN 1000000-p ELSE 0 END) AS BIGINT) AS s_bv,
        |    CAST(sum(CASE WHEN vh=1 THEN p ELSE 0 END) AS BIGINT) AS s_ah,
        |    CAST(sum(CASE WHEN vh=0 THEN 1000000-p ELSE 0 END) AS BIGINT) AS s_bh
        |  FROM p0),
        |c1 AS (SELECT
        |    (1000000 + s_al) * 1000000 // (2000000 + sp) AS al,
        |    (1000000 + s_bl) * 1000000 // (2000000 + (n*1000000 - sp)) AS bl,
        |    (1000000 + s_av) * 1000000 // (2000000 + sp) AS av,
        |    (1000000 + s_bv) * 1000000 // (2000000 + (n*1000000 - sp)) AS bv,
        |    (1000000 + s_ah) * 1000000 // (2000000 + sp) AS ah,
        |    (1000000 + s_bh) * 1000000 // (2000000 + (n*1000000 - sp)) AS bh,
        |    (1000000 + sp) // (n + 2) AS rho
        |  FROM m1),
        |e1 AS (SELECT doc_id, vl, vv, vh,
        |    CAST(rho AS HUGEINT)
        |      * (CASE WHEN vl=1 THEN al ELSE 1000000-al END)
        |      * (CASE WHEN vv=1 THEN av ELSE 1000000-av END)
        |      * (CASE WHEN vh=1 THEN ah ELSE 1000000-ah END) AS nn,
        |    CAST(1000000 - rho AS HUGEINT)
        |      * (CASE WHEN vl=1 THEN 1000000-bl ELSE bl END)
        |      * (CASE WHEN vv=1 THEN 1000000-bv ELSE bv END)
        |      * (CASE WHEN vh=1 THEN 1000000-bh ELSE bh END) AS dd
        |  FROM p0, c1),
        |p1 AS (SELECT doc_id, vl, vv, vh,
        |    CAST(nn * 1000000 // (nn + dd) AS BIGINT) AS p FROM e1),
        |m2 AS (SELECT count(*) AS n, CAST(sum(p) AS BIGINT) AS sp,
        |    CAST(sum(CASE WHEN vl=1 THEN p ELSE 0 END) AS BIGINT) AS s_al,
        |    CAST(sum(CASE WHEN vl=0 THEN 1000000-p ELSE 0 END) AS BIGINT) AS s_bl,
        |    CAST(sum(CASE WHEN vv=1 THEN p ELSE 0 END) AS BIGINT) AS s_av,
        |    CAST(sum(CASE WHEN vv=0 THEN 1000000-p ELSE 0 END) AS BIGINT) AS s_bv,
        |    CAST(sum(CASE WHEN vh=1 THEN p ELSE 0 END) AS BIGINT) AS s_ah,
        |    CAST(sum(CASE WHEN vh=0 THEN 1000000-p ELSE 0 END) AS BIGINT) AS s_bh
        |  FROM p1),
        |c2 AS (SELECT
        |    (1000000 + s_al) * 1000000 // (2000000 + sp) AS al,
        |    (1000000 + s_bl) * 1000000 // (2000000 + (n*1000000 - sp)) AS bl,
        |    (1000000 + s_av) * 1000000 // (2000000 + sp) AS av,
        |    (1000000 + s_bv) * 1000000 // (2000000 + (n*1000000 - sp)) AS bv,
        |    (1000000 + s_ah) * 1000000 // (2000000 + sp) AS ah,
        |    (1000000 + s_bh) * 1000000 // (2000000 + (n*1000000 - sp)) AS bh
        |  FROM m2),
        |r AS (SELECT 'hash' AS annotator, ah AS alpha_ppm, bh AS beta_ppm FROM c2
        |  UNION ALL SELECT 'len', al, bl FROM c2
        |  UNION ALL SELECT 'vocab', av, bv FROM c2)
        |SELECT annotator, CAST(alpha_ppm AS BIGINT) AS alpha_ppm,
        |  CAST(beta_ppm AS BIGINT) AS beta_ppm,
        |  CAST((alpha_ppm + beta_ppm) // 2 AS BIGINT) AS acc_ppm,
        |  CAST(row_number() OVER (ORDER BY (alpha_ppm + beta_ppm) // 2 DESC,
        |    annotator) AS INT) AS rank
        |FROM r ORDER BY annotator""".stripMargin) +
    ("q_kappa" ->
      """WITH r AS (SELECT source,
        |    n_chars >= 150 AND n_chars <= 1500 AS ra,
        |    len(list_distinct(string_split(text, ' '))) * 2
        |      >= len(string_split(text, ' ')) AS rb
        |  FROM documents),
        |gby AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(sum(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS agree
        |  FROM r GROUP BY 1),
        |p AS (SELECT *, agree * 1000000 // n_docs AS po_ppm,
        |    CAST((CAST(a1 AS HUGEINT) * b1
        |      + CAST(n_docs - a1 AS HUGEINT) * (n_docs - b1)) * 1000000
        |      // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS pe_ppm
        |  FROM gby),
        |k AS (SELECT *,
        |    CASE WHEN po_ppm >= pe_ppm
        |      THEN (po_ppm - pe_ppm) * 1000
        |        // greatest(1000000 - pe_ppm, 1)
        |      ELSE -((pe_ppm - po_ppm) * 1000
        |        // greatest(1000000 - pe_ppm, 1))
        |    END AS kappa_milli FROM p)
        |SELECT source, n_docs, a1, b1, po_ppm, pe_ppm,
        |  CAST(kappa_milli AS BIGINT) AS kappa_milli,
        |  CASE WHEN kappa_milli < 0 THEN 'poor'
        |       WHEN kappa_milli < 200 THEN 'slight'
        |       WHEN kappa_milli < 400 THEN 'fair'
        |       WHEN kappa_milli < 600 THEN 'moderate'
        |       WHEN kappa_milli < 800 THEN 'substantial'
        |       ELSE 'almost_perfect' END AS band
        |FROM k ORDER BY source""".stripMargin) +
    // the FDR pass wraps the same z² CTE the q_chisq gate pins — the
    // ladder maps each statistic to its bracket's conservative upper p
    ("q_bh_fdr" ->
      """WITH b AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN value > 200 THEN 1 ELSE 0 END AS hit
        |  FROM events),
        |g AS (SELECT event_type,
        |    CAST(sum(ga) AS BIGINT) AS n_a,
        |    CAST(sum(ga * hit) AS BIGINT) AS hits_a,
        |    CAST(sum(1 - ga) AS BIGINT) AS n_b,
        |    CAST(sum((1 - ga) * hit) AS BIGINT) AS hits_b
        |  FROM b GROUP BY 1),
        |p AS (SELECT *,
        |    CAST(hits_a * 1000000 // greatest(n_a, 1) AS BIGINT) AS pa_ppm,
        |    CAST(hits_b * 1000000 // greatest(n_b, 1) AS BIGINT) AS pb_ppm,
        |    CAST((hits_a + hits_b) * 1000000 // greatest(n_a + n_b, 1)
        |      AS BIGINT) AS pool_ppm
        |  FROM g),
        |z AS (SELECT event_type,
        |    CAST(CAST(pa_ppm - pb_ppm AS HUGEINT) * (pa_ppm - pb_ppm)
        |      * (CAST(n_a AS HUGEINT) * n_b // greatest(n_a + n_b, 1))
        |      * 1000
        |      // greatest(pool_ppm * (1000000 - pool_ppm), 1) AS BIGINT)
        |      AS z2_milli
        |  FROM p),
        |pv AS (SELECT event_type, z2_milli,
        |    CASE WHEN z2_milli >= 10828 THEN 1000
        |         WHEN z2_milli >= 7879 THEN 5000
        |         WHEN z2_milli >= 6635 THEN 10000
        |         WHEN z2_milli >= 5412 THEN 20000
        |         WHEN z2_milli >= 3841 THEN 50000
        |         WHEN z2_milli >= 2706 THEN 100000
        |         WHEN z2_milli >= 1642 THEN 200000
        |         WHEN z2_milli >= 455 THEN 500000
        |         ELSE 1000000 END AS p_ppm FROM z),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p_ppm, event_type)
        |      AS BIGINT) AS rank,
        |    CAST(count(*) OVER () AS BIGINT) AS m FROM pv),
        |k AS (SELECT CAST(COALESCE(max(CASE WHEN p_ppm * m <= rank * 50000
        |      THEN rank END), 0) AS BIGINT) AS kmax FROM r)
        |SELECT event_type, z2_milli, CAST(p_ppm AS BIGINT) AS p_ppm,
        |  rank, m, rank <= kmax AS rejected
        |FROM r, k ORDER BY event_type""".stripMargin) +
    ("q_permutation" -> {
      val hex = "(" + (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hh,${1 + i},1))-1)*${BigInt(16).pow(5 - i)}")
        .mkString(" + ") + ")"
      s"""WITH u AS (SELECT event_type, user_id,
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
         |    CAST(count(*) AS BIGINT) AS nu,
         |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS su
         |  FROM events GROUP BY 1, 2, 3),
         |obs AS (SELECT event_type,
         |    CAST(sum(CASE WHEN ga = 1 THEN su ELSE 0 END) AS BIGINT) AS sa,
         |    CAST(sum(CASE WHEN ga = 1 THEN nu ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN ga = 0 THEN su ELSE 0 END) AS BIGINT) AS sb,
         |    CAST(sum(CASE WHEN ga = 0 THEN nu ELSE 0 END) AS BIGINT) AS cb
         |  FROM u GROUP BY 1),
         |od AS (SELECT event_type,
         |    abs(sa // greatest(ca, 1) - sb // greatest(cb, 1))
         |      AS d_obs_milli FROM obs),
         |rep0 AS (SELECT u.event_type, u.nu, u.su, ub.b,
         |    substr(md5('perm:' || u.event_type || ':' || ub.b || ':'
         |      || u.user_id), 1, 6) AS hh
         |  FROM u, unnest(range(0, 64)) AS ub(b)),
         |rep AS (SELECT event_type, b, ($hex) % 2 AS gb, nu, su FROM rep0),
         |ra AS (SELECT event_type, b,
         |    CAST(sum(CASE WHEN gb = 1 THEN su ELSE 0 END) AS BIGINT) AS sa,
         |    CAST(sum(CASE WHEN gb = 1 THEN nu ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN gb = 0 THEN su ELSE 0 END) AS BIGINT) AS sb,
         |    CAST(sum(CASE WHEN gb = 0 THEN nu ELSE 0 END) AS BIGINT) AS cb
         |  FROM rep GROUP BY 1, 2),
         |rd AS (SELECT event_type,
         |    abs(sa // greatest(ca, 1) - sb // greatest(cb, 1)) AS d_milli
         |  FROM ra),
         |fin AS (SELECT rd.event_type, od.d_obs_milli,
         |    CAST(sum(CASE WHEN d_milli >= d_obs_milli THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_ge
         |  FROM rd JOIN od USING (event_type) GROUP BY 1, 2)
         |SELECT event_type, d_obs_milli, n_ge,
         |  CAST((n_ge + 1) * 1000000 // 65 AS BIGINT) AS p_ppm,
         |  (n_ge + 1) * 1000000 // 65 <= 50000 AS significant
         |FROM fin ORDER BY event_type""".stripMargin }) +
    ("q_did" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |sp AS (SELECT event_type, (min(day) + max(day)) // 2 AS mid
        |  FROM e GROUP BY 1),
        |t AS (SELECT e.event_type, e.ga, e.day > sp.mid AS post, e.v
        |  FROM e JOIN sp USING (event_type)),
        |c AS (SELECT event_type,
        |    CAST(sum(CASE WHEN ga = 1 AND NOT post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_t_pre,
        |    CAST(sum(CASE WHEN ga = 1 AND NOT post THEN v ELSE 0 END)
        |      AS BIGINT) AS s_t_pre,
        |    CAST(sum(CASE WHEN ga = 1 AND post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_t_post,
        |    CAST(sum(CASE WHEN ga = 1 AND post THEN v ELSE 0 END)
        |      AS BIGINT) AS s_t_post,
        |    CAST(sum(CASE WHEN ga = 0 AND NOT post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_c_pre,
        |    CAST(sum(CASE WHEN ga = 0 AND NOT post THEN v ELSE 0 END)
        |      AS BIGINT) AS s_c_pre,
        |    CAST(sum(CASE WHEN ga = 0 AND post THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_c_post,
        |    CAST(sum(CASE WHEN ga = 0 AND post THEN v ELSE 0 END)
        |      AS BIGINT) AS s_c_post
        |  FROM t GROUP BY 1),
        |m AS (SELECT *,
        |    s_t_pre // greatest(c_t_pre, 1) AS m_t_pre,
        |    s_t_post // greatest(c_t_post, 1) AS m_t_post,
        |    s_c_pre // greatest(c_c_pre, 1) AS m_c_pre,
        |    s_c_post // greatest(c_c_post, 1) AS m_c_post
        |  FROM c)
        |SELECT event_type, c_t_pre, c_t_post, c_c_pre, c_c_post,
        |  CAST(m_t_pre AS BIGINT) AS m_t_pre,
        |  CAST(m_t_post AS BIGINT) AS m_t_post,
        |  CAST(m_c_pre AS BIGINT) AS m_c_pre,
        |  CAST(m_c_post AS BIGINT) AS m_c_post,
        |  CAST((m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS BIGINT)
        |    AS did_milli
        |FROM m ORDER BY event_type""".stripMargin) +
    ("q_mantel_haenszel" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS stratum,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN value > 200.0 THEN 1 ELSE 0 END AS hit FROM events),
        |cells AS (SELECT event_type, stratum,
        |    CAST(sum(CASE WHEN ga = 1 THEN hit ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ga = 1 THEN 1 - hit ELSE 0 END) AS BIGINT)
        |      AS bm,
        |    CAST(sum(CASE WHEN ga = 0 THEN hit ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN ga = 0 THEN 1 - hit ELSE 0 END) AS BIGINT)
        |      AS dm
        |  FROM e GROUP BY 1, 2),
        |agg AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(CAST(a AS HUGEINT) * dm * 1000000
        |      // (a + bm + c + dm)) AS BIGINT) AS num_e6,
        |    CAST(sum(CAST(bm AS HUGEINT) * c * 1000000
        |      // (a + bm + c + dm)) AS BIGINT) AS den_e6,
        |    CAST(sum(a) AS BIGINT) AS ha, CAST(sum(bm) AS BIGINT) AS ma,
        |    CAST(sum(c) AS BIGINT) AS hb, CAST(sum(dm) AS BIGINT) AS mb
        |  FROM cells GROUP BY 1),
        |r AS (SELECT event_type, n_strata,
        |    CAST(CAST(ha AS HUGEINT) * mb * 1000
        |      // greatest(CAST(ma AS HUGEINT) * hb, 1) AS BIGINT)
        |      AS crude_or_milli,
        |    CAST(num_e6 * 1000 // greatest(den_e6, 1) AS BIGINT)
        |      AS mh_or_milli
        |  FROM agg)
        |SELECT event_type, n_strata, crude_or_milli, mh_or_milli,
        |  abs(crude_or_milli - mh_or_milli) * 1000
        |    // greatest(mh_or_milli, 1) > 100 AS confounded
        |FROM r ORDER BY event_type""".stripMargin) +
    ("q_markov_stationary" ->
      s"""$markovCte
         |SELECT s.state AS event_type,
         |  CAST(COALESCE(tot.ft, 0) AS BIGINT) AS out_total,
         |  it.w AS stationary_ppm
         |FROM it JOIN sts s ON s.state = it.state
         |LEFT JOIN tot ON tot.f = s.state
         |WHERE it.step = 20 ORDER BY 1""".stripMargin) +
    ("q_entropy_rate" ->
      s"""$markovCte,
         |h AS (SELECT f AS event_type,
         |    CAST(sum(p_ppm * CAST(floor(ln(CAST(1000000 AS DOUBLE)
         |      / p_ppm) * 10000) AS BIGINT)) // 1000000 AS BIGINT)
         |      AS h_cond_e4
         |  FROM m WHERE p_ppm > 0 GROUP BY 1)
         |SELECT s.state AS event_type, it.w AS stationary_ppm,
         |  h.h_cond_e4,
         |  CAST(it.w * h.h_cond_e4 // 1000000 AS BIGINT) AS contrib_e4
         |FROM it JOIN sts s ON s.state = it.state
         |JOIN h ON h.event_type = s.state
         |WHERE it.step = 20 ORDER BY 1""".stripMargin) +
    ("q_holt_winters" -> hwSql) +
    ("q_hw_skill" ->
      s"""WITH h AS ($hwSql),
         |l AS (SELECT event_type, day, n, forecast_milli,
         |    lag(n) OVER (PARTITION BY event_type ORDER BY day) AS pn
         |  FROM h)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |  CAST(sum(abs(n * 1000 - forecast_milli)) AS BIGINT)
         |    AS hw_err_milli,
         |  CAST(sum(abs(n * 1000 - pn * 1000)) AS BIGINT)
         |    AS naive_err_milli,
         |  CAST(sum(abs(n * 1000 - forecast_milli)) * 1000
         |    // greatest(sum(abs(n * 1000 - pn * 1000)), 1) AS BIGINT)
         |    AS skill_milli
         |FROM l WHERE pn IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin) +
    ("q_ece" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, user_id,
        |    CASE WHEN value > 200.0 THEN 1 ELSE 0 END AS hit FROM events),
        |sp AS (SELECT event_type, (min(day) + max(day)) // 2 AS mid
        |  FROM e GROUP BY 1),
        |t AS (SELECT e.*, sp.mid FROM e JOIN sp USING (event_type)),
        |rate AS (SELECT event_type, user_id,
        |    CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS r_ppm
        |  FROM t WHERE day <= mid GROUP BY 1, 2),
        |bins AS (SELECT t.event_type,
        |    CAST(least(r.r_ppm // 100000, 9) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(t.hit) AS BIGINT) AS h_b,
        |    CAST(sum(r.r_ppm) AS BIGINT) AS p_b
        |  FROM t JOIN rate r USING (event_type, user_id)
        |  WHERE t.day > t.mid GROUP BY 1, 2),
        |gaps AS (SELECT event_type, bin, n_b,
        |    abs(h_b * 1000000 // n_b - p_b // n_b) AS gap_ppm
        |  FROM bins),
        |agg AS (SELECT event_type,
        |    CAST(sum(n_b) AS BIGINT) AS n_scored,
        |    CAST(sum(n_b * gap_ppm) // sum(n_b) AS BIGINT) AS ece_ppm
        |  FROM gaps GROUP BY 1),
        |worst AS (SELECT event_type, bin AS worst_bin,
        |    CAST(gap_ppm AS BIGINT) AS worst_gap_ppm
        |  FROM gaps
        |  QUALIFY row_number() OVER (PARTITION BY event_type
        |    ORDER BY gap_ppm DESC, bin DESC) = 1)
        |SELECT a.event_type, a.n_scored, a.ece_ppm, w.worst_bin,
        |  w.worst_gap_ppm
        |FROM agg a JOIN worst w USING (event_type)
        |ORDER BY a.event_type""".stripMargin) +
    ("q_mean_excess" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS rk
        |  FROM e),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
        |  FROM e GROUP BY 1),
        |thr AS (SELECT r.event_type, r.v AS u_milli
        |  FROM r JOIN tot USING (event_type)
        |  WHERE r.rk = (95 * tot.n_total + 99) // 100)
        |SELECT e.event_type, tot.n_total, thr.u_milli,
        |  CAST(sum(CASE WHEN e.v > thr.u_milli THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_exceed,
        |  CAST(sum(CASE WHEN e.v > thr.u_milli THEN 1 ELSE 0 END)
        |    * 1000000 // tot.n_total AS BIGINT) AS exceed_ppm,
        |  CAST(sum(CASE WHEN e.v > thr.u_milli
        |      THEN e.v - thr.u_milli ELSE 0 END)
        |    // greatest(sum(CASE WHEN e.v > thr.u_milli THEN 1 ELSE 0
        |      END), 1) AS BIGINT) AS mean_excess_milli
        |FROM e JOIN thr USING (event_type) JOIN tot USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) +
    ("q_runs" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day
        |  FROM sp),
        |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
        |  FROM g GROUP BY 1),
        |rk AS (SELECT event_type, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n) AS r
        |  FROM g),
        |med AS (SELECT rk.event_type, rk.n AS med
        |  FROM rk JOIN st USING (event_type)
        |  WHERE rk.r = (st.nd + 1) // 2),
        |sg AS (SELECT g.event_type, g.day,
        |    CASE WHEN g.n > med.med THEN 1 ELSE 0 END AS sgn
        |  FROM g JOIN med USING (event_type) WHERE g.n <> med.med),
        |lg AS (SELECT event_type, sgn,
        |    lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM sg),
        |agg AS (SELECT event_type,
        |    CAST(1 + sum(CASE WHEN p IS NOT NULL AND p <> sgn THEN 1
        |      ELSE 0 END) AS BIGINT) AS runs,
        |    CAST(sum(sgn) AS BIGINT) AS n1,
        |    CAST(sum(1 - sgn) AS BIGINT) AS n2
        |  FROM lg GROUP BY 1),
        |z AS (SELECT event_type, n1, n2, runs, n1 + n2 AS nn FROM agg)
        |SELECT event_type, n1, n2, runs,
        |  CAST(CASE WHEN n1 = 0 OR n2 = 0 OR 2 * n1 * n2 <= nn THEN 0
        |    ELSE CAST(runs * nn - nn - 2 * n1 * n2 AS HUGEINT)
        |    * (runs * nn - nn - 2 * n1 * n2) * (nn - 1) * 1000
        |    // (CAST(2 AS HUGEINT) * n1 * n2 * (2 * n1 * n2 - nn)) END
        |    AS BIGINT) AS z2_milli,
        |  CASE WHEN n1 = 0 OR n2 = 0 OR 2 * n1 * n2 <= nn THEN FALSE
        |    ELSE CAST(runs * nn - nn - 2 * n1 * n2 AS HUGEINT)
        |    * (runs * nn - nn - 2 * n1 * n2) * (nn - 1) * 1000
        |    // (CAST(2 AS HUGEINT) * n1 * n2 * (2 * n1 * n2 - nn))
        |    > 3841 END AS significant
        |FROM z ORDER BY event_type""".stripMargin) +
    ("q_hill" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS rk
        |  FROM e),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(greatest(least(100, count(*) // 20), 2) AS BIGINT)
        |      AS k_used
        |  FROM e GROUP BY 1),
        |thr AS (SELECT r.event_type, r.v AS v_thr
        |  FROM r JOIN tot USING (event_type)
        |  WHERE r.rk = tot.n_total - tot.k_used),
        |agg AS (SELECT r.event_type, tot.n_total, tot.k_used,
        |    thr.v_thr AS u_milli,
        |    CAST(sum(CASE WHEN thr.v_thr > 0 AND r.v > 0 THEN
        |      CAST(floor(ln(CAST(r.v AS DOUBLE) / thr.v_thr) * 10000)
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS lnsum_e4
        |  FROM r JOIN tot USING (event_type)
        |  JOIN thr USING (event_type)
        |  WHERE r.rk > tot.n_total - tot.k_used
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n_total, k_used, u_milli,
        |  CAST(CASE WHEN u_milli > 0 AND lnsum_e4 > 0
        |    THEN k_used * 10000000 // lnsum_e4 ELSE 0 END AS BIGINT)
        |    AS hill_alpha_milli,
        |  u_milli > 0 AND lnsum_e4 > 0 AS tail_usable,
        |  (u_milli > 0 AND lnsum_e4 > 0) AND
        |    CAST(CASE WHEN u_milli > 0 AND lnsum_e4 > 0
        |      THEN k_used * 10000000 // lnsum_e4 ELSE 0 END AS BIGINT)
        |      < 2000 AS heavy_tail
        |FROM agg ORDER BY event_type""".stripMargin) +
    ("q_mcnemar" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, user_id,
        |    CASE WHEN value > 200.0 THEN 1 ELSE 0 END AS hit FROM events),
        |sp AS (SELECT event_type, (min(day) + max(day)) // 2 AS mid
        |  FROM e GROUP BY 1),
        |u AS (SELECT e.event_type, e.user_id,
        |    CAST(max(CASE WHEN e.day <= sp.mid THEN e.hit ELSE 0 END)
        |      AS BIGINT) AS pre_hit,
        |    CAST(max(CASE WHEN e.day > sp.mid THEN e.hit ELSE 0 END)
        |      AS BIGINT) AS post_hit,
        |    max(CASE WHEN e.day <= sp.mid THEN 1 ELSE 0 END) AS has_pre,
        |    max(CASE WHEN e.day > sp.mid THEN 1 ELSE 0 END) AS has_post
        |  FROM e JOIN sp USING (event_type) GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN pre_hit = 0 AND post_hit = 1 THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_01,
        |    CAST(sum(CASE WHEN pre_hit = 1 AND post_hit = 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_10
        |  FROM u WHERE has_pre = 1 AND has_post = 1 GROUP BY 1)
        |SELECT event_type, n_pairs, n_01, n_10,
        |  CAST(CASE WHEN n_01 + n_10 = 0 THEN 0 ELSE
        |    CAST(greatest(abs(n_01 - n_10) - 1, 0) AS HUGEINT)
        |    * greatest(abs(n_01 - n_10) - 1, 0) * 1000
        |    // (n_01 + n_10) END AS BIGINT) AS z2_milli,
        |  CAST(CASE WHEN n_01 + n_10 = 0 THEN 0 ELSE
        |    CAST(greatest(abs(n_01 - n_10) - 1, 0) AS HUGEINT)
        |    * greatest(abs(n_01 - n_10) - 1, 0) * 1000
        |    // (n_01 + n_10) END AS BIGINT) > 3841 AS significant
        |FROM c ORDER BY event_type""".stripMargin) +
    ("q_return_level" ->
      """WITH dm AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(max(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(max(m) AS BIGINT) AS max_obs_milli,
        |    CAST(sum(m) AS BIGINT) AS sm,
        |    CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS sm2
        |  FROM dm GROUP BY 1),
        |b AS (SELECT event_type, nd, max_obs_milli,
        |    CAST(sm // nd AS BIGINT) AS mean_max_milli,
        |    CAST(floor(sqrt(CAST(nd * sm2 - CAST(sm AS HUGEINT) * sm
        |      AS DOUBLE)) / nd * 0.779696801) AS BIGINT) AS beta_milli
        |  FROM a),
        |c AS (SELECT *,
        |    CAST(mean_max_milli - beta_milli * 5772 // 10000 AS BIGINT)
        |      AS mu_milli
        |  FROM b),
        |r AS (SELECT *,
        |    CAST(mu_milli + beta_milli * 33843 // 10000 AS BIGINT)
        |      AS ret30_milli
        |  FROM c)
        |SELECT event_type, nd, max_obs_milli, mean_max_milli,
        |  beta_milli, mu_milli, ret30_milli,
        |  max_obs_milli > ret30_milli AS exceeded
        |FROM r ORDER BY event_type""".stripMargin) +
    ("q_kruskal" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |dv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        |rk AS (SELECT v, c,
        |    CAST(2 * sum(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS r2
        |  FROM dv),
        |grp AS (SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(rk.r2) AS BIGINT) AS r2_j
        |  FROM e JOIN rk USING (v) GROUP BY 1),
        |tie AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c * c - c)
        |    AS HUGEINT) AS t_sum FROM dv),
        |tot AS (SELECT CAST(sum(n_j) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CAST(r2_j AS HUGEINT) * r2_j // n_j) AS HUGEINT) AS s
        |  FROM grp),
        |h0 AS (SELECT k, nn, t_sum,
        |    greatest(CAST(3000 * s // (CAST(nn AS HUGEINT) * (nn + 1))
        |      - 3000 * (nn + 1) AS BIGINT), 0) AS h0_milli
        |  FROM tot, tie),
        |h2 AS (SELECT k, nn,
        |    CAST(CASE WHEN CAST(nn AS HUGEINT) * nn * nn - nn - t_sum
        |        <= 0 THEN 0
        |      ELSE h0_milli * (CAST(nn AS HUGEINT) * nn * nn - nn)
        |        // (CAST(nn AS HUGEINT) * nn * nn - nn - t_sum) END
        |      AS BIGINT) AS h_milli
        |  FROM h0),
        |hc AS (SELECT *, CAST(CASE k - 1 WHEN 1 THEN 3841
        |    WHEN 2 THEN 5991 WHEN 3 THEN 7815 WHEN 4 THEN 9488
        |    WHEN 5 THEN 11070 WHEN 6 THEN 12592 ELSE 14067 END
        |    AS BIGINT) AS crit_milli FROM h2)
        |SELECT g.event_type, g.n_j,
        |  CAST(g.r2_j * 500 // g.n_j AS BIGINT) AS mean_rank_milli,
        |  hc.k AS n_groups, hc.nn AS n_total, hc.h_milli, hc.crit_milli,
        |  hc.h_milli > hc.crit_milli AS significant
        |FROM grp g, hc ORDER BY g.event_type""".stripMargin) +
    ("q_seasonal_mk" ->
      """WITH byday AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM byday GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day
        |  FROM sp),
        |g AS (SELECT gr.event_type, gr.day, gr.day % 7 AS wd,
        |    COALESCE(b.n, 0) AS n
        |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
        |p AS (SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
        |      ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM g a JOIN g b ON a.event_type = b.event_type
        |    AND a.wd = b.wd AND a.day < b.day
        |  GROUP BY 1),
        |tw AS (SELECT event_type, wd, CAST(sum(t) AS BIGINT) AS nd,
        |    sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tc
        |  FROM (SELECT event_type, wd, n, CAST(count(*) AS BIGINT) AS t
        |        FROM g GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |ties AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(sum(nd) AS BIGINT) AS nd_total,
        |    sum(CAST(nd AS HUGEINT) * (nd - 1) * (2 * nd + 5) - tc)
        |      AS var18
        |  FROM tw GROUP BY 1)
        |SELECT p.event_type, ties.n_seasons, ties.nd_total, p.s_stat,
        |  CAST(CASE WHEN ties.var18 <= 0 THEN 0
        |    ELSE CAST(greatest(abs(p.s_stat) - 1, 0) AS HUGEINT)
        |      * greatest(abs(p.s_stat) - 1, 0) * 18 * 1000 // ties.var18
        |    END AS BIGINT) AS z2_milli,
        |  CAST(CASE WHEN ties.var18 <= 0 THEN 0
        |    ELSE CAST(greatest(abs(p.s_stat) - 1, 0) AS HUGEINT)
        |      * greatest(abs(p.s_stat) - 1, 0) * 18 * 1000 // ties.var18
        |    END AS BIGINT) > 3841 AS significant
        |FROM p JOIN ties USING (event_type)
        |ORDER BY p.event_type""".stripMargin) +
    ("q_ccf" ->
      """WITH byday AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT min(day) AS g0, max(day) AS g1 FROM byday),
        |ty AS (SELECT DISTINCT event_type FROM byday),
        |days AS (SELECT unnest(range(g0, g1 + 1)) AS day FROM sp),
        |cells AS (SELECT ty.event_type, days.day FROM ty CROSS JOIN days),
        |grid AS (SELECT c.event_type, c.day, COALESCE(b.n, 0) AS n
        |  FROM cells c LEFT JOIN byday b USING (event_type, day)),
        |lg AS (SELECT a.event_type AS ta, b.event_type AS tb, k.k,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(a.n) AS BIGINT) AS sx,
        |    CAST(sum(b.n) AS BIGINT) AS sy,
        |    sum(CAST(a.n AS HUGEINT) * b.n) AS sxy,
        |    sum(CAST(a.n AS HUGEINT) * a.n) AS sxx,
        |    sum(CAST(b.n AS HUGEINT) * b.n) AS syy
        |  FROM grid a
        |  JOIN (SELECT unnest(range(0, 4)) AS k) k ON true
        |  JOIN grid b ON b.event_type <> a.event_type
        |    AND b.day = a.day + k.k
        |  GROUP BY 1, 2, 3),
        |c AS (SELECT ta, tb, k, n_days,
        |    n_days * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |    n_days * sxx - CAST(sx AS HUGEINT) * sx AS denx,
        |    n_days * syy - CAST(sy AS HUGEINT) * sy AS deny
        |  FROM lg)
        |SELECT ta AS type_a, tb AS type_b, CAST(k AS BIGINT) AS lag_k,
        |  n_days,
        |  CAST(CASE WHEN denx <= 0 OR deny <= 0 THEN 0
        |    WHEN num >= 0 THEN num * num * 1000 // (denx * deny)
        |    ELSE -(num * num * 1000 // (denx * deny)) END AS BIGINT)
        |    AS ccf_r2_milli
        |FROM c ORDER BY type_a, type_b, lag_k""".stripMargin) +
    ("q_cochran_armitage" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN value > 200.0 THEN 1 ELSE 0 END AS hit FROM events),
        |byday AS (SELECT event_type, day,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(hit) AS BIGINT) AS h
        |  FROM e GROUP BY 1, 2),
        |d0 AS (SELECT event_type, min(day) AS dmin FROM byday GROUP BY 1),
        |agg AS (SELECT b.event_type,
        |    CAST(sum(b.n) AS BIGINT) AS nn, CAST(sum(b.h) AS BIGINT) AS hh,
        |    sum(CAST(b.day - d0.dmin AS HUGEINT) * b.h) AS swh,
        |    sum(CAST(b.day - d0.dmin AS HUGEINT) * b.n) AS swn,
        |    sum(CAST(b.day - d0.dmin AS HUGEINT) * (b.day - d0.dmin)
        |      * b.n) AS snw2
        |  FROM byday b JOIN d0 USING (event_type) GROUP BY 1),
        |t AS (SELECT event_type, nn, hh,
        |    nn * swh - hh * swn AS tnum,
        |    CAST(hh AS HUGEINT) * (nn - hh)
        |      * (nn * snw2 - swn * swn) AS den
        |  FROM agg)
        |SELECT event_type, nn AS n_total, hh AS hits,
        |  CAST(CASE WHEN den <= 0 THEN 0
        |    ELSE tnum * tnum * nn * 1000 // den END AS BIGINT)
        |    AS z2_milli,
        |  CASE WHEN tnum > 0 THEN 'up' WHEN tnum < 0 THEN 'down'
        |    ELSE 'flat' END AS direction,
        |  CAST(CASE WHEN den <= 0 THEN 0
        |    ELSE tnum * tnum * nn * 1000 // den END AS BIGINT) > 3841
        |    AS significant
        |FROM t ORDER BY event_type""".stripMargin)

  /** Shared recursive-CTE prefix of the Markov-chain oracles: the
    * per-user lead pairs, the densified row-stochastic matrix with
    * the self-loop patch, and the 20-step integer power iteration —
    * one definition, two gates (`q_markov_stationary`,
    * `q_entropy_rate`), no drift between them.
    */
  private val markovCte: String =
    """WITH RECURSIVE pr AS (SELECT event_type AS f,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS t
      |  FROM events),
      |pairs AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pr
      |  WHERE t IS NOT NULL GROUP BY 1, 2),
      |sts AS (SELECT DISTINCT event_type AS state FROM events),
      |k AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM sts),
      |tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS ft FROM pairs
      |  GROUP BY 1),
      |m AS (SELECT i.state AS f, j.state AS t,
      |    CAST(CASE WHEN tot.ft IS NULL OR tot.ft = 0 THEN
      |        CASE WHEN i.state = j.state THEN 1000000 ELSE 0 END
      |      ELSE COALESCE(p.n, 0) * 1000000 // tot.ft END AS BIGINT)
      |      AS p_ppm
      |  FROM sts i CROSS JOIN sts j
      |  LEFT JOIN pairs p ON p.f = i.state AND p.t = j.state
      |  LEFT JOIN tot ON tot.f = i.state),
      |v0 AS (SELECT state,
      |    CAST(CASE WHEN state = (SELECT min(state) FROM sts)
      |      THEN 1000000 - (1000000 // kk) * (kk - 1)
      |      ELSE 1000000 // kk END AS BIGINT) AS w
      |  FROM sts, k),
      |it AS (
      |  SELECT 0 AS step, state, w FROM v0
      |  UNION ALL
      |  SELECT it.step + 1, m.t AS state,
      |    CAST(sum(it.w * m.p_ppm // 1000000) AS BIGINT) AS w
      |  FROM it JOIN m ON m.f = it.state
      |  WHERE it.step < 20
      |  GROUP BY 1, 2)""".stripMargin

  /** The ACF oracle body — shared verbatim by `q_acf` and (as a CTE)
    * the Ljung–Box portmanteau built on the same seven lags.
    */
  private val acfSql: String = {
    val arms = (1 to 7).map { k =>
      s"""SELECT event_type, $k AS lag_k,
         |    sum(CAST(dev AS HUGEINT) * d$k) AS num
         |  FROM l WHERE d$k IS NOT NULL GROUP BY 1""".stripMargin
    }.mkString("\n  UNION ALL ")
    val leads = (1 to 7).map(k => s"lead(dev, $k) OVER w AS d$k")
      .mkString(",\n    ")
    s"""WITH byday AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
       |  FROM byday GROUP BY 1),
       |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM sp),
       |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n
       |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
       |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(n) AS BIGINT) AS s FROM g GROUP BY 1),
       |c AS (SELECT g.event_type, g.day, st.nd * g.n - st.s AS dev
       |  FROM g JOIN st USING (event_type)),
       |l AS (SELECT event_type, day, dev,
       |    $leads
       |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |num AS (
       |  $arms),
       |den AS (SELECT event_type, sum(CAST(dev AS HUGEINT) * dev) AS den
       |  FROM c GROUP BY 1)
       |SELECT n.event_type, CAST(n.lag_k AS BIGINT) AS lag_k,
       |  CAST(CASE WHEN n.num >= 0
       |    THEN n.num * 1000 // greatest(d.den, 1)
       |    ELSE -((-n.num) * 1000 // greatest(d.den, 1)) END AS BIGINT)
       |    AS acf_milli
       |FROM num n JOIN den d USING (event_type)
       |ORDER BY n.event_type, n.lag_k""".stripMargin
  }

  /** The Holt-Winters oracle body - shared verbatim by
    * `q_holt_winters` and (as a CTE) the forecast-skill referee
    * built on its emitted rows.
    */
  private val hwSql: String = {
      val nl = "(300 * (x.n * 1000 - r.s[1]) + 700 * (r.lvl + r.b)) // 1000"
      val ns = s"(200 * (x.n * 1000 - ($nl)) + 800 * r.s[1]) // 1000"
      s"""WITH RECURSIVE byday AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT event_type, min(day) AS d0, max(day) AS d1
         |  FROM byday GROUP BY 1),
         |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day
         |  FROM sp),
         |g AS (SELECT gr.event_type, gr.day, COALESCE(b.n, 0) AS n,
         |    row_number() OVER (PARTITION BY gr.event_type
         |      ORDER BY gr.day) AS i
         |  FROM grid gr LEFT JOIN byday b USING (event_type, day)),
         |l0 AS (SELECT event_type,
         |    CAST(sum(CASE WHEN i <= 7 THEN n ELSE 0 END) * 1000 // 7
         |      AS BIGINT) AS l0
         |  FROM g GROUP BY 1),
         |s0 AS (SELECT g.event_type,
         |    list(g.n * 1000 - l0.l0 ORDER BY g.day) AS s
         |  FROM g JOIN l0 ON l0.event_type = g.event_type
         |  WHERE g.i <= 7 GROUP BY 1),
         |rec AS (
         |  SELECT l0.event_type, CAST(7 AS BIGINT) AS i, l0.l0 AS lvl,
         |    CAST(0 AS BIGINT) AS b, s0.s AS s,
         |    CAST(NULL AS BIGINT) AS day, CAST(NULL AS BIGINT) AS n,
         |    CAST(NULL AS BIGINT) AS forecast, CAST(NULL AS BIGINT) AS seas
         |  FROM l0 JOIN s0 USING (event_type)
         |  UNION ALL
         |  SELECT r.event_type, x.i,
         |    CAST($nl AS BIGINT),
         |    CAST((100 * (($nl) - r.lvl) + 900 * r.b) // 1000 AS BIGINT),
         |    r.s[2:7] || [CAST($ns AS BIGINT)],
         |    x.day, x.n,
         |    CAST(r.lvl + r.b + r.s[1] AS BIGINT),
         |    CAST($ns AS BIGINT)
         |  FROM g x JOIN rec r
         |    ON x.event_type = r.event_type AND x.i = r.i + 1)
         |SELECT event_type, day, n, forecast AS forecast_milli,
         |  lvl AS level_milli, b AS trend_milli, seas AS seas_milli
         |FROM rec WHERE i >= 8 ORDER BY event_type, day""".stripMargin
  }

  /** The q_recall_curve oracle text, extracted so the q_ann_advisor
    * oracle can embed the SAME curve definition as a CTE — one
    * definition, two gates, no drift (the q_cluster_sizes discipline).
    */
  private val recallCurveOracleSql: String = {
    val arms = Seq(1, 2, 4).map { np =>
      s"""SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  (CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*) AS recall_ppm
         |FROM exact x LEFT JOIN (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
         |      FROM (SELECT vec_id, v, centroid_id FROM ranked
         |            WHERE rn <= $np AND vec_id % 50 = 0) q
         |      JOIN cassign c ON q.centroid_id = c.centroid_id
         |      WHERE q.vec_id <> c.vec_id)) WHERE rank <= 5) a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
       |ranked AS (
       |    SELECT a.vec_id, a.v, c.centroid_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        CAST(floor(10000 * (
       |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
       |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
       |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
       |        c.centroid_id) AS rn
       |    FROM e a CROSS JOIN cent c),
       |cassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1),
       |escored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  CAST(floor(10000 * (
       |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
       |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
       |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
       |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
       |er AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
       |  FROM escored),
       |exact AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 5)
       |${arms.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY nprobe""".stripMargin
  }

  /** The trained index's nprobe sweep oracle — [[recallCurveOracleSql]]
    * with the coarse quantizer swapped for the kc2 Lloyd centroids.
    */
  private lazy val trainedCurveOracleSql: String = {
    val arms = Seq(1, 2, 4).map { np =>
      s"""SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  (CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*) AS recall_ppm
         |FROM exact x LEFT JOIN (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
         |      FROM (SELECT vec_id, v, centroid_id FROM tranked
         |            WHERE rn <= $np AND vec_id % 50 = 0) q
         |      JOIN tassign c ON q.centroid_id = c.centroid_id
         |      WHERE q.vec_id <> c.vec_id)) WHERE rank <= 5) a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id""".stripMargin
    }
    s"""WITH $kmeansBaseCtes,
       |${kmeansChainCtes(16, "k")},
       |tcent AS (SELECT centroid_id, cd AS centv FROM kc2),
       |tranked AS (
       |    SELECT a.vec_id, a.v, c.centroid_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        CAST(floor(10000 * (
       |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
       |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
       |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
       |        c.centroid_id) AS rn
       |    FROM e a CROSS JOIN tcent c),
       |tassign AS (SELECT vec_id, v, centroid_id FROM tranked WHERE rn = 1),
       |escored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  CAST(floor(10000 * (
       |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
       |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
       |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
       |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
       |er AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
       |  FROM escored),
       |exact AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 5)
       |${arms.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY nprobe""".stripMargin
  }

  /** One unrolled Lloyd round of the exact-integer k-means oracle
    * ([[Similarity.kmeansExact]] k=16, dim=64): assignment by the
    * quantized cosine over integer-valued doubles (rank DESC, lowest
    * centroid id on ties — the min_by struct's order), then the
    * per-dimension floor(sum/count) update. `km` (vec_id, mv BIGINT
    * list, dv = mv as doubles) and `kc0` (init = 16 lowest ids) are
    * defined by [[kmeansOracleCtes]].
    */
  private def kmLloydRound(t: Int, tag: String): String = {
    val prev = s"${tag}c${t - 1}"
    s"""${tag}a$t AS (
       |  SELECT vec_id, mv, centroid_id FROM (
       |    SELECT x.vec_id, x.mv, c.centroid_id,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        CAST(floor(10000 * (
       |          list_reduce(list_transform(range(1,65), i -> x.dv[i]*c.cd[i]), (p,q)->p+q) /
       |          (sqrt(list_reduce(list_transform(range(1,65), i -> x.dv[i]*x.dv[i]), (p,q)->p+q)) *
       |           sqrt(list_reduce(list_transform(range(1,65), i -> c.cd[i]*c.cd[i]), (p,q)->p+q))))) AS BIGINT) DESC,
       |        c.centroid_id) AS rn
       |    FROM km x CROSS JOIN $prev c) ${tag}z$t WHERE rn = 1),
       |${tag}s$t AS (
       |  SELECT centroid_id, i,
       |    CAST(floor(CAST(sum(mv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cmi,
       |    count(*) AS nm
       |  FROM ${tag}a$t CROSS JOIN range(1,65) r(i) GROUP BY centroid_id, i),
       |${tag}c$t AS (
       |  SELECT centroid_id, max(nm) AS n_members,
       |    list(cmi ORDER BY i) AS cm,
       |    list(CAST(cmi AS DOUBLE) ORDER BY i) AS cd
       |  FROM ${tag}s$t GROUP BY centroid_id)""".stripMargin
  }

  /** Shared base CTEs (raw doubles + micro-quantized forms) for every
    * trained-quantizer oracle.
    */
  private def kmeansBaseCtes: String =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |km AS (
       |  SELECT vec_id, mv, list_transform(mv, y -> CAST(y AS DOUBLE)) AS dv
       |  FROM (SELECT vec_id,
       |      list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS mv
       |    FROM e) mq)""".stripMargin

  /** One k-chain: seed with the k lowest-id vectors, run 2 exact Lloyd
    * rounds → `${tag}c2`.
    */
  private def kmeansChainCtes(k: Int, tag: String): String =
    s"""${tag}c0 AS (SELECT vec_id AS centroid_id, mv AS cm, dv AS cd
       |  FROM km ORDER BY vec_id LIMIT $k),
       |${kmLloydRound(1, tag)},
       |${kmLloydRound(2, tag)}""".stripMargin

  /** The full trained-quantizer CTE chain shared by the q_kmeans /
    * q_ivf_trained / q_trained_recall oracles: base + the k=16 chain
    * (tag "k" → kc0..kc2, the production index's config).
    */
  private def kmeansOracleCtes: String =
    s"""$kmeansBaseCtes,
       |${kmeansChainCtes(16, "k")}""".stripMargin

  /** Per-tag inertia CTEs for the elbow oracle: max quantized cosine
    * per vector over the tag's final centroids, then the exact-integer
    * mean distance.
    */
  private def kmeansInertiaCte(tag: String): String =
    s"""${tag}mx AS (
       |  SELECT x.vec_id, max(CAST(floor(10000 * (
       |    list_reduce(list_transform(range(1,65), i -> x.v[i]*c.cd[i]), (p,q)->p+q) /
       |    (sqrt(list_reduce(list_transform(range(1,65), i -> x.v[i]*x.v[i]), (p,q)->p+q)) *
       |     sqrt(list_reduce(list_transform(range(1,65), i -> c.cd[i]*c.cd[i]), (p,q)->p+q))))) AS BIGINT)) AS mc
       |  FROM e x CROSS JOIN ${tag}c2 c GROUP BY x.vec_id),
       |${tag}ine AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(CAST(sum(10000 - mc) AS BIGINT) // count(*) AS BIGINT) AS mean_dist_e4
       |  FROM ${tag}mx)""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    "q_kmeans_elbow" ->
      s"""WITH $kmeansBaseCtes,
         |${kmeansChainCtes(4, "u")},
         |${kmeansChainCtes(8, "w")},
         |${kmeansChainCtes(16, "k")},
         |${kmeansInertiaCte("u")},
         |${kmeansInertiaCte("w")},
         |${kmeansInertiaCte("k")}
         |SELECT CAST(4 AS BIGINT) AS k, n_vectors, mean_dist_e4 FROM uine
         |UNION ALL
         |SELECT CAST(8 AS BIGINT) AS k, n_vectors, mean_dist_e4 FROM wine
         |UNION ALL
         |SELECT CAST(16 AS BIGINT) AS k, n_vectors, mean_dist_e4 FROM kine
         |ORDER BY k""".stripMargin,
    "q_kmeans" ->
      s"""WITH $kmeansOracleCtes
         |SELECT centroid_id, CAST(i - 1 AS BIGINT) AS pos,
         |  cm[i] AS c_micro, n_members
         |FROM kc2 CROSS JOIN range(1,65) r(i)
         |ORDER BY centroid_id, pos""".stripMargin,
    "q_ivf_trained" ->
      s"""WITH $kmeansOracleCtes,
         |cent AS (SELECT centroid_id, cd AS centv FROM kc2),
         |assign AS (
         |  SELECT vec_id, v, centroid_id FROM (
         |    SELECT a.vec_id, a.v, c.centroid_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |        c.centroid_id) AS rn
         |    FROM e a CROSS JOIN cent c) za WHERE rn = 1),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(floor(10000 * (
         |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
         |  FROM assign q JOIN assign c ON q.centroid_id = c.centroid_id
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos_q,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, cos_q FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_trained_recall" ->
      s"""WITH $kmeansOracleCtes,
         |scent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
         |sassign AS (
         |  SELECT vec_id, v, centroid_id FROM (
         |    SELECT a.vec_id, a.v, c.centroid_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |        c.centroid_id) AS rn
         |    FROM e a CROSS JOIN scent c) zs WHERE rn = 1),
         |tcent AS (SELECT centroid_id, cd AS centv FROM kc2),
         |tassign AS (
         |  SELECT vec_id, v, centroid_id FROM (
         |    SELECT a.vec_id, a.v, c.centroid_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |        c.centroid_id) AS rn
         |    FROM e a CROSS JOIN tcent c) zt WHERE rn = 1),
         |sscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(floor(10000 * (
         |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
         |  FROM sassign q JOIN sassign c ON q.centroid_id = c.centroid_id
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |sapprox AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
         |  FROM sscored) zz WHERE rank <= 5),
         |tscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(floor(10000 * (
         |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
         |  FROM tassign q JOIN tassign c ON q.centroid_id = c.centroid_id
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |tapprox AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
         |  FROM tscored) zz WHERE rank <= 5),
         |escored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(floor(10000 * (
         |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
         |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
         |  FROM escored) zz WHERE rank <= 5)
         |SELECT 'stride' AS variant,
         |  CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  (CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*) AS recall_ppm
         |FROM exact x LEFT JOIN sapprox a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |UNION ALL
         |SELECT 'trained' AS variant,
         |  CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  (CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*) AS recall_ppm
         |FROM exact x LEFT JOIN tapprox a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |ORDER BY variant""".stripMargin,
    "q_readability" ->
      """WITH p AS (SELECT source,
        |    CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z]+')), 0) AS BIGINT) AS w,
        |    CAST(greatest(coalesce(len(regexp_extract_all(text, '[.!?]+')), 0), 1) AS BIGINT) AS s,
        |    CAST(coalesce(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 0) AS BIGINT) AS v
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS words, CAST(sum(s) AS BIGINT) AS sentences,
        |    CAST(sum(v) AS BIGINT) AS vowel_groups FROM p GROUP BY 1)
        |SELECT source, n_docs, words, sentences, vowel_groups,
        |  CAST(words * 1000 // sentences AS BIGINT) AS wps_milli,
        |  CAST(vowel_groups * 1000 // greatest(words, 1) AS BIGINT) AS spw_milli,
        |  CAST(206835 - (1015 * (words * 1000 // sentences)) // 1000
        |    - (846 * (vowel_groups * 1000 // greatest(words, 1))) // 10 AS BIGINT)
        |    AS flesch_milli
        |FROM a ORDER BY source""".stripMargin,
    "q_gini_sources" ->
      """WITH c AS (SELECT lang, source AS src, CAST(count(*) AS BIGINT) AS x
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, x,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY x, src) AS BIGINT) AS rn
        |  FROM c),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(x) AS BIGINT) AS n_rows, sum(CAST(rn AS HUGEINT) * x) AS s
        |  FROM r GROUP BY 1)
        |SELECT lang, n_keys, n_rows,
        |  CAST(CAST(2 * s - (n_keys + 1) * n_rows AS HUGEINT) * 1000000
        |    // (CAST(n_keys AS HUGEINT) * n_rows) AS BIGINT) AS gini_ppm
        |FROM a ORDER BY lang""".stripMargin,
    "q_curriculum" ->
      """WITH t AS (SELECT doc_id, source, n_chars AS difficulty,
        |    CAST(ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |      AS INTEGER) AS stage
        |  FROM documents)
        |SELECT doc_id, source, stage,
        |  CAST(row_number() OVER (PARTITION BY source, stage
        |    ORDER BY difficulty, doc_id) AS BIGINT) AS rn_in_stage,
        |  difficulty
        |FROM t ORDER BY stage, rn_in_stage, source""".stripMargin,
    "q_epoch_plan" ->
      """WITH per AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS unique_tokens
        |  FROM documents GROUP BY 1),
        |z AS (SELECT sum(sqrt(unique_tokens)) AS z FROM per),
        |t AS (SELECT source, unique_tokens,
        |    CAST(floor(sqrt(unique_tokens) / z.z * 300000) AS BIGINT) AS target_tokens
        |  FROM per CROSS JOIN z),
        |e AS (SELECT *,
        |    target_tokens // greatest(unique_tokens, 1) AS full_epochs,
        |    target_tokens % greatest(unique_tokens, 1) AS rem_tokens,
        |    least(target_tokens // greatest(unique_tokens, 1), 8) AS k FROM t)
        |SELECT source, unique_tokens, target_tokens,
        |  CAST(full_epochs AS BIGINT) AS full_epochs,
        |  CAST((unique_tokens *
        |      ([0,1000000,1850000,2500000,2950000,3220000,3360000,3420000,3440000])[k+1]
        |    + rem_tokens *
        |      ([1000000,850000,650000,450000,270000,140000,60000,20000,0])[k+1])
        |    // 1000000 AS BIGINT) AS effective_tokens,
        |  CAST(((unique_tokens *
        |      ([0,1000000,1850000,2500000,2950000,3220000,3360000,3420000,3440000])[k+1]
        |    + rem_tokens *
        |      ([1000000,850000,650000,450000,270000,140000,60000,20000,0])[k+1])
        |    // 1000000) * 1000000 // greatest(target_tokens, 1) AS BIGINT)
        |    AS efficiency_ppm
        |FROM e ORDER BY source""".stripMargin,
    "q_salted_join" ->
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_join" ->
      """WITH bands AS (
        |  SELECT 'band_' || CAST(i AS VARCHAR) AS band, i*50.0 AS lo, (i+1)*50.0 AS hi
        |  FROM unnest(range(0,10)) AS u(i))
        |SELECT band, count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q_range_join_auto" ->
      """WITH bands AS (
        |  SELECT 'band_' || CAST(i AS VARCHAR) AS band, i*50.0 AS lo, (i+1)*50.0 AS hi
        |  FROM unnest(range(0,10)) AS u(i))
        |SELECT band, count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q_range_join_outer" ->
      """WITH bands AS (
        |  SELECT 'band_' || CAST(i AS VARCHAR) AS band, i*50.0 AS lo, (i+1)*50.0 AS hi
        |  FROM unnest(range(0,4)) AS u(i))
        |SELECT coalesce(b.band, 'uncovered') AS band, count(*) AS n,
        |  min(e.value) AS min_v, max(e.value) AS max_v
        |FROM events e LEFT JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_join_anti" ->
      """WITH bands AS (
        |  SELECT 'band_' || CAST(i AS VARCHAR) AS band, i*50.0 AS lo, (i+1)*50.0 AS hi
        |  FROM unnest(range(0,4)) AS u(i))
        |SELECT count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events e ANTI JOIN bands b ON e.value >= b.lo AND e.value < b.hi""".stripMargin,
    "q_embed_pool" ->
      """WITH e AS (SELECT vec_id // 10 AS group_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS m
        |  FROM embeddings)
        |SELECT group_id, d - 1 AS dim_idx, count(*) AS n,
        |  CAST(sum(m[d]) AS BIGINT) AS sum_micro,
        |  CAST(sum(m[d]) AS DOUBLE) / (count(*) * 1000000.0) AS mean_v
        |FROM e, unnest(range(1, 65)) AS u(d)
        |GROUP BY group_id, d ORDER BY group_id, dim_idx""".stripMargin,
    "q_ref_check" ->
      """WITH l AS (SELECT doc_id AS k FROM documents),
        |r AS (SELECT vec_id AS k FROM embeddings),
        |j AS (SELECT l.k AS lk, r.k AS rk
        |  FROM l FULL OUTER JOIN r ON l.k = r.k)
        |SELECT count(lk) AS n_left, count(rk) AS n_right,
        |  CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN rk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
        |  CAST(sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
        |FROM j""".stripMargin,
    "q_histogram" ->
      """WITH b AS (SELECT value,
        |    least(19, greatest(0, CAST(floor((value - 0.0) / 25.0) AS BIGINT))) AS bin
        |  FROM events WHERE value IS NOT NULL)
        |SELECT bin, count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q_quality_sample" ->
      """WITH q AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1) AS slot
        |  FROM q)
        |SELECT doc_id, n_tokens FROM s
        |WHERE slot < CAST(floor(least(1.0, greatest(0.0, n_tokens / 100.0)) * 65536) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |    count(l_orderkey) AS n_nonnull, count(DISTINCT l_orderkey) AS n_distinct,
        |    CAST(min(l_orderkey) AS VARCHAR) AS min_val, CAST(max(l_orderkey) AS VARCHAR) AS max_val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*), count(l_returnflag), count(DISTINCT l_returnflag),
        |    CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', count(*), count(l_linestatus), count(DISTINCT l_linestatus),
        |    CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR)
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin,
    "q_profile_approx" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |    count(l_orderkey) AS n_nonnull,
        |    CAST(min(l_orderkey) AS VARCHAR) AS min_val, CAST(max(l_orderkey) AS VARCHAR) AS max_val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', count(*), count(l_partkey),
        |    CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*), count(l_returnflag),
        |    CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n, min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_curation" ->
      """WITH canon AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        |SELECT d.doc_id,
        |  len(string_split(d.text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(d.text,' '))) AS n_distinct
        |FROM documents d JOIN canon USING (doc_id)
        |WHERE len(string_split(d.text,' ')) >= 20
        |  AND CAST(len(list_distinct(string_split(d.text,' '))) AS DOUBLE)
        |      / len(string_split(d.text,' ')) >= 0.3
        |ORDER BY doc_id""".stripMargin,
    "q_provenance" ->
      """WITH d AS (SELECT doc_id, text,
        |    len(string_split(text,' ')) AS n_tokens,
        |    len(list_distinct(string_split(text,' '))) AS n_distinct,
        |    md5(text) AS h FROM documents),
        |c AS (SELECT *, CASE WHEN h IS NOT NULL
        |    THEN min(doc_id) OVER (PARTITION BY h) END AS canonical_id
        |  FROM d),
        |g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |      i -> array_to_string(ts[i:i+2], ' ')))) AS ngram
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |cont AS (SELECT DISTINCT doc_id, true AS contaminated FROM (
        |  SELECT cg.doc_id FROM
        |    (SELECT doc_id, ngram FROM g WHERE doc_id % 100 <> 0) cg
        |    JOIN (SELECT doc_id AS bench_id, ngram FROM g
        |          WHERE doc_id % 100 = 0) b USING (ngram)
        |  GROUP BY cg.doc_id, b.bench_id HAVING count(*) >= 2)),
        |v AS (SELECT c.doc_id,
        |    CASE WHEN c.text IS NULL THEN 'unreadable'
        |         WHEN c.doc_id % 100 = 0 THEN 'heldout_benchmark'
        |         WHEN c.n_tokens < 20 THEN 'too_short'
        |         WHEN c.n_distinct * 10 < c.n_tokens * 3 THEN 'low_diversity'
        |         WHEN c.doc_id <> c.canonical_id THEN 'duplicate'
        |         WHEN COALESCE(cont.contaminated, false) THEN 'contaminated'
        |         ELSE 'kept' END AS verdict
        |  FROM c LEFT JOIN cont USING (doc_id))
        |SELECT doc_id,
        |  CAST(CASE verdict WHEN 'unreadable' THEN 0
        |    WHEN 'heldout_benchmark' THEN 1 WHEN 'too_short' THEN 2
        |    WHEN 'low_diversity' THEN 3 WHEN 'duplicate' THEN 4
        |    WHEN 'contaminated' THEN 5 ELSE 6 END AS BIGINT) AS stage,
        |  verdict
        |FROM v ORDER BY doc_id""".stripMargin,
    "q_provenance_incr" ->
      """WITH d AS (SELECT doc_id, text,
        |    len(string_split(text,' ')) AS n_tokens,
        |    len(list_distinct(string_split(text,' '))) AS n_distinct,
        |    md5(text) AS h FROM documents),
        |nd AS (SELECT * FROM d WHERE doc_id % 3 = 1),
        |baseh AS (SELECT DISTINCT h FROM d
        |  WHERE doc_id % 3 <> 1 AND text IS NOT NULL),
        |c AS (SELECT nd.*, (b.h IS NOT NULL) AS in_base,
        |    CASE WHEN nd.h IS NOT NULL
        |      THEN min(nd.doc_id) OVER (PARTITION BY nd.h)
        |    END AS batch_canonical
        |  FROM nd LEFT JOIN baseh b ON nd.h = b.h),
        |g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |      i -> array_to_string(ts[i:i+2], ' ')))) AS ngram
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |cont AS (SELECT DISTINCT doc_id, true AS contaminated FROM (
        |  SELECT cg.doc_id FROM
        |    (SELECT doc_id, ngram FROM g
        |     WHERE doc_id % 3 = 1 AND doc_id % 100 <> 0) cg
        |    JOIN (SELECT doc_id AS bench_id, ngram FROM g
        |          WHERE doc_id % 100 = 0) b USING (ngram)
        |  GROUP BY cg.doc_id, b.bench_id HAVING count(*) >= 2)),
        |v AS (SELECT c.doc_id,
        |    CASE WHEN c.text IS NULL THEN 'unreadable'
        |         WHEN c.doc_id % 100 = 0 THEN 'heldout_benchmark'
        |         WHEN c.n_tokens < 20 THEN 'too_short'
        |         WHEN c.n_distinct * 10 < c.n_tokens * 3 THEN 'low_diversity'
        |         WHEN c.in_base OR c.doc_id <> c.batch_canonical
        |           THEN 'duplicate'
        |         WHEN COALESCE(cont.contaminated, false) THEN 'contaminated'
        |         ELSE 'kept' END AS verdict
        |  FROM c LEFT JOIN cont USING (doc_id))
        |SELECT doc_id,
        |  CAST(CASE verdict WHEN 'unreadable' THEN 0
        |    WHEN 'heldout_benchmark' THEN 1 WHEN 'too_short' THEN 2
        |    WHEN 'low_diversity' THEN 3 WHEN 'duplicate' THEN 4
        |    WHEN 'contaminated' THEN 5 ELSE 6 END AS BIGINT) AS stage,
        |  verdict
        |FROM v ORDER BY doc_id""".stripMargin,
    "q_compaction_plan" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT a.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c) t
        |  WHERE rn = 1)
        |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST((count(*) + 7) // 8 AS BIGINT) AS files_target
        |FROM assign GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_split_groups" ->
      """SELECT event_id, user_id,
        |  CASE WHEN
        |    (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)),4,1))-1)
        |    < CAST(floor(0.2*65536) AS BIGINT)
        |  THEN 'test' ELSE 'train' END AS split
        |FROM events ORDER BY event_id""".stripMargin,
    "q_ngram_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> array_to_string(ts[i:i+1], ' '))) AS ngram
        |  FROM toks WHERE len(ts) >= 2),
        |a AS (SELECT ngram, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs FROM g GROUP BY 1)
        |SELECT ngram, n_occurrences, n_docs FROM a
        |ORDER BY n_occurrences DESC, ngram LIMIT 50""".stripMargin,
    "q_token_drift" ->
      """WITH a AS (SELECT unnest(string_split(text,' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT unnest(string_split(text,' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT token, count(*) AS c_a FROM a GROUP BY 1),
        |cb AS (SELECT token, count(*) AS c_b FROM b GROUP BY 1),
        |ta AS (SELECT count(*) AS t FROM a),
        |tb AS (SELECT count(*) AS t FROM b),
        |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
        |    CAST(COALESCE(c_a, 0) AS DOUBLE) / (SELECT t FROM ta) AS freq_a,
        |    CAST(COALESCE(c_b, 0) AS DOUBLE) / (SELECT t FROM tb) AS freq_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token)
        |SELECT token, freq_a, freq_b, abs(freq_a - freq_b) AS delta
        |FROM j ORDER BY delta DESC, token LIMIT 50""".stripMargin,
    "q_source_mix" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        |  avg(n_chars) AS avg_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |top AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 10),
        |n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        |tot AS (SELECT CAST(sum(dl) AS DOUBLE) AS t FROM dl),
        |s AS (SELECT tf.doc_id, tf.term,
        |    ln((CAST((SELECT n FROM n) AS DOUBLE) - df + 0.5) / (df + 0.5) + 1) *
        |    (tf.c * 2.2) /
        |    (tf.c + 1.2 * (1 - 0.75 + 0.75 * dl.dl /
        |      ((SELECT t FROM tot) / (SELECT n FROM n)))) AS score
        |  FROM tf JOIN top USING (term) JOIN dl USING (doc_id)),
        |sq AS (SELECT doc_id, term, score,
        |    CAST(floor(score * 10000) AS BIGINT) AS score_q FROM s),
        |r AS (SELECT term, doc_id, score_q, score,
        |    CAST(row_number() OVER (PARTITION BY term
        |      ORDER BY score_q DESC, doc_id) AS INT) AS rank
        |  FROM sq)
        |SELECT term, doc_id, rank, score_q, score FROM r
        |WHERE rank <= 5 ORDER BY term, rank""".stripMargin,
    "q_bm25_wand" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |topq AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r
        |  FROM dfreq ORDER BY df DESC, term LIMIT 9),
        |q AS (SELECT term, df, CAST((r - 1) % 3 AS INT) AS qid FROM topq),
        |n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        |tot AS (SELECT CAST(sum(dl) AS DOUBLE) AS t FROM dl),
        |s AS (SELECT q.qid, tf.doc_id,
        |    CAST(floor((ln((CAST((SELECT n FROM n) AS DOUBLE) - q.df + 0.5) / (q.df + 0.5) + 1) *
        |    (tf.c * 2.2) /
        |    (tf.c + 1.2 * (1 - 0.75 + 0.75 * dl.dl /
        |      ((SELECT t FROM tot) / (SELECT n FROM n))))) * 10000) AS BIGINT) AS sc
        |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)),
        |agg AS (SELECT qid, doc_id, CAST(sum(sc) AS BIGINT) AS score_q,
        |    count(*) AS n_terms FROM s GROUP BY 1, 2),
        |r2 AS (SELECT qid, doc_id, score_q, n_terms,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score_q DESC, doc_id) AS INT) AS rank
        |  FROM agg)
        |SELECT qid, doc_id, rank, score_q, n_terms FROM r2
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "q_lm_score" ->
      """WITH tr AS (SELECT string_split(text,' ') AS ts
        |  FROM documents WHERE doc_id % 2 = 0),
        |pairs AS (SELECT ts[i] AS prev, ts[i+1] AS next
        |  FROM tr, unnest(range(1, len(ts))) AS u(i)),
        |bg AS (SELECT prev, next, count(*) AS c_bg FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(c_bg) AS BIGINT) AS c_ctx FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (
        |  SELECT unnest(string_split(text,' ')) AS t
        |  FROM documents WHERE doc_id % 2 = 0)),
        |te AS (SELECT doc_id, ts[i] AS prev, ts[i+1] AS next
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts
        |        FROM documents WHERE doc_id % 2 = 1),
        |    unnest(range(1, len(ts))) AS u(i)),
        |lp AS (SELECT te.doc_id,
        |    CAST(floor(ln(
        |      CAST(COALESCE(c_bg, 0) + 1 AS DOUBLE) /
        |      CAST(COALESCE(c_ctx, 0) + (SELECT v FROM v) AS DOUBLE)) * 10000) AS BIGINT) AS lpq
        |  FROM te LEFT JOIN bg ON te.prev = bg.prev AND te.next = bg.next
        |          LEFT JOIN ctx ON te.prev = ctx.prev)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(lpq) AS BIGINT) AS sum_lpq,
        |  CAST(sum(lpq) AS DOUBLE) / count(*) AS avg_lpq
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_infer_batch" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, u.tok FROM t, unnest(ts) AS u(tok)),
        |feat AS (SELECT doc_id, CAST((
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),1,1))-1)*65536 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),2,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),3,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),4,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),5,1))-1)
        |  ) % 64 AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS x
        |  FROM tok GROUP BY 1, 2),
        |cls AS (SELECT unnest(range(4)) AS c),
        |lg AS (SELECT f.doc_id, cls.c,
        |    sum(f.x * (((f.b*2654435761 + (cls.c+1)*40503) % 1999) - 999)) AS logit
        |  FROM feat f CROSS JOIN cls GROUP BY 1, 2),
        |base AS (SELECT t.doc_id, cls.c,
        |    COALESCE(lg.logit, 0) AS logit
        |  FROM t CROSS JOIN cls
        |  LEFT JOIN lg ON lg.doc_id = t.doc_id AND lg.c = cls.c),
        |sel AS (SELECT doc_id, c, logit,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY logit DESC, c ASC) AS rn
        |  FROM base)
        |SELECT d.doc_id, CAST(s.c AS INT) AS pred_class,
        |  CAST(s.logit AS BIGINT) AS logit_q
        |FROM documents d
        |LEFT JOIN (SELECT * FROM sel WHERE rn = 1) s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_infer_route" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, u.tok FROM t, unnest(ts) AS u(tok)),
        |feat AS (SELECT doc_id, CAST((
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),1,1))-1)*65536 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),2,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),3,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),4,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),5,1))-1)
        |  ) % 64 AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS x
        |  FROM tok GROUP BY 1, 2),
        |cls AS (SELECT unnest(range(4)) AS c),
        |lg AS (SELECT f.doc_id, cls.c,
        |    sum(f.x * (((f.b*2654435761 + (cls.c+1)*40503) % 1999) - 999)) AS logit
        |  FROM feat f CROSS JOIN cls GROUP BY 1, 2),
        |base AS (SELECT t.doc_id, cls.c,
        |    COALESCE(lg.logit, 0) AS logit
        |  FROM t CROSS JOIN cls
        |  LEFT JOIN lg ON lg.doc_id = t.doc_id AND lg.c = cls.c),
        |sel AS (SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY logit DESC, c ASC) AS rn
        |  FROM base),
        |scored AS (SELECT d.doc_id, s.c AS pred_class,
        |    COALESCE(len(list_filter(string_split(d.text,' '),
        |      x -> len(x) > 0)), 0) AS ntok
        |  FROM documents d
        |  LEFT JOIN (SELECT * FROM sel WHERE rn = 1) s ON s.doc_id = d.doc_id),
        |tot AS (SELECT count(*) AS n FROM scored)
        |SELECT CAST(pred_class AS INT) AS pred_class,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |  CAST(count(*) * 1000000 // tot.n AS BIGINT) AS share_ppm
        |FROM scored, tot GROUP BY pred_class, tot.n
        |ORDER BY pred_class ASC NULLS LAST""".stripMargin,
    "q_eval_confusion" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, u.tok FROM t, unnest(ts) AS u(tok)),
        |feat AS (SELECT doc_id, CAST((
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),1,1))-1)*65536 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),2,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),3,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),4,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),5,1))-1)
        |  ) % 64 AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS x
        |  FROM tok GROUP BY 1, 2),
        |cls AS (SELECT unnest(range(4)) AS c),
        |lg AS (SELECT f.doc_id, cls.c,
        |    sum(f.x * (((f.b*2654435761 + (cls.c+1)*40503) % 1999) - 999)) AS logit
        |  FROM feat f CROSS JOIN cls GROUP BY 1, 2),
        |base AS (SELECT t.doc_id, cls.c,
        |    COALESCE(lg.logit, 0) AS logit
        |  FROM t CROSS JOIN cls
        |  LEFT JOIN lg ON lg.doc_id = t.doc_id AND lg.c = cls.c),
        |sel AS (SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY logit DESC, c ASC) AS rn
        |  FROM base),
        |scored AS (SELECT CAST(t.doc_id % 4 AS INT) AS label,
        |    CAST(s.c AS INT) AS pred_class
        |  FROM t JOIN (SELECT * FROM sel WHERE rn = 1) s
        |    ON s.doc_id = t.doc_id)
        |SELECT label, pred_class, CAST(count(*) AS BIGINT) AS n
        |FROM scored GROUP BY label, pred_class
        |ORDER BY label, pred_class""".stripMargin,
    "q_eval_prf" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, u.tok FROM t, unnest(ts) AS u(tok)),
        |feat AS (SELECT doc_id, CAST((
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),1,1))-1)*65536 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),2,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),3,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),4,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),5,1))-1)
        |  ) % 64 AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS x
        |  FROM tok GROUP BY 1, 2),
        |cls0 AS (SELECT unnest(range(4)) AS c),
        |lg AS (SELECT f.doc_id, cls0.c,
        |    sum(f.x * (((f.b*2654435761 + (cls0.c+1)*40503) % 1999) - 999)) AS logit
        |  FROM feat f CROSS JOIN cls0 GROUP BY 1, 2),
        |base AS (SELECT t.doc_id, cls0.c,
        |    COALESCE(lg.logit, 0) AS logit
        |  FROM t CROSS JOIN cls0
        |  LEFT JOIN lg ON lg.doc_id = t.doc_id AND lg.c = cls0.c),
        |sel AS (SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY logit DESC, c ASC) AS rn
        |  FROM base),
        |scored AS (SELECT CAST(t.doc_id % 4 AS INT) AS label,
        |    CAST(s.c AS INT) AS pred_class
        |  FROM t JOIN (SELECT * FROM sel WHERE rn = 1) s
        |    ON s.doc_id = t.doc_id),
        |classes AS (SELECT CAST(unnest(range(4)) AS INT) AS cls),
        |tr AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS n_true
        |  FROM scored GROUP BY label),
        |pr AS (SELECT pred_class AS cls, CAST(count(*) AS BIGINT) AS n_pred
        |  FROM scored GROUP BY pred_class),
        |tpc AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS tp
        |  FROM scored WHERE label = pred_class GROUP BY label)
        |SELECT classes.cls,
        |  CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
        |  CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
        |  CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
        |  CASE WHEN COALESCE(n_pred, 0) = 0 THEN NULL
        |       ELSE CAST(COALESCE(tp, 0) * 1000000 // n_pred AS BIGINT)
        |       END AS precision_ppm,
        |  CASE WHEN COALESCE(n_true, 0) = 0 THEN NULL
        |       ELSE CAST(COALESCE(tp, 0) * 1000000 // n_true AS BIGINT)
        |       END AS recall_ppm,
        |  CASE WHEN COALESCE(n_pred, 0) + COALESCE(n_true, 0) = 0 THEN NULL
        |       ELSE CAST(2 * COALESCE(tp, 0) * 1000000
        |            // (COALESCE(n_pred, 0) + COALESCE(n_true, 0)) AS BIGINT)
        |       END AS f1_ppm
        |FROM classes
        |LEFT JOIN tr ON tr.cls = classes.cls
        |LEFT JOIN pr ON pr.cls = classes.cls
        |LEFT JOIN tpc ON tpc.cls = classes.cls
        |ORDER BY classes.cls""".stripMargin,
    "q_sess_stream" ->
      // gap sessionization recomputed analytically; >= at the gap
      // boundary mirrors Spark's strict-overlap window merge
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT user_id, us, event_id,
        |    lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, us, event_id,
        |    CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM g),
        |s AS (SELECT user_id, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
        |  CAST(max(us) AS BIGINT) AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    "q_attr_stream" ->
      // the LIVE stream-stream join must land exactly what the batch
      // attribution computes — the q_attribution oracle, verbatim
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |v AS (SELECT user_id, us AS view_us, event_id AS view_id
        |  FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, us AS click_us, event_id AS click_id
        |  FROM e WHERE event_type = 'click'),
        |p AS (SELECT c.click_id, c.user_id, c.click_us, v.view_us, v.view_id,
        |    row_number() OVER (PARTITION BY c.click_id
        |      ORDER BY v.view_us DESC, v.view_id DESC) AS rn
        |  FROM c JOIN v ON c.user_id = v.user_id
        |  WHERE v.view_us <= c.click_us
        |    AND c.click_us <= v.view_us + 86400000000)
        |SELECT click_id, user_id, click_us, view_id, view_us,
        |  click_us - view_us AS gap_us
        |FROM p WHERE rn = 1 ORDER BY click_id""".stripMargin,
    "q_infer_stream" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, u.tok FROM t, unnest(ts) AS u(tok)),
        |feat AS (SELECT doc_id, CAST((
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),1,1))-1)*65536 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),2,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),3,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),4,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5('bkt:'||tok),5,1))-1)
        |  ) % 64 AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS x
        |  FROM tok GROUP BY 1, 2),
        |cls AS (SELECT unnest(range(4)) AS c),
        |lg AS (SELECT f.doc_id, cls.c,
        |    sum(f.x * (((f.b*2654435761 + (cls.c+1)*40503) % 1999) - 999)) AS logit
        |  FROM feat f CROSS JOIN cls GROUP BY 1, 2),
        |base AS (SELECT t.doc_id, cls.c,
        |    COALESCE(lg.logit, 0) AS logit
        |  FROM t CROSS JOIN cls
        |  LEFT JOIN lg ON lg.doc_id = t.doc_id AND lg.c = cls.c),
        |sel AS (SELECT doc_id, c, logit,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY logit DESC, c ASC) AS rn
        |  FROM base)
        |SELECT d.doc_id, CAST(s.c AS INT) AS pred_class,
        |  CAST(s.logit AS BIGINT) AS logit_q,
        |  CASE WHEN s.c IS NULL THEN FALSE ELSE s.c = 2 END AS pass
        |FROM documents d
        |LEFT JOIN (SELECT * FROM sel WHERE rn = 1) s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dsir" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text,' '), t -> len(t) > 0) AS ts
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(list_concat(ts,
        |    CASE WHEN len(ts) >= 2
        |      THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
        |      ELSE [] END)) AS g
        |  FROM t),
        |bk AS (SELECT doc_id, lang,
        |    ((strpos('0123456789abcdef', substr(md5(g),1,1))-1)*4096 +
        |     (strpos('0123456789abcdef', substr(md5(g),2,1))-1)*256 +
        |     (strpos('0123456789abcdef', substr(md5(g),3,1))-1)*16 +
        |     (strpos('0123456789abcdef', substr(md5(g),4,1))-1)) % 1024 AS b
        |  FROM g),
        |rawb AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bk GROUP BY b),
        |tgtb AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bk
        |  WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT
        |    CAST((SELECT COALESCE(sum(cr), 0) FROM rawb) AS BIGINT) AS tot_r,
        |    CAST((SELECT COALESCE(sum(ct), 0) FROM tgtb) AS BIGINT) AS tot_t),
        |lr AS (SELECT rawb.b,
        |    CAST(floor(ln(
        |      CAST((COALESCE(ct, 0) + 1) * (tot_r + 1024) AS DOUBLE) /
        |      CAST((cr + 1) * (tot_t + 1024) AS DOUBLE)) * 10000) AS BIGINT) AS lrq
        |  FROM rawb LEFT JOIN tgtb ON rawb.b = tgtb.b, tot),
        |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        |  FROM bk GROUP BY doc_id, b)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(sum(c * lrq) AS BIGINT) AS sum_lrq,
        |  CAST(sum(c * lrq) AS DOUBLE) / 10000 AS logw
        |FROM dc JOIN lr ON dc.b = lr.b
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dsir_sample" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text,' '), t -> len(t) > 0) AS ts
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(list_concat(ts,
        |    CASE WHEN len(ts) >= 2
        |      THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
        |      ELSE [] END)) AS g
        |  FROM t),
        |bk AS (SELECT doc_id, lang,
        |    ((strpos('0123456789abcdef', substr(md5(g),1,1))-1)*4096 +
        |     (strpos('0123456789abcdef', substr(md5(g),2,1))-1)*256 +
        |     (strpos('0123456789abcdef', substr(md5(g),3,1))-1)*16 +
        |     (strpos('0123456789abcdef', substr(md5(g),4,1))-1)) % 1024 AS b
        |  FROM g),
        |rawb AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bk GROUP BY b),
        |tgtb AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bk
        |  WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT
        |    CAST((SELECT COALESCE(sum(cr), 0) FROM rawb) AS BIGINT) AS tot_r,
        |    CAST((SELECT COALESCE(sum(ct), 0) FROM tgtb) AS BIGINT) AS tot_t),
        |lr AS (SELECT rawb.b,
        |    CAST(floor(ln(
        |      CAST((COALESCE(ct, 0) + 1) * (tot_r + 1024) AS DOUBLE) /
        |      CAST((cr + 1) * (tot_t + 1024) AS DOUBLE)) * 10000) AS BIGINT) AS lrq
        |  FROM rawb LEFT JOIN tgtb ON rawb.b = tgtb.b, tot),
        |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        |  FROM bk GROUP BY doc_id, b),
        |w AS (SELECT doc_id,
        |    CAST(sum(c * lrq) AS DOUBLE) / 10000 AS logw
        |  FROM dc JOIN lr ON dc.b = lr.b GROUP BY doc_id),
        |k AS (SELECT doc_id, logw,
        |    CAST(floor((logw - ln(-ln(
        |      CAST((
        |        (strpos('0123456789abcdef', substr(md5('gum:' || CAST(doc_id AS VARCHAR)),1,1))-1)*65536 +
        |        (strpos('0123456789abcdef', substr(md5('gum:' || CAST(doc_id AS VARCHAR)),2,1))-1)*4096 +
        |        (strpos('0123456789abcdef', substr(md5('gum:' || CAST(doc_id AS VARCHAR)),3,1))-1)*256 +
        |        (strpos('0123456789abcdef', substr(md5('gum:' || CAST(doc_id AS VARCHAR)),4,1))-1)*16 +
        |        (strpos('0123456789abcdef', substr(md5('gum:' || CAST(doc_id AS VARCHAR)),5,1))-1)
        |        + 1) AS DOUBLE) / 1048577))) * 10000) AS BIGINT) AS key_q
        |  FROM w)
        |SELECT doc_id, logw, key_q FROM k
        |ORDER BY key_q DESC, doc_id LIMIT 100""".stripMargin,
    "q_audio_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS ts FROM documents),
        |v AS (SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(tok),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(tok),4,1))-1) - 32768 AS v
        |  FROM t, unnest(ts) AS u(tok) WHERE len(tok) > 0),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v*v) AS BIGINT) AS svv,
        |    CAST(max(abs(v)) AS BIGINT) AS mx,
        |    CAST(sum(CASE WHEN abs(v) >= 32640 THEN 1 ELSE 0 END) AS BIGINT) AS clip,
        |    CAST(sum(CASE WHEN abs(v) <= 128 THEN 1 ELSE 0 END) AS BIGINT) AS sil
        |  FROM v GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN t.text IS NULL THEN NULL
        |       ELSE CAST(COALESCE(s.n, 0) AS BIGINT) END AS n_samples,
        |  CAST(mx AS DOUBLE) / 32768 AS peak,
        |  sqrt(CAST(svv AS DOUBLE) / n) / 32768 AS rms,
        |  (CAST(sv AS DOUBLE) / n) / 32768 AS dc_offset,
        |  CAST(clip AS DOUBLE) / n AS clip_ratio,
        |  CAST(sil AS DOUBLE) / n AS silence_ratio
        |FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_media_route" ->
      """WITH t AS (SELECT doc_id, text,
        |    len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS ntok,
        |    CAST(doc_id % 3 AS INT) AS sel,
        |    hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nbr
        |  FROM documents),
        |k AS (SELECT
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN sel = 0 THEN 'audio'
        |       WHEN sel = 1 THEN (CASE WHEN ntok = 0 THEN NULL ELSE 'image' END)
        |       -- raw-text arm mirrors the ROUTER's byte-magic rules
        |       -- (graft_sniff_kind routes on header magic alone, so a
        |       -- fixture text that happens to start with a container
        |       -- signature legitimately routes as that container)
        |       WHEN nbr >= 12 AND substr(h,1,8) = '52494646'
        |            AND substr(h,17,8) = '57415645' THEN 'audio'
        |       WHEN nbr >= 12 AND substr(h,9,8) = '66747970' THEN 'video'
        |       WHEN substr(h,1,4) = '424D' THEN 'image'
        |       WHEN substr(h,1,16) = '89504E470D0A1A0A' THEN 'image'
        |       WHEN substr(h,1,6) = 'FFD8FF' THEN 'image'
        |       WHEN substr(h,1,12) IN ('474946383761','474946383961')
        |            THEN 'image'
        |       WHEN substr(h,1,8) IN ('49492A00','4D4D002A') THEN 'image'
        |       ELSE 'unknown' END AS kind,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN sel = 0 THEN CAST(44 + 2*ntok AS BIGINT)
        |       WHEN sel = 1 THEN (CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(54 + ((3*ntok + 3)//4)*4 AS BIGINT) END)
        |       ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS nb
        |  FROM t)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_payloads,
        |  CAST(sum(nb) AS BIGINT) AS total_bytes
        |FROM k GROUP BY kind ORDER BY kind""".stripMargin,
    "q_media_sniff" ->
      """WITH t AS (SELECT doc_id, text,
        |    len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS ntok,
        |    CAST(doc_id % 3 AS INT) AS sel
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN sel = 0 THEN 'audio'
        |       WHEN sel = 1 THEN (CASE WHEN ntok = 0 THEN NULL ELSE 'image' END)
        |       ELSE 'unknown' END AS kind,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN sel = 0 THEN CAST(44 + 2*ntok AS BIGINT)
        |       WHEN sel = 1 THEN (CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(54 + ((3*ntok + 3)//4)*4 AS BIGINT) END)
        |       ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS n_bytes,
        |  CASE WHEN text IS NOT NULL AND sel = 1 AND ntok > 0
        |       THEN CAST(ntok AS INT) ELSE NULL END AS width,
        |  CASE WHEN text IS NOT NULL AND sel = 1 AND ntok > 0
        |       THEN CAST(1 AS INT) ELSE NULL END AS height,
        |  CASE WHEN text IS NOT NULL AND sel = 0
        |       THEN CAST(8000 AS INT) ELSE NULL END AS sample_rate,
        |  CASE WHEN text IS NOT NULL AND sel = 0
        |       THEN CAST(ntok AS BIGINT) ELSE NULL END AS n_samples,
        |  CASE WHEN text IS NOT NULL AND sel = 0
        |       THEN CAST(ntok * 1000 // 8000 AS BIGINT) ELSE NULL END AS duration_ms
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_video_meta" ->
      """WITH t AS (SELECT doc_id, text,
        |    len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS ntok
        |  FROM documents),
        |p AS (SELECT doc_id, text IS NULL AS nul,
        |    CAST(600*(1 + doc_id % 4) AS INT) AS ts,
        |    CAST(ntok*400 AS BIGINT) AS dur,
        |    CAST(1 + doc_id % 3 AS INT) AS ntr,
        |    CAST(16*(1 + doc_id % 40) AS INT) AS w,
        |    CAST(16*(1 + doc_id % 30) AS INT) AS h,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'isom'
        |         WHEN 1 THEN 'mp42' ELSE 'avc1' END AS brand
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN nul THEN NULL
        |       ELSE CAST(132 + 100*ntr AS BIGINT) END AS n_bytes,
        |  CASE WHEN nul THEN NULL ELSE brand END AS major_brand,
        |  CASE WHEN nul THEN NULL ELSE ts END AS timescale,
        |  CASE WHEN nul THEN NULL
        |       ELSE CAST(dur*1000 // ts AS BIGINT) END AS duration_ms,
        |  CASE WHEN nul THEN NULL ELSE ntr END AS n_tracks,
        |  CASE WHEN nul THEN NULL ELSE w END AS width,
        |  CASE WHEN nul THEN NULL ELSE h END AS height,
        |  CASE WHEN nul THEN NULL ELSE 'mp4' END AS container
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_audio_vad" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |v AS (SELECT doc_id, i,
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),4,1))-1) - 32768 AS v
        |  FROM t, unnest(range(1, len(ts)+1)) AS u(i)),
        |fr AS (SELECT doc_id, (i-1)//16 AS f, CAST(sum(v*v) AS BIGINT) AS ss,
        |    CAST(count(*) AS BIGINT) AS nf
        |  FROM v GROUP BY doc_id, ((i-1)//16)),
        |vo AS (SELECT doc_id, f, (3*ss > nf*1073741824) AS voiced FROM fr),
        |runs AS (SELECT doc_id, voiced,
        |    f - row_number() OVER (PARTITION BY doc_id, voiced ORDER BY f) AS grp
        |  FROM vo),
        |rl AS (SELECT doc_id, voiced, CAST(count(*) AS BIGINT) AS run_len
        |  FROM runs GROUP BY doc_id, voiced, grp),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT) AS voiced_frames
        |  FROM vo GROUP BY doc_id),
        |lv AS (SELECT doc_id, CAST(max(run_len) AS BIGINT) AS longest
        |  FROM rl WHERE voiced GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(agg.n_frames, 0) AS BIGINT) AS n_frames,
        |  CAST(COALESCE(agg.voiced_frames, 0) AS BIGINT) AS voiced_frames,
        |  CAST(agg.voiced_frames AS DOUBLE) / agg.n_frames AS voiced_ratio,
        |  CAST(COALESCE(lv.longest, 0) AS BIGINT) AS longest_voiced_run
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) LEFT JOIN lv USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_image_stats" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |v AS (SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*1048576 +
        |    (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)*65536 +
        |    (strpos('0123456789abcdef', substr(md5(tok),3,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(tok),4,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(tok),5,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(tok),6,1))-1) AS v
        |  FROM t, unnest(ts) AS u(tok)),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v // 65536) AS BIGINT) AS sr,
        |    CAST(sum((v // 256) % 256) AS BIGINT) AS sg,
        |    CAST(sum(v % 256) AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN 2126*(v // 65536) + 7152*((v // 256) % 256)
        |                       + 722*(v % 256) < 1280000
        |             THEN 1 ELSE 0 END) AS BIGINT) AS dk
        |  FROM v GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(s.n AS INT) AS width,
        |  CAST(CASE WHEN s.n IS NOT NULL THEN 1 END AS INT) AS height,
        |  s.n AS n_pixels,
        |  CAST(sr AS DOUBLE) / n AS mean_r,
        |  CAST(sg AS DOUBLE) / n AS mean_g,
        |  CAST(sb AS DOUBLE) / n AS mean_b,
        |  CAST(dk AS DOUBLE) / n AS dark_ratio
        |FROM t LEFT JOIN s USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks, unnest(ts) AS u(tok) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM toks, unnest(list_transform(range(1, len(ts)),
        |    i -> array_to_string(ts[i:i+1], ' '))) AS u(bigram)
        |  WHERE len(ts) >= 2 GROUP BY 1 HAVING count(*) >= 5),
        |j AS (SELECT bigram, c_xy,
        |    string_split(bigram, ' ')[1] AS w1,
        |    string_split(bigram, ' ')[2] AS w2
        |  FROM bi),
        |s AS (SELECT j.bigram, j.c_xy, u1.c AS c_x, u2.c AS c_y,
        |    CAST((CAST(j.c_xy AS HUGEINT) * (SELECT n_total FROM tot) * 1000000)
        |      // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm
        |  FROM j JOIN uni u1 ON j.w1 = u1.tok JOIN uni u2 ON j.w2 = u2.tok)
        |SELECT bigram, c_xy, c_x, c_y, lift_ppm FROM s
        |ORDER BY lift_ppm DESC, bigram LIMIT 20""".stripMargin,
    "q_cms_topk" -> {
      // 24 md5 bits (6 hex chars) of 'r:tok' -> bucket, mod 1024 — the
      // same portable hex->int construction as q_manifest
      def hex24(src: String) = (0 to 5).map(i =>
        s"(strpos('0123456789abcdef', substr($src,${i + 1},1))-1)*${math.pow(16, 5 - i).toLong}")
        .mkString("(", " + ", ")")
      val bucket = hex24("md5(CAST(r AS VARCHAR) || ':' || tok)") + " % 1024"
      s"""WITH tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
         |  FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)
         |  GROUP BY 1),
         |rb AS (SELECT tok, exact, r, $bucket AS bucket
         |  FROM tf, unnest(range(0,4)) AS u(r)),
         |cells AS (SELECT r, bucket, CAST(sum(exact) AS BIGINT) AS cnt
         |  FROM rb GROUP BY 1, 2),
         |est AS (SELECT tok, min(cnt) AS est
         |  FROM rb JOIN cells USING (r, bucket) GROUP BY 1)
         |SELECT t.tok AS term, e.est, t.exact, e.est - t.exact AS err
         |FROM est e JOIN tf t USING (tok)
         |ORDER BY e.est DESC, term LIMIT 20""".stripMargin
    },
    "q_hll_sources" -> {
      // md5 hex -> int ladders: 24 bucket bits (chars 1-6), 40 tail
      // bits (chars 7-16); rho = 41 - bitlength(tail), bin() renders
      // without leading zeros on both engines
      def ladder(src: String, off: Int, n: Int) = (0 until n).map(i =>
        s"(strpos('0123456789abcdef', substr($src,${off + i},1))-1)*${BigInt(16).pow(n - 1 - i)}")
        .mkString("(", " + ", ")")
      val bucket = ladder("h", 1, 6) + " % 64"
      val rho = s"41 - length(ltrim(bin(${ladder("h", 7, 10)}),'0'))"
      s"""WITH toks AS (SELECT source, string_split(text,' ') AS ts FROM documents),
         |g AS (SELECT source, unnest(list_transform(range(1, len(ts)-3),
         |    i -> array_to_string(ts[i:i+4],' '))) AS g
         |  FROM toks WHERE len(ts) >= 5),
         |rb AS (SELECT source, $bucket AS bucket, $rho AS rho
         |  FROM (SELECT source, md5(g) AS h FROM g)),
         |per AS (SELECT source, bucket, max(rho) AS m_reg FROM rb GROUP BY 1,2),
         |regs AS (SELECT * FROM per
         |  UNION ALL
         |  SELECT 'ALL' AS source, bucket, max(m_reg) AS m_reg FROM per GROUP BY 2),
         |est AS (SELECT source, CAST(64 - count(*) AS BIGINT) AS zero_regs,
         |    CAST(CAST('6389166719357975265280' AS HUGEINT)
         |      // (CAST(sum(CAST(1 AS BIGINT) << (41 - m_reg))
         |           + (64 - count(*)) * (CAST(1 AS BIGINT) << 41) AS HUGEINT)
         |         * 1000000) AS BIGINT) AS est
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS n_exact
         |  FROM g GROUP BY 1
         |  UNION ALL
         |  SELECT 'ALL', CAST(count(DISTINCT g) AS BIGINT) FROM g)
         |SELECT e.source, x.n_exact, e.zero_regs, e.est,
         |  CASE WHEN e.est >= x.n_exact THEN
         |    CAST(CAST(e.est - x.n_exact AS HUGEINT) * 1000000
         |      // nullif(x.n_exact, 0) AS BIGINT)
         |  ELSE -CAST(CAST(x.n_exact - e.est AS HUGEINT) * 1000000
         |      // nullif(x.n_exact, 0) AS BIGINT) END AS err_ppm
         |FROM est e JOIN ex x USING (source) ORDER BY source""".stripMargin
    },
    "q_pad_waste" ->
      """WITH t AS (SELECT len(string_split(text,' ')) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT n_tok, CASE WHEN n_tok <= 32 THEN 32
        |    WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
        |    ELSE -1 END AS bucket FROM t),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens FROM b GROUP BY 1)
        |SELECT bucket, n_docs, sum_tokens,
        |  CASE WHEN bucket > 0 THEN bucket * n_docs - sum_tokens
        |    ELSE 0 END AS sum_padding,
        |  CASE WHEN bucket > 0 THEN
        |    CAST(CAST(bucket * n_docs - sum_tokens AS HUGEINT) * 1000000
        |      // (bucket * n_docs) AS BIGINT)
        |    ELSE 0 END AS pad_ppm
        |FROM g ORDER BY bucket""".stripMargin,
    "q_record_linkage" ->
      """WITH cu AS (SELECT c_nationkey AS block, c_custkey, c_name
        |  FROM customer)
        |SELECT a.block AS block, a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS name_a, b.c_name AS name_b,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM cu a JOIN cu b ON a.block = b.block
        |  AND a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
        |  AND levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY a.block, id_a, id_b""".stripMargin,
    "q_t_closeness" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv
        |  FROM customer WHERE CAST(floor(c_acctbal / 1000) AS BIGINT) IS NOT NULL),
        |gb AS (SELECT c_nationkey, c_mktsegment, sv,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |gn AS (SELECT c_nationkey, c_mktsegment, CAST(sum(c) AS BIGINT) AS n
        |  FROM gb GROUP BY 1, 2),
        |gsv AS (SELECT sv, CAST(count(*) AS BIGINT) AS gc FROM b GROUP BY 1),
        |tots AS (SELECT CAST(sum(gc) AS BIGINT) AS nt,
        |    CAST(count(*) AS BIGINT) AS m FROM gsv),
        |grid AS (SELECT gn.c_nationkey, gn.c_mktsegment, gn.n,
        |    gsv.sv, gsv.gc, tots.nt, tots.m
        |  FROM gn CROSS JOIN gsv CROSS JOIN tots),
        |j AS (SELECT grid.*, COALESCE(gb.c, 0) AS c
        |  FROM grid LEFT JOIN gb ON gb.c_nationkey = grid.c_nationkey
        |    AND gb.c_mktsegment = grid.c_mktsegment AND gb.sv = grid.sv),
        |cum AS (SELECT c_nationkey, c_mktsegment, n, m,
        |    sum(c * 1000000 // n - gc * 1000000 // nt)
        |      OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY sv
        |            ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM j),
        |emd AS (SELECT c_nationkey, c_mktsegment, max(n) AS n,
        |    CAST(CAST(sum(abs(cs)) AS BIGINT)
        |      // greatest(max(m) - 1, 1) AS BIGINT) AS emd_ppm
        |  FROM cum GROUP BY 1, 2),
        |ent AS (SELECT c_nationkey, c_mktsegment,
        |    CAST((max(n2) * CAST(floor(ln(CAST(max(n2) AS DOUBLE)) * 10000) AS BIGINT)
        |      - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000) AS BIGINT)) AS BIGINT))
        |      // max(n2) AS BIGINT) AS ent_e4
        |  FROM (SELECT gb.c_nationkey, gb.c_mktsegment, gb.c, gn.n AS n2
        |    FROM gb JOIN gn ON gb.c_nationkey = gn.c_nationkey
        |      AND gb.c_mktsegment = gn.c_mktsegment) z
        |  GROUP BY 1, 2)
        |SELECT emd.c_nationkey, emd.c_mktsegment, emd.n, ent.ent_e4,
        |  ent.ent_e4 >= 16094 AS entropy_l_diverse,
        |  emd.emd_ppm, emd.emd_ppm <= 100000 AS t_close
        |FROM emd JOIN ent ON emd.c_nationkey = ent.c_nationkey
        |  AND emd.c_mktsegment = ent.c_mktsegment
        |ORDER BY emd.c_nationkey, emd.c_mktsegment""".stripMargin,
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |    AS BIGINT) AS n_distinct_sensitive,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3
        |    AS l_diverse
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_trend" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
        |    CASE WHEN b.c >= a.c
        |      THEN (b.c - a.c) * 1000 // (b.day - a.day)
        |      ELSE -(((a.c - b.c) * 1000) // (b.day - a.day)) END AS slope
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day),
        |w AS (SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope, d1, d2) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS np
        |  FROM pairs),
        |med AS (SELECT event_type, slope AS slope_milli, np AS n_pairs
        |  FROM w WHERE rn = (np + 1) // 2),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT med.event_type, nd.n_days, med.n_pairs, med.slope_milli,
        |  CASE WHEN slope_milli > 0 THEN 'rising'
        |       WHEN slope_milli < 0 THEN 'falling'
        |       ELSE 'flat' END AS direction
        |FROM med JOIN nd USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q_seasonality" ->
      """WITH b AS (SELECT event_type,
        |    (CAST(epoch_us(ts) // 86400000000 AS BIGINT) + 4) % 7 AS dow
        |  FROM events),
        |c AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1)
        |SELECT c.event_type, c.dow, c.n,
        |  c.n * 1000000 // t.total AS share_ppm,
        |  CASE WHEN c.n * 1000000 // t.total >= 142857
        |    THEN c.n * 1000000 // t.total - 142857
        |    ELSE -(142857 - c.n * 1000000 // t.total) END AS dev_ppm
        |FROM c JOIN t USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,
    "q_outliers" ->
      """WITH b AS (SELECT event_type AS grp, event_id AS id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL),
        |w1 AS (SELECT grp, id, vq,
        |    row_number() OVER (PARTITION BY grp ORDER BY vq, id) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM b),
        |med AS (SELECT grp, vq AS med FROM w1 WHERE rn = (n + 1) // 2),
        |d AS (SELECT b.grp, b.id, abs(b.vq - m.med) AS dev, m.med
        |  FROM b JOIN med m ON b.grp = m.grp),
        |w2 AS (SELECT grp, id, dev, med,
        |    row_number() OVER (PARTITION BY grp ORDER BY dev, id) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM d),
        |mad AS (SELECT grp, dev AS mad FROM w2 WHERE rn = (n + 1) // 2),
        |f AS (SELECT d.grp, d.dev, d.med, m2.mad
        |  FROM d JOIN mad m2 ON d.grp = m2.grp)
        |SELECT grp AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(med) AS med, min(mad) AS mad,
        |  CAST(sum(CASE WHEN dev * 10000 > mad * 44478 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN dev * 10000 > mad * 44478 THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS outlier_ppm
        |FROM f GROUP BY grp ORDER BY event_type""".stripMargin,
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(abs(l_extendedprice))
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM lineitem),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
        |  WHERE digit >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |b AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
        |    (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |    (9, 45757)) AS v(digit, benford_ppm))
        |SELECT c.digit, c.n,
        |  CAST(CAST(c.n AS HUGEINT) * 1000000 // t.n_total AS BIGINT)
        |    AS obs_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(CAST(c.n AS HUGEINT) * 1000000 // t.n_total
        |    - b.benford_ppm AS BIGINT) AS dev_ppm
        |FROM c JOIN t ON true JOIN b USING (digit)
        |ORDER BY c.digit""".stripMargin,
    "q_fd" -> {
      val cols = Seq("c_custkey", "c_nationkey", "c_mktsegment")
      val blocks = (for (a <- cols; b <- cols if a != b) yield
        s"""SELECT '$a' AS det, '$b' AS dep,
           |  COALESCE(CAST($a AS VARCHAR), chr(1)) AS av,
           |  COALESCE(CAST($b AS VARCHAR), chr(1)) AS bv FROM customer"""
          .stripMargin).mkString("\nUNION ALL\n")
      s"""WITH p AS ($blocks),
         |g AS (SELECT det, dep, av, CAST(count(DISTINCT bv) AS BIGINT) AS ndep
         |  FROM p GROUP BY 1, 2, 3)
         |SELECT det, dep, CAST(count(*) AS BIGINT) AS n_det_distinct,
         |  CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating_det,
         |  max(ndep) AS max_dep_per_det,
         |  sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM g GROUP BY 1, 2 ORDER BY det, dep""".stripMargin
    },
    "q_hash_chain" ->
      """WITH b AS (SELECT event_type AS grp, event_id AS seq,
        |    event_id // 500 AS seg,
        |    md5(CAST(event_id AS VARCHAR) || '|' ||
        |        COALESCE(CAST(user_id AS VARCHAR), '') || '|' ||
        |        COALESCE(props, '')) AS h
        |  FROM events),
        |segs AS (SELECT grp, seg, CAST(count(*) AS BIGINT) AS n,
        |    min(seq) AS lo_seq, max(seq) AS hi_seq,
        |    list_reduce(list_prepend('', list(h ORDER BY seq)),
        |      (acc, x) -> md5(acc || x)) AS seg_chain
        |  FROM b GROUP BY 1, 2),
        |heads AS (SELECT grp,
        |    list_reduce(list_prepend('', list(seg_chain ORDER BY seg)),
        |      (acc, x) -> md5(acc || x)) AS head_chain
        |  FROM segs GROUP BY 1)
        |SELECT s.grp, s.seg, s.n, s.lo_seq, s.hi_seq, s.seg_chain,
        |  h.head_chain
        |FROM segs s JOIN heads h USING (grp) ORDER BY s.grp, s.seg""".stripMargin,
    "q_kmv_overlap" -> {
      // 48-bit md5 ladder (12 hex chars) — the KMV hash
      def ladder12 = (0 until 12).map(i =>
        s"(strpos('0123456789abcdef', substr(m,${1 + i},1))-1)*${BigInt(16).pow(11 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH toks AS (SELECT source, string_split(text,' ') AS ts FROM documents),
         |g AS (SELECT source, unnest(list_transform(range(1, len(ts)-3),
         |    i -> array_to_string(ts[i:i+4],' '))) AS g
         |  FROM toks WHERE len(ts) >= 5),
         |dg AS (SELECT DISTINCT source, g FROM g),
         |hh AS (SELECT DISTINCT source, $ladder12 AS h
         |  FROM (SELECT DISTINCT source, md5(g) AS m FROM g)),
         |sk AS (SELECT source, h FROM hh
         |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 64),
         |prs AS (SELECT a.source AS src_a, b.source AS src_b
         |  FROM (SELECT DISTINCT source FROM sk) a
         |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
         |u AS (SELECT DISTINCT p.src_a, p.src_b, s.h
         |  FROM prs p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b),
         |bu AS (SELECT src_a, src_b, h FROM u
         |  QUALIFY row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) <= 64),
         |st AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_k,
         |    max(h) AS theta FROM bu GROUP BY 1,2),
         |sh AS (SELECT bu.src_a, bu.src_b, CAST(count(*) AS BIGINT) AS shared_k
         |  FROM bu JOIN sk sa ON sa.source = bu.src_a AND sa.h = bu.h
         |          JOIN sk sb ON sb.source = bu.src_b AND sb.h = bu.h
         |  GROUP BY 1,2),
         |ex AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_inter_exact
         |  FROM dg a JOIN dg b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1,2),
         |e AS (SELECT st.src_a, st.src_b, st.n_k,
         |    COALESCE(sh.shared_k, 0) AS shared_k,
         |    CASE WHEN st.n_k < 64 THEN st.n_k
         |      ELSE CAST(CAST('17732923532771328' AS HUGEINT)
         |        // nullif(st.theta, 0) AS BIGINT) END AS union_est
         |  FROM st LEFT JOIN sh USING (src_a, src_b))
         |SELECT e.src_a, e.src_b, e.n_k, e.shared_k, e.union_est,
         |  CAST(e.shared_k * e.union_est // 64 AS BIGINT) AS inter_est,
         |  COALESCE(ex.n_inter_exact, 0) AS n_inter_exact
         |FROM e LEFT JOIN ex USING (src_a, src_b)
         |ORDER BY src_a, src_b""".stripMargin
    },
    "q_boilerplate" ->
      """WITH l AS (SELECT doc_id, i - 1 AS pos, ls[i] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM documents WHERE text IS NOT NULL),
        |       unnest(range(1, len(ls) + 1)) AS u(i)),
        |com AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
        |  FROM l GROUP BY 1) WHERE nd >= 2),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN line IN (SELECT line FROM com)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |    string_agg(CASE WHEN line NOT IN (SELECT line FROM com)
        |      THEN line END, chr(10) ORDER BY pos) AS clean_text
        |  FROM l GROUP BY 1)
        |SELECT d.doc_id, COALESCE(a.n_lines, 0) AS n_lines,
        |  COALESCE(a.n_dropped, 0) AS n_dropped, a.clean_text
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_abtt" -> {
      // the q_pca_power chain (gram + 3 truncating rounds) extended
      // with the per-vector mean+top-component removal
      def round(k: Int, prev: String): String =
        s"""y$k AS (SELECT g.i AS dim, sum(g.g * $prev.x) AS y
           |  FROM g JOIN $prev ON g.j = $prev.dim GROUP BY 1),
           |m$k AS (SELECT max(abs(y)) AS m FROM y$k),
           |x$k AS (SELECT dim, CASE WHEN y >= 0
           |    THEN (y * 1000000) // (SELECT m FROM m$k)
           |    ELSE -(((-y) * 1000000) // (SELECT m FROM m$k)) END AS x
           |  FROM y$k)""".stripMargin
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = 64
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |q AS (SELECT vec_id, i - 1 AS dim,
         |    CAST(floor(v[i] * 1000000) AS BIGINT) AS qv
         |  FROM e, unnest(range(1, 65)) AS u(i)),
         |st AS (SELECT dim, CAST(sum(qv) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
         |mu AS (SELECT dim, CASE WHEN s >= 0 THEN s // n
         |    ELSE -((-s) // n) END AS mu FROM st),
         |c AS (SELECT q.vec_id, q.dim, q.qv - mu.mu AS c
         |  FROM q JOIN mu USING (dim)),
         |g AS (SELECT a.dim AS i, b.dim AS j,
         |    CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS g
         |  FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
         |x0 AS (SELECT DISTINCT dim, CAST(1000000 AS HUGEINT) AS x FROM q),
         |${round(1, "x0")},
         |${round(2, "x1")},
         |${round(3, "x2")},
         |xx AS (SELECT sum(x * x) AS xx FROM x3),
         |pv AS (SELECT c.vec_id,
         |    CAST(sum(CAST(c.c AS HUGEINT) * x.x) AS HUGEINT) AS proj
         |  FROM c JOIN x3 x ON c.dim = x.dim GROUP BY 1),
         |corr AS (SELECT c.vec_id, c.dim,
         |    CAST(c.c - CASE WHEN pv.proj * x.x >= 0
         |      THEN (pv.proj * x.x) // (SELECT xx FROM xx)
         |      ELSE -((-(pv.proj * x.x)) // (SELECT xx FROM xx)) END
         |      AS BIGINT) AS cc
         |  FROM c JOIN x3 x ON c.dim = x.dim
         |  JOIN pv ON pv.vec_id = c.vec_id),
         |nb AS (SELECT vec_id, CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT)
         |    AS n2_before FROM c GROUP BY 1),
         |na AS (SELECT vec_id, CAST(sum(CAST(cc AS HUGEINT) * cc) AS BIGINT)
         |    AS n2_after FROM corr GROUP BY 1)
         |SELECT pv.vec_id, CAST(pv.proj AS BIGINT) AS proj_q,
         |  nb.n2_before, na.n2_after,
         |  CAST(CAST(na.n2_after AS HUGEINT) * 1000000
         |    // nullif(nb.n2_before, 0) AS BIGINT) AS iso_ppm
         |FROM pv JOIN nb USING (vec_id) JOIN na USING (vec_id)
         |ORDER BY pv.vec_id""".stripMargin
    },
    "q_pca_power" -> {
      // one power-iteration round: y = G·x, m = max|y|, x' = trunc-
      // toward-zero(y·10^6 / m) — the CASE sign-split replays Spark's
      // BigInt truncation exactly (DuckDB's // floors)
      def round(k: Int, prev: String): String =
        s"""y$k AS (SELECT g.i AS dim, sum(g.g * $prev.x) AS y
           |  FROM g JOIN $prev ON g.j = $prev.dim GROUP BY 1),
           |m$k AS (SELECT max(abs(y)) AS m FROM y$k),
           |x$k AS (SELECT dim, CASE WHEN y >= 0
           |    THEN (y * 1000000) // (SELECT m FROM m$k)
           |    ELSE -(((-y) * 1000000) // (SELECT m FROM m$k)) END AS x
           |  FROM y$k)""".stripMargin
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = 64
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |q AS (SELECT vec_id, i - 1 AS dim,
         |    CAST(floor(v[i] * 1000000) AS BIGINT) AS qv
         |  FROM e, unnest(range(1, 65)) AS u(i)),
         |st AS (SELECT dim, CAST(sum(qv) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
         |mu AS (SELECT dim, CASE WHEN s >= 0 THEN s // n
         |    ELSE -((-s) // n) END AS mu FROM st),
         |c AS (SELECT q.vec_id, q.dim, q.qv - mu.mu AS c
         |  FROM q JOIN mu USING (dim)),
         |g AS (SELECT a.dim AS i, b.dim AS j,
         |    CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS g
         |  FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
         |x0 AS (SELECT DISTINCT dim, CAST(1000000 AS HUGEINT) AS x FROM q),
         |${round(1, "x0")},
         |${round(2, "x1")},
         |${round(3, "x2")},
         |y4 AS (SELECT g.i AS dim, sum(g.g * x3.x) AS y
         |  FROM g JOIN x3 ON g.j = x3.dim GROUP BY 1)
         |SELECT CAST(x3.dim AS INT) AS dim, CAST(x3.x AS BIGINT) AS comp_q,
         |  CAST((SELECT max(abs(y)) FROM y4) // 1000000000000 AS BIGINT)
         |    AS lambda_q
         |FROM x3 ORDER BY dim""".stripMargin
    },
    "q_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |tf AS (SELECT CAST(doc_id * 10 // (SELECT m FROM mx) AS BIGINT) AS bucket,
        |    tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |vol AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
        |news AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM (
        |  SELECT tok, min(bucket) AS bucket FROM tf GROUP BY 1) GROUP BY 1),
        |nd AS (SELECT CAST(doc_id * 10 // (SELECT m FROM mx) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |per AS (SELECT nd.bucket, nd.n_docs,
        |    COALESCE(vol.n_tokens, 0) AS n_tokens,
        |    COALESCE(news.new_types, 0) AS new_types
        |  FROM nd LEFT JOIN vol USING (bucket) LEFT JOIN news USING (bucket))
        |SELECT a.bucket, a.n_docs, a.n_tokens, a.new_types,
        |  CAST(sum(b.n_tokens) AS BIGINT) AS cum_tokens,
        |  CAST(sum(b.new_types) AS BIGINT) AS cum_types,
        |  CAST(sum(b.new_types) * 1000000 // nullif(sum(b.n_tokens), 0) AS BIGINT) AS ttr_ppm
        |FROM per a JOIN per b ON b.bucket <= a.bucket
        |GROUP BY 1, 2, 3, 4 ORDER BY a.bucket""".stripMargin,
    "q_interval_join" ->
      """WITH ev AS (SELECT event_id, CAST(floor(value * 1000) AS BIGINT) AS lo
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT event_id AS l_id, lo AS l_lo, lo + 3000 AS l_hi
        |  FROM ev WHERE event_id % 17 = 0),
        |r AS (SELECT event_id AS r_id, lo AS r_lo, lo + 4500 AS r_hi
        |  FROM ev WHERE event_id % 2 = 1)
        |SELECT l_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum(least(l_hi, r_hi) - greatest(l_lo, r_lo)) AS BIGINT) AS sum_overlap,
        |  min(r_id) AS first_r, max(r_id) AS last_r
        |FROM l JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_interval_join_auto" ->
      """WITH ev AS (SELECT event_id, CAST(floor(value * 1000) AS BIGINT) AS lo
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT event_id AS l_id, lo AS l_lo, lo + 3000 AS l_hi
        |  FROM ev WHERE event_id % 17 = 0),
        |r AS (SELECT event_id AS r_id, lo AS r_lo, lo + 4500 AS r_hi
        |  FROM ev WHERE event_id % 2 = 1)
        |SELECT l_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum(least(l_hi, r_hi) - greatest(l_lo, r_lo)) AS BIGINT) AS sum_overlap,
        |  min(r_id) AS first_r, max(r_id) AS last_r
        |FROM l JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_manifest" -> {
      def hex6(src: String, off: Int) = (0 to 5).map(i =>
        s"(strpos('0123456789abcdef', substr($src,${off + i},1))-1)*${math.pow(16, 5 - i).toLong}")
        .mkString(" + ")
      s"""WITH s AS (SELECT doc_id,
         |    md5(CAST(doc_id AS VARCHAR) || ':' || COALESCE(text,'')) AS h,
         |    COALESCE(len(string_split(text,' ')), 0) AS nt,
         |    ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096 +
         |     (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256 +
         |     (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16 +
         |     (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1)) % 8 AS shard
         |  FROM documents)
         |SELECT CAST(shard AS INT) AS shard, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(${hex6("h", 1)}) AS BIGINT) AS checksum_a,
         |  CAST(sum(${hex6("h", 7)}) AS BIGINT) AS checksum_b
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_ngram_diversity" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |g AS (
        |  SELECT 1 AS n, doc_id, unnest(ts) AS g FROM toks
        |  UNION ALL
        |  SELECT 2, doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> array_to_string(ts[i:i+1],' ')))
        |  FROM toks WHERE len(ts) >= 2
        |  UNION ALL
        |  SELECT 3, doc_id,
        |    unnest(list_transform(range(1, len(ts)-1), i -> array_to_string(ts[i:i+2],' ')))
        |  FROM toks WHERE len(ts) >= 3),
        |pd AS (SELECT n, g, doc_id, count(*) AS c FROM g GROUP BY 1,2,3),
        |a AS (SELECT n, g, CAST(sum(c) AS BIGINT) AS occ, count(*) AS nd
        |  FROM pd GROUP BY 1,2),
        |r AS (SELECT n, CAST(sum(occ) AS BIGINT) AS total_ngrams,
        |    CAST(count(*) AS BIGINT) AS distinct_ngrams,
        |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_ngrams
        |  FROM a GROUP BY 1)
        |SELECT n, total_ngrams, distinct_ngrams, shared_ngrams,
        |  distinct_ngrams * 1000000 // NULLIF(total_ngrams, 0) AS distinct_ppm,
        |  shared_ngrams * 1000000 // NULLIF(distinct_ngrams, 0) AS shared_ppm
        |FROM r ORDER BY n""".stripMargin,
    "q_mrl_recall" -> {
      // brute-force top-5 over the FIRST dm dims (truncate+renormalize)
      def top5(dm: Int) =
        s"""SELECT query_id, neighbor_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      CAST(floor(10000 * (
           |        list_reduce(list_transform(range(1,${dm + 1}), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
           |        (sqrt(list_reduce(list_transform(range(1,${dm + 1}), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
           |         sqrt(list_reduce(list_transform(range(1,${dm + 1}), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) DESC,
           |      c.vec_id) AS rn
           |  FROM qv q CROSS JOIN e c WHERE q.vec_id <> c.vec_id)
           |WHERE rn <= 5""".stripMargin
      val arms = Seq(16, 32, 64).map { dm =>
        s"""SELECT $dm AS trunc_dim, CAST(count(*) AS BIGINT) AS n_truth,
           |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           |  (CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000) // count(*) AS recall_ppm
           |FROM truth x LEFT JOIN (${top5(dm)}) a
           |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |qv AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
         |truth AS (${top5(64)})
         |$arms
         |ORDER BY trunc_dim""".stripMargin
    },
    "q_hilbert" -> {
      // the HilbertKey kernel's xy2d loop, unrolled: 8 rounds of
      // (rx, ry, quadrant add, conditional reflect+swap); quadrant =
      // 3*rx + ry - 2*rx*ry (the branch-free (3rx) xor ry identity)
      val n = 256L
      val rounds = (1 to 8).map { i =>
        val s = 1L << (8 - i)
        val p = i - 1
        s"""h$i AS (SELECT l_partkey, l_suppkey, amin, amax, bmin, bmax,
           |    d$p + ${s * s} * (3 * rx$i + ry$i - 2 * rx$i * ry$i) AS d$i,
           |    CASE WHEN ry$i = 0 THEN (CASE WHEN rx$i = 1 THEN ${n - 1} - y$p ELSE y$p END) ELSE x$p END AS x$i,
           |    CASE WHEN ry$i = 0 THEN (CASE WHEN rx$i = 1 THEN ${n - 1} - x$p ELSE x$p END) ELSE y$p END AS y$i
           |  FROM (SELECT *,
           |    CASE WHEN (x$p & $s) > 0 THEN 1 ELSE 0 END AS rx$i,
           |    CASE WHEN (y$p & $s) > 0 THEN 1 ELSE 0 END AS ry$i
           |  FROM h$p))""".stripMargin
      }.mkString(",\n")
      s"""WITH g AS (SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
         |    min(l_suppkey) AS bmin, max(l_suppkey) AS bmax FROM lineitem),
         |h0 AS (SELECT l_partkey, l_suppkey, amin, amax, bmin, bmax,
         |    CASE WHEN amax = amin THEN 0
         |         ELSE ((l_partkey - amin) * 255) // (amax - amin) END AS x0,
         |    CASE WHEN bmax = bmin THEN 0
         |         ELSE ((l_suppkey - bmin) * 255) // (bmax - bmin) END AS y0,
         |    0 AS d0
         |  FROM lineitem, g),
         |$rounds,
         |f AS (SELECT d8 >> 10 AS file_id, count(*) AS n_rows,
         |    min(l_partkey) AS a_min, max(l_partkey) AS a_max,
         |    min(l_suppkey) AS b_min, max(l_suppkey) AS b_max,
         |    max(amin) AS amin, max(amax) AS amax,
         |    max(bmin) AS bmin, max(bmax) AS bmax
         |  FROM h8 GROUP BY 1)
         |SELECT file_id, n_rows, a_min, a_max, b_min, b_max,
         |  CASE WHEN amax = amin THEN 0
         |       ELSE ((a_max - a_min) * 1000000) // (amax - amin) END AS a_span_ppm,
         |  CASE WHEN bmax = bmin THEN 0
         |       ELSE ((b_max - b_min) * 1000000) // (bmax - bmin) END AS b_span_ppm
         |FROM f ORDER BY file_id""".stripMargin
    },
    "q_zorder" -> {
      val terms = (0 until 16).map(i =>
        s"((((ga >> $i) & 1) << ${2 * i + 1}) | (((gb >> $i) & 1) << ${2 * i}))")
        .mkString(" | ")
      s"""WITH g AS (SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
         |    min(l_suppkey) AS bmin, max(l_suppkey) AS bmax FROM lineitem),
         |s AS (SELECT l_partkey, l_suppkey, amin, amax, bmin, bmax,
         |    CASE WHEN amax = amin THEN 0
         |         ELSE ((l_partkey - amin) * 65535) // (amax - amin) END AS ga,
         |    CASE WHEN bmax = bmin THEN 0
         |         ELSE ((l_suppkey - bmin) * 65535) // (bmax - bmin) END AS gb
         |  FROM lineitem, g),
         |z AS (SELECT l_partkey, l_suppkey, amin, amax, bmin, bmax,
         |    ($terms) >> 26 AS file_id FROM s),
         |f AS (SELECT file_id, count(*) AS n_rows,
         |    min(l_partkey) AS a_min, max(l_partkey) AS a_max,
         |    min(l_suppkey) AS b_min, max(l_suppkey) AS b_max,
         |    max(amin) AS amin, max(amax) AS amax,
         |    max(bmin) AS bmin, max(bmax) AS bmax
         |  FROM z GROUP BY 1)
         |SELECT file_id, n_rows, a_min, a_max, b_min, b_max,
         |  CASE WHEN amax = amin THEN 0
         |       ELSE ((a_max - a_min) * 1000000) // (amax - amin) END AS a_span_ppm,
         |  CASE WHEN bmax = bmin THEN 0
         |       ELSE ((b_max - b_min) * 1000000) // (bmax - bmin) END AS b_span_ppm
         |FROM f ORDER BY file_id""".stripMargin
    },
    "q_image_dhash" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |lu AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n,
        |    list_transform(ts, tok ->
        |      2126*((strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*16
        |           + strpos('0123456789abcdef', substr(md5(tok),2,1))-1) +
        |      7152*((strpos('0123456789abcdef', substr(md5(tok),3,1))-1)*16
        |           + strpos('0123456789abcdef', substr(md5(tok),4,1))-1) +
        |       722*((strpos('0123456789abcdef', substr(md5(tok),5,1))-1)*16
        |           + strpos('0123456789abcdef', substr(md5(tok),6,1))-1)) AS lums
        |  FROM t WHERE len(ts) > 0),
        |bits AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN lums[CAST(((i+1)*n)//64 AS BIGINT) + 1]
        |                     > lums[CAST((i*n)//64 AS BIGINT) + 1]
        |      THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS dhash
        |  FROM lu, unnest(range(0, 63)) AS u(i) GROUP BY doc_id),
        |bd AS (SELECT doc_id, dhash, k, (dhash >> CAST(k*16 AS INT)) & 65535 AS b
        |  FROM bits, unnest(range(0, 4)) AS u(k))
        |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.dhash, c.dhash)) AS INT) AS dist
        |FROM bd a JOIN bd c ON a.k = c.k AND a.b = c.b AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.dhash, c.dhash)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_train_probe" ->
      """WITH base AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1048576 ELSE 0 END AS y_q,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents
        |  WHERE len(list_filter(string_split(text,' '), x -> len(x) > 0)) > 0),
        |n AS (SELECT count(*) AS n FROM base),
        |tok AS (SELECT doc_id, y_q,
        |    CAST(((strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*4096 +
        |          (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)*256 +
        |          (strpos('0123456789abcdef', substr(md5(tok),3,1))-1)*16 +
        |          (strpos('0123456789abcdef', substr(md5(tok),4,1))-1)) % 64
        |      AS INT) AS b
        |  FROM base, unnest(ts) AS u(tok)),
        |bk AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS b),
        |g1 AS (SELECT b, CAST(CAST(sum(0 - y_q) AS HUGEINT)
        |    // (SELECT n FROM n) AS BIGINT) AS g FROM tok GROUP BY b),
        |w1 AS (SELECT bk.b, 0 - (COALESCE(g1.g, 0) >> 4) AS w
        |  FROM bk LEFT JOIN g1 ON bk.b = g1.b),
        |p2 AS (SELECT tok.doc_id, CAST(max(tok.y_q) AS BIGINT) AS y_q,
        |    CAST(sum(w1.w) AS BIGINT) AS pred
        |  FROM tok JOIN w1 ON tok.b = w1.b GROUP BY tok.doc_id),
        |g2 AS (SELECT tok.b, CAST(CAST(sum(p2.pred - p2.y_q) AS HUGEINT)
        |    // (SELECT n FROM n) AS BIGINT) AS g
        |  FROM tok JOIN p2 ON tok.doc_id = p2.doc_id GROUP BY tok.b),
        |w2 AS (SELECT w1.b, w1.w - (COALESCE(g2.g, 0) >> 4) AS w
        |  FROM w1 LEFT JOIN g2 ON w1.b = g2.b),
        |p3 AS (SELECT tok.doc_id, CAST(max(tok.y_q) AS BIGINT) AS y_q,
        |    CAST(sum(w2.w) AS BIGINT) AS pred
        |  FROM tok JOIN w2 ON tok.b = w2.b GROUP BY tok.doc_id),
        |g3 AS (SELECT tok.b, CAST(CAST(sum(p3.pred - p3.y_q) AS HUGEINT)
        |    // (SELECT n FROM n) AS BIGINT) AS g
        |  FROM tok JOIN p3 ON tok.doc_id = p3.doc_id GROUP BY tok.b),
        |w3 AS (SELECT w2.b, w2.w - (COALESCE(g3.g, 0) >> 4) AS w
        |  FROM w2 LEFT JOIN g3 ON w2.b = g3.b)
        |SELECT b, CAST(w AS BIGINT) AS w_q,
        |  CAST(w AS DOUBLE) / 1048576 AS w
        |FROM w3 ORDER BY b""".stripMargin,
    "q_mix_weights" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |z AS (SELECT sum(sqrt(n_tokens)) AS z FROM per)
        |SELECT source, n_docs, n_tokens,
        |  sqrt(n_tokens) / (SELECT z FROM z) AS weight
        |FROM per ORDER BY source""".stripMargin,
    "q_mix_plan" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |z AS (SELECT sum(sqrt(n_tokens)) AS z FROM per),
        |w AS (SELECT source, n_docs, n_tokens,
        |    sqrt(n_tokens) / (SELECT z FROM z) AS weight FROM per),
        |t AS (SELECT *, CAST(floor(weight * 100000) AS BIGINT) AS target_tokens FROM w)
        |SELECT source, n_docs, n_tokens, weight, target_tokens,
        |  least(1000000, target_tokens * 1000000 // n_tokens) AS rate_ppm,
        |  greatest(0, target_tokens - n_tokens) AS deficit_tokens
        |FROM t ORDER BY source""".stripMargin,
    "q_shard" ->
      """WITH s AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1) AS slot
        |  FROM documents)
        |SELECT doc_id, CAST(slot % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY slot % 8 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "q_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY 1, 2),
        |ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(count(*) AS DOUBLE)/sum(c) AS distinct_word_frac,
        |    CAST(max(c) AS DOUBLE)/sum(c) AS top_word_frac,
        |    CAST(sum(len(term)*c) AS DOUBLE)/sum(c) AS mean_word_len
        |  FROM c GROUP BY 1),
        |bgr AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> array_to_string(ts[i:i+1], ' '))) AS bg
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts FROM documents)
        |  WHERE len(ts) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(max(c) AS DOUBLE)/sum(c) AS top_bigram_frac FROM bc GROUP BY 1)
        |SELECT ws.doc_id, n_words, distinct_word_frac, top_word_frac,
        |  top_bigram_frac, mean_word_len
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
        |ORDER BY ws.doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY 1, 2),
        |l AS (SELECT doc_id, term, c, sum(c) OVER (PARTITION BY doc_id) AS len FROM c),
        |d AS (SELECT term, count(*) AS df FROM c GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, term,
        |    (CAST(c AS DOUBLE)/len) * ln(CAST((SELECT n FROM n) AS DOUBLE)/df) AS tfidf
        |  FROM l JOIN d USING (term)),
        |r AS (SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM s)
        |SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q_contamination" ->
      """WITH g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |      i -> array_to_string(ts[i:i+2], ' ')))) AS ngram
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |c AS (SELECT doc_id, ngram FROM g WHERE doc_id % 100 <> 0),
        |b AS (SELECT doc_id AS bench_id, ngram FROM g WHERE doc_id % 100 = 0)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |FROM c JOIN b USING (ngram)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id, bench_id""".stripMargin,
    "q_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(ts[i*24+1 : i*24+32], ' ') AS chunk_text,
        |    least(32, len(ts) - i*24) AS n_tokens
        |  FROM toks, unnest(range(0, CAST(ceil(len(ts)/24.0) AS BIGINT))) AS u(i))
        |SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_pack" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    least(32, len(ts) - i*24) AS n_tokens
        |  FROM toks, unnest(range(0, CAST(ceil(len(ts)/24.0) AS BIGINT))) AS u(i)),
        |o AS (SELECT doc_id, chunk_idx, n_tokens,
        |    COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_start
        |  FROM c)
        |SELECT doc_id, chunk_idx, n_tokens, tok_start,
        |  tok_start // 512 AS seq_id, tok_start % 512 AS seq_offset
        |FROM o ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_dup_by_source" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  (count(*) - count(DISTINCT md5(text))) * 1000000 // count(*) AS dup_ppm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_bpe_encode_fixed" ->
      """WITH sym AS (SELECT doc_id,
        |    array_to_string(list_transform(
        |      list_filter(string_split(text, ' '), w -> length(w) > 0),
        |      w -> regexp_replace(w, '(.)', '\1 ', 'g') || '</w>'), ' ') AS s
        |  FROM documents),
        |enc AS (SELECT doc_id,
        |    replace(replace(replace(s, 't a', 'ta'), 'ta b', 'tab'),
        |            's l', 'sl') AS bpe_str
        |  FROM sym)
        |SELECT doc_id, bpe_str,
        |  CAST(CASE WHEN bpe_str = '' THEN 0
        |       ELSE len(string_split(bpe_str, ' ')) END AS BIGINT) AS n_bpe_tokens
        |FROM enc ORDER BY doc_id""".stripMargin,
    "q_bpe_sweep" ->
      """WITH sym AS (SELECT
        |    len(list_filter(string_split(COALESCE(text,''), ' '),
        |        w -> length(w) > 0)) AS w,
        |    array_to_string(list_transform(
        |      list_filter(string_split(COALESCE(text,''), ' '),
        |        w -> length(w) > 0),
        |      w -> regexp_replace(w, '(.)', '\1 ', 'g') || '</w>'), ' ') AS s
        |  FROM documents),
        |enc AS (SELECT w, s AS s0,
        |    replace(s, 't a', 'ta') AS s1,
        |    replace(replace(s, 't a', 'ta'), 'ta b', 'tab') AS s2,
        |    replace(replace(replace(s, 't a', 'ta'), 'ta b', 'tab'),
        |            's l', 'sl') AS s3
        |  FROM sym),
        |tok AS (SELECT CAST(sum(w) AS BIGINT) AS n_words,
        |    CAST(sum(CASE WHEN s0 = '' THEN 0
        |      ELSE len(string_split(s0, ' ')) END) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN s1 = '' THEN 0
        |      ELSE len(string_split(s1, ' ')) END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN s2 = '' THEN 0
        |      ELSE len(string_split(s2, ' ')) END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN s3 = '' THEN 0
        |      ELSE len(string_split(s3, ' ')) END) AS BIGINT) AS t3
        |  FROM enc),
        |u AS (SELECT 0 AS n_merges, n_words, t0 AS n_bpe_tokens FROM tok
        |  UNION ALL SELECT 1, n_words, t1 FROM tok
        |  UNION ALL SELECT 2, n_words, t2 FROM tok
        |  UNION ALL SELECT 3, n_words, t3 FROM tok)
        |SELECT n_merges, n_words, n_bpe_tokens,
        |  CAST(n_bpe_tokens * 1000000 // nullif(n_words, 0) AS BIGINT)
        |    AS fert_ppm
        |FROM u ORDER BY n_merges""".stripMargin,
    "q_bpe_fertility" ->
      """WITH enc AS (SELECT lang, text,
        |    replace(replace(replace(
        |      array_to_string(list_transform(
        |        list_filter(string_split(COALESCE(text,''), ' '), w -> length(w) > 0),
        |        w -> regexp_replace(w, '(.)', '\1 ', 'g') || '</w>'), ' '),
        |      't a', 'ta'), 'ta b', 'tab'), 's l', 'sl') AS s
        |  FROM documents),
        |pd AS (SELECT lang,
        |    len(list_filter(string_split(COALESCE(text,''),' '), w -> length(w) > 0)) AS w,
        |    CASE WHEN s = '' THEN 0 ELSE len(string_split(s, ' ')) END AS t,
        |    length(replace(COALESCE(text,''), ' ', '')) AS c
        |  FROM enc)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(t) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(c) AS BIGINT) AS n_chars,
        |  CAST(sum(t) AS DOUBLE) / greatest(sum(w), 1) AS fertility,
        |  CAST(sum(c) AS DOUBLE) / greatest(sum(t), 1) AS chars_per_token
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    "q_filter_auc" ->
      """WITH tr AS (SELECT string_split(text,' ') AS ts
        |  FROM documents WHERE doc_id % 2 = 0),
        |pairs AS (SELECT ts[i] AS prev, ts[i+1] AS next
        |  FROM tr, unnest(range(1, len(ts))) AS u(i)),
        |bg AS (SELECT prev, next, count(*) AS c_bg FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(c_bg) AS BIGINT) AS c_ctx FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (
        |  SELECT unnest(string_split(text,' ')) AS t
        |  FROM documents WHERE doc_id % 2 = 0)),
        |te AS (SELECT doc_id, ts[i] AS prev, ts[i+1] AS next
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts
        |        FROM documents WHERE doc_id % 2 = 1),
        |    unnest(range(1, len(ts))) AS u(i)),
        |lp AS (SELECT te.doc_id,
        |    CAST(floor(ln(
        |      CAST(COALESCE(c_bg, 0) + 1 AS DOUBLE) /
        |      CAST(COALESCE(c_ctx, 0) + (SELECT v FROM v) AS DOUBLE)) * 10000) AS BIGINT) AS lpq
        |  FROM te LEFT JOIN bg ON te.prev = bg.prev AND te.next = bg.next
        |          LEFT JOIN ctx ON te.prev = ctx.prev),
        |sc AS (SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(lpq) AS BIGINT) AS sum_lpq
        |  FROM lp GROUP BY doc_id),
        |lab AS (SELECT sc.doc_id, sc.n_bigrams, sc.sum_lpq,
        |    COALESCE(d.lang = 'en', FALSE) AS pos
        |  FROM sc JOIN documents d USING (doc_id)),
        |b AS (SELECT
        |    CAST(floor(CAST(sum_lpq AS DOUBLE) / n_bigrams) AS BIGINT) AS b,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
        |  FROM lab GROUP BY 1),
        |c AS (SELECT b, np, nn,
        |    COALESCE(CAST(sum(nn) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS nn_lt
        |  FROM b)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * (2*nn_lt + nn)) AS DOUBLE) AS u2,
        |  CAST(sum(np * (2*nn_lt + nn)) AS DOUBLE) /
        |    greatest(2.0 * sum(np) * sum(nn), 1.0) AS auc
        |FROM c""".stripMargin,
    "q_pack_bpe" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    array_to_string(ts[i*24+1 : i*24+32], ' ') AS chunk_text
        |  FROM toks, unnest(range(0, CAST(ceil(len(ts)/24.0) AS BIGINT))) AS u(i)),
        |sym AS (SELECT doc_id, chunk_idx,
        |    array_to_string(list_transform(
        |      list_filter(string_split(chunk_text, ' '), w -> length(w) > 0),
        |      w -> regexp_replace(w, '(.)', '\1 ', 'g') || '</w>'), ' ') AS s
        |  FROM c),
        |n AS (SELECT doc_id, chunk_idx,
        |    CAST(CASE WHEN s = '' THEN 0 ELSE len(string_split(
        |      replace(replace(replace(s, 't a', 'ta'), 'ta b', 'tab'),
        |              's l', 'sl'), ' ')) END AS BIGINT) AS n_tokens
        |  FROM sym),
        |o AS (SELECT doc_id, chunk_idx, n_tokens,
        |    COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_start
        |  FROM n)
        |SELECT doc_id, chunk_idx, n_tokens, tok_start,
        |  tok_start // 1024 AS seq_id, tok_start % 1024 AS seq_offset
        |FROM o ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_pack_mix" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |    least(32, len(ts) - i*24) AS n_tokens
        |  FROM toks, unnest(range(0, CAST(ceil(len(ts)/24.0) AS BIGINT))) AS u(i)),
        |o AS (SELECT doc_id, chunk_idx, n_tokens,
        |    COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_start
        |  FROM c),
        |p AS (SELECT doc_id, n_tokens, tok_start // 512 AS seq_id,
        |    tok_start % 512 AS seq_offset FROM o)
        |SELECT seq_id, count(*) AS n_chunks,
        |  count(DISTINCT doc_id) AS n_docs,
        |  min(seq_offset) AS first_offset,
        |  max(seq_offset + n_tokens) AS used_span
        |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "q_scrub" ->
      """WITH s AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          'contact user' || CAST(doc_id AS VARCHAR) ||
        |          '@example.com  tel 555-123-4567 acct 90010000' ||
        |          CAST(doc_id AS VARCHAR) || ' ' || text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{9,}', '<ID>', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |  (clean_text LIKE '%<EMAIL>%' AND clean_text LIKE '%<PHONE>%'
        |   AND clean_text LIKE '%<ID>%') AS redacted
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """WITH cnt AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |s AS (SELECT e.event_id, e.event_type, e.value,
        |    (strpos('0123456789abcdef', substr(md5(CAST(e.event_id AS VARCHAR)),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(e.event_id AS VARCHAR)),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(e.event_id AS VARCHAR)),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(e.event_id AS VARCHAR)),4,1))-1) AS slot,
        |    CAST(floor(least(1.0, 300.0/c.n)*65536) AS BIGINT) AS thr
        |  FROM events e JOIN cnt c USING (event_type))
        |SELECT event_id, event_type, value FROM s
        |WHERE slot < thr ORDER BY event_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q_dedup_ngram" ->
      """WITH toks AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text,' '))) AS ts,
        |         len(list_distinct(string_split(text,' '))) AS n
        |  FROM documents),
        |pref AS (SELECT doc_id, ts, n,
        |    ts[1:(n - CAST(ceil(0.8*n) AS INT) + 1)] AS prefix FROM toks),
        |pa AS (SELECT doc_id, unnest(prefix) AS tok FROM pref),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pa a JOIN pa b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |j AS (SELECT doc_a, doc_b,
        |    len(list_intersect(x.ts, y.ts)) AS inter, x.n AS n_a, y.n AS n_b
        |  FROM cand JOIN toks x ON cand.doc_a = x.doc_id
        |            JOIN toks y ON cand.doc_b = y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE)/(n_a+n_b-inter) AS jaccard
        |FROM j WHERE CAST(inter AS DOUBLE)/(n_a+n_b-inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text,' '))) AS ts,
        |         len(list_distinct(string_split(text,' '))) AS n
        |  FROM documents),
        |pref AS (SELECT doc_id, ts, n,
        |    ts[1:(n - CAST(ceil(0.8*n) AS INT) + 1)] AS prefix FROM toks),
        |pa AS (SELECT doc_id, unnest(prefix) AS tok FROM pref),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pa a JOIN pa b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |j AS (SELECT doc_a, doc_b,
        |    len(list_intersect(x.ts, y.ts)) AS inter, x.n AS n_a, y.n AS n_b
        |  FROM cand JOIN toks x ON cand.doc_a = x.doc_id
        |            JOIN toks y ON cand.doc_b = y.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM j
        |  WHERE CAST(inter AS DOUBLE)/(n_a+n_b-inter) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_canonical" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text,' '))) AS ts,
        |         len(list_distinct(string_split(text,' '))) AS n
        |  FROM documents),
        |pref AS (SELECT doc_id, ts, n,
        |    ts[1:(n - CAST(ceil(0.8*n) AS INT) + 1)] AS prefix FROM toks),
        |pa AS (SELECT doc_id, unnest(prefix) AS tok FROM pref),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pa a JOIN pa b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |j AS (SELECT doc_a, doc_b,
        |    len(list_intersect(x.ts, y.ts)) AS inter, x.n AS n_a, y.n AS n_b
        |  FROM cand JOIN toks x ON cand.doc_a = x.doc_id
        |            JOIN toks y ON cand.doc_b = y.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM j
        |  WHERE CAST(inter AS DOUBLE)/(n_a+n_b-inter) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |len AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cj AS (SELECT cl.doc_id, cluster_id, n_tokens
        |  FROM cl JOIN len USING (doc_id)),
        |best AS (SELECT cluster_id, doc_id AS canonical_id FROM (
        |    SELECT cluster_id, doc_id,
        |      row_number() OVER (PARTITION BY cluster_id
        |        ORDER BY n_tokens DESC, doc_id) AS rn
        |    FROM cj) t
        |  WHERE rn = 1)
        |SELECT cj.doc_id, cj.cluster_id, best.canonical_id,
        |  cj.doc_id = best.canonical_id AS is_canonical
        |FROM cj JOIN best USING (cluster_id) ORDER BY doc_id""".stripMargin,
    "q_sample_exactk" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 300 ORDER BY event_id""".stripMargin,
    "q_weighted_topk" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (SELECT doc_id, n_tokens,
        |    CAST(least(n_tokens, 32) AS INT) AS w
        |  FROM t WHERE n_tokens >= 1),
        |p AS (SELECT doc_id, n_tokens,
        |    list_max(list_transform(range(1, w + 1),
        |      j -> md5(j::VARCHAR || ':' || doc_id))) AS priority
        |  FROM w)
        |SELECT doc_id, n_tokens, priority FROM p
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin,
    "q_dedup_against" ->
      """WITH base AS (SELECT DISTINCT md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 2 = 0 OR doc_id % 10 = 1),
        |inc AS (SELECT doc_id, md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT doc_id, text_hash FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.text_hash = inc.text_hash)
        |ORDER BY doc_id""".stripMargin,
    "q_split_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text,' '))) AS ts,
        |         len(list_distinct(string_split(text,' '))) AS n
        |  FROM documents),
        |pref AS (SELECT doc_id, ts, n,
        |    ts[1:(n - CAST(ceil(0.8*n) AS INT) + 1)] AS prefix FROM toks),
        |pa AS (SELECT doc_id, unnest(prefix) AS tok FROM pref),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pa a JOIN pa b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |j AS (SELECT doc_a, doc_b,
        |    len(list_intersect(x.ts, y.ts)) AS inter, x.n AS n_a, y.n AS n_b
        |  FROM cand JOIN toks x ON cand.doc_a = x.doc_id
        |            JOIN toks y ON cand.doc_b = y.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM j
        |  WHERE CAST(inter AS DOUBLE)/(n_a+n_b-inter) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN
        |    (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)),4,1))-1)
        |    < 13107
        |  THEN 'test' ELSE 'train' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text,' ')) AS ts FROM documents),
        |sig AS (SELECT doc_id,
        |  list_transform(range(1,17), k ->
        |    list_aggregate(list_transform(ts, t -> md5(k::VARCHAR || ':' || t)), 'min')) AS mh
        |  FROM toks),
        |banded AS (
        |  SELECT doc_id, b, md5(array_to_string(mh[(b-1)*8+1:(b-1)*8+8], '|')) AS band_key
        |  FROM sig, unnest(range(1,3)) AS u(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "q_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text,' ')) AS ts FROM documents),
        |sig AS (SELECT doc_id,
        |  list_transform(range(1,17), k ->
        |    list_aggregate(list_transform(ts, t -> md5(k::VARCHAR || ':' || t)), 'min')) AS mh
        |  FROM toks),
        |banded AS (
        |  SELECT doc_id, b, md5(array_to_string(mh[(b-1)*8+1:(b-1)*8+8], '|')) AS band_key
        |  FROM sig, unnest(range(1,3)) AS u(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
        |lab AS (SELECT least(sa.source, sb.source) AS src_lo,
        |    greatest(sa.source, sb.source) AS src_hi
        |  FROM pairs p
        |  JOIN documents sa ON p.doc_a = sa.doc_id
        |  JOIN documents sb ON p.doc_b = sb.doc_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_pairs FROM lab)
        |SELECT src_lo, src_hi, count(*) AS n_pairs, total_pairs,
        |  CAST(count(*) * 1000000 // total_pairs AS BIGINT) AS share_ppm
        |FROM lab, tot GROUP BY src_lo, src_hi, total_pairs
        |ORDER BY src_lo, src_hi""".stripMargin,
    "q_source_lift" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text,' ')) AS ts FROM documents),
        |sig AS (SELECT doc_id,
        |  list_transform(range(1,17), k ->
        |    list_aggregate(list_transform(ts, t -> md5(k::VARCHAR || ':' || t)), 'min')) AS mh
        |  FROM toks),
        |banded AS (
        |  SELECT doc_id, b, md5(array_to_string(mh[(b-1)*8+1:(b-1)*8+8], '|')) AS band_key
        |  FROM sig, unnest(range(1,3)) AS u(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
        |lab AS (SELECT least(sa.source, sb.source) AS src_lo,
        |    greatest(sa.source, sb.source) AS src_hi
        |  FROM pairs p
        |  JOIN documents sa ON p.doc_a = sa.doc_id
        |  JOIN documents sb ON p.doc_b = sb.doc_id),
        |m AS (SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs FROM lab GROUP BY 1, 2),
        |tot AS (SELECT CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS total_pairs FROM m),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |nt AS (SELECT CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS n_total FROM sz)
        |SELECT m.src_lo, m.src_hi, m.n_pairs,
        |  lo.n_docs AS n_lo, hi.n_docs AS n_hi,
        |  CAST(CASE WHEN m.src_lo = m.src_hi THEN lo.n_docs * (lo.n_docs - 1) // 2
        |       ELSE lo.n_docs * hi.n_docs END AS BIGINT) AS possible_ab,
        |  CAST(CAST(m.n_pairs AS HUGEINT) * (n_total * (n_total - 1) // 2) * 1000000
        |    // (CAST(total_pairs AS HUGEINT) *
        |        (CASE WHEN m.src_lo = m.src_hi THEN lo.n_docs * (lo.n_docs - 1) // 2
        |         ELSE lo.n_docs * hi.n_docs END)) AS BIGINT) AS lift_ppm
        |FROM m
        |JOIN sz lo ON m.src_lo = lo.source
        |JOIN sz hi ON m.src_hi = hi.source
        |CROSS JOIN tot CROSS JOIN nt
        |ORDER BY m.src_lo, m.src_hi""".stripMargin,
    "q_minhash_est" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text,' ')) AS ts FROM documents),
        |sig AS (SELECT doc_id,
        |  list_transform(range(1,17), k ->
        |    list_aggregate(list_transform(ts, t -> md5(k::VARCHAR || ':' || t)), 'min')) AS mh
        |  FROM toks),
        |banded AS (
        |  SELECT doc_id, b, md5(array_to_string(mh[(b-1)*8+1:(b-1)*8+8], '|')) AS band_key
        |  FROM sig, unnest(range(1,3)) AS u(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
        |j AS (SELECT p.doc_a, p.doc_b, x.mh AS ma, y.mh AS mb
        |  FROM pairs p JOIN sig x ON p.doc_a = x.doc_id
        |               JOIN sig y ON p.doc_b = y.doc_id),
        |m AS (SELECT doc_a, doc_b,
        |    len(list_filter(range(1,17), i -> ma[CAST(i AS INT)] = mb[CAST(i AS INT)])) AS matches
        |  FROM j)
        |SELECT doc_a, doc_b, matches, matches * 1000000 // 16 AS est_ppm
        |FROM m ORDER BY doc_a, doc_b""".stripMargin,
    "q_nfc" ->
      """SELECT doc_id, nfc_normalize(text) AS norm_text,
        |  nfc_normalize(text) = text AS already_nfc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_containment" ->
      """WITH toks AS (SELECT doc_id,
        |    list_distinct(string_split(text,' ')) AS ts,
        |    len(list_distinct(string_split(text,' '))) AS n
        |  FROM documents),
        |p AS (SELECT a.doc_id AS src, b.doc_id AS dst,
        |    len(list_intersect(a.ts, b.ts)) AS inter, a.n AS n_s
        |  FROM toks a JOIN toks b ON a.doc_id <> b.doc_id AND a.n > 0)
        |SELECT src, dst, inter * 1000000 // n_s AS cont_ppm
        |FROM p WHERE inter * 1000000 >= 1000000 * n_s
        |ORDER BY src, dst""".stripMargin,
    "q_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS t FROM documents),
        |bits AS (SELECT doc_id, b,
        |    strpos('0123456789abcdef', substr(md5(t), CAST(b//4 AS INT)+1, 1)) - 1 AS hexval
        |  FROM tok, unnest(range(0,32)) AS u(b)),
        |w AS (SELECT doc_id, b,
        |    CASE WHEN CAST(floor(hexval / pow(2, 3 - b % 4)) AS BIGINT) % 2 = 1
        |         THEN 1 ELSE -1 END AS w FROM bits),
        |s AS (SELECT doc_id, b, sum(w) AS s FROM w GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_lsh_stats" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |eb AS (
        |  ${bandsSql(tables = 4, planes = 12, dim = 64)}),
        |bc AS (SELECT t, bucket, count(*) AS c FROM eb GROUP BY 1, 2)
        |SELECT t, count(*) AS n_buckets, max(c) AS max_bucket,
        |  CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS n_cand_pairs
        |FROM bc GROUP BY t ORDER BY t""".stripMargin,
    "q_embed_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |eb AS (
        |  ${bandsSql(tables = 4, planes = 12, dim = 64)}),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM eb a JOIN eb b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |p AS (SELECT vec_a, vec_b,
        |  list_reduce(list_transform(range(1,65), i -> a.v[i]*b.v[i]), (x,y)->x+y) /
        |  (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |   sqrt(list_reduce(list_transform(range(1,65), i -> b.v[i]*b.v[i]), (x,y)->x+y))) AS cos
        |  FROM cand JOIN e a ON cand.vec_a = a.vec_id JOIN e b ON cand.vec_b = b.vec_id)
        |SELECT vec_a, vec_b, CAST(floor(cos*10000) AS BIGINT) AS cos_q
        |FROM p WHERE CAST(floor(cos*10000) AS BIGINT) >= 3000
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q_embed_neardup_incr" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |eb AS (
        |  ${bandsSql(tables = 4, planes = 12, dim = 64)}),
        |nb AS (SELECT * FROM eb WHERE vec_id % 10 = 0),
        |cand AS (SELECT DISTINCT least(n.vec_id, o.vec_id) AS vec_a,
        |    greatest(n.vec_id, o.vec_id) AS vec_b
        |  FROM nb n JOIN eb o
        |    ON n.t = o.t AND n.bucket = o.bucket AND n.vec_id <> o.vec_id),
        |p AS (SELECT vec_a, vec_b,
        |  list_reduce(list_transform(range(1,65), i -> a.v[i]*b.v[i]), (x,y)->x+y) /
        |  (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |   sqrt(list_reduce(list_transform(range(1,65), i -> b.v[i]*b.v[i]), (x,y)->x+y))) AS cos
        |  FROM cand JOIN e a ON cand.vec_a = a.vec_id JOIN e b ON cand.vec_b = b.vec_id)
        |SELECT vec_a, vec_b, CAST(floor(cos*10000) AS BIGINT) AS cos_q
        |FROM p WHERE CAST(floor(cos*10000) AS BIGINT) >= 3000
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM e)
        |SELECT vec_id, d - 1 AS dim_idx,
        |  CAST(floor(v[d] / mx * 127) AS BIGINT) AS q
        |FROM m, unnest(range(1, 65)) AS u(d)
        |WHERE mx > 0 AND isfinite(mx)
        |ORDER BY vec_id, dim_idx""".stripMargin,
    "q_embed_contam" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT t.vec_id, b.vec_id AS bench_id,
        |  CAST(floor(10000 * (
        |    list_reduce(list_transform(range(1,65), i -> t.v[i]*b.v[i]), (x,y)->x+y) /
        |    (sqrt(list_reduce(list_transform(range(1,65), i -> t.v[i]*t.v[i]), (x,y)->x+y)) *
        |     sqrt(list_reduce(list_transform(range(1,65), i -> b.v[i]*b.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM e t JOIN e b ON b.vec_id % 100 = 0 AND t.vec_id % 100 <> 0),
        |f AS (SELECT * FROM s WHERE cos_q >= 3000),
        |r AS (SELECT vec_id, bench_id, cos_q,
        |    CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_matches,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_q DESC, bench_id DESC) AS rn
        |  FROM f)
        |SELECT vec_id, bench_id, cos_q, n_matches FROM r WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "q_ann_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(floor(10000 * (
        |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cos_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |eb AS (
        |  ${bandsSql(tables = 4, planes = 8, dim = 64)}),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM eb q JOIN eb c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
        |scored AS (SELECT query_id, neighbor_id,
        |  CAST(floor(10000 * (
        |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM cand JOIN e q ON cand.query_id = q.vec_id JOIN e c ON cand.neighbor_id = c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cos_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_multiprobe" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |eb AS (
        |  ${bandsSql(tables = 2, planes = 12, dim = 64)}),
        |qp AS (SELECT vec_id, t,
        |    unnest([bucket${(0 until 12).map(p => s", xor(bucket, ${1L << p})").mkString}]) AS bucket
        |  FROM eb WHERE vec_id % 50 = 0),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM qp q JOIN eb c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id <> c.vec_id),
        |scored AS (SELECT query_id, neighbor_id,
        |  CAST(floor(10000 * (
        |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM cand JOIN e q ON cand.query_id = q.vec_id JOIN e c ON cand.neighbor_id = c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cos_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |sub AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sv
        |  FROM e, unnest(range(0, 8)) AS u(s)),
        |cbs AS (SELECT s, vec_id AS code, sv AS cb FROM sub WHERE vec_id % 37 = 0),
        |d AS (SELECT sub.vec_id, sub.s, cbs.code,
        |    CAST(floor(list_reduce(list_transform(range(1, 9),
        |      i -> (sv[i]-cb[i])*(sv[i]-cb[i])), (x,y)->x+y) * 10000) AS BIGINT) AS d2q
        |  FROM sub JOIN cbs USING (s)),
        |enc AS (SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, code) AS rn
        |    FROM d) t
        |  WHERE rn = 1),
        |tab AS (SELECT vec_id AS query_id, s, code, d2q AS dq FROM d WHERE vec_id % 50 = 0),
        |adc AS (SELECT t.query_id, e2.vec_id AS neighbor_id,
        |    CAST(sum(t.dq) AS BIGINT) AS adc_q
        |  FROM enc e2 JOIN tab t ON e2.s = t.s AND e2.code = t.code
        |  WHERE t.query_id <> e2.vec_id
        |  GROUP BY 1, 2),
        |shortlist AS (SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_q, neighbor_id) AS INT) AS adc_rank FROM adc
        |  QUALIFY adc_rank <= 50),
        |exact AS (SELECT s.query_id, s.neighbor_id, s.adc_rank,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM shortlist s JOIN e q ON s.query_id = q.vec_id
        |    JOIN e c ON s.neighbor_id = c.vec_id),
        |rr AS (SELECT query_id, neighbor_id, cos_q, adc_rank,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_q DESC, neighbor_id) AS INT) AS rank FROM exact)
        |SELECT query_id, neighbor_id, rank, cos_q, adc_rank FROM rr
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_pq" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |sub AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sv
        |  FROM e, unnest(range(0, 8)) AS u(s)),
        |cbs AS (SELECT s, vec_id AS code, sv AS cb FROM sub WHERE vec_id % 37 = 0),
        |d AS (SELECT sub.vec_id, sub.s, cbs.code,
        |    CAST(floor(list_reduce(list_transform(range(1, 9),
        |      i -> (sv[i]-cb[i])*(sv[i]-cb[i])), (x,y)->x+y) * 10000) AS BIGINT) AS d2q
        |  FROM sub JOIN cbs USING (s)),
        |enc AS (SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, code) AS rn
        |    FROM d) t
        |  WHERE rn = 1),
        |tab AS (SELECT vec_id AS query_id, s, code, d2q AS dq FROM d WHERE vec_id % 50 = 0),
        |adc AS (SELECT t.query_id, e2.vec_id AS neighbor_id,
        |    CAST(sum(t.dq) AS BIGINT) AS adc_q
        |  FROM enc e2 JOIN tab t ON e2.s = t.s AND e2.code = t.code
        |  WHERE t.query_id <> e2.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_q,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_q, neighbor_id) AS INT) AS rank FROM adc)
        |SELECT query_id, neighbor_id, rank, adc_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivfpq" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |ranked AS (
        |    SELECT a.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c),
        |cassign AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, centroid_id FROM ranked
        |  WHERE rn <= 2 AND vec_id % 50 = 0),
        |sub AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sv
        |  FROM e, unnest(range(0, 8)) AS u(s)),
        |cbs AS (SELECT s, vec_id AS code, sv AS cb FROM sub WHERE vec_id % 37 = 0),
        |d AS (SELECT sub.vec_id, sub.s, cbs.code,
        |    CAST(floor(list_reduce(list_transform(range(1, 9),
        |      i -> (sv[i]-cb[i])*(sv[i]-cb[i])), (x,y)->x+y) * 10000) AS BIGINT) AS d2q
        |  FROM sub JOIN cbs USING (s)),
        |enc AS (SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2q, code) AS rn
        |    FROM d) t
        |  WHERE rn = 1),
        |tab AS (SELECT vec_id AS query_id, s, code, d2q AS dq FROM d WHERE vec_id % 50 = 0),
        |adc AS (SELECT p.query_id, enc.vec_id AS neighbor_id,
        |    CAST(sum(t.dq) AS BIGINT) AS adc_q
        |  FROM enc JOIN cassign ca ON enc.vec_id = ca.vec_id
        |       JOIN probes p ON ca.centroid_id = p.centroid_id
        |       JOIN tab t ON t.query_id = p.query_id AND t.s = enc.s AND t.code = enc.code
        |  WHERE p.query_id <> enc.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_q,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_q, neighbor_id) AS INT) AS rank FROM adc)
        |SELECT query_id, neighbor_id, rank, adc_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_semdedup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, v, centroid_id FROM (
        |    SELECT a.vec_id, a.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c) t
        |  WHERE rn = 1),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> a.v[i]*b.v[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> b.v[i]*b.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM assign a JOIN assign b
        |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
        |dups AS (SELECT vec_b AS vec_id, min(vec_a) AS dup_of
        |  FROM p WHERE cos_q >= 9000 GROUP BY 1)
        |SELECT s.vec_id, s.centroid_id, dups.dup_of,
        |  dups.dup_of IS NULL AS keep
        |FROM assign s LEFT JOIN dups USING (vec_id) ORDER BY vec_id""".stripMargin,
    "q_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, v, centroid_id FROM (
        |    SELECT a.vec_id, a.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c) t
        |  WHERE rn = 1),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM assign q JOIN assign c ON q.centroid_id = c.centroid_id
        |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cos_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf2" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |ranked AS (
        |    SELECT a.vec_id, a.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c),
        |cassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1),
        |qassign AS (SELECT vec_id, v, centroid_id FROM ranked
        |  WHERE rn <= 2 AND vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM qassign q JOIN cassign c ON q.centroid_id = c.centroid_id
        |  WHERE q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, cos_q FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_label_noise" -> (knnEdgesCte + ",\n" +
      """lab AS (SELECT vec_id, label FROM embeddings),
        |j AS (SELECT e.src, lx.label AS src_label, ly.label AS dst_label
        |  FROM edges e JOIN lab lx ON e.src = lx.vec_id
        |    JOIN lab ly ON e.dst = ly.vec_id)
        |SELECT src, src_label, CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN dst_label = src_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  CAST(sum(CASE WHEN dst_label = src_label THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS agree_ppm,
        |  2 * sum(CASE WHEN dst_label = src_label THEN 1 ELSE 0 END)
        |    < count(*) AS suspect
        |FROM j GROUP BY src, src_label ORDER BY src""".stripMargin),
    "q_bitext_margin" -> (knnEdgesCte + ",\n" +
      """sums AS (SELECT src, CAST(sum(cos_q) AS BIGINT) AS sumk,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM edges GROUP BY src),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |cand AS (SELECT e.src, e.dst, e.cos_q,
        |    lx.label AS src_label, ly.label AS dst_label
        |  FROM edges e JOIN lab lx ON e.src = lx.vec_id
        |    JOIN lab ly ON e.dst = ly.vec_id
        |  WHERE lx.label <> ly.label AND e.cos_q > 0),
        |sc AS (SELECT c.src, c.dst, c.cos_q, c.src_label, c.dst_label,
        |    2 * c.cos_q * sx.k * sy.k * 1000000
        |      // (sx.sumk * sy.k + sy.sumk * sx.k) AS margin_ppm
        |  FROM cand c JOIN sums sx ON c.src = sx.src
        |    JOIN sums sy ON c.dst = sy.src
        |  WHERE sx.sumk * sy.k + sy.sumk * sx.k > 0),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY src
        |    ORDER BY margin_ppm DESC, dst) AS rn FROM sc)
        |SELECT src, dst, src_label, dst_label, cos_q, margin_ppm
        |FROM rr WHERE rn = 1
        |ORDER BY margin_ppm DESC, src LIMIT 50""".stripMargin),
    "q_knn_graph" -> (knnEdgesCte + "\n" +
      """SELECT e1.src, e1.dst, e1.rank, e1.cos_q,
        |  e2.src IS NOT NULL AS mutual
        |FROM edges e1 LEFT JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
        |ORDER BY e1.src, e1.rank""".stripMargin),
    "q_trustrank" -> {
      // personalized teleport: base mass lands ONLY on the seed set
      // (mirror of Graph.personalizedPageRank's integer fixed point)
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"it${i - 1}"
        s"""it$i AS (SELECT n.node, n.is_seed,
           |    n.is_seed * ((1000000000000 * 15 // 100) // (SELECT s FROM ns))
           |      + 85 * COALESCE(c.c, 0) // 100 AS pr
           |  FROM sn n LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum(r.pr // o.outd) AS BIGINT) AS c
           |    FROM edges e JOIN $prev r ON e.src = r.node
           |    JOIN outd o ON e.src = o.src
           |    GROUP BY 1) c ON n.node = c.node)""".stripMargin
      }.mkString(",\n")
      knnEdgesCte + ",\n" +
        s"""nodes AS (SELECT vec_id AS node FROM embeddings),
           |sd AS (SELECT vec_id AS node FROM embeddings
           |  WHERE label = 0 AND vec_id % 5 = 0),
           |sn AS (SELECT n.node,
           |    CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
           |  FROM nodes n LEFT JOIN sd ON n.node = sd.node),
           |ns AS (SELECT CAST(sum(is_seed) AS BIGINT) AS s FROM sn),
           |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS outd FROM edges GROUP BY 1),
           |r0 AS (SELECT node, is_seed,
           |  is_seed * (1000000000000 // (SELECT s FROM ns)) AS pr FROM sn),
           |$iters
           |SELECT node AS vec_id, is_seed = 1 AS is_seed,
           |  CAST(pr AS BIGINT) AS pr FROM it3
           |ORDER BY pr DESC, vec_id LIMIT 50""".stripMargin
    },
    "q_pagerank" -> {
      // 3 unrolled integer fixed-point iterations (mirror of
      // Graph.pageRank: share = pr div outd, update = base + 85c div 100)
      val iters = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"it${i - 1}"
        s"""it$i AS (SELECT n.node,
           |    (1000000000000 * 15 // 100) // (SELECT n FROM nn)
           |      + 85 * COALESCE(c.c, 0) // 100 AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum(r.pr // o.outd) AS BIGINT) AS c
           |    FROM edges e JOIN $prev r ON e.src = r.node
           |    JOIN outd o ON e.src = o.src
           |    GROUP BY 1) c ON n.node = c.node)""".stripMargin
      }.mkString(",\n")
      knnEdgesCte + ",\n" +
        s"""nodes AS (SELECT vec_id AS node FROM embeddings),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS outd FROM edges GROUP BY 1),
           |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS pr FROM nodes),
           |$iters
           |SELECT node AS vec_id, CAST(pr AS BIGINT) AS pr FROM it3
           |ORDER BY pr DESC, vec_id LIMIT 50""".stripMargin
    },
    "q_hybrid_rrf" -> (knnEdgesCte + ",\n" +
      // dense ranking = the knn edge list restricted to the query
      // subset (same k/nprobe/index); lexical = distinct-token overlap
      """lexq AS (SELECT doc_id AS query_id,
        |    unnest(list_distinct(string_split(text,' '))) AS term
        |  FROM documents WHERE doc_id % 50 = 0),
        |lexc AS (SELECT doc_id AS cand_id,
        |    unnest(list_distinct(string_split(text,' '))) AS term
        |  FROM documents),
        |lexs AS (SELECT query_id, cand_id, count(*) AS shared
        |  FROM lexq JOIN lexc USING (term)
        |  WHERE cand_id <> query_id GROUP BY 1, 2),
        |lex AS (SELECT query_id, cand_id, lex_rank FROM (
        |  SELECT query_id, cand_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY shared DESC, cand_id) AS INT) AS lex_rank
        |  FROM lexs) WHERE lex_rank <= 5),
        |dense AS (SELECT src AS query_id, dst AS cand_id,
        |    CAST(rank AS INT) AS dense_rank
        |  FROM edges WHERE src % 50 = 0),
        |f AS (SELECT COALESCE(l.query_id, dn.query_id) AS query_id,
        |    COALESCE(l.cand_id, dn.cand_id) AS cand_id,
        |    l.lex_rank, dn.dense_rank,
        |    CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
        |      + COALESCE(1000000 // (60 + dn.dense_rank), 0) AS BIGINT) AS rrf_score
        |  FROM lex l FULL OUTER JOIN dense dn
        |    ON l.query_id = dn.query_id AND l.cand_id = dn.cand_id)
        |SELECT query_id, cand_id, lex_rank, dense_rank, rrf_score, rank FROM (
        |  SELECT query_id, cand_id, lex_rank, dense_rank, rrf_score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_score DESC, cand_id) AS INT) AS rank
        |  FROM f) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    "q_cluster_terms" -> (knnEdgesCte + ",\n" +
      // cassign (rn = 1) IS the shared IVF assignment; unreferenced
      // CTEs (scored/edges) are pruned by the optimizer
      """dt AS (SELECT ca.centroid_id,
        |    unnest(string_split(d.text,' ')) AS term
        |  FROM documents d JOIN cassign ca ON d.doc_id = ca.vec_id),
        |tf AS (SELECT centroid_id, term, CAST(count(*) AS BIGINT) AS c_ct
        |  FROM dt GROUP BY 1, 2),
        |ctot AS (SELECT centroid_id, CAST(sum(c_ct) AS BIGINT) AS t_c
        |  FROM tf GROUP BY 1),
        |ttot AS (SELECT term, CAST(sum(c_ct) AS BIGINT) AS c_t
        |  FROM tf GROUP BY 1),
        |gtot AS (SELECT CAST(sum(c_ct) AS BIGINT) AS n FROM tf),
        |sc AS (SELECT tf.centroid_id, tf.term, tf.c_ct, ttot.c_t, ctot.t_c,
        |    CAST((CAST(tf.c_ct AS HUGEINT) * (SELECT n FROM gtot) * 1000000)
        |      // (CAST(ttot.c_t AS HUGEINT) * ctot.t_c) AS BIGINT) AS lift_ppm
        |  FROM tf JOIN ttot USING (term) JOIN ctot USING (centroid_id)
        |  WHERE tf.c_ct >= 3)
        |SELECT centroid_id, term, c_ct, c_t, t_c, lift_ppm, rank FROM (
        |  SELECT sc.*, CAST(row_number() OVER (PARTITION BY centroid_id
        |    ORDER BY lift_ppm DESC, term) AS INT) AS rank
        |  FROM sc) WHERE rank <= 5
        |ORDER BY centroid_id, rank""".stripMargin),
    "q_communities" -> {
      // 2 unrolled synchronous LPA rounds (mirror of
      // Graph.labelPropagation: max vote count, min-label tiebreak)
      def round(prev: String, out: String) =
        s"""$out AS (SELECT n.node, COALESCE(w.label, n.node) AS label
           |  FROM nodes n LEFT JOIN (
           |    SELECT node, label FROM (
           |      SELECT u.a AS node, l.label, count(*) AS c,
           |        row_number() OVER (PARTITION BY u.a
           |          ORDER BY count(*) DESC, l.label) AS rn
           |      FROM und u JOIN $prev l ON u.b = l.node
           |      GROUP BY u.a, l.label) WHERE rn = 1) w
           |  ON n.node = w.node)""".stripMargin
      knnEdgesCte + ",\n" +
        s"""und AS (SELECT src AS a, dst AS b FROM edges
           |  UNION SELECT dst, src FROM edges),
           |nodes AS (SELECT vec_id AS node FROM embeddings),
           |l0 AS (SELECT node, node AS label FROM nodes),
           |${round("l0", "l1")},
           |${round("l1", "l2")},
           |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS c_size
           |  FROM l2 GROUP BY 1)
           |SELECT l2.node AS vec_id, l2.label AS community, sizes.c_size
           |FROM l2 JOIN sizes ON l2.label = sizes.label
           |ORDER BY vec_id""".stripMargin
    },
    "q_mmr" -> {
      // greedy MMR unrolled: pick 1 = argmax rel; picks 2..3 = argmax
      // 7*rel - 3*maxSimToSelected over the not-yet-picked (mirror of
      // Similarity.mmrRerank at lambda = 7/10)
      val simQ =
        """CAST(floor(10000 * (
          |      list_reduce(list_transform(range(1,65), i -> va.v[i]*vb.v[i]), (p,q)->p+q) /
          |      (sqrt(list_reduce(list_transform(range(1,65), i -> va.v[i]*va.v[i]), (p,q)->p+q)) *
          |       sqrt(list_reduce(list_transform(range(1,65), i -> vb.v[i]*vb.v[i]), (p,q)->p+q))))) AS BIGINT)""".stripMargin
      def round(r: Int) =
        s"""m$r AS (SELECT cp.query_id, cp.cand_id, max(cp.sim_q) AS max_sim
           |  FROM cp JOIN sel${r - 1} s
           |    ON cp.query_id = s.query_id AND cp.s_id = s.cand_id
           |  GROUP BY 1, 2),
           |p$r AS (SELECT query_id, cand_id, rel_q, $r AS pick, mmr_q FROM (
           |  SELECT c.query_id, c.cand_id, c.rel_q,
           |    7 * c.rel_q - 3 * COALESCE(m$r.max_sim, 0) AS mmr_q,
           |    row_number() OVER (PARTITION BY c.query_id
           |      ORDER BY 7 * c.rel_q - 3 * COALESCE(m$r.max_sim, 0) DESC,
           |        c.cand_id) AS rn
           |  FROM cand c
           |  LEFT JOIN m$r ON c.query_id = m$r.query_id
           |    AND c.cand_id = m$r.cand_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
           |    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)
           |  ) WHERE rn = 1),
           |sel$r AS (SELECT query_id, cand_id FROM sel${r - 1}
           |  UNION ALL SELECT query_id, cand_id FROM p$r)""".stripMargin
      knnEdgesCte + ",\n" +
        s"""cand AS (SELECT src AS query_id, dst AS cand_id, cos_q AS rel_q
           |  FROM edges WHERE src % 50 = 0),
           |cp AS (SELECT a.query_id, a.cand_id, b.cand_id AS s_id,
           |    $simQ AS sim_q
           |  FROM cand a JOIN cand b
           |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
           |  JOIN e va ON va.vec_id = a.cand_id
           |  JOIN e vb ON vb.vec_id = b.cand_id),
           |p1 AS (SELECT query_id, cand_id, rel_q, 1 AS pick,
           |    7 * rel_q AS mmr_q FROM (
           |  SELECT query_id, cand_id, rel_q, row_number() OVER (
           |    PARTITION BY query_id ORDER BY rel_q DESC, cand_id) AS rn
           |  FROM cand) WHERE rn = 1),
           |sel1 AS (SELECT query_id, cand_id FROM p1),
           |${round(2)},
           |${round(3)}
           |SELECT query_id, cand_id, rel_q, pick, mmr_q FROM p1
           |UNION ALL SELECT query_id, cand_id, rel_q, pick, mmr_q FROM p2
           |UNION ALL SELECT query_id, cand_id, rel_q, pick, mmr_q FROM p3
           |ORDER BY query_id, pick""".stripMargin
    },
    "q_quality_ensemble" -> {
      val w = TextStats.classifierWeights("quality", 1024)
        .mkString("[", ",", "]")
      val slot = (1 to 4).map { p =>
        val mult = math.pow(16, 4 - p).toInt
        s"(strpos('0123456789abcdef', substr(md5(t),$p,1))-1)*$mult"
      }.mkString(" + ")
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |gop AS (SELECT doc_id,
         |    coalesce(len(toks) BETWEEN 50 AND 100000, false)
         |    AND coalesce((CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT)
         |      * 1000000 // len(toks)) BETWEEN 3000000 AND 10000000, false)
         |    AND coalesce(len(list_intersect(list_distinct(toks), ['the','a','of','and','to'])) >= 2, false)
         |    AND coalesce(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1000000
         |      >= 800000 * len(toks), false) AS g_gopher
         |  FROM t0),
         |clf AS (SELECT doc_id,
         |    CAST(list_sum(list_transform(string_split(text,' '),
         |      t -> ($w)[(($slot) % 1024) + 1])) AS BIGINT) AS score,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n
         |  FROM documents),
         |clg AS (SELECT doc_id, n > 0 AND score > 0 AS g_clf FROM clf),
         |b AS (SELECT doc_id, source,
         |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
         |      * 1000000 // len(string_split(text,' ')) AS score_ppm
         |  FROM documents
         |  WHERE text IS NOT NULL AND len(string_split(text,' ')) > 0),
         |r AS (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY score_ppm, doc_id) AS INT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_g
         |  FROM b),
         |rg AS (SELECT doc_id,
         |    CASE WHEN n_g > 1
         |      THEN (CAST(rk AS BIGINT) - 1) * 1000000 // (n_g - 1)
         |      ELSE CAST(0 AS BIGINT) END >= 500000 AS g_rank
         |  FROM r),
         |j AS (SELECT d.doc_id,
         |    COALESCE(gop.g_gopher, false) AS g_gopher,
         |    COALESCE(clg.g_clf, false) AS g_clf,
         |    COALESCE(rg.g_rank, false) AS g_rank
         |  FROM documents d
         |  LEFT JOIN gop USING (doc_id)
         |  LEFT JOIN clg USING (doc_id)
         |  LEFT JOIN rg USING (doc_id))
         |SELECT doc_id, g_gopher, g_clf, g_rank,
         |  CAST(g_gopher AS INT) + CAST(g_clf AS INT) + CAST(g_rank AS INT) AS votes,
         |  CAST(g_gopher AS INT) + CAST(g_clf AS INT) + CAST(g_rank AS INT) >= 2 AS keep
         |FROM j ORDER BY doc_id""".stripMargin
    },
    "q_kcore" -> {
      def round(prevA: String, i: Int) =
        s"""d$i AS (SELECT e.a AS node, CAST(count(*) AS BIGINT) AS deg
           |  FROM und e JOIN $prevA x ON e.a = x.node
           |  JOIN $prevA y ON e.b = y.node GROUP BY 1),
           |a$i AS (SELECT node FROM d$i WHERE deg >= 3)""".stripMargin
      knnEdgesCte + ",\n" +
        s"""und AS (SELECT a, b FROM (
           |  SELECT src AS a, dst AS b FROM edges
           |  UNION SELECT dst, src FROM edges) WHERE a <> b),
           |nodes AS (SELECT vec_id AS node FROM embeddings),
           |a0 AS (SELECT node FROM nodes),
           |${round("a0", 1)},
           |${round("a1", 2)},
           |${round("a2", 3)}
           |SELECT n.node AS vec_id, d.deg IS NOT NULL AS in_core,
           |  COALESCE(d.deg, 0) AS core_deg
           |FROM nodes n LEFT JOIN (SELECT node, deg FROM d3 WHERE deg >= 3) d
           |  ON n.node = d.node
           |ORDER BY vec_id""".stripMargin
    },
    "q_data_card" ->
      """WITH base AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(COALESCE(len(string_split(text,' ')), 0)) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT md5(COALESCE(text, ''))) AS BIGINT) AS n_distinct_texts,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(sum(CASE WHEN text IS NULL OR len(string_split(text,' ')) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs
        |  FROM documents),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab FROM (
        |  SELECT unnest(string_split(text,' ')) AS tok FROM documents))
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
        |  UNION ALL SELECT 'n_vocab', n_vocab FROM v
        |  UNION ALL SELECT 'n_langs', n_langs FROM base
        |  UNION ALL SELECT 'n_sources', n_sources FROM base
        |  UNION ALL SELECT 'n_exact_dup_docs', n_docs - n_distinct_texts FROM base
        |  UNION ALL SELECT 'n_empty_docs', n_empty_docs FROM base
        |  UNION ALL SELECT 'mean_doc_tokens_x100', n_tokens * 100 // n_docs FROM base)
        |ORDER BY metric""".stripMargin,
    "q_cluster_margin" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |sc AS (SELECT a.vec_id, c.centroid_id,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) AS c_cos
        |  FROM e a CROSS JOIN cent c),
        |r AS (SELECT vec_id, centroid_id, c_cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY c_cos DESC, centroid_id) AS rn FROM sc),
        |per AS (SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
        |    max(CASE WHEN rn = 1 THEN c_cos END) AS best_cos,
        |    max(CASE WHEN rn = 2 THEN c_cos END) AS second_cos
        |  FROM r WHERE rn <= 2 GROUP BY 1),
        |m AS (SELECT centroid_id, best_cos - second_cos AS margin FROM per)
        |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin,
        |  CAST(min(margin) AS BIGINT) AS min_margin,
        |  CAST(sum(CASE WHEN margin < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ndcg" -> {
      val discCase = (r: String) =>
        s"CASE $r WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000 " +
          s"WHEN 4 THEN 430676 WHEN 5 THEN 386852 ELSE 0 END"
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |lexq AS (SELECT doc_id AS query_id,
         |    unnest(list_distinct(string_split(text,' '))) AS term
         |  FROM documents WHERE doc_id % 50 = 0),
         |lexc AS (SELECT doc_id AS cand_id,
         |    unnest(list_distinct(string_split(text,' '))) AS term
         |  FROM documents),
         |lexs AS (SELECT query_id, cand_id, count(*) AS shared
         |  FROM lexq JOIN lexc USING (term)
         |  WHERE cand_id <> query_id GROUP BY 1, 2),
         |lex AS (SELECT query_id, cand_id, rank FROM (
         |  SELECT query_id, cand_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY shared DESC, cand_id) AS INT) AS rank
         |  FROM lexs) WHERE rank <= 5),
         |sc AS (SELECT l.query_id, l.cand_id, l.rank,
         |    greatest(CAST(floor(10000 * (
         |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
         |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
         |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT), 0) AS gain
         |  FROM lex l JOIN ev q ON q.vec_id = l.query_id
         |  JOIN ev c ON c.vec_id = l.cand_id),
         |w2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY gain DESC, cand_id) AS INT) AS irank FROM sc),
         |g AS (SELECT query_id,
         |    CAST(sum(gain * (${discCase("rank")})) AS BIGINT) AS dcg,
         |    CAST(sum(gain * (${discCase("irank")})) AS BIGINT) AS idcg
         |  FROM w2 GROUP BY 1)
         |SELECT query_id, dcg, idcg,
         |  CAST(dcg * 1000000 // nullif(idcg, 0) AS BIGINT) AS ndcg_ppm
         |FROM g ORDER BY query_id""".stripMargin
    },
    "q_triangles" -> (knnEdgesCte + ",\n" +
      """und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |deg AS (SELECT n, count(*) AS deg FROM (
        |  SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) GROUP BY 1),
        |w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM und e1 JOIN und e2 ON e2.a = e1.b
        |  WHERE EXISTS (SELECT 1 FROM und e3
        |    WHERE e3.a = e1.a AND e3.b = e2.b))
        |SELECT w.n_nodes, ec.n_edges, w.n_wedges, t.n_triangles,
        |  CAST(3 * t.n_triangles * 1000000 // nullif(w.n_wedges, 0) AS BIGINT)
        |    AS transitivity_ppm
        |FROM w, ec, t""".stripMargin),
    "q_reshard" -> {
      def hex24(src: String) = (0 to 5).map(i =>
        s"(strpos('0123456789abcdef', substr($src,${i + 1},1))-1)*${math.pow(16, 5 - i).toLong}")
        .mkString("(", " + ", ")")
      def ring(name: String, k: Int) =
        s"""$name AS (SELECT CAST(sh AS BIGINT) AS shard,
           |    ${hex24(s"md5('s:' || sh || ':' || v)")} AS vh
           |  FROM unnest(range(0,$k)) AS a(sh), unnest(range(0,16)) AS b(v))""".stripMargin
      def assign(name: String, ringName: String) =
        s"""$name AS (SELECT doc_id, h, shard FROM (
           |  SELECT k.doc_id, k.h, r.shard,
           |    row_number() OVER (PARTITION BY k.doc_id
           |      ORDER BY (r.vh < k.h), r.vh, r.shard) AS rn
           |  FROM keyed k CROSS JOIN $ringName r) WHERE rn = 1)""".stripMargin
      s"""WITH keyed AS (SELECT doc_id,
         |    ${hex24("md5('k:' || CAST(doc_id AS VARCHAR))")} AS h
         |  FROM documents),
         |${ring("r8", 8)},
         |${ring("r9", 9)},
         |${assign("a8", "r8")},
         |${assign("a9", "r9")}
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN a8.h % 8 <> a8.h % 9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_naive,
         |  CAST(sum(CASE WHEN a8.shard <> a9.shard THEN 1 ELSE 0 END) AS BIGINT) AS moved_ring,
         |  CAST(sum(CASE WHEN a8.h % 8 <> a8.h % 9 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS naive_ppm,
         |  CAST(sum(CASE WHEN a8.shard <> a9.shard THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS ring_ppm
         |FROM a8 JOIN a9 USING (doc_id)""".stripMargin
    },
    "q_ann_int8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM e),
        |z AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x / mx * 127) AS BIGINT)) AS qv
        |  FROM m WHERE mx > 0 AND isfinite(mx)),
        |q AS (SELECT vec_id AS query_id, qv FROM z WHERE vec_id % 50 = 0),
        |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |    CAST(list_reduce(list_transform(range(1,65), i -> q.qv[i] * c.qv[i]),
        |      (x,y) -> x + y) AS BIGINT) AS dot_q
        |  FROM q JOIN z c ON q.query_id <> c.vec_id)
        |SELECT query_id, neighbor_id, rank, dot_q FROM (
        |  SELECT query_id, neighbor_id, dot_q,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot_q DESC, neighbor_id) AS INT) AS rank
        |  FROM sc) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_lang_confusion" ->
      """WITH c AS (SELECT doc_id,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to'], t))) AS c_en,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ein'], t))) AS c_de,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['le','la','les','et','un'], t))) AS c_fr,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['el','los','las','y','una'], t))) AS c_es,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['的','了','和','是','在'], t))) AS c_zh
        |  FROM documents),
        |b AS (SELECT doc_id, c_en, c_de, c_fr, c_es, c_zh,
        |  greatest(c_en, c_de, c_fr, c_es, c_zh) AS best FROM c),
        |p AS (SELECT doc_id,
        |  CASE WHEN c_en = best THEN 'en' WHEN c_de = best THEN 'de'
        |       WHEN c_fr = best THEN 'fr' WHEN c_es = best THEN 'es'
        |       WHEN c_zh = best THEN 'zh' ELSE 'en' END AS pred_lang
        |  FROM b),
        |j AS (SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
        |  FROM j GROUP BY 1)
        |SELECT j.lang, j.pred_lang, j.n, t.lang_total,
        |  CAST(j.n * 1000000 // t.lang_total AS BIGINT) AS share_ppm
        |FROM j JOIN t USING (lang) ORDER BY lang, pred_lang""".stripMargin,
    "q_hubness" -> (knnEdgesCte + ",\n" +
      """m AS (SELECT e1.dst, e2.src IS NOT NULL AS mutual
        |  FROM edges e1 LEFT JOIN edges e2
        |    ON e1.src = e2.dst AND e1.dst = e2.src),
        |ind AS (SELECT dst AS vec_id, CAST(count(*) AS BIGINT) AS in_deg,
        |    CAST(sum(CASE WHEN mutual THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual
        |  FROM m GROUP BY 1)
        |SELECT v.vec_id, COALESCE(ind.in_deg, 0) AS in_deg,
        |  COALESCE(ind.n_mutual, 0) AS n_mutual
        |FROM (SELECT vec_id FROM embeddings) v LEFT JOIN ind USING (vec_id)
        |ORDER BY vec_id""".stripMargin),
    "q_cooccur" ->
      """WITH dt AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(text,' '))) AS tok
        |  FROM documents),
        |topv AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_t
        |  FROM dt GROUP BY 1 ORDER BY n_t DESC, tok LIMIT 30),
        |nd AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        |dv AS (SELECT dt.doc_id, dt.tok FROM dt JOIN topv USING (tok)),
        |p AS (SELECT x.tok AS w1, y.tok AS w2, CAST(count(*) AS BIGINT) AS n_xy
        |  FROM dv x JOIN dv y ON x.doc_id = y.doc_id AND x.tok < y.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |s AS (SELECT p.w1, p.w2, p.n_xy, t1.n_t AS n_x, t2.n_t AS n_y,
        |    CAST((CAST(p.n_xy AS HUGEINT) * (SELECT n FROM nd) * 1000000)
        |      // (CAST(t1.n_t AS HUGEINT) * t2.n_t) AS BIGINT) AS lift_ppm
        |  FROM p JOIN topv t1 ON p.w1 = t1.tok JOIN topv t2 ON p.w2 = t2.tok)
        |SELECT w1, w2, n_xy, n_x, n_y, lift_ppm FROM s
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 30""".stripMargin,
    "q_score_calib" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
        |      * 1000000 // len(string_split(text,' ')) AS score_ppm
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text,' ')) > 0),
        |r AS (SELECT doc_id, source, score_ppm,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score_ppm, doc_id) AS INT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_g
        |  FROM b)
        |SELECT doc_id, source, score_ppm, rk, n_g,
        |  CASE WHEN n_g > 1
        |    THEN (CAST(rk AS BIGINT) - 1) * 1000000 // (n_g - 1)
        |    ELSE CAST(0 AS BIGINT) END AS pct_ppm
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS round
        |  FROM documents),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |idx AS (SELECT a.source, CAST(count(*) AS BIGINT) AS src_idx
        |  FROM srcs a JOIN srcs b ON b.source <= a.source GROUP BY 1),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM srcs)
        |SELECT r.doc_id, r.source, r.round, idx.src_idx,
        |  (CAST(r.round AS BIGINT) - 1) * (SELECT n_src FROM ns) + idx.src_idx
        |    AS global_pos
        |FROM r JOIN idx USING (source) ORDER BY global_pos""".stripMargin,
    "q_recall_curve" -> recallCurveOracleSql,
    "q_trained_curve" -> trainedCurveOracleSql,
    "q_ann_recall" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |ranked AS (
        |    SELECT a.vec_id, a.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c),
        |cassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1),
        |qassign AS (SELECT vec_id, v, centroid_id FROM ranked
        |  WHERE rn <= 2 AND vec_id % 50 = 0),
        |ascored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM qassign q JOIN cassign c ON q.centroid_id = c.centroid_id
        |  WHERE q.vec_id <> c.vec_id),
        |ar AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM ascored),
        |approx AS (SELECT query_id, neighbor_id FROM ar WHERE rank <= 5),
        |escored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(floor(10000 * (
        |    list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |    (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |     sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
        |er AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank
        |  FROM escored),
        |exact AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 5)
        |SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  (CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // count(*) AS recall_ppm
        |FROM exact x LEFT JOIN approx a
        |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
        |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,
    "q_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |ranked AS (
        |    SELECT a.vec_id, a.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c),
        |cassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1),
        |qassign AS (SELECT vec_id, v, centroid_id FROM ranked WHERE rn <= 2),
        |scored AS (
        |  SELECT q.vec_id AS src, c.vec_id AS neg_id, c.centroid_id AS neg_cluster,
        |    CAST(floor(10000 * (
        |      list_reduce(list_transform(range(1,65), i -> q.v[i]*c.v[i]), (x,y)->x+y) /
        |      (sqrt(list_reduce(list_transform(range(1,65), i -> q.v[i]*q.v[i]), (x,y)->x+y)) *
        |       sqrt(list_reduce(list_transform(range(1,65), i -> c.v[i]*c.v[i]), (x,y)->x+y))))) AS BIGINT) AS cos_q
        |  FROM qassign q JOIN cassign c ON q.centroid_id = c.centroid_id
        |  WHERE q.vec_id <> c.vec_id),
        |r AS (SELECT src, neg_id, neg_cluster, cos_q,
        |    row_number() OVER (PARTITION BY src ORDER BY cos_q DESC, neg_id) AS rank
        |  FROM scored),
        |edges AS (SELECT src, neg_id, neg_cluster, cos_q FROM r WHERE rank <= 8),
        |f AS (SELECT e1.src, e1.neg_id, e1.cos_q,
        |    ca.centroid_id AS src_cluster, e1.neg_cluster
        |  FROM edges e1 JOIN cassign ca ON e1.src = ca.vec_id
        |  WHERE e1.cos_q BETWEEN 3000 AND 9500
        |    AND ca.centroid_id <> e1.neg_cluster),
        |rr AS (SELECT src, neg_id, cos_q, src_cluster, neg_cluster,
        |    CAST(row_number() OVER (PARTITION BY src ORDER BY cos_q DESC, neg_id) AS INT) AS rank
        |  FROM f)
        |SELECT src, neg_id, rank, cos_q, src_cluster, neg_cluster
        |FROM rr WHERE rank <= 3 ORDER BY src, rank""".stripMargin,
    "q_edit_pairs" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS l
        |  FROM documents WHERE text IS NOT NULL),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.text AS ta, b.text AS tb
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 5),
        |v AS (SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist FROM cand)
        |SELECT doc_a, doc_b, dist FROM v WHERE dist <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_cluster_quality" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text,' '))) AS ts,
        |         len(list_distinct(string_split(text,' '))) AS n
        |  FROM documents),
        |pref AS (SELECT doc_id, ts, n,
        |    ts[1:(n - CAST(ceil(0.8*n) AS INT) + 1)] AS prefix FROM toks),
        |pa AS (SELECT doc_id, unnest(prefix) AS tok FROM pref),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pa a JOIN pa b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |j AS (SELECT doc_a, doc_b,
        |    len(list_intersect(x.ts, y.ts)) AS inter, x.n AS n_a, y.n AS n_b
        |  FROM cand JOIN toks x ON cand.doc_a = x.doc_id
        |            JOIN toks y ON cand.doc_b = y.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM j
        |  WHERE CAST(inter AS DOUBLE)/(n_a+n_b-inter) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sig AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |jj AS (SELECT cl.cluster_id, cl.doc_id, sig.n_tokens,
        |    max(sig.n_tokens) OVER (PARTITION BY cl.cluster_id) AS mx
        |  FROM cl JOIN sig USING (doc_id))
        |SELECT cluster_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_score, max(n_tokens) AS max_score,
        |  min(doc_id) FILTER (WHERE n_tokens = mx) AS best_doc,
        |  CAST(sum(n_tokens) - max(n_tokens) AS BIGINT) AS dup_score
        |FROM jj GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "q_embed_drift" ->
      """WITH pe AS (
        |  SELECT label, CAST(t.i - 1 AS INT) AS dim_idx, vec_id,
        |    CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS micro
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(1,65)) AS i) t),
        |b AS (SELECT label AS group_id, dim_idx,
        |    count(*) AS n_base, CAST(sum(micro) AS BIGINT) AS sum_base
        |  FROM pe WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |c AS (SELECT label AS group_id, dim_idx,
        |    count(*) AS n_cur, CAST(sum(micro) AS BIGINT) AS sum_cur
        |  FROM pe WHERE vec_id % 2 = 1 GROUP BY 1, 2),
        |j AS (SELECT coalesce(b.group_id, c.group_id) AS group_id,
        |    coalesce(b.dim_idx, c.dim_idx) AS dim_idx,
        |    coalesce(n_base, 0) AS n_base, coalesce(sum_base, 0) AS sum_base,
        |    coalesce(n_cur, 0) AS n_cur, coalesce(sum_cur, 0) AS sum_cur
        |  FROM b FULL OUTER JOIN c
        |    ON b.group_id = c.group_id AND b.dim_idx = c.dim_idx)
        |SELECT group_id, dim_idx, n_base, sum_base, n_cur, sum_cur,
        |  CASE WHEN n_base > 0 AND n_cur > 0 THEN
        |    CAST(sum_cur AS DOUBLE) / n_cur - CAST(sum_base AS DOUBLE) / n_base
        |  END AS delta_mean_micro,
        |  n_base = 0 OR n_cur = 0 OR
        |    abs(CAST(sum_cur AS HUGEINT) * n_base - CAST(sum_base AS HUGEINT) * n_cur)
        |      > CAST(10000 AS HUGEINT) * n_base * n_cur AS drifted
        |FROM j ORDER BY group_id, dim_idx""".stripMargin,
    "q_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n_words,
        |  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT) AS word_chars,
        |  len(list_intersect(list_distinct(toks), ['the','a','of','and','to'])) AS n_stop,
        |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha_words
        |  FROM t),
        |g AS (SELECT doc_id, n_words, word_chars, n_stop, n_alpha_words,
        |  word_chars * 1000000 // n_words AS mean_len_micro FROM s)
        |SELECT doc_id, n_words, word_chars, n_stop, n_alpha_words, mean_len_micro,
        |  coalesce(n_words BETWEEN 50 AND 100000, false) AS ok_words,
        |  coalesce(mean_len_micro BETWEEN 3000000 AND 10000000, false) AS ok_mean_len,
        |  coalesce(n_stop >= 2, false) AS ok_stop,
        |  coalesce(n_alpha_words * 1000000 >= 800000 * n_words, false) AS ok_alpha,
        |  coalesce(n_words BETWEEN 50 AND 100000, false)
        |    AND coalesce(mean_len_micro BETWEEN 3000000 AND 10000000, false)
        |    AND coalesce(n_stop >= 2, false)
        |    AND coalesce(n_alpha_words * 1000000 >= 800000 * n_words, false) AS pass
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_mojibake" ->
      """WITH p AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'naÃ¯ve cafÃ© Ã© ' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '� ' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN chr(7) || ' ' ELSE '' END) ||
        |    text AS text
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id,
        |    CAST(length(text) - length(replace(text, '�', '')) AS BIGINT)
        |      AS n_replacement,
        |    CAST((length(text) - length(replace(text, 'Ã©', ''))) // 2
        |       + (length(text) - length(replace(text, 'Ã¨', ''))) // 2
        |       + (length(text) - length(replace(text, 'Ã¼', ''))) // 2
        |       + (length(text) - length(replace(text, 'Ã¤', ''))) // 2
        |       + (length(text) - length(replace(text, 'Ã±', ''))) // 2
        |       + (length(text) - length(replace(text, 'â€™', ''))) // 3
        |       + (length(text) - length(replace(text, 'â€œ', ''))) // 3
        |       + (length(text) - length(replace(text, 'â€', ''))) // 2
        |       + (length(text) - length(replace(text, 'Â ', ''))) // 2
        |       + (length(text) - length(replace(text, 'ï»¿', ''))) // 3
        |      AS BIGINT) AS n_double_utf8,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS n_control,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM p)
        |SELECT doc_id, n_replacement, n_double_utf8, n_control, n_chars,
        |  CASE WHEN n_chars > 0
        |    THEN (n_replacement + n_double_utf8 + n_control) * 1000000 // n_chars
        |    ELSE 0 END AS bad_ppm,
        |  (n_replacement + n_double_utf8) > 0 AS is_mojibake
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_html_strip" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN '<p class="intro">' || text ||
        |           '</p><br/><span id="x">end</span>'
        |         WHEN doc_id % 2 = 0 THEN '<p>' || text || '</p>'
        |         ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, text,
        |    regexp_replace(text, '<[^>]*>', '', 'g') AS stripped,
        |    regexp_replace(text, '<[^>]*>', chr(1), 'g') AS sent
        |  FROM p)
        |SELECT doc_id,
        |  CAST(length(text) - length(stripped) AS BIGINT) AS tag_chars,
        |  CAST(length(sent) - length(stripped) AS BIGINT) AS n_tags,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |    ' +', ' ', 'g')) AS clean_text,
        |  CASE WHEN length(text) > 0
        |    THEN (length(text) - length(stripped)) * 1000000 // length(text)
        |    ELSE 0 END AS markup_ppm
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_special_tokens" ->
      """WITH p AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' <|endoftext|>' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' [INST]' ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN ' </s> </s>' ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT * FROM (VALUES ('<|endoftext|>'), ('<|im_start|>'),
        |    ('<|im_end|>'), ('<s>'), ('</s>'), ('[INST]'), ('[/INST]'),
        |    ('<pad>'), ('<unk>'), ('<mask>')) AS v(marker)),
        |c AS (SELECT m.marker,
        |    (length(p.text) - length(replace(p.text, m.marker, '')))
        |      // length(m.marker) AS c
        |  FROM p CROSS JOIN m)
        |SELECT marker,
        |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        |  CAST(sum(c) AS BIGINT) AS n_occurrences
        |FROM c GROUP BY marker ORDER BY marker""".stripMargin,
    "q_ingest_gate" ->
      """WITH p AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'cafÃ© ' ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '<p class="intro">' ELSE '' END) ||
        |    text ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '</p>' ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN ' <|endoftext|>' ELSE '' END)
        |      AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |    length(text) - length(replace(text, '�', '')) AS n_repl,
        |    (length(text) - length(replace(text, 'Ã©', ''))) // 2
        |     + (length(text) - length(replace(text, 'Ã¨', ''))) // 2
        |     + (length(text) - length(replace(text, 'Ã¼', ''))) // 2
        |     + (length(text) - length(replace(text, 'Ã¤', ''))) // 2
        |     + (length(text) - length(replace(text, 'Ã±', ''))) // 2
        |     + (length(text) - length(replace(text, 'â€™', ''))) // 3
        |     + (length(text) - length(replace(text, 'â€œ', ''))) // 3
        |     + (length(text) - length(replace(text, 'â€', ''))) // 2
        |     + (length(text) - length(replace(text, 'Â ', ''))) // 2
        |     + (length(text) - length(replace(text, 'ï»¿', ''))) // 3 AS n_double,
        |    (length(text) - length(replace(text, '<|endoftext|>', ''))) // 13
        |     + (length(text) - length(replace(text, '<|im_start|>', ''))) // 12
        |     + (length(text) - length(replace(text, '<|im_end|>', ''))) // 10
        |     + (length(text) - length(replace(text, '<s>', ''))) // 3
        |     + (length(text) - length(replace(text, '</s>', ''))) // 4
        |     + (length(text) - length(replace(text, '[INST]', ''))) // 6
        |     + (length(text) - length(replace(text, '[/INST]', ''))) // 7
        |     + (length(text) - length(replace(text, '<pad>', ''))) // 5
        |     + (length(text) - length(replace(text, '<unk>', ''))) // 5
        |     + (length(text) - length(replace(text, '<mask>', ''))) // 6
        |      AS n_special,
        |    len(string_split(text, ' ')) AS n_toks,
        |    len(list_filter(string_split(text, ' '), x ->
        |      list_contains(['slow','crash','leak','spill','panic'], x)))
        |      AS n_bad,
        |    length(text) - length(regexp_replace(text, '<[^>]*>', '', 'g'))
        |      AS tag_chars,
        |    length(text) AS len
        |  FROM p),
        |r AS (SELECT doc_id,
        |    text IS NULL AS reason_unreadable,
        |    coalesce(n_repl + n_double > 0, false) AS reason_mojibake,
        |    coalesce(n_special > 0, false) AS reason_special,
        |    coalesce(n_toks > 0 AND n_bad * 1000000 // n_toks > 10000, false)
        |      AS reason_badword,
        |    coalesce(len > 0 AND tag_chars * 1000000 // len > 20000, false)
        |      AS reason_markup
        |  FROM c)
        |SELECT doc_id, reason_unreadable, reason_mojibake, reason_special,
        |  reason_badword, reason_markup,
        |  NOT reason_unreadable AND NOT reason_mojibake AND
        |  NOT reason_special AND NOT reason_badword AND NOT reason_markup
        |    AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_badwords" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t ->
        |      list_contains(['slow','crash','leak','spill','panic'], t)))
        |      AS BIGINT) AS n_flagged
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens, n_flagged,
        |    CASE WHEN n_tokens > 0 THEN n_flagged * 1000000 // n_tokens
        |      ELSE 0 END AS flagged_ppm
        |  FROM c)
        |SELECT doc_id, n_tokens, n_flagged, flagged_ppm,
        |  coalesce(n_tokens > 0 AND flagged_ppm <= 10000, false) AS pass
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_lang_segments" ->
      """WITH tk AS (SELECT doc_id, i - 1 AS pos, ts[i] AS tok
        |  FROM (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |       unnest(range(1, len(ts) + 1)) AS u(i)),
        |w AS (SELECT doc_id, CAST((pos // 16) AS INT) AS win, tok FROM tk),
        |c AS (SELECT doc_id, win,
        |    sum(CASE WHEN list_contains(['the','a','of','and','to'], tok)
        |      THEN 1 ELSE 0 END) AS c_en,
        |    sum(CASE WHEN list_contains(['der','die','das','und','ein'], tok)
        |      THEN 1 ELSE 0 END) AS c_de,
        |    sum(CASE WHEN list_contains(['le','la','les','et','un'], tok)
        |      THEN 1 ELSE 0 END) AS c_fr,
        |    sum(CASE WHEN list_contains(['el','los','las','y','una'], tok)
        |      THEN 1 ELSE 0 END) AS c_es,
        |    sum(CASE WHEN list_contains(['的','了','和','是','在'], tok)
        |      THEN 1 ELSE 0 END) AS c_zh
        |  FROM w GROUP BY 1, 2),
        |b AS (SELECT doc_id, win,
        |    CASE WHEN c_en = best THEN 'en' WHEN c_de = best THEN 'de'
        |         WHEN c_fr = best THEN 'fr' WHEN c_es = best THEN 'es'
        |         WHEN c_zh = best THEN 'zh' ELSE 'en' END AS pred
        |  FROM (SELECT *, greatest(c_en, c_de, c_fr, c_es, c_zh) AS best
        |        FROM c)),
        |m AS (SELECT doc_id, win, pred,
        |    CASE WHEN lag(pred) OVER (PARTITION BY doc_id ORDER BY win)
        |           IS NOT NULL
        |          AND lag(pred) OVER (PARTITION BY doc_id ORDER BY win)
        |           <> pred
        |      THEN 1 ELSE 0 END AS sw
        |  FROM b),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(sw) + 1 AS BIGINT) AS n_segments,
        |    CAST(sum(sw) AS BIGINT) AS n_switches
        |  FROM m GROUP BY 1),
        |dm AS (SELECT doc_id, pred AS dominant_lang, cnt AS dom_windows
        |  FROM (SELECT doc_id, pred, CAST(count(*) AS BIGINT) AS cnt,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC,
        |        CASE pred WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 2
        |          WHEN 'es' THEN 3 WHEN 'zh' THEN 4 ELSE 5 END) AS rn
        |    FROM m GROUP BY doc_id, pred)
        |  WHERE rn = 1)
        |SELECT pd.doc_id, pd.n_windows, pd.n_segments, pd.n_switches,
        |  dm.dominant_lang, dm.dom_windows,
        |  (pd.n_windows - dm.dom_windows) * 1000000 // pd.n_windows
        |    AS minority_ppm
        |FROM pd JOIN dm USING (doc_id) ORDER BY pd.doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH c AS (SELECT doc_id,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to'], t))) AS c_en,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ein'], t))) AS c_de,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['le','la','les','et','un'], t))) AS c_fr,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['el','los','las','y','una'], t))) AS c_es,
        |  len(list_filter(string_split(text,' '), t -> list_contains(['的','了','和','是','在'], t))) AS c_zh
        |  FROM documents),
        |b AS (SELECT doc_id, c_en, c_de, c_fr, c_es, c_zh,
        |  greatest(c_en, c_de, c_fr, c_es, c_zh) AS best FROM c)
        |SELECT doc_id,
        |  CASE WHEN c_en = best THEN 'en' WHEN c_de = best THEN 'de'
        |       WHEN c_fr = best THEN 'fr' WHEN c_es = best THEN 'es'
        |       WHEN c_zh = best THEN 'zh' ELSE 'en' END AS pred_lang,
        |  best AS n_hits
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct,
        |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS distinct_ratio,
        |  CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
        |    / len(string_split(text,' ')) AS avg_word_len,
        |  CAST(len(list_filter(string_split(text,' '),
        |      t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_counts" ->
      s"""SELECT doc_id,
        |  len(string_split(text,' ')) AS n_ws_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(text, '${TextStats.BpeIshPattern}')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS ts FROM documents)
        |SELECT doc_id,
        |  md5(regexp_replace(text, '\s+', ' ', 'g')) AS content_fp,
        |  list_aggregate(list_transform(range(1, greatest(len(ts)-2, 1)+1),
        |    i -> md5(array_to_string(ts[i:i+2], ' '))), 'min') AS shingle_fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """WITH t AS (SELECT doc_id, text,
        |    len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS ntok,
        |    CAST(doc_id % 3 AS INT) AS sel
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN sel = 0 THEN CAST(44 + 2*ntok AS BIGINT)
        |       WHEN sel = 1 THEN (CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(54 + ((3*ntok + 3)//4)*4 AS BIGINT) END)
        |       ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS n_bytes,
        |  CASE WHEN text IS NOT NULL AND sel = 1 AND ntok > 0
        |       THEN CAST(ntok AS INT) ELSE NULL END AS width,
        |  CASE WHEN text IS NOT NULL AND sel = 1 AND ntok > 0
        |       THEN CAST(1 AS INT) ELSE NULL END AS height,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN sel = 0 THEN CAST(ntok AS INT)
        |       WHEN sel = 1 THEN (CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(1 AS INT) END)
        |       ELSE NULL END AS n_frames
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text,' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |v AS (SELECT doc_id, i,
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),1,1))-1)*4096 +
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),2,1))-1)*256 +
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),3,1))-1)*16 +
        |    (strpos('0123456789abcdef', substr(md5(ts[i]),4,1))-1) - 32768 AS v
        |  FROM t, unnest(range(1, len(ts)+1)) AS u(i)),
        |fr AS (SELECT doc_id, (i-1)//16 AS f,
        |    CAST(count(*) AS INT) AS frame_n,
        |    CAST(sum(v*v) AS BIGINT) AS frame_energy,
        |    CAST(max(abs(v)) AS BIGINT) AS frame_peak
        |  FROM v GROUP BY doc_id, ((i-1)//16))
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  frame_n, frame_energy, frame_peak
        |FROM fr WHERE f % 7 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_dedup_bloom" ->
      """WITH base AS (SELECT DISTINCT md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 3 = 0),
        |inc AS (SELECT doc_id, md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 3 <> 0)
        |SELECT doc_id, text_hash FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.text_hash = inc.text_hash)
        |ORDER BY doc_id""".stripMargin,
    "q_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |w AS (SELECT doc_id, md5(array_to_string(ts[i:i+7],' ')) AS h
        |      FROM t, unnest(range(1, greatest(len(ts)-7,0)+1)) AS u(i)
        |      WHERE len(ts) >= 8),
        |d AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |nw AS (SELECT doc_id, CAST(len(ts)-7 AS BIGINT) AS n_windows
        |       FROM t WHERE len(ts) >= 8),
        |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        |       FROM w WHERE h IN (SELECT h FROM d) GROUP BY doc_id)
        |SELECT nw.doc_id, n_windows,
        |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_windows AS dup_frac
        |FROM nw LEFT JOIN nd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_dup_remove" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |w AS (SELECT doc_id, i, md5(array_to_string(ts[i:i+7],' ')) AS h
        |      FROM t, unnest(range(1, greatest(len(ts)-7,0)+1)) AS u(i)
        |      WHERE len(ts) >= 8),
        |d AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p
        |        FROM w, unnest(range(i, i+8)) AS v(p)
        |        WHERE h IN (SELECT h FROM d)),
        |cl AS (SELECT doc_id, list_sort(list(p)) AS cov FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(list_transform(list_filter(range(1, len(ts)+1),
        |    p -> NOT list_contains(COALESCE(cov, []), p)), p -> ts[p]), ' '), '')
        |    AS clean_text
        |FROM t LEFT JOIN cl USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q_phrase_search" -> {
      val arms = SearchPhrases.map { p =>
        val k = p.split(" ").length
        s"""SELECT '$p' AS phrase, doc_id, CAST(count(*) AS BIGINT) AS n_hits
           |FROM t, unnest(range(1, greatest(len(ts)-${k - 1},0)+1)) AS u(i)
           |WHERE len(ts) >= $k AND array_to_string(ts[i:i+${k - 1}],' ') = '$p'
           |GROUP BY doc_id""".stripMargin
      }
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents)
         |${arms.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY phrase, doc_id""".stripMargin
    },
    "q_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ts)-2,0)+1),
        |        i -> md5(array_to_string(ts[i:i+2],' '))) AS gs
        |      FROM t WHERE len(ts) >= 3),
        |f AS (SELECT doc_id, fp
        |      FROM g, unnest(list_transform(range(1, greatest(len(gs)-3,0)+1),
        |        j -> list_aggregate(gs[j:j+3], 'min'))) AS u(fp)
        |      WHERE len(gs) >= 4)
        |SELECT DISTINCT doc_id, fp AS fingerprint FROM f
        |ORDER BY doc_id, fingerprint""".stripMargin,
    "q_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ts)-2,0)+1),
        |        i -> md5(array_to_string(ts[i:i+2],' '))) AS gs
        |      FROM t WHERE len(ts) >= 3),
        |f AS (SELECT DISTINCT doc_id, fp
        |      FROM g, unnest(list_transform(range(1, greatest(len(gs)-3,0)+1),
        |        j -> list_aggregate(gs[j:j+3], 'min'))) AS u(fp)
        |      WHERE len(gs) >= 4)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_quality_score" -> {
      val w = TextStats.classifierWeights("quality", 1024)
        .mkString("[", ",", "]")
      // slot(t) = first-4-hex-digits of md5(t) as an int (the portable
      // hash every sampling oracle uses), bucket = slot % 1024
      val slot = (1 to 4).map { p =>
        val mult = math.pow(16, 4 - p).toInt
        s"(strpos('0123456789abcdef', substr(md5(t),$p,1))-1)*$mult"
      }.mkString(" + ")
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |    CAST(list_sum(list_transform(string_split(text,' '),
         |      t -> ($w)[(($slot) % 1024) + 1])) AS BIGINT) AS score
         |  FROM documents)
         |SELECT doc_id, n_tokens, score,
         |  CAST(score AS DOUBLE) / n_tokens AS quality,
         |  CAST(score AS DOUBLE) / n_tokens > 0 AS keep
         |FROM sc WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin
    },
    "q_corpus_diff" ->
      """WITH base AS (SELECT doc_id, md5(text) AS h_base FROM documents),
        |cur AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS h_cur
        |  FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 17 = 0),
        |j AS (SELECT COALESCE(base.doc_id, cur.doc_id) AS doc_id, h_base, h_cur,
        |        base.doc_id IS NOT NULL AS in_b, cur.doc_id IS NOT NULL AS in_c
        |      FROM base FULL OUTER JOIN cur ON base.doc_id = cur.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT in_b THEN 'added'
        |       WHEN NOT in_c THEN 'removed'
        |       ELSE 'changed' END AS status, h_base, h_cur
        |FROM j
        |WHERE NOT in_b OR NOT in_c OR h_base IS DISTINCT FROM h_cur
        |ORDER BY doc_id, status""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
        |tf AS (SELECT token, count(*) AS n_occ FROM tok GROUP BY 1),
        |vocab AS (SELECT token FROM tf ORDER BY n_occ DESC, token LIMIT 10),
        |j AS (SELECT t.doc_id, v.token IS NOT NULL AS in_v
        |      FROM tok t LEFT JOIN vocab v ON t.token = v.token)
        |SELECT doc_id, count(*) AS n_tokens,
        |  count(CASE WHEN NOT in_v THEN 1 END) AS n_oov,
        |  count(CASE WHEN NOT in_v THEN 1 END) * 1000000 // count(*) AS oov_ppm
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_coverage_curve" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text,' ')) AS token FROM documents),
        |tf AS (SELECT token, count(*) AS n_occ FROM tok GROUP BY 1),
        |tot AS (SELECT sum(n_occ) AS total FROM tf),
        |top AS (SELECT token, n_occ,
        |    row_number() OVER (ORDER BY n_occ DESC, token) AS rank
        |  FROM tf ORDER BY n_occ DESC, token LIMIT 50)
        |SELECT rank, token, n_occ,
        |  CAST(sum(n_occ) OVER (ORDER BY rank) AS BIGINT) AS cum_occ,
        |  CAST(sum(n_occ) OVER (ORDER BY rank) * 1000000 // total AS BIGINT) AS cum_ppm
        |FROM top, tot ORDER BY rank""".stripMargin,
    "q_trained_health" ->
      s"""WITH $kmeansBaseCtes,
         |${kmeansChainCtes(16, "k")},
         |tcent AS (SELECT centroid_id, cd AS centv FROM kc2),
         |assign AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT a.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(floor(10000 * (
         |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |        c.centroid_id) AS rn
         |    FROM e a CROSS JOIN tcent c) t
         |  WHERE rn = 1),
         |sizes AS (SELECT CAST(centroid_id AS VARCHAR) AS list_key, count(*) AS n_items
         |  FROM assign GROUP BY 1),
         |g AS (SELECT count(*) AS n_lists, CAST(sum(n_items) AS BIGINT) AS total_items FROM sizes)
         |SELECT list_key, n_items, n_lists, total_items,
         |  CAST(n_items * 1000000 // total_items AS BIGINT) AS share_ppm,
         |  n_items * n_lists * 1000 > 2000 * total_items AS skewed
         |FROM sizes, g ORDER BY list_key""".stripMargin,
    "q_trained_incr" ->
      s"""WITH $kmeansBaseCtes,
         |${kmeansChainCtes(16, "k")},
         |tcent AS (SELECT centroid_id, cd AS centv FROM kc2)
         |SELECT vec_id, centroid_id FROM (
         |  SELECT a.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      CAST(floor(10000 * (
         |        list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
         |        (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
         |         sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
         |      c.centroid_id) AS rn
         |  FROM e a CROSS JOIN tcent c
         |  WHERE a.vec_id % 7 = 0) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q_ivf_health" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT a.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c) t
        |  WHERE rn = 1),
        |sizes AS (SELECT CAST(centroid_id AS VARCHAR) AS list_key, count(*) AS n_items
        |  FROM assign GROUP BY 1),
        |g AS (SELECT count(*) AS n_lists, CAST(sum(n_items) AS BIGINT) AS total_items FROM sizes)
        |SELECT list_key, n_items, n_lists, total_items,
        |  CAST(n_items * 1000000 // total_items AS BIGINT) AS share_ppm,
        |  n_items * n_lists * 1000 > 2000 * total_items AS skewed
        |FROM sizes, g ORDER BY list_key""".stripMargin,
    "q_ivf_rebuild" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT a.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        CAST(floor(10000 * (
        |          list_reduce(list_transform(range(1,65), i -> a.v[i]*c.centv[i]), (x,y)->x+y) /
        |          (sqrt(list_reduce(list_transform(range(1,65), i -> a.v[i]*a.v[i]), (x,y)->x+y)) *
        |           sqrt(list_reduce(list_transform(range(1,65), i -> c.centv[i]*c.centv[i]), (x,y)->x+y))))) AS BIGINT) DESC,
        |        c.centroid_id) AS rn
        |    FROM e a CROSS JOIN cent c) t
        |  WHERE rn = 1),
        |sizes AS (SELECT CAST(centroid_id AS VARCHAR) AS list_key, count(*) AS n_items
        |  FROM assign GROUP BY 1),
        |g AS (SELECT count(*) AS n_lists, CAST(sum(n_items) AS BIGINT) AS total_items FROM sizes),
        |loads AS (SELECT CAST(centroid_id AS VARCHAR) AS list_key, count(*) AS n_probes
        |  FROM assign WHERE vec_id % 2 = 1 GROUP BY 1),
        |lg AS (SELECT CAST(coalesce(sum(n_probes), 0) AS BIGINT) AS total_probes FROM loads),
        |j AS (
        |  SELECT s.list_key, s.n_items, g.n_lists, g.total_items,
        |    CAST(s.n_items * 1000000 // g.total_items AS BIGINT) AS share_ppm,
        |    s.n_items * g.n_lists * 1000 > 2000 * g.total_items AS skewed,
        |    CAST(coalesce(l.n_probes, 0) AS BIGINT) AS n_probes, lg.total_probes
        |  FROM sizes s CROSS JOIN g CROSS JOIN lg
        |  LEFT JOIN loads l ON s.list_key = l.list_key)
        |SELECT list_key, n_items, n_lists, total_items, share_ppm, skewed,
        |  n_probes, total_probes,
        |  CAST(CAST(n_probes AS HUGEINT) * 1000000 // greatest(total_probes, 1) AS BIGINT) AS load_ppm,
        |  n_probes * n_lists * 1000 > 2000 * greatest(total_probes, 1) AS hot,
        |  CASE WHEN skewed AND n_probes * n_lists * 1000 > 2000 * greatest(total_probes, 1) THEN 'split_now'
        |       WHEN skewed THEN 'rebalance'
        |       WHEN n_probes * n_lists * 1000 > 2000 * greatest(total_probes, 1) THEN 'replicate'
        |       ELSE 'ok' END AS decision
        |FROM j ORDER BY list_key""".stripMargin,
    "q_band_health" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text,' ')) AS ts FROM documents),
        |sig AS (SELECT doc_id,
        |  list_transform(range(1,17), k ->
        |    list_aggregate(list_transform(ts, t -> md5(k::VARCHAR || ':' || t)), 'min')) AS mh
        |  FROM toks),
        |banded AS (
        |  SELECT doc_id, b, md5(array_to_string(mh[(b-1)*8+1:(b-1)*8+8], '|')) AS band_key
        |  FROM sig, unnest(range(1,3)) AS u(b)),
        |sizes AS (SELECT b::VARCHAR || ':' || band_key AS list_key, count(*) AS n_items
        |  FROM banded GROUP BY 1),
        |g AS (SELECT count(*) AS n_lists, CAST(sum(n_items) AS BIGINT) AS total_items FROM sizes)
        |SELECT list_key, n_items, n_lists, total_items,
        |  CAST(n_items * 1000000 // total_items AS BIGINT) AS share_ppm,
        |  n_items * n_lists * 1000 > 2000 * total_items AS skewed
        |FROM sizes, g ORDER BY list_key""".stripMargin,
    "q_embed_project" -> {
      val signs = Similarity.signMatrix("rp", 64, 8)
      val cols = (0 until 8).map { j =>
        val row = signs(j).mkString("[", ",", "]")
        s"""  CAST(list_aggregate(list_transform(range(1,65),
           |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT)
           |         * ($row)[i]), 'sum') AS BIGINT) AS proj_$j""".stripMargin
      }.mkString(",\n")
      s"SELECT vec_id,\n$cols\nFROM embeddings ORDER BY vec_id"
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact"     -> (dedupExact _),
    "q_dedup_ngram"     -> (dedupNgram _),
    "q_dedup_minhash"   -> (dedupMinhash _),
    "q_minhash_persist" -> (dedupMinhashPersist _),
    "q_dedup_simhash"   -> (dedupSimhash _),
    "q_dedup_clusters"  -> (dedupClusters _),
    "q_dedup_against"   -> (dedupAgainst _),
    "q_canonical"       -> (canonical _),
    "q_sample_exactk"   -> (sampleExactK _),
    "q_split_clusters"  -> (splitClusters _),
    "q_embed_neardup"   -> (embedNearDup _),
    "q_embed_neardup_incr" -> (embedNearDupIncr _),
    "q_embed_quantize"  -> (embedQuantize _),
    "q_embed_contam"    -> (embedContam _),
    "q_ann_topk"        -> (annTopK _),
    "q_ann_lsh"         -> (annLsh _),
    "q_ann_multiprobe"  -> (annLshMultiProbe _),
    "q_ann_ivf"         -> (annIvf _),
    "q_ivf_pruned"      -> (annIvfPruned _),
    "q_kmeans"          -> (kmeansQ _),
    "q_ivf_trained"     -> (annIvfTrained _),
    "q_trained_persist" -> (trainedPersistQ _),
    "q_trained_recall"  -> (trainedRecallQ _),
    "q_ann_pq"          -> (annPq _),
    "q_ann_rerank"      -> (annRerank _),
    "q_ann_ivfpq"       -> (annIvfPq _),
    "q_semdedup"        -> (semDedup _),
    "q_ann_ivf2"        -> (annIvf2 _),
    "q_lang_id"         -> (langId _),
    "q_text_quality"    -> (textQuality _),
    "q_token_counts"    -> (tokenCounts _),
    "q_fingerprint"     -> (fingerprint _),
    "q_scrub"           -> (scrub _),
    "q_chunks"          -> (chunks _),
    "q_pack"            -> (pack _),
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_frame_sample"    -> (frameSample _),
    "q_profile"         -> (profile _),
    "q_histogram"       -> (histogram _),
    "q_embed_pool"      -> (embedPool _),
    "q_ref_check"       -> (refCheck _),
    "q_lsh_stats"       -> (lshStats _),
    "q_quality_sample"  -> (qualitySample _),
    "q_profile_approx"  -> (profileApprox _),
    "q_salted_agg"      -> (saltedAgg _),
    "q_sample_stratified" -> (sampleStratified _),
    "q_split_groups"    -> (splitGroups _),
    "q_ngram_stats"     -> (ngramStats _),
    "q_source_mix"      -> (sourceMix _),
    "q_token_drift"     -> (tokenDrift _),
    "q_bm25"            -> (bm25 _),
    "q_bm25_wand"       -> (bm25Wand _),
    "q_lm_score"        -> (lmScore _),
    "q_filter_yield"    -> (filterYieldQ _),
    "q_dsir"            -> (dsir _),
    "q_dsir_sample"     -> (dsirSample _),
    "q_infer_batch"     -> (inferBatch _),
    "q_infer_route"     -> (inferRoute _),
    "q_infer_stream"    -> (inferStreamQ _),
    "q_attr_stream"     -> (attrStream _),
    "q_sess_stream"     -> (sessStream _),
    "q_eval_confusion"  -> (evalConfusion _),
    "q_eval_prf"        -> (evalPrf _),
    "q_audio_stats"     -> (audioStats _),
    "q_audio_vad"       -> (audioVad _),
    "q_media_sniff"     -> (mediaSniff _),
    "q_media_route"     -> (mediaRoute _),
    "q_video_meta"      -> (videoMeta _),
    "q_image_stats"     -> (imageStats _),
    "q_image_dhash"     -> (imageDHash _),
    "q_zorder"          -> (zorder _),
    "q_prune_audit"     -> (pruneAudit _),
    "q_encoding_advisor" -> (encodingAdvisorQ _),
    "q_selectivity"     -> (selectivityQ _),
    "q_bloom_skip"      -> (bloomSkipQ _),
    "q_trend"           -> (trendQ _),
    "q_seasonality"     -> (seasonalityQ _),
    "q_json_keys"       -> (jsonKeysQ _),
    "q_hard_negatives"  -> (hardNegativesQ _),
    "q_ngram_diversity" -> (ngramDiversity _),
    "q_ann_recall"      -> (annRecall _),
    "q_manifest"        -> (shardManifestQ _),
    "q_collocations"    -> (collocationsQ _),
    "q_cms_topk"        -> (cmsTopK _),
    "q_hll_sources"     -> (hllSources _),
    "q_pca_power"       -> (pcaPower _),
    "q_boilerplate"     -> (boilerplate _),
    "q_kmv_overlap"     -> (kmvOverlap _),
    "q_hash_chain"      -> (hashChainQ _),
    "q_abtt"            -> (abtt _),
    "q_fd"              -> (fdDiscovery _),
    "q_benford"         -> (benfordQ _),
    "q_outliers"        -> (madOutliersQ _),
    "q_record_linkage"  -> (recordLinkageQ _),
    "q_k_anonymity"     -> (kAnonymityQ _),
    "q_t_closeness"     -> (tClosenessQ _),
    "q_minhash_clusters" -> (minhashClustersQ _),
    "q_kmeans_elbow"    -> (kmeansElbowQ _),
    "q_trained_curve"   -> (trainedCurveQ _),
    "q_index_advisor"   -> (indexAdvisorQ _),
    "q_trained_health"  -> (trainedHealthQ _),
    "q_trained_incr"    -> (trainedIncrQ _),
    "q_cluster_sizes"   -> (clusterSizes _),
    "q_pad_waste"       -> (padWaste _),
    "q_bpe_sweep"       -> (bpeSweep _),
    "q_lang_segments"   -> (langSegments _),
    "q_mojibake"        -> (mojibakeQ _),
    "q_html_strip"      -> (htmlStripQ _),
    "q_special_tokens"  -> (specialTokensQ _),
    "q_badwords"        -> (badwordsQ _),
    "q_ingest_gate"     -> (ingestGateQ _),
    "q_vocab_growth"    -> (vocabGrowthQ _),
    "q_interval_join"   -> (intervalJoin _),
    "q_pagerank"        -> (pageRankQ _),
    "q_trustrank"       -> (trustRankQ _),
    "q_hybrid_rrf"      -> (hybridRrf _),
    "q_cluster_terms"   -> (clusterTerms _),
    "q_communities"     -> (communitiesQ _),
    "q_hubness"         -> (hubnessQ _),
    "q_cooccur"         -> (cooccurQ _),
    "q_score_calib"     -> (scoreCalib _),
    "q_interleave"      -> (interleave _),
    "q_mmr"             -> (mmrQ _),
    "q_hilbert"         -> (hilbert _),
    "q_mrl_recall"      -> (mrlRecall _),
    "q_triangles"       -> (trianglesQ _),
    "q_reshard"         -> (reshard _),
    "q_ann_int8"        -> (annInt8 _),
    "q_lang_confusion"  -> (langConfusion _),
    "q_ndcg"            -> (ndcgQ _),
    "q_cluster_margin"  -> (clusterMargin _),
    "q_kcore"           -> (kCoreQ _),
    "q_data_card"       -> (dataCard _),
    "q_quality_ensemble" -> (qualityEnsemble _),
    "q_recall_curve"    -> (recallCurve _),
    "q_ann_advisor"     -> (annAdvisorQ _),
    "q_train_probe"     -> (trainProbe _),
    "q_mix_weights"     -> (mixWeights _),
    "q_shard"           -> (shard _),
    "q_repetition"      -> (repetition _),
    "q_tfidf"           -> (tfidf _),
    "q_contamination"   -> (contamination _),
    "q_curation"        -> (curation _),
    "q_provenance"      -> (provenance _),
    "q_prov_persist"    -> (provPersistQ _),
    "q_provenance_incr" -> (provenanceIncr _),
    "q_curation_funnel" -> (curationFunnel _),
    "q_funnel_by_source" -> (funnelBySource _),
    "q_compaction_plan" -> (compactionPlanQ _),
    "q_range_join"      -> (rangeJoin _),
    "q_dedup_bloom"     -> (dedupBloom _),
    "q_dup_spans"       -> (dupSpans _),
    "q_dup_remove"      -> (dupRemove _),
    "q_phrase_search"   -> (phraseSearchQ _),
    "q_winnow"          -> (winnowFp _),
    "q_embed_project"   -> (embedProject _),
    "q_quality_score"   -> (qualityScore _),
    "q_corpus_diff"     -> (corpusDiffQ _),
    "q_winnow_pairs"    -> (winnowPairs _),
    "q_ivf_health"      -> (ivfHealth _),
    "q_ivf_rebuild"     -> (ivfRebuild _),
    "q_bpe_encode"      -> (bpeEncodeQ _),
    "q_bpe_encode_fixed" -> (bpeEncodeFixedQ _),
    "q_bpe_fertility"   -> (bpeFertilityQ _),
    "q_filter_auc"      -> (filterAucQ _),
    "q_pack_bpe"        -> (packBpe _),
    "q_weighted_topk"   -> (weightedTopKQ _),
    "q_band_health"     -> (bandHealth _),
    "q_vocab_coverage"  -> (vocabCoverageQ _),
    "q_coverage_curve"  -> (coverageCurveQ _),
    "q_knn_graph"       -> (knnGraphQ _),
    "q_bitext_margin"   -> (bitextMargin _),
    "q_label_noise"     -> (labelNoiseQ _),
    "q_edit_pairs"      -> (editPairs _),
    "q_gopher_rules"    -> (gopherRulesQ _),
    "q_dup_quality"     -> (dupQualityQ _),
    "q_cluster_quality" -> (clusterQuality _),
    "q_embed_drift"     -> (embedDrift _),
    "q_mix_plan"        -> (mixPlan _),
    "q_minhash_est"     -> (minhashEst _),
    "q_containment"     -> (containmentFull _),
    "q_nfc"             -> (nfcNormalizeQ _),
    "q_dup_by_source"   -> (dupBySource _),
    "q_source_overlap"  -> (sourceOverlap _),
    "q_source_lift"     -> (sourceLift _),
    "q_pack_mix"        -> (packMix _),
    "q_readability"     -> (readabilityQ _),
    "q_gini_sources"    -> (giniSources _),
    "q_curriculum"      -> (curriculumQ _),
    "q_salted_join"     -> (saltedJoinQ _),
    "q_range_join_auto" -> (rangeJoinAuto _),
    "q_range_join_outer" -> (rangeJoinOuter _),
    "q_range_join_anti" -> (rangeJoinAnti _),
    "q_interval_join_auto" -> (intervalJoinAuto _),
    "q_erasure_audit"   -> (erasureAuditQ _),
    "q_epoch_plan"      -> (epochPlan _),
    "q_stripe_audit"    -> (stripeAudit _),
    "q_ewma"            -> (ewmaQ _),
    "q_cusum"           -> (cusumQ _),
    "q_waterfill"       -> (waterfillQ _),
    "q_pareto"          -> (paretoQ _),
    "q_skew_preview"    -> (skewPreviewQ _),
    "q_dedup_sweep"     -> (dedupSweepQ _),
    "q_prefix_batch"    -> (prefixBatchQ _),
    "q_pii_census"      -> (piiCensusQ _),
    "q_cdc_chunks"      -> (cdcChunksQ _),
    "q_chisq"           -> (chisqQ _),
    "q_bootstrap"       -> (bootstrapQ _),
    "q_acf"             -> (acfQ _),
    "q_rebalance_plan"  -> (rebalancePlanQ _),
    "q_survival"        -> (survivalQ _),
    "q_fano"            -> (fanoQ _),
    "q_mann_kendall"    -> (mannKendallQ _),
    "q_fanout"          -> (fanoutQ _),
    "q_backlog"         -> (backlogQ _),
    "q_ab_bootstrap"    -> (abBootstrapQ _),
    "q_sprt"            -> (sprtQ _),
    "q_robust_mean"     -> (robustMeanQ _),
    "q_srm"             -> (srmQ _),
    "q_power"           -> (powerQ _),
    "q_group_seq"       -> (groupSeqQ _),
    "q_cuped"           -> (cupedQ _),
    "q_jackknife"       -> (jackknifeQ _),
    "q_conformal"       -> (conformalQ _),
    "q_drawdown"        -> (drawdownQ _),
    "q_neg_collisions"  -> (negCollisionsQ _),
    "q_cumsum_sql"      -> (cumsumSqlQ _),
    "q_stickiness"      -> (stickinessQ _),
    "q_mase"            -> (maseQ _),
    "q_holt"            -> (holtQ _),
    "q_bandit"          -> (banditQ _),
    "q_ips"             -> (ipsQ _),
    "q_mutual_info"     -> (mutualInfoQ _),
    "q_cramers_v"       -> (cramersVQ _),
    "q_isotropy"        -> (isotropyQ _),
    "q_zipf"            -> (zipfQ _),
    "q_chao"            -> (chaoQ _),
    "q_ks"              -> (ksQ _),
    "q_mann_whitney"    -> (mannWhitneyQ _),
    "q_balance"         -> (balanceQ _),
    "q_quantile_norm"   -> (quantileNormQ _),
    "q_eb_shrink"       -> (ebShrinkQ _),
    "q_page_hinkley"    -> (pageHinkleyQ _),
    "q_changepoint"     -> (changepointQ _),
    "q_theil_sen"       -> (theilSenQ _),
    "q_psi"             -> (psiQ _),
    "q_js_div"          -> (jsDivQ _),
    "q_kappa"           -> (kappaQ _),
    "q_bt_rank"         -> (btRankQ _),
    "q_dawid_skene"     -> (dawidSkeneQ _),
    "q_bh_fdr"          -> (bhFdrQ _),
    "q_permutation"     -> (permutationQ _),
    "q_did"             -> (didQ _),
    "q_mantel_haenszel" -> (mantelHaenszelQ _),
    "q_markov_stationary" -> (markovStationaryQ _),
    "q_holt_winters"    -> (holtWintersQ _),
    "q_ece"             -> (eceQ _),
    "q_entropy_rate"    -> (entropyRateQ _),
    "q_mean_excess"     -> (meanExcessQ _),
    "q_ljung_box"       -> (ljungBoxQ _),
    "q_runs"            -> (runsTestQ _),
    "q_return_level"    -> (returnLevelQ _),
    "q_kruskal"         -> (kruskalQ _),
    "q_seasonal_mk"     -> (seasonalMkQ _),
    "q_ccf"             -> (ccfQ _),
    "q_cochran_armitage" -> (cochranArmitageQ _),
    "q_hill"            -> (hillQ _),
    "q_mcnemar"         -> (mcnemarQ _),
    "q_hw_skill"        -> (hwSkillQ _)
  )
}
