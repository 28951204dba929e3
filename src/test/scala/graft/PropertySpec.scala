package graft

import graft.core.{CaptureDiff, Replay}
import graft.ops.Dedup
import org.apache.spark.sql.functions._
/** Property tests over seeded random inputs (SURVEY.md §5.3):
  * capture/replay round-trips and capture compositionality over random
  * DML histories; dedup physical-path equivalence on random corpora.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def fixed = lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))

  private case class Tbl(rows: Map[Int, (Int, String)])

  private def genTable(ids: Range, seed: Long): Map[Int, (Int, String)] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => i -> (rnd.nextInt(100), s"s${rnd.nextInt(20)}")).toMap
  }

  private def mutate(t: Map[Int, (Int, String)], seed: Long,
                     nextId: Int): Map[Int, (Int, String)] = {
    val rnd = new scala.util.Random(seed)
    val survivors = t.filterNot(_ => rnd.nextDouble() < 0.2)
    val updated = survivors.map { case (k, (a, b)) =>
      if (rnd.nextDouble() < 0.3) k -> (rnd.nextInt(100), b) else k -> (a, b)
    }
    val inserts = (nextId until nextId + rnd.nextInt(20))
      .map(i => i -> (rnd.nextInt(100), s"new$i"))
    updated ++ inserts
  }

  private def toDf(t: Map[Int, (Int, String)]) =
    t.toSeq.map { case (k, (a, b)) => (k, a, b) }.toDF("id", "a", "b")

  private def replayOnto(base: Map[Int, (Int, String)],
                         log: org.apache.spark.sql.DataFrame) = {
    val baseDf = toDf(base)
      .withColumn("audit_event", lit("insert"))
      .withColumn("audit_timestamp", fixed)
      .withColumn("audit_pk", lit(0L))
    Replay.toState(baseDf.unionByName(log), Seq("id"))
      .as[(Int, Int, String)].collect()
      .map { case (k, a, b) => k -> (a, b) }.toMap
  }

  test("property: replay(s1, capture(s1,s2)) == s2 across random DML " +
    "histories (10 seeds)") {
    for (seed <- 1L to 10L) {
      val s1 = genTable(1 to 150, seed)
      val s2 = mutate(s1, seed * 31, 1000)
      val diff = CaptureDiff.capture(toDf(s1), toDf(s2), Seq("id"), clock = fixed)
      assert(replayOnto(s1, diff) === s2, s"seed=$seed")
    }
  }

  test("property: threeWayMerge(b, o, b) == classify(b, o) with every " +
    "row ours; threeWayMerge(b, x, x) == classify(b, x) all merged; " +
    "never a conflict in either (8 seeds)") {
    for (seed <- 41L to 48L) {
      val b = genTable(1 to 120, seed)
      val o = mutate(b, seed * 17, 2000)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "a", "b", "audit_event")
          .as[(Int, Int, String, String)].collect().sortBy(_._1).toSeq
      // theirs untouched: the merge IS the two-way capture, all ours
      val oneSided = CaptureDiff.threeWayMerge(toDf(b), toDf(o), toDf(b), Seq("id"))
      assert(oneSided.select("merge_status").distinct()
        .as[String].collect().toSet.subsetOf(Set("ours")), s"seed=$seed")
      assert(canon(oneSided.drop("merge_status")) ===
        canon(CaptureDiff.classify(toDf(b), toDf(o), Seq("id"))), s"seed=$seed")
      // identical independent edits: same rows, all merged, no conflict
      val converged = CaptureDiff.threeWayMerge(toDf(b), toDf(o), toDf(o), Seq("id"))
      assert(converged.select("merge_status").distinct()
        .as[String].collect().toSet.subsetOf(Set("merged")), s"seed=$seed")
      assert(canon(converged.drop("merge_status")) ===
        canon(CaptureDiff.classify(toDf(b), toDf(o), Seq("id"))), s"seed=$seed")
    }
  }

  test("property: composing capture(s1,s2) + capture(s2,s3) replays to " +
    "the same state as capture(s1,s3) (5 seeds)") {
    for (seed <- 11L to 15L) {
      val s1 = genTable(1 to 120, seed)
      val s2 = mutate(s1, seed * 7, 2000)
      val s3 = mutate(s2, seed * 13, 3000)
      val d12 = CaptureDiff.capture(toDf(s1), toDf(s2), Seq("id"), clock = fixed)
      val n12 = d12.count()
      // second leg sequenced above the first (watermark resume)
      val d23 = CaptureDiff.capture(toDf(s2), toDf(s3), Seq("id"),
        clock = fixed, basePk = n12)
      val viaChain  = replayOnto(s1, d12.unionByName(d23))
      val viaDirect = replayOnto(s1,
        CaptureDiff.capture(toDf(s1), toDf(s3), Seq("id"), clock = fixed))
      assert(viaChain === s3, s"chain seed=$seed")
      assert(viaDirect === s3, s"direct seed=$seed")
    }
  }

  test("property: sequenced audit_pk stays dense across capture " +
    "re-runs with watermark offsets") {
    val s1 = genTable(1 to 80, 99L)
    val s2 = mutate(s1, 100L, 500)
    val s3 = mutate(s2, 101L, 600)
    val d12 = CaptureDiff.capture(toDf(s1), toDf(s2), Seq("id"), clock = fixed)
    val n12 = d12.count()
    val d23 = CaptureDiff.capture(toDf(s2), toDf(s3), Seq("id"), clock = fixed,
      basePk = n12)
    val pks = d12.unionByName(d23).select("audit_pk").as[Long].collect().sorted
    assert(pks.toSeq === (1L to pks.length))
  }

  test("ngramJaccard: prefix path (vocab > 64) and bitmask path " +
    "(vocab <= 64) agree with a naive all-pairs computation") {
    val rnd = new scala.util.Random(7)
    // large vocab -> forces the PPJoin prefix path
    val bigVocab = (1 to 120).map(i => s"w$i")
    val docsBig = (1L to 40L).map { id =>
      val n = 5 + rnd.nextInt(15)
      (id, rnd.shuffle(bigVocab).take(n).mkString(" "))
    }.toDF("doc_id", "text")

    def naive(df: org.apache.spark.sql.DataFrame, t: Double) = {
      val toks = df.as[(Long, String)].collect()
        .map { case (id, s) => id -> s.split(" ").toSet }.sortBy(_._1)
      (for {
        (ia, sa) <- toks; (ib, sb) <- toks if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= t
      } yield (ia, ib)).toSeq.sorted
    }
    val sparkPairs = Dedup.ngramJaccard(docsBig, 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(sparkPairs === naive(docsBig, 0.3))

    // small vocab -> bitmask path, same contract
    val smallVocab = (1 to 30).map(i => s"v$i")
    val docsSmall = (1L to 40L).map { id =>
      val n = 3 + rnd.nextInt(10)
      (id, rnd.shuffle(smallVocab).take(n).mkString(" "))
    }.toDF("doc_id", "text")
    val sparkSmall = Dedup.ngramJaccard(docsSmall, 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(sparkSmall === naive(docsSmall, 0.3))
  }

  test("maskClusters (component search on the distinct-mask graph) == " +
    "connectedComponents over the expanded doc pairs, incl. null and " +
    "duplicate texts (4 seeds)") {
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val vocab = (1 to 20).map(i => s"v$i")
      val corpus = (1L to 80L).map { id =>
        if (id % 17 == 0) (id, null: String)
        else {
          val n = 1 + rnd.nextInt(5)
          (id, rnd.shuffle(vocab).take(n).mkString(" "))
        }
      }.toDF("doc_id", "text")
      val v = Dedup.smallVocab(corpus).get
      val mk = Dedup.tokenMasks(corpus, v)
      val mp = Dedup.maskJaccardPairs(mk, 0.5)
      val viaMask = Dedup.maskClusters(mk, mp)
        .as[(Long, Long)].collect().toMap
      val viaDoc = Dedup.connectedComponents(
          Dedup.expandMaskPairs(mk, mp).select("doc_a", "doc_b"), corpus)
        .as[(Long, Long)].collect().toMap
      assert(viaMask === viaDoc, s"seed=$seed")
    }
  }

  test("connectedComponents matches a driver-side union-find on random " +
    "graphs (chains, cliques, singletons mixed)") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 20
      val ids = (1L to n.toLong)
      val pairs = (1 to n).flatMap { _ =>
        val a = 1L + rnd.nextInt(n); val b = 1L + rnd.nextInt(n)
        if (a == b) None else Some((math.min(a, b), math.max(a, b)))
      }
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = ids.map(i => i -> find(i)).toMap
      // default path: bounded DRIVER union-find finish
      val got = Dedup.connectedComponents(
          pairs.toDF("doc_a", "doc_b"), ids.toDF("doc_id"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"trial $trial (driver finish)")
      // maxDriverEdges = 0 forces the DISTRIBUTED propagation fallback —
      // both finishes must agree with the oracle union-find
      val gotDist = Dedup.connectedComponents(
          pairs.toDF("doc_a", "doc_b"), ids.toDF("doc_id"),
          maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(gotDist === expected, s"trial $trial (distributed finish)")
    }
  }

  test("bernoulli samples nest across fractions and capPerStratum " +
    "equals bernoulli at the stratum's own rate") {
    import graft.ops.Sampling
    val df = (1L to 4000L).map(i => (i, s"s${i % 3}")).toDF("id", "k")
    val fracs = Seq(0.05, 0.2, 0.6, 1.0)
    val samples = fracs.map(f =>
      f -> Sampling.bernoulli(df, "id", f).select("id").as[Long].collect().toSet)
    samples.sliding(2).foreach { case Seq((fa, sa), (fb, sb)) =>
      assert(sa.subsetOf(sb), s"$fa not nested in $fb")
    }
    assert(samples.last._2.size === 4000) // fraction 1.0 keeps all
    // capPerStratum(cap) == per-stratum bernoulli(min(1, cap/count))
    val capped = Sampling.capPerStratum(df, "k", "id", cap = 400)
      .select("id").as[Long].collect().toSet
    val manual = df.as[(Long, String)].collect().toSeq
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        val frac = math.min(1.0, 400.0 / rows.length)
        val thr = math.floor(frac * 65536).toLong
        rows.map(_._1).filter { id =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(id.toString.getBytes("UTF-8"))
          val hex = md.map("%02x".format(_)).mkString.take(4)
          java.lang.Long.parseLong(hex, 16) < thr
        }
      }.toSet
    assert(capped === manual)
  }

  test("property: bloomScreen == exactAgainst on random corpora with " +
    "planted duplicates AND null texts (8 seeds)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val base = (1 to 60).map(i => (i.toLong, s"doc ${rnd.nextInt(40)} body"))
      // every 7th incoming text is null: a null hash key must flow to
      // the definite-new branch (exactAgainst keeps null-hash rows —
      // null never equi-matches in the left_anti), never vanish
      val inc = (100 to 160).map(i =>
        (i.toLong, if (i % 7 == 0) null
                   else if (rnd.nextBoolean()) base(rnd.nextInt(60))._2
                   else s"new ${rnd.nextInt(40)} text"))
      val bDf = base.toDF("doc_id", "text")
      val iDf = inc.toDF("doc_id", "text")
      val viaBloom = Dedup.bloomScreen(iDf, bDf, expectedItems = 200L)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val exact = Dedup.exactAgainst(iDf, bDf)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(viaBloom === exact, s"seed=$seed")
    }
  }

  test("property: winnow guarantee — any two docs sharing a run of " +
    "w+k-1 tokens share at least one fingerprint (8 seeds, k=3, w=4)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      // a shared run of exactly w+k-1 = 6 tokens planted inside noise
      val run = (1 to 6).map(i => s"shared${rnd.nextInt(1000)}_$i").mkString(" ")
      def noise(n: Int) = (1 to n).map(_ => s"n${rnd.nextInt(500)}").mkString(" ")
      val d = Seq(
        (1L, s"${noise(5 + rnd.nextInt(5))} $run ${noise(3)}"),
        (2L, s"${noise(2)} $run ${noise(6 + rnd.nextInt(5))}")
      ).toDF("doc_id", "text")
      val fp = graft.ops.TextStats.winnow(d, k = 3, w = 4)
        .as[(Long, String)].collect().groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      assert(fp(1L).intersect(fp(2L)).nonEmpty, s"seed=$seed")
    }
  }

  test("property: duplicateSpans dup counts are bounded by totals and " +
    "invariant under doc order/partitioning (5 seeds)") {
    for (seed <- 1L to 5L) {
      val rnd = new scala.util.Random(seed)
      val docsR = (1 to 40).map { i =>
        val toks = (1 to 6 + rnd.nextInt(10)).map(_ => s"w${rnd.nextInt(12)}")
        (i.toLong, toks.mkString(" "))
      }
      val df = docsR.toDF("doc_id", "text")
      val out = graft.ops.TextStats.duplicateSpans(df, windowLen = 3)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
      out.foreach { case (_, nw, nd, frac) =>
        assert(nd >= 0 && nd <= nw)
        assert(math.abs(frac - nd.toDouble / nw) < 1e-12)
      }
      val shuffled = graft.ops.TextStats
        .duplicateSpans(df.repartition(7), windowLen = 3)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(shuffled === out, s"seed=$seed")
    }
  }

  test("property: weightedTopK priority is monotone in the weight (more " +
    "tickets never lower a row's priority) and invariant under " +
    "partitioning (5 seeds)") {
    import graft.ops.Sampling
    for (seed <- 1L to 5L) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 60).map(i => (i.toLong, 1L + rnd.nextInt(8)))
      val df = rows.toDF("id", "w")
      val base = Sampling.weightedTopK(df, "id", col("w"), k = 60)
        .select("id", "priority").as[(Long, String)].collect().toMap
      // +1 ticket: max over a superset of hashes — never smaller
      val bumped = Sampling
        .weightedTopK(rows.map { case (i, w) => (i, w + 1) }.toDF("id", "w"),
          "id", col("w"), k = 60)
        .select("id", "priority").as[(Long, String)].collect().toMap
      rows.foreach { case (i, _) =>
        assert(bumped(i) >= base(i), s"seed=$seed id=$i")
      }
      // deterministic under physical layout
      val re = Sampling.weightedTopK(df.repartition(7), "id", col("w"), k = 10)
        .select("id").as[Long].collect().toSeq
      val straight = Sampling.weightedTopK(df, "id", col("w"), k = 10)
        .select("id").as[Long].collect().toSeq
      assert(re === straight, s"seed=$seed")
    }
  }

  test("property: BPE encode is lossless and compressive for RANDOM " +
    "merge lists over random words (concat of tokens rebuilds the " +
    "word; token count never exceeds chars + 1) (5 seeds)") {
    import graft.functions.BpeApply
    for (seed <- 1L to 5L) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcd"
      val words = (1 to 30).map(_ =>
        (1 to 2 + rnd.nextInt(10))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      // random merges over random adjacent fragments (may or may not
      // ever apply — the invariants must hold regardless)
      val merges = (1 to 8).map { _ =>
        val w = words(rnd.nextInt(words.length))
        val p = rnd.nextInt(math.max(1, w.length - 1))
        (w.substring(p, p + 1), w.substring(p + 1, p + 2))
      }
      val encoded = words.map(w => (w, w.map(_.toString) :+ "</w>"))
        .toDF("word", "syms")
        .select(col("word"), BpeApply(col("syms"), merges).as("toks"))
        .as[(String, Seq[String])].collect()
      encoded.foreach { case (w, toks) =>
        assert(toks.mkString("") === w + "</w>", s"seed=$seed word=$w")
        assert(toks.length <= w.length + 1, s"seed=$seed word=$w")
        assert(toks.nonEmpty)
      }
    }
  }

  test("property: safe-prefix multi-merge BPE training is bit-identical " +
    "to sequential training on random zipf-ish corpora (4 seeds), and " +
    "the driver path matches both") {
    import graft.ops.Bpe
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcde"
      // skewed repetition so pair counts collide and tie-break paths
      // get exercised — the regime where unsafe batching mis-orders
      val words = (1 to 12).map(_ =>
        (1 to 2 + rnd.nextInt(5))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = (1 to 60).map { i =>
        (i.toLong, (1 to 1 + rnd.nextInt(6))
          .map(_ => words(math.min(rnd.nextInt(words.length),
            rnd.nextInt(words.length)))).mkString(" "))
      }.toDF("doc_id", "text")
      val seqM = Bpe.train(docs, numMerges = 8, driverVocabBound = 0,
        batchK = 1)
      val batM = Bpe.train(docs, numMerges = 8, driverVocabBound = 0)
      val drvM = Bpe.train(docs, numMerges = 8)
      assert(batM === seqM, s"seed=$seed")
      assert(drvM === seqM, s"seed=$seed")
    }
  }

  test("property: PCM write->parse round-trip reproduces a driver-side " +
    "reference on RANDOM sample arrays (stats and frame segmentation, " +
    "6 seeds incl. empty and single-sample)") {
    import graft.ops.Multimodal
    for (seed <- 1L to 6L) {
      val rnd = new scala.util.Random(seed)
      val n = if (seed == 1L) 0 else if (seed == 2L) 1 else rnd.nextInt(200)
      val s = Array.fill(n)(rnd.nextInt(65536) - 32768)
      val wav = Multimodal.wavBytes(s)
      val st = Multimodal.decodePcmStats(wav)
      if (n == 0) {
        assert(st.getLong(0) === 0L && (1 to 5).forall(st.isNullAt))
      } else {
        val sum = s.map(_.toLong).sum
        val ssq = s.map(v => v.toLong * v).sum
        val mx = s.map(v => math.abs(v.toLong)).max
        assert(st.getLong(0) === n.toLong, s"seed=$seed")
        assert(st.getDouble(1) === mx.toDouble / 32768, s"seed=$seed")
        assert(st.getDouble(2) === math.sqrt(ssq.toDouble / n) / 32768)
        assert(st.getDouble(3) === (sum.toDouble / n) / 32768)
        assert(st.getDouble(4) ===
          s.count(v => math.abs(v.toLong) >= 32640).toDouble / n)
        assert(st.getDouble(5) ===
          s.count(v => math.abs(v.toLong) <= 128).toDouble / n)
        // frame segmentation vs a reference fold
        val fl = 1 + rnd.nextInt(16)
        val fr = Multimodal.decodePcmFrames(fl)(wav)
        val frames = s.grouped(fl).toSeq
        val voiced = frames.map(f =>
          3L * f.map(v => v.toLong * v).sum > f.length.toLong * 32768L * 32768L)
        val runs = voiced.foldLeft((0L, 0L)) { case ((cur, best), v) =>
          if (v) (cur + 1, math.max(best, cur + 1)) else (0L, best)
        }
        assert(fr.getLong(0) === frames.length.toLong, s"seed=$seed fl=$fl")
        assert(fr.getLong(1) === voiced.count(identity).toLong)
        assert(fr.getDouble(2) === voiced.count(identity).toDouble / frames.length)
        assert(fr.getLong(3) === runs._2, s"seed=$seed fl=$fl")
      }
    }
  }

  test("property: time-split as-of == composed as-of over random " +
    "skewed data and random bucket widths (8 seeds x strict modes)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(5)
      def key() = if (rnd.nextDouble() < 0.6) "hot" else s"k${rnd.nextInt(nKeys)}"
      val l = (1 to 300).map(i =>
        (i.toLong, key(), rnd.nextInt(5000).toLong)).toDF("id", "user", "t")
      val r = (1 to 300).map(i =>
        (key(), 1000L + i, s"v$i", rnd.nextInt(5000).toLong))
        .toDF("user", "rid", "tag", "rt")
      val widths = Seq(1L + rnd.nextInt(100), 500L + rnd.nextInt(2000), 10000L)
      for (strict <- Seq(false, true); wdt <- widths) {
        val composed = graft.ops.TemporalJoins.asOfJoin(
          l, r, Seq("user"), "t", "rt", Seq("rid", "tag"),
          rightTiebreak = Some("rid"), strict = strict)
        val split = graft.ops.TemporalJoins.asOfJoinTimeSplit(
          l, r, Seq("user"), "t", "rt", Seq("rid", "tag"),
          rightTiebreak = Some("rid"), strict = strict, bucketWidth = wdt)
        val a = composed.collect().map(_.toString).sorted.toSeq
        val b = split.collect().map(_.toString).sorted.toSeq
        assert(b === a, s"seed=$seed strict=$strict width=$wdt")
      }
    }
  }

  test("property: the EWMA / CUSUM / backlog folds equal a brute-force " +
    "sequential reference on random gappy series (8 seeds)") {
    val day = 86400000000L
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(100 + seed)
      // random sparse day counts over a random span, 1-3 keys
      val keys = (0 to rnd.nextInt(2)).map(i => s"key$i")
      val data = keys.flatMap { k =>
        val span = 3 + rnd.nextInt(15)
        (0 until span).flatMap { dd =>
          val n = if (rnd.nextDouble() < 0.3) 0 else rnd.nextInt(9)
          // force first/last day non-empty so the span is exact
          val n2 = if (dd == 0 || dd == span - 1) math.max(n, 1) else n
          (1 to n2).map(j => (k, dd.toLong * day + j))
        }
      }
      val ev = data.toDF("k", "tus")
      // reference series per key: dense day -> count
      val byKey = data.groupBy(_._1).map { case (k, rows) =>
        val counts = rows.groupBy(_._2 / day).map { case (d, v) => d -> v.size.toLong }
        val d0 = counts.keys.min; val d1 = counts.keys.max
        k -> (d0 to d1).map(d => counts.getOrElse(d, 0L))
      }
      // EWMA reference
      val ewma = graft.ops.Monitor.ewmaDaily(ev, "k", col("tus"))
        .select("key", "day", "ewma_milli")
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
      byKey.foreach { case (k, xs) =>
        val ref = xs.tail.scanLeft(xs.head * 1000L) { (prev, x) =>
          (300L * x * 1000L + 700L * prev) / 1000L
        }
        assert(ewma(k) === ref, s"seed=$seed key=$k ewma")
      }
      // CUSUM reference
      val cus = graft.ops.Monitor.cusumDaily(ev, "k", col("tus"))
        .select("key", "day", "pos_milli", "neg_milli")
        .as[(String, Long, Long, Long)].collect()
        .groupBy(_._1)
        .map { case (k, v) => k -> v.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
      byKey.foreach { case (k, xs) =>
        val target = xs.sum * 1000L / xs.size
        val slack = target / 2
        val ref = xs.tail.scanLeft(
          (math.max(0L, xs.head * 1000L - target - slack),
           math.max(0L, target - xs.head * 1000L - slack))) {
          case ((p, n), x) =>
            (math.max(0L, p + x * 1000L - target - slack),
             math.max(0L, n + target - x * 1000L - slack))
        }
        assert(cus(k) === ref, s"seed=$seed key=$k cusum")
      }
      // backlog (Lindley) reference — same grid, 120%-of-mean capacity
      val bk = graft.ops.Monitor.backlogDaily(ev, "k", col("tus"))
        .select("key", "day", "backlog_milli")
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
      byKey.foreach { case (k, xs) =>
        val cap = xs.sum * 1200L / xs.size
        val ref = xs.tail.scanLeft(math.max(0L, xs.head * 1000L - cap)) {
          (b, x) => math.max(0L, b + x * 1000L - cap)
        }
        assert(bk(k) === ref, s"seed=$seed key=$k backlog")
      }
    }
  }

  test("property: survival risk-set bookkeeping — at_risk decreases by " +
    "exactly the exits at each step and the curve is non-increasing " +
    "(10 random cohorts)") {
    for (seed <- 1L to 10L) {
      val rnd = new scala.util.Random(200 + seed)
      val horizon = 5L + rnd.nextInt(20)
      val users = (1 to 30 + rnd.nextInt(50)).map { u =>
        val d1 = rnd.nextInt(horizon.toInt + 1).toLong
        (u.toLong, 0L, d1)
      }
      val rows = users.flatMap { case (u, d0, d1) => Seq((u, d0), (u, d1)) }
      // ensure at least one user reaches the horizon (the censor set)
      val all = rows ++ Seq((9999L, 0L), (9999L, horizon))
      val out = graft.queries.ExtensionQueries.survival(
          all.toDF("user_id", "day"))
        .select("life_days", "at_risk", "deaths", "censors", "survival_milli")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      // risk-set identity + monotone curve
      out.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._2 === a._2 - a._3 - a._4, s"seed=$seed risk-set")
          assert(b._5 <= a._5, s"seed=$seed monotone")
        case _ => ()
      }
      assert(out.head._2 === all.map(_._1).distinct.size.toLong)
    }
  }

  test("property: holtWintersDaily is an EXACT fixed point on any " +
    "integer period-7 pattern — forecast == n*1000, trend 0, level " +
    "pinned at the (truncated) week-one mean, for random patterns") {
    val day = 86400000000L
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // every slot >= 1 so the span anchors at day 0 and the pattern
      // itself is what the grid sees
      val pattern = Seq.fill(7)(1L + rnd.nextInt(49).toLong)
      val weeks = 3 + rnd.nextInt(2)
      val ev = (0 until 7 * weeks).flatMap { dd =>
        (1 to pattern(dd % 7).toInt).map(i => ("k", dd * day + i.toLong))
      }
      val out = graft.ops.Monitor
        .holtWintersDaily(ev.toDF("k", "tus"), "k", col("tus"))
        .select("day", "n", "forecast_milli", "level_milli", "trend_milli")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      val l0 = pattern.sum * 1000L / 7L
      out.foreach { r =>
        assert(r._3 === r._2 * 1000L, s"seed=$seed forecast at day ${r._1}")
        assert(r._5 === 0L, s"seed=$seed trend")
        assert(r._4 === l0, s"seed=$seed level ${r._4} != $l0")
      }
    }
  }

  test("property: markovStationary conserves mass up to the documented " +
    "truncation dust (>= 1e6 - 20K^2, <= 1e6), never goes negative, and " +
    "is deterministic, on random dense chains") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(4)
      val states = (0 until k).map(i => s"s$i")
      val pairs = for {
        f <- states; t <- states
        c = rnd.nextInt(5) if c > 0
      } yield (f, t, c.toLong)
      val st = states.toDF("state")
      def run() = graft.queries.ExtensionQueries
        .markovStationary(pairs.toDF("from_type", "to_type", "n"), st)
        .select("event_type", "stationary_ppm")
        .as[(String, Long)].collect().toSeq.sortBy(_._1)
      val a = run(); val b = run()
      assert(a === b, s"seed=$seed determinism")
      assert(a.forall(_._2 >= 0L), s"seed=$seed non-negative")
      val mass = a.map(_._2).sum
      assert(mass <= 1000000L && mass >= 1000000L - 20L * k * k,
        s"seed=$seed mass=$mass K=$k")
    }
  }

  test("property: meanExcess's threshold is the true ceil(0.95N) order " +
    "statistic on random value sets (driver-side sort cross-check)") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(200)
      val vs = Seq.fill(n)(rnd.nextInt(1000).toLong)
      val e = vs.zipWithIndex.map { case (v, i) => ("t", i.toLong, v) }
      val out = graft.queries.ExtensionQueries
        .meanExcess(e.toDF("event_type", "event_id", "v"))
        .select("n_total", "u_milli", "n_exceed", "mean_excess_milli")
        .as[(Long, Long, Long, Long)].head()
      val sorted = vs.sorted
      val u = sorted((95 * n + 99) / 100 - 1)
      val exc = vs.filter(_ > u)
      assert(out._1 === n.toLong, s"seed=$seed")
      assert(out._2 === u, s"seed=$seed threshold")
      assert(out._3 === exc.size.toLong, s"seed=$seed exceed count")
      assert(out._4 ===
        (if (exc.isEmpty) 0L else exc.map(_ - u).sum / exc.size),
        s"seed=$seed mean excess")
    }
  }

  test("property: provenance ledger (batch AND incremental) is total " +
    "and every verdict matches an independent driver-side " +
    "re-derivation of the stage rules on random collision-rich corpora") {
    import graft.queries.ExtensionQueries
    val stageOf = Map("unreadable" -> 0L, "heldout_benchmark" -> 1L,
      "too_short" -> 2L, "low_diversity" -> 3L, "duplicate" -> 4L,
      "contaminated" -> 5L, "kept" -> 6L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def toks(s: String): Seq[String] = s.split(" ", -1).toSeq
    def trigrams(s: String): Set[String] =
      toks(s).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def freshText(): String = {
        val n = 1 + rnd.nextInt(40)
        (0 until n).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
      }
      // build ids 0..119 where ~20% copy an EARLIER doc's text verbatim
      val corpus = (0 until 120).foldLeft(Vector.empty[(Long, String)]) {
        case (acc, i) =>
          val t = if (i > 0 && rnd.nextDouble() < 0.2)
            acc(rnd.nextInt(i))._2 else freshText()
          acc :+ (i.toLong, t)
      }
      val byId = corpus.toMap
      val bench = corpus.collect { case (id, t) if id % 100 == 0 => (id, t) }
      def contaminatedDriver(id: Long, t: String): Boolean =
        id % 100 != 0 && bench.exists { case (_, bt) =>
          (trigrams(t) intersect trigrams(bt)).size >= 2
        }
      def gatesDriver(id: Long, t: String,
                      isDup: Boolean): String = {
        val tk = toks(t)
        if (t == null) "unreadable"
        else if (id % 100 == 0) "heldout_benchmark"
        else if (tk.size < 20) "too_short"
        else if (tk.distinct.size * 10 < tk.size * 3) "low_diversity"
        else if (isDup) "duplicate"
        else if (contaminatedDriver(id, t)) "contaminated"
        else "kept"
      }

      // batch form: duplicate = not the min-id holder of the content
      val canon = corpus.groupBy(c => md5hex(c._2))
        .view.mapValues(_.map(_._1).min).toMap
      val expected = corpus.map { case (id, t) =>
        id -> gatesDriver(id, t, isDup = canon(md5hex(t)) != id)
      }.toMap
      val got = ExtensionQueries.provenanceLedger(corpus.toDF("doc_id", "text"))
        .as[(Long, Long, String)].collect()
      assert(got.map(_._1).sorted.toSeq === (0L until 120L), s"seed=$seed total")
      assert(got.forall { case (_, st, v) => stageOf(v) == st },
        s"seed=$seed stage<->verdict")
      got.foreach { case (id, _, v) =>
        assert(v === expected(id), s"seed=$seed doc=$id text='${byId(id)}'")
      }

      // incremental form on a random split: arrival beats id — content
      // hashed anywhere in base makes the new doc the duplicate; else
      // min-id within the batch
      val cut = 40 + rnd.nextInt(40)
      val (base, incoming) = corpus.partition(_._1 < cut)
      val baseH = base.map(c => md5hex(c._2)).toSet
      val batchCanon = incoming.groupBy(c => md5hex(c._2))
        .view.mapValues(_.map(_._1).min).toMap
      val expIncr = incoming.map { case (id, t) =>
        val h = md5hex(t)
        id -> gatesDriver(id, t,
          isDup = baseH.contains(h) || batchCanon(h) != id)
      }.toMap
      val gotIncr = ExtensionQueries.provenanceIncrLedger(
          incoming.toDF("doc_id", "text"), base.toDF("doc_id", "text"))
        .as[(Long, Long, String)].collect()
      assert(gotIncr.map(_._1).sorted.toSeq ===
        incoming.map(_._1).sorted, s"seed=$seed incr total")
      gotIncr.foreach { case (id, _, v) =>
        assert(v === expIncr(id), s"seed=$seed cut=$cut doc=$id")
      }
    }
  }
}
