package graft

import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextStats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** North-star ops: semantic unit tests against hand-computed expected
  * values (the sf0.01 oracle compare covers scale; this covers edges).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the mat"),   // exact dup of 1
    (3L, "the cat sat on that mat"),  // near dup
    (4L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, canonical id = min doc_id") {
    val out = Dedup.exact(docs).select("canonical_id", "n_copies")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("ngram jaccard finds the exact pair at threshold 1.0 and the " +
    "near pair at 0.5") {
    val strict = Dedup.ngramJaccard(docs, 1.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(strict.toSeq === Seq((1L, 2L)))
    val loose = Dedup.ngramJaccard(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sorted
    // {the,cat,sat,on,mat} vs {the,cat,sat,on,that,mat}: J = 5/6 ≈ .83
    assert(loose.toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash LSH catches exact dups in every band; simhash of " +
    "identical docs is identical") {
    val pairs = Dedup.minhashLsh(docs, numHashes = 16, bands = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.contains((1L, 2L)))
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(4L))
  }

  test("scrub redacts emails, phones, long digit runs, and collapses " +
    "whitespace — in that order") {
    val d = Seq(
      (1L, "mail bob.smith+x@corp.example.org  now"),
      (2L, "call 555-123-4567 or 555 987 6543"),
      (3L, "ssn 123456789 card 4111111111111111"),
      (4L, "clean   text    here"),
      (5L, "short 12345678 stays") // 8 digits: below the id threshold
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextStats.scrub(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "mail <EMAIL> now")
    assert(out(2L) === "call <PHONE> or <PHONE>")
    assert(out(3L) === "ssn <ID> card <ID>")
    assert(out(4L) === "clean text here")
    assert(out(5L) === "short 12345678 stays")
  }

  test("deterministic sampling: bernoulli is a pure function of the id; " +
    "capPerStratum thins big strata to ~cap and passes small ones whole") {
    val df = (1 to 2000).map(i => (i.toLong, if (i <= 1850) "big" else "small"))
      .toDF("id", "k")
    val s1 = Sampling.bernoulli(df, "id", 0.25).as[(Long, String)].collect().toSet
    val s2 = Sampling.bernoulli(df, "id", 0.25).as[(Long, String)].collect().toSet
    assert(s1 === s2)                       // identical across runs
    assert(s1.size > 380 && s1.size < 620)  // ~500 of 2000
    // a lower fraction's sample NESTS inside a higher one (slot order)
    val s3 = Sampling.bernoulli(df, "id", 0.1).as[(Long, String)].collect().toSet
    assert(s3.subsetOf(s1))
    val capped = Sampling.capPerStratum(df, "k", "id", cap = 200)
      .as[(Long, String)].collect()
    val byK = capped.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byK("small") === 150)            // under cap: kept whole
    assert(byK("big") > 120 && byK("big") < 280) // ~200 of 1850
  }

  test("splitByGroup keeps every group on one side of the boundary") {
    val df = (1 to 3000).map(i => (i.toLong, (i % 100).toLong)).toDF("id", "grp")
    val split = Sampling.splitByGroup(df, "grp", 0.2)
      .select("grp", "split").as[(Long, String)].collect()
    val sides = split.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sides.values.forall(_.size == 1)) // no group straddles
    val testGroups = sides.count(_._2 == Set("test"))
    assert(testGroups > 8 && testGroups < 35) // ~20 of 100 groups
  }

  test("topNgrams counts occurrences and doc frequency with " +
    "deterministic ties; docs shorter than n contribute nothing") {
    val d = Seq(
      (1L, "a b a b c"),   // bigrams: "a b" x2, "b a", "b c"
      (2L, "a b"),          // "a b"
      (3L, "z")             // too short for bigrams
    ).toDF("doc_id", "text")
    val out = TextStats.topNgrams(d, n = 2, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(out === Seq(("a b", 3L, 2L), ("b a", 1L, 1L), ("b c", 1L, 1L)))
  }

  test("chunk: overlapping windows cover every token, final short " +
    "window kept, short doc yields one chunk") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b")                                      // shorter than size
    ).toDF("doc_id", "text")
    val out = TextStats.chunk(d, chunkSize = 4, stride = 3)
      .as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2))
    assert(out.filter(_._1 == 1L).toSeq === Seq(
      (1L, 0, "w1 w2 w3 w4", 4),
      (1L, 1, "w4 w5 w6 w7", 4),
      (1L, 2, "w7 w8 w9 w10", 4),
      (1L, 3, "w10", 1)))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b", 2)))
  }

  test("contamination flags docs sharing >= minShared distinct trigrams " +
    "with a benchmark doc, counts set overlap not occurrences") {
    val corpus = Seq(
      (1L, "the quick brown fox runs"),            // shares 2 trigrams
      (2L, "a quick brown fox appears"),           // shares 1 -> clean
      (3L, "totally unrelated words here"),
      (4L, "the quick brown the quick brown fox")  // repeats: still 2 DISTINCT
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val out = TextStats.contamination(corpus, bench, n = 3, minShared = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 100L, 2L), (4L, 100L, 2L)))
  }

  test("connectedComponents: chains collapse to min label, singletons " +
    "stay their own cluster, converges past a 3-hop diameter") {
    val pairs = Seq(
      (2L, 5L), (5L, 9L), (9L, 11L),   // chain 2-5-9-11 (diameter 3)
      (7L, 8L)                          // separate pair
    ).toDF("doc_a", "doc_b")
    val nodes = Seq(2L, 5L, 7L, 8L, 9L, 11L, 42L).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, nodes)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(cc.toSeq === Seq(
      (2L, 2L), (5L, 2L), (7L, 7L), (8L, 7L), (9L, 2L), (11L, 2L), (42L, 42L)))
  }

  test("incremental minhash == full minhash restricted to pairs that " +
    "touch a new doc") {
    val indexed = docs.filter(col("doc_id") <= 2)
    val fresh = docs.filter(col("doc_id") > 2)
    val index = Dedup.minhashBands(indexed)
    val incr = Dedup.minhashLshIncremental(fresh, index)
      .as[(Long, Long)].collect().sorted.toSeq
    val full = Dedup.minhashLsh(docs).as[(Long, Long)].collect()
      .filter { case (a, b) => a > 2 || b > 2 }.sorted.toSeq
    assert(incr === full)
    // and the exact-dup pair (1,2) is NOT re-reported (both indexed)
    assert(!incr.contains((1L, 2L)))
  }

  test("cosine/dot on known vectors; bruteForceTopK ranks correctly") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (50L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, k = 3, dim = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // nearest to (1,0): 50 (cos≈.9988), then 1 (cos≈.9939), then 2 (0)
    assert(top.toSeq === Seq((50L, 1), (1L, 2), (2L, 3)))
  }

  test("incremental embedding near-dup == full near-dup restricted to " +
    "pairs that touch a new vector") {
    val emb = (1 to 80).map { i =>
      // clustered: four base directions with deterministic jitter
      val base = Array.tabulate(8)(d => if (d == i % 4) 10f else 0f)
      (i.toLong, base.zipWithIndex.map { case (b, d) => b + ((i * 3 + d) % 7) * 0.1f })
    }.toDF("vec_id", "embedding")
    val indexed = emb.filter(col("vec_id") <= 60)
    val fresh = emb.filter(col("vec_id") > 60)
    val index = graft.ops.Similarity.lshBands(
      indexed.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")),
      "vec_id", "v", tables = 2, planes = 4, dim = 8)
    val incr = Dedup.embeddingNearDupIncremental(fresh, indexed, index,
        threshold = 0.8, planes = 4, tables = 2, dim = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().sorted.toSeq
    val full = Dedup.embeddingNearDup(emb, 0.8, planes = 4, tables = 2, dim = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .filter { case (a, b) => a > 60 || b > 60 }.sorted.toSeq
    assert(incr === full)
    assert(incr.nonEmpty) // the clusters guarantee cross-boundary pairs
  }

  test("native DotProduct == HOF fold == unrolled chain, bit-for-bit; " +
    "null element and length mismatch both nullify") {
    val vecs = (1 to 50).map { i =>
      (i.toLong,
        Array.tabulate(16)(d => (i * 31 + d * 17) % 23 * 0.37 - 3.1),
        Array.tabulate(16)(d => (i * 13 + d * 29) % 19 * 0.53 - 2.7))
    }.toDF("id", "a", "b")
    val unrolled = (1 to 16).map(i =>
      element_at(col("a"), i) * element_at(col("b"), i)).reduce(_ + _)
    val rows = vecs.select(
        graft.functions.DotProduct(col("a"), col("b")).as("native"),
        Similarity.dot(col("a"), col("b")).as("hof"),
        unrolled.as("chain"))
      .as[(Double, Double, Double)].collect()
    rows.foreach { case (n, h, c) =>
      assert(java.lang.Double.doubleToLongBits(n) === java.lang.Double.doubleToLongBits(h))
      assert(java.lang.Double.doubleToLongBits(n) === java.lang.Double.doubleToLongBits(c))
    }
    // null element -> null result (matches the chain's element_at null)
    val withNull = Seq((Array[java.lang.Double](1.0, null, 3.0),
      Array[java.lang.Double](1.0, 1.0, 1.0))).toDF("a", "b")
    assert(withNull.select(graft.functions.DotProduct(col("a").cast("array<double>"),
      col("b").cast("array<double>"))).collect().head.isNullAt(0))
    // length mismatch -> null, matching zip_with's null padding
    val uneven = Seq((Array(2.0, 3.0), Array(10.0, 10.0, 99.0))).toDF("a", "b")
    assert(uneven.select(graft.functions.DotProduct(col("a"), col("b")))
      .collect().head.isNullAt(0))
    // array<float> inputs coerce at analysis (ImplicitCastInputTypes),
    // preserving the old element_at chain's per-element casts
    val fl = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(fl.select(graft.functions.DotProduct(col("a"), col("b")))
      .as[Double].collect().head === 11.0)
  }

  test("kmeans recovers planted clusters and improves the IVF index " +
    "over the stride quantizer") {
    // three tight clusters around orthogonal directions in R^4
    val base = Map(0 -> Array(10f, 0f, 0f, 0f), 1 -> Array(0f, 10f, 0f, 0f),
      2 -> Array(0f, 0f, 10f, 0f))
    val vecs = (0 until 90).map { i =>
      val c = i % 3
      // deterministic small jitter, never flips the dominant axis
      val jit = Array.tabulate(4)(d => ((i * 7 + d * 3) % 5) * 0.1f)
      (i.toLong, base(c).zip(jit).map { case (b, j) => b + j })
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(vecs, k = 3, iters = 3, dim = 4)
    assert(cents.count() === 3)
    // purity: every vector's nearest trained centroid equals its
    // planted cluster's (use ivfTopK's own assignment path: k=1 over
    // the corpus as queries against itself would self-match, so assert
    // via centroid dominant axis instead)
    val axes = cents.collect().map(_.getSeq[Double](1))
      .map(v => v.indexOf(v.max)).sorted
    assert(axes.toSeq === Seq(0, 1, 2)) // one centroid per planted axis
    // trained centroids plug into ivfTopK and return sane neighbors:
    // same-cluster vectors dominate each query's top list
    val queries = vecs.filter(col("vec_id") < 3)
    val out = Similarity.ivfTopK(queries, vecs, k = 5, dim = 4,
        centroids = Some(cents))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (q, n) => q % 3 === n % 3 }) // cluster purity
  }

  test("kmeansExact: hand-computed micro centroids, partitioning-" +
    "independent output, planted-cluster purity") {
    // hand case (dim 2, float-exact components so floor(x*1e6) is
    // unambiguous): init = ids 1,2; one Lloyd round assigns v1->c1,
    // {v2,v3,v4}->c2; means: c1=(1000000,0) n=1, c2=(250000,750000) n=3
    val hand = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.25f, 0.75f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansExact(hand, k = 2, iters = 1, dim = 2)
      .select("centroid_id", "n_members", "cm")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 1L, Seq(1000000L, 0L)),
      (2L, 3L, Seq(250000L, 750000L))))
    // determinism: the exact-integer mean makes the output a pure
    // function of the DATA — any partitioning yields identical longs
    // (the property the float-mean kmeans cannot promise, and the one
    // that lets q_kmeans sit under the DuckDB hash gate)
    val out7 = Similarity.kmeansExact(hand.repartition(7), k = 2,
        iters = 1, dim = 2)
      .select("centroid_id", "n_members", "cm")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    assert(out7.toSeq === out.toSeq)
    // planted clusters (the float-kmeans fixture): one trained
    // centroid per orthogonal axis, and the trained index serves
    // cluster-pure neighbors through ivfTopK's centroids hook
    val base = Map(0 -> Array(10f, 0f, 0f, 0f), 1 -> Array(0f, 10f, 0f, 0f),
      2 -> Array(0f, 0f, 10f, 0f))
    val vecs = (0 until 90).map { i =>
      val jit = Array.tabulate(4)(d => ((i * 7 + d * 3) % 5) * 0.1f)
      (i.toLong, base(i % 3).zip(jit).map { case (b, j) => b + j })
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansExact(vecs, k = 3, iters = 3, dim = 4)
    val axes = cents.select("centroid_id", "centv").collect()
      .map(_.getSeq[Double](1)).map(v => v.indexOf(v.max)).sorted
    assert(axes.toSeq === Seq(0, 1, 2))
    assert(cents.select(sum("n_members")).as[Long].head() === 90L)
    val out3 = Similarity.ivfTopK(vecs.filter(col("vec_id") < 3), vecs,
        k = 5, dim = 4,
        centroids = Some(cents.select("centroid_id", "centv")))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out3.nonEmpty)
    assert(out3.forall { case (q, n) => q % 3 === n % 3 })
  }

  test("kmeansExact edges: iters=0 returns the seed table with zero " +
    "memberships, k > N degrades to N seeds, identical vectors " +
    "collapse to one surviving centroid") {
    val dup = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val init = Similarity.kmeansExact(dup, k = 5, iters = 0, dim = 2)
      .select("centroid_id", "n_members", "cm")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    assert(init.toSeq === (1L to 3L).map(i =>
      (i, 0L, Seq(500000L, 500000L))))
    // one Lloyd round: all ties break to the lowest centroid id, the
    // other seeds lose every member and drop (standard Lloyd)
    val one = Similarity.kmeansExact(dup, k = 5, iters = 2, dim = 2)
      .select("centroid_id", "n_members", "cm")
      .as[(Long, Long, Seq[Long])].collect()
    assert(one.toSeq === Seq((1L, 3L, Seq(500000L, 500000L))))
  }

  test("ngramClustersPrefix == connectedComponents over the full " +
    "verified pair list on a >64-vocab fixture with set-dups, " +
    "null text, and empty-token docs") {
    // vocab > 64 so this is the path the adaptive router would take;
    // cliques + exact-set duplicates (different order/multiplicity) +
    // a joining superset + singletons + null + empty-text twins
    def t(i: Int) = s"t$i"
    val docsRows: Seq[(Long, String)] =
      (1 to 5).map { i =>   // 10-token clique, doc i drops token i-1
        (i.toLong, (0 until 10).filter(_ != i - 1).map(t).mkString(" "))
      } ++ Seq(
        (6L, "t20 t21 t22 t23 t24 t25"),
        (7L, "t25 t24 t23 t22 t21 t20"),          // same set, reversed
        (8L, "t20 t20 t21 t22 t23 t24 t25 t20"),  // same set, multiset
        (9L, (40 to 50).map(t).mkString(" ")),    // singleton
        (10L, null),                              // null text: singleton
        (11L, (55 to 68).map(t).mkString(" ")),   // singleton, pads vocab>64
        (12L, "t20 t21 t22 t23 t24 t25 t26"),     // J=6/7 joins the dup set
        (13L, ""), (14L, ""))                     // empty-token twins
    val docs = docsRows.toDF("doc_id", "text")
    val full = Dedup.connectedComponents(
        Dedup.ngramJaccardPrefix(docs, 0.8, "doc_id", "text")
          .select("doc_a", "doc_b"), docs)
      .as[(Long, Long)].collect().sortBy(_._1)
    val contracted = Dedup.ngramClustersPrefix(docs, 0.8)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(contracted.toSeq === full.toSeq)
    val lbl = contracted.toMap
    assert(Set(1L, 2L, 3L, 4L, 5L).map(lbl) === Set(1L))  // clique
    assert(Set(6L, 7L, 8L, 12L).map(lbl) === Set(6L))     // set-dups+superset
    assert(lbl(9L) === 9L && lbl(10L) === 10L && lbl(11L) === 11L)
    assert(lbl(13L) === 13L && lbl(14L) === 13L)          // empty twins join
  }

  test("quantizeInt8: values in [-127,127], dequantization error " +
    "bounded by scale/127, zero and non-finite vectors dropped") {
    val emb = Seq(
      (1L, Array(3.0f, -1.5f, 0.25f, -3.0f)),
      (2L, Array(0f, 0f, 0f, 0f)),                     // zero vector
      (3L, Array(1f, Float.NaN, 2f, 3f)),              // NaN element
      (4L, Array(1f, Float.PositiveInfinity, 2f, 3f))  // Inf element
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb)
      .as[(Long, Double, Seq[Long])].collect()
    assert(out.length === 1)
    val (id, scale, q) = out.head
    assert(id === 1L && scale === 3.0)
    assert(q.forall(x => x >= -127 && x <= 127))
    val orig = Seq(3.0, -1.5, 0.25, -3.0)
    q.zip(orig).foreach { case (qi, v) =>
      assert(math.abs(qi * scale / 127 - v) <= scale / 127 + 1e-12)
    }
  }

  test("native GramBucketIds == chain-form gramBuckets: values, order, " +
    "null text, empty text, unicode, multi-space") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "single"),
      (3L, ""),                     // no surviving tokens
      (4L, null),                   // null text
      (5L, "héllo wörld ünïcode"),
      (6L, "a  b   c")              // empty tokens filtered before bigrams
    ).toDF("doc_id", "text")
    def rows(c: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), c.as("g"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    val native = rows(TextStats.gramBuckets("text", 1024))
    val chain = rows(TextStats.gramBucketsChain("text", 1024))
    assert(native === chain)
    // sanity: doc 1 has 4 unigrams + 3 bigrams, in that order
    assert(native(1L).length === 7)
    // repeated token buckets identically
    assert(native(1L)(0) === native(1L)(3))
  }

  test("native HyperplaneBuckets == chain-form lshBucket per table on " +
    "random vectors") {
    val vecs = (1 to 60).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 13 + d * 7) % 11 - 5) * 0.7))
    }.toDF("vec_id", "v")
    val tables = 3; val planes = 5
    val native = vecs.select(col("vec_id"),
        graft.functions.HyperplaneBuckets(col("v"), tables, planes, 16).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    val chain = vecs.select(col("vec_id") +: (0 until tables).map(t =>
        Similarity.lshBucket(col("v"), planes, 16, t * planes).as(s"b$t")): _*)
      .as[(Long, Long, Long, Long)].collect()
    chain.foreach { case (id, b0, b1, b2) =>
      assert(native(id) === Seq(b0, b1, b2), s"vec $id")
    }
  }

  test("repetitionSignals: hand-computed fractions; short doc has null " +
    "bigram share; null text emits no row") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "x"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionSignals(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Option[Double], Double)].collect()
    assert(out.length === 2)
    val (id1, n1, dw1, tw1, tb1, mw1) = out(0)
    assert(id1 === 1L && n1 === 3L)
    assert(math.abs(dw1 - 2.0 / 3) < 1e-12)     // 2 distinct of 3
    assert(math.abs(tw1 - 2.0 / 3) < 1e-12)     // "a" twice
    assert(math.abs(tb1.get - 0.5) < 1e-12)     // "a a" 1 of 2 bigrams
    assert(math.abs(mw1 - 1.0) < 1e-12)
    val (id2, n2, _, _, tb2, _) = out(1)
    assert(id2 === 2L && n2 === 1L && tb2.isEmpty)
  }

  test("tfidfTopTerms: idf-0 terms rank below rare terms, ties break on " +
    "term, ranks are 1-based and capped at k") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextStats.tfidfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, String, Double, Int)].collect()
    val ln2 = math.log(2.0)
    assert(out.map(r => (r._1, r._2, r._4)).toSeq === Seq(
      (1L, "b", 1), (1L, "a", 2), (2L, "c", 1), (2L, "a", 2)))
    assert(math.abs(out(0)._3 - ln2 / 3) < 1e-12)  // (1/3)*ln(2/1)
    assert(out(1)._3 === 0.0)                       // df = N -> idf 0
    assert(math.abs(out(2)._3 - ln2 / 2) < 1e-12)
  }

  test("tokenDrift ranks frequency movers with one-sided tokens " +
    "counting zero on the absent side") {
    val a = Seq((1L, "a a b")).toDF("doc_id", "text")
    val b = Seq((2L, "a c")).toDF("doc_id", "text")
    val out = TextStats.tokenDrift(a, b, k = 3)
      .as[(String, Double, Double, Double)].collect()
    // deltas: c = 1/2, b = 1/3, a = |2/3 - 1/2| = 1/6
    assert(out.map(_._1).toSeq === Seq("c", "b", "a"))
    assert(math.abs(out(0)._4 - 0.5) < 1e-12)
    assert(math.abs(out(1)._4 - 1.0 / 3) < 1e-12)
    assert(math.abs(out(2)._4 - 1.0 / 6) < 1e-12)
  }

  test("first-shared-band emission: minhashLsh emits each candidate " +
    "pair EXACTLY once and the set equals the distinct of all band " +
    "collisions") {
    val docs = (1 to 120).map { i =>
      // overlapping families -> plenty of multi-band collisions
      (i.toLong, (0 until 10).map(k => s"fam${i % 6}tok$k").mkString(" ") + s" v${i % 3}")
    }.toDF("doc_id", "text")
    val got = Dedup.minhashLsh(docs, numHashes = 16, bands = 4)
      .as[(Long, Long)].collect()
    // exactly once: no duplicates in the raw output
    assert(got.length === got.distinct.length)
    // same SET as the naive all-band distinct
    val bands = Dedup.minhashBands(docs, 16, 4)
    val l = bands.alias("l")
    val r = bands.withColumnRenamed("doc_id", "doc_b_").alias("r")
    val naive = l.join(r,
        col("l.band_key") === col("r.band_key") &&
          col("l.b") === col("r.b") &&
          col("l.doc_id") < col("r.doc_b_"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_b_").as("doc_b"))
      .distinct().as[(Long, Long)].collect()
    assert(got.toSet === naive.toSet)
    assert(got.nonEmpty)
  }

  test("packSequences: start offsets are the exclusive prefix sum in " +
    "global order; output is invariant to input partitioning and " +
    "matches the single-partition window form") {
    val chunks = Seq(
      (1L, 0L, 5L), (1L, 1L, 3L), (2L, 0L, 4L), (2L, 1L, 2L)
    ).toDF("doc_id", "chunk_idx", "n_tokens")
    val out = graft.ops.Pack.packSequences(chunks, budget = 8L)
      .select("doc_id", "chunk_idx", "tok_start", "seq_id", "seq_offset")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, 0L, 0L),
      (1L, 1L, 5L, 0L, 5L),
      (2L, 0L, 8L, 1L, 0L),   // straddle: starts exactly at the boundary
      (2L, 1L, 12L, 1L, 4L)))
    // partitioning must not change the result (pure function of the set)
    val repart = graft.ops.Pack.packSequences(chunks.repartition(7), budget = 8L)
      .select("doc_id", "chunk_idx", "tok_start", "seq_id", "seq_offset")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(repart.toSeq === out.toSeq)
    // equivalence with the (serial) un-partitioned window formulation
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id", "chunk_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val windowed = chunks
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(windowed.map(_._3).toSeq === out.map(_._3).toSeq)
  }

  test("native MinHashHex == interpreted signature chain == dict chain, " +
    "bit-for-bit; null text yields numHashes null minima") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta beta epsilon"),          // duplicate tokens
      (3L, "zeta"),
      (4L, null.asInstanceOf[String]),    // null text
      (5L, "")                            // split("") -> [""], one empty token
    ).toDF("doc_id", "text")
    val toks = Dedup.tokenSet(col("text"))
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "")
    val rows = docs.select(col("doc_id"),
        graft.functions.MinHashHex(toks, 8, vocab).as("native_dict"),
        graft.functions.MinHashHex(toks, 8, Array.empty[String]).as("native_fly"),
        Dedup.minhashSignature(toks, 8).as("chain"),
        Dedup.minhashSignatureDict(toks, 8, vocab).as("dict_chain"))
      .as[(Long, Seq[String], Seq[String], Seq[String], Seq[String])]
      .collect()
    rows.foreach { case (id, nd, nf, ch, dc) =>
      assert(nd === ch, s"doc $id native-dict vs chain")
      assert(nf === ch, s"doc $id native-fly vs chain")
      assert(dc === ch, s"doc $id dict-chain vs chain")
    }
    // null text: an ARRAY of nulls, not a null array
    val nullRow = rows.find(_._1 == 4L).get
    assert(nullRow._2 === Seq.fill(8)(null))
  }

  test("HyperplaneBuckets on SHORT vectors: a plane touching a missing " +
    "dimension contributes bit 0 (out-of-range == null element)") {
    val dim = 16; val tables = 2; val planes = 5; val shortLen = 12
    val data = (1 to 20).map { i =>
      (i.toLong, Array.tabulate(shortLen)(d => ((i * 13 + d * 7) % 11 - 5) * 0.7))
    }
    val native = data.toDF("vec_id", "v")
      .select(col("vec_id"),
        graft.functions.HyperplaneBuckets(col("v"), tables, planes, dim).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    data.foreach { case (id, v) =>
      val expect = (0 until tables).map { t =>
        var bucket = 0L
        for (p <- 0 until planes) {
          val row = Similarity.planeCoeffs(t * planes + p, dim)
          // any nonzero coefficient past the vector end nullifies the
          // whole plane's projection -> bit 0
          if (!(shortLen until dim).exists(d => row(d) != 0)) {
            var s = 0.0
            for (d <- 0 until shortLen) if (row(d) != 0) s += row(d) * v(d)
            if (s > 0) bucket |= (1L << p)
          }
        }
        bucket
      }
      assert(native(id) === expect, s"vec $id")
    }
  }

  test("multi-probe LSH: candidate set is a superset of the exact-bucket " +
    "set, and probed scores equal brute-force for the pairs it finds") {
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 11 + d * 5) % 13 - 6) * 0.4f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") % 10 === 0)
    def pairs(probe: Int) =
      Similarity.lshTopK(qs, vecs, k = 100, planes = 6, tables = 2, dim = 8,
          probeBits = probe)
        .select("query_id", "neighbor_id", "cos_q")
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val exact = pairs(0)
    val probed = pairs(1)
    assert(exact.keySet.subsetOf(probed.keySet))
    assert(probed.size > exact.size) // the 1-flip shell found new pairs
    // scores come from the same exact cosine on both paths
    exact.foreach { case (k2, v) => assert(probed(k2) === v) }
    val brute = Similarity.bruteForceTopK(qs, vecs, k = 100, dim = 8)
      .select("query_id", "neighbor_id", "cos_q")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    probed.foreach { case (k2, v) => assert(brute(k2) === v) }
  }

  test("ivfTopK nprobe=2: candidates are a superset of nprobe=1 with " +
    "identical exact scores") {
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 17 + d * 7) % 15 - 7) * 0.3f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") % 10 === 0)
    def res(np: Int) =
      Similarity.ivfTopK(qs, vecs, k = 100, centroidStride = 7, dim = 8,
          nprobe = np)
        .select("query_id", "neighbor_id", "cos_q")
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val one = res(1)
    val two = res(2)
    assert(one.keySet.subsetOf(two.keySet))
    assert(two.size > one.size) // the second list adds candidates
    one.foreach { case (k2, v) => assert(two(k2) === v) }
  }

  test("lshBucket is deterministic and in range [0, 2^planes)") {
    // non-constant values so no plane's sparse +/-1 projection is
    // exactly zero (a constant vector zeroes any plane with equally
    // many +1 and -1 coefficients, and sign(0) is not complementary)
    val vec = Array.tabulate(64)(i => (i + 1) * 0.1f)
    val emb = Seq((0L, vec), (1L, vec.map(-_)))
      .toDF("vec_id", "embedding")
    val b = emb.select(
      Similarity.lshBucket(transform(col("embedding"), x => x.cast("double")),
        planes = 4, dim = 64).as("b"))
      .as[Long].collect()
    assert(b.forall(x => x >= 0 && x < 16))
    // opposite vectors land in complementary buckets (every plane flips)
    assert(b(0) + b(1) === 15L)
  }

  test("languageId picks the stopword argmax with fixed tie precedence") {
    val d = Seq(
      (1L, "the cat and the dog"),      // en
      (2L, "der hund und die katze"),   // de
      (3L, "xyz qqq zzz")               // no hits -> first lang (en) wins tie
    ).toDF("doc_id", "text")
    val out = TextStats.languageId(d)
      .select("doc_id", "pred_lang", "n_hits").as[(Long, String, Int)]
      .collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, "en", 3), (2L, "de", 3), (3L, "en", 0)))
  }

  test("quality + tokenCounts arithmetic on a known doc") {
    val d = Seq((1L, "the the cat")).toDF("doc_id", "text")
    val q = TextStats.quality(d)
      .select("n_chars", "n_tokens", "n_distinct", "stopword_ratio")
      .as[(Int, Int, Int, Double)].head()
    assert(q === ((11, 3, 2, 2.0 / 3)))
    val t = TextStats.tokenCounts(d)
      .select("n_ws_tokens", "n_distinct_tokens", "n_bpe_tokens", "n_bpe_est")
      .as[(Int, Int, Long, Long)].head()
    // BPE-ish pre-tokens of "the the cat": "the", " the", " cat"
    assert(t === ((3, 2, 3L, 3L))) // ceil(11/4) = 3
    // mixed classes: letters / digits / punctuation / glued space
    val m = TextStats.tokenCounts(
        Seq((1L, "ab12, cd!")).toDF("doc_id", "text"))
      .select("n_bpe_tokens").as[Long].head()
    // "ab" | "12" | "," | " cd" | "!"
    assert(m === 5L)
  }

  test("fingerprint: identical docs share both fingerprints; shingle " +
    "fp survives trailing-whitespace normalization differences") {
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d f"))
      .toDF("doc_id", "text")
    val fp = TextStats.fingerprint(d)
      .select("doc_id", "content_fp", "shingle_fp")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(fp(0)._2 === fp(1)._2); assert(fp(0)._3 === fp(1)._3)
    assert(fp(0)._2 !== fp(2)._2)
  }

  test("decodeMedia folds the real sniff dispatch to the compact " +
    "media-meta shape: image = 1 frame with real header dims, audio " +
    "frames = PCM sample frames, video = real dims + null frame " +
    "count, unknown = bytes only, null payload = all null") {
    val wav = Multimodal.wavBytes(Array(10, -20, 30, 40, -50), 8000)
    val a = Multimodal.decodeMedia(wav)
    assert(a.getLong(0) === wav.length.toLong &&
      a.isNullAt(1) && a.isNullAt(2) && a.getInt(3) === 5)
    val bmp = Multimodal.bmpBytes(Array(0x112233, 0x445566, 0x778899), 3)
    val b = Multimodal.decodeMedia(bmp)
    assert(b.getLong(0) === bmp.length.toLong &&
      b.getInt(1) === 3 && b.getInt(2) === 1 && b.getInt(3) === 1)
    val mp4 = Multimodal.mp4Bytes(600, 1800L, Array((320, 240)))
    val v = Multimodal.decodeMedia(mp4)
    assert(v.getLong(0) === mp4.length.toLong &&
      v.getInt(1) === 320 && v.getInt(2) === 240 && v.isNullAt(3))
    val u = Multimodal.decodeMedia("plain old words".getBytes("UTF-8"))
    assert(u.getLong(0) === 15L && (1 to 3).forall(u.isNullAt))
    assert((0 to 3).forall(Multimodal.decodeMedia(null).isNullAt))
    // and through the per-partition frame contract, nulls included
    val d = Seq((1L, bmp), (2L, wav), (3L, null))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeMeta(d, "payload")
      .select("doc_id", "n_bytes", "width", "n_frames")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) === 3 && out(1L).getInt(3) === 1)
    assert(out(2L).isNullAt(2) && out(2L).getInt(3) === 5)
    assert((1 to 3).forall(out(3L).isNullAt))
  }

  test("multimodal REAL decode: ImageIO extracts true width/height/" +
    "channels/format from generated PNG and JPEG bytes; null and " +
    "garbage payloads yield null meta") {
    def encode(w: Int, h: Int, fmt: String, imgType: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, imgType)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    val png = encode(320, 200, "png", java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jpg = encode(64, 48, "jpg", java.awt.image.BufferedImage.TYPE_INT_RGB)
    val d = Seq(
      (1L, png), (2L, jpg),
      (3L, "not an image at all".getBytes("UTF-8")), (4L, null))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeImageMeta(d, "payload")
      .select("doc_id", "n_bytes", "width", "height", "channels", "format")
      .as[(Long, Option[Long], Option[Int], Option[Int], Option[Int], Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(out(0) === ((1L, Some(png.length.toLong), Some(320), Some(200),
      Some(3), Some("png"))))
    assert(out(1)._3 === Some(64))
    assert(out(1)._4 === Some(48))
    assert(out(1)._6.exists(f => f == "jpeg" || f == "jpg"))
    assert(out(2) === ((3L, Some(19L), None, None, None, None)))
    assert(out(3) === ((4L, None, None, None, None, None)))
  }

  test("multimodal REAL thumbnails: aspect-preserving PNG re-encode, " +
    "dimensions verified by decoding the emitted thumbnail bytes") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val d = Seq((1L, png(1280, 480)), (2L, png(100, 50)), (3L, null))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeThumbnails(d, "payload", maxEdge = 640)
      .select("doc_id", "thumb_width", "thumb_height")
      .as[(Long, Option[Int], Option[Int])].collect().sortBy(_._1).toSeq
    // 1280x480 -> 640x240 (long edge capped); 100x50 passes through
    assert(out === Seq((1L, Some(640), Some(240)),
      (2L, Some(100), Some(50)), (3L, None, None)))
    // thumbnail bytes are a REAL decodable PNG
    val bytes = Multimodal.decodeThumbnails(d, "payload", maxEdge = 640)
      .filter(col("doc_id") === 1L).select("thumb_png")
      .as[Array[Byte]].head()
    val reread = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(reread.getWidth === 640 && reread.getHeight === 240)
  }

  test("indexHealth: exact ppm shares and the cross-multiplied skew " +
    "flag on a planted hot list") {
    val idx = (1 to 90).map(i => (i.toLong, if (i <= 60) "hot" else s"k${i % 3}"))
      .toDF("id", "list")
    val out = graft.ops.Profile.indexHealth(idx, "list")
      .select("list_key", "n_items", "n_lists", "total_items", "share_ppm", "skewed")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // 4 lists over 90 items, mean 22.5: hot=60 (>2x mean, flagged),
    // k0/k1/k2 = 10 each (not flagged)
    assert(out.map(_._1) === Seq("hot", "k0", "k1", "k2"))
    assert(out.head === (("hot", 60L, 4L, 90L, 666666L, true)))
    assert(out.tail.forall(r => r._2 === 10L && r._5 === 111111L && !r._6))
  }

  test("rebuildDecision: skew x load quadrant maps to the right " +
    "action; unprobed lists default to cold (n_probes 0, hot false)") {
    // 4 lists over 90 items, mean 22.5: "hot" (60) is the only skewed
    // list (same fixture as the indexHealth spec above)
    val idx = (1 to 90).map(i => (i.toLong, if (i <= 60) "hot" else s"k${i % 3}"))
      .toDF("id", "list")
    val health = graft.ops.Profile.indexHealth(idx, "list")
    // traffic: 70 probes on the skewed list, 28 on k0, 2 on k1, none
    // on k2 -> mean 25/list: hot iff n_probes > 50 (2000 permille)
    val loads = Seq(("hot", 70L), ("k0", 28L), ("k1", 2L))
      .toDF("list_key", "n_probes")
    val out = graft.ops.Profile.rebuildDecision(health, loads)
      .select("list_key", "n_probes", "load_ppm", "hot", "decision")
      .as[(String, Long, Long, Boolean, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      ("hot", 70L, 700000L, true, "split_now"),
      ("k0", 28L, 280000L, false, "ok"),
      ("k1", 2L, 20000L, false, "ok"),
      ("k2", 0L, 0L, false, "ok")))
    // the two remaining quadrants: skewed-but-cold and hot-but-balanced
    val loads2 = Seq(("k0", 99L), ("k1", 1L)).toDF("list_key", "n_probes")
    val out2 = graft.ops.Profile.rebuildDecision(health, loads2)
      .select("list_key", "decision").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(out2 === Seq(("hot", "rebalance"), ("k0", "replicate"),
      ("k1", "ok"), ("k2", "ok")))
    // a list born AFTER the audit (absent from health) taking most of
    // the traffic must still surface — hot via the audit-level list
    // count, size unknown (null), never skewed -> replicate
    val loadsPost = Seq(("post_audit", 90L), ("k0", 10L))
      .toDF("list_key", "n_probes")
    val outPost = graft.ops.Profile.rebuildDecision(health, loadsPost)
      .select("list_key", "n_items", "n_probes", "hot", "decision")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2), r.getBoolean(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(outPost.contains(("post_audit", -1L, 90L, true, "replicate")))
    assert(outPost.contains(("k0", 10L, 10L, false, "ok")))
    assert(outPost.size === 5) // 4 audited lists + the post-audit one
    // empty load sample: every list cold, no divide-by-zero
    val none = Seq.empty[(String, Long)].toDF("list_key", "n_probes")
    val out3 = graft.ops.Profile.rebuildDecision(health, none)
      .select("load_ppm", "hot").as[(Long, Boolean)].collect()
    assert(out3.forall(r => r._1 === 0L && !r._2))
  }

  test("decodeWav parses a REAL WAV container (javax.sound-written " +
    "bytes): format/channels/rate/bits/samples/duration from the " +
    "header; foreign and truncated payloads degrade to nulls") {
    // 8 kHz, 16-bit, mono, little-endian PCM; 1600 samples = 200 ms
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](1600 * 2)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 1600)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val wav = buf.toByteArray
    val m = Multimodal.decodeWav(wav)
    assert(m.getLong(0) === wav.length.toLong)
    assert(m.getInt(1) === 1)       // PCM format tag
    assert(m.getInt(2) === 1)       // mono
    assert(m.getInt(3) === 8000)    // sample rate
    assert(m.getInt(4) === 16)      // bits per sample
    assert(m.getLong(5) === 1600L)  // samples
    assert(m.getLong(6) === 200L)   // duration ms
    assert(m.getString(7) === "wav")
    // stereo at 44.1 kHz exercises blockAlign > 2
    val fmt2 = new javax.sound.sampled.AudioFormat(44100f, 16, 2, true, false)
    val ais2 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](441 * 4)), fmt2, 441)
    val buf2 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais2,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf2)
    val m2 = Multimodal.decodeWav(buf2.toByteArray)
    assert(m2.getInt(2) === 2 && m2.getInt(3) === 44100 &&
      m2.getLong(5) === 441L && m2.getLong(6) === 10L)
    // degradation tier: foreign bytes, header-only truncation, null
    val foreign = Multimodal.decodeWav("not audio at all".getBytes)
    assert(foreign.getLong(0) === 16L && (1 to 7).forall(foreign.isNullAt))
    val truncated = Multimodal.decodeWav(wav.take(10))
    assert(truncated.getLong(0) === 10L && (1 to 7).forall(truncated.isNullAt))
    assert((0 to 7).forall(Multimodal.decodeWav(null).isNullAt))
    // streaming-writer placeholder size 0xFFFFFFFF: under Int
    // truncation this went negative and pinned the chunk walk in an
    // infinite loop — must terminate and degrade, not hang the task
    val lying = ("RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++
      "WAVEjunk".getBytes ++ Array[Byte](-1, -1, -1, -1) ++
      new Array[Byte](16))
    val m3 = Multimodal.decodeWav(lying)
    assert(m3.getLong(0) === lying.length.toLong && (1 to 7).forall(m3.isNullAt))
    // and through the per-partition frame contract
    val df = Seq((1L, wav), (2L, "x".getBytes)).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudioMeta(df, "payload")
      .select("doc_id", "sample_rate", "container")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getInt(1) === 8000 && out(0).getString(2) === "wav")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  test("decodePcmStats REALLY decodes PCM samples — exact integer " +
    "peak/RMS/DC/clip/silence, wavBytes and javax.sound containers " +
    "agree, 8-bit unsigned center, degrade tiers") {
    // hand-computable 16-bit samples through the canonical writer
    val samples = Array(0, 16384, -16384, 32767, -32768, 0)
    val wav = Multimodal.wavBytes(samples, sampleRate = 8000)
    // the header parser accepts the writer's container
    val hdr = Multimodal.decodeWav(wav)
    assert(hdr.getInt(1) === 1 && hdr.getInt(2) === 1 &&
      hdr.getInt(3) === 8000 && hdr.getInt(4) === 16 && hdr.getLong(5) === 6L)
    val st = Multimodal.decodePcmStats(wav)
    assert(st.getLong(0) === 6L)
    assert(st.getDouble(1) === 1.0) // peak |−32768|/32768
    val sumSq = samples.map(v => v.toLong * v).sum
    val sum = samples.map(_.toLong).sum
    assert(st.getDouble(2) === math.sqrt(sumSq.toDouble / 6) / 32768)
    assert(st.getDouble(3) === (sum.toDouble / 6) / 32768)
    assert(st.getDouble(4) === 2.0 / 6) // 32767 and −32768 past 32640
    assert(st.getDouble(5) === 2.0 / 6) // the two zeros within ±128
    // javax.sound writes the same samples → bit-identical stats (the
    // decoder is container-layout-robust, not tuned to our writer)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(v => pcm.putShort(v.toShort))
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, 6)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    assert(Multimodal.decodePcmStats(buf.toByteArray) === st)
    // out-of-range writer input clamps deterministically
    val clamped = Multimodal.decodePcmStats(Multimodal.wavBytes(Array(40000)))
    assert(clamped.getLong(0) === 1L && clamped.getDouble(1) === 32767.0 / 32768)
    // 8-bit unsigned: bytes 128,0,255,128 center to 0,−128,127,0
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def wav8(format: Int, data: Array[Byte]) =
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(format) ++ le16(1) ++
        le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8) ++
        "data".getBytes ++ le32(data.length) ++ data
    val s8 = Multimodal.decodePcmStats(
      wav8(1, Array[Byte](128.toByte, 0, 255.toByte, 128.toByte)))
    assert(s8.getLong(0) === 4L)
    assert(s8.getDouble(1) === 1.0) // |−128|/128
    assert(s8.getDouble(2) === math.sqrt((16384.0 + 16129.0) / 4) / 128)
    assert(s8.getDouble(3) === (-1.0 / 4) / 128)
    assert(s8.getDouble(4) === 1.0 / 4) // clip threshold 128: only −128
    assert(s8.getDouble(5) === 2.0 / 4) // silence threshold 0: exact centers
    // truncated payload audits the samples actually present (whole
    // samples only): 6 of 12 data bytes → 3 of 6 samples
    val st3 = Multimodal.decodePcmStats(wav.dropRight(6))
    assert(st3.getLong(0) === 3L)
    assert(st3.getDouble(1) === 16384.0 / 32768)
    // degrade tiers: empty data chunk → (0, nulls); IEEE-float format
    // tag, foreign bytes, null → all-null
    val empty = Multimodal.decodePcmStats(Multimodal.wavBytes(Array.empty[Int]))
    assert(empty.getLong(0) === 0L && (1 to 5).forall(empty.isNullAt))
    assert((0 to 5).forall(Multimodal.decodePcmStats(
      wav8(3, Array[Byte](0, 0, 0, 0))).isNullAt))
    assert((0 to 5).forall(Multimodal.decodePcmStats("not audio".getBytes).isNullAt))
    assert((0 to 5).forall(Multimodal.decodePcmStats(null).isNullAt))
    // synth→decode round-trip through the per-partition frame
    // contract: null sample arrays → all-null stats, real arrays →
    // real container → real parse
    val df = Seq((1L, Some(Seq(0, 16384))), (2L, None))
      .toDF("doc_id", "samples")
    val rt = Multimodal.synthWavStats(df, "samples")
      .select("doc_id", "n_samples", "peak")
      .collect().sortBy(_.getLong(0))
    assert(rt(0).getLong(1) === 2L && rt(0).getDouble(2) === 16384.0 / 32768)
    assert(rt(1).isNullAt(1) && rt(1).isNullAt(2))
  }

  test("decodePcmFrames: fixed-frame energy segmentation with the " +
    "exact integer voicing test (3·Σv² > n_f·FS², boundary-pinned), " +
    "longest-run tracking, partial last frame, degrade contract") {
    def block(v: Int, n: Int) = Array.fill(n)(v)
    // frames of 4: voiced, quiet, voiced, voiced, partial-quiet
    val samples = block(32000, 4) ++ block(1000, 4) ++ block(32000, 4) ++
      block(-32000, 4) ++ block(1000, 2)
    val f = Multimodal.decodePcmFrames(4)(Multimodal.wavBytes(samples))
    assert(f.getLong(0) === 5L) // 4 full + 1 partial
    assert(f.getLong(1) === 3L)
    assert(f.getDouble(2) === 3.0 / 5)
    assert(f.getLong(3) === 2L) // frames 3,4 voiced back-to-back
    // the voicing boundary is EXACT integer arithmetic: constant
    // amplitude a is voiced iff 3a² > FS² — one amplitude step apart
    assert(Multimodal.decodePcmFrames(4)(
      Multimodal.wavBytes(block(18919, 4))).getLong(1) === 1L)
    assert(Multimodal.decodePcmFrames(4)(
      Multimodal.wavBytes(block(18918, 4))).getLong(1) === 0L)
    // empty data chunk and degrade tiers
    val empty = Multimodal.decodePcmFrames(4)(
      Multimodal.wavBytes(Array.empty[Int]))
    assert(empty.getLong(0) === 0L && empty.getLong(1) === 0L &&
      empty.isNullAt(2) && empty.getLong(3) === 0L)
    assert((0 to 3).forall(
      Multimodal.decodePcmFrames(4)("not audio".getBytes).isNullAt))
    assert((0 to 3).forall(Multimodal.decodePcmFrames(4)(null).isNullAt))
  }

  test("decodeImagePixels REALLY reads pixels (hand-assembled BMP and " +
    "an ImageIO-written PNG of the same pixels give bit-identical " +
    "stats): exact channel sums, Rec.709 dark boundary, degrade tiers") {
    // 3x2 image with hand-computable channel sums; stride padding
    // exercised (3*3 = 9 bytes/row pads to 12)
    val rgb = Array(0xFF0000, 0x00FF00, 0x0000FF, 0x000000, 0xFFFFFF, 0x808080)
    val st = Multimodal.decodeImagePixels(Multimodal.bmpBytes(rgb, 3))
    assert(st.getInt(0) === 3 && st.getInt(1) === 2 && st.getLong(2) === 6L)
    assert(st.getDouble(3) === (255.0 + 0 + 0 + 0 + 255 + 128) / 6)
    assert(st.getDouble(4) === (0.0 + 255 + 0 + 0 + 255 + 128) / 6)
    assert(st.getDouble(5) === (0.0 + 0 + 255 + 0 + 255 + 128) / 6)
    // dark (luma < 128): red (luma 54), blue (18), black (0) — green
    // (182), white (255), and gray-128 (exactly 128, strict <) are not
    assert(st.getDouble(6) === 3.0 / 6)
    // same pixels through the JDK's own PNG writer → identical stats:
    // the decoder is format-agnostic, not tuned to our BMP layout
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, rgb(y * 3 + x))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    assert(Multimodal.decodeImagePixels(buf.toByteArray) === st)
    // Rec.709 boundary is the EXACT integer test: gray 127 is dark,
    // gray 128 is not (2126r+7152g+722b = 1280000 exactly, strict <)
    assert(Multimodal.decodeImagePixels(
      Multimodal.bmpBytes(Array(0x7F7F7F), 1)).getDouble(6) === 1.0)
    assert(Multimodal.decodeImagePixels(
      Multimodal.bmpBytes(Array(0x808080), 1)).getDouble(6) === 0.0)
    // degrade tiers: foreign bytes, null
    assert((0 to 6).forall(
      Multimodal.decodeImagePixels("not an image".getBytes).isNullAt))
    assert((0 to 6).forall(Multimodal.decodeImagePixels(null).isNullAt))
    // synth→decode round-trip through the per-partition frame: null
    // and empty pixel arrays → all-null stats
    val df = Seq((1L, Some(Seq(0xFF0000, 0x000000))), (2L, None),
      (3L, Some(Seq.empty[Int]))).toDF("doc_id", "pixels")
    val rt = Multimodal.synthBmpStats(df, "pixels")
      .select("doc_id", "width", "n_pixels", "mean_r")
      .collect().sortBy(_.getLong(0))
    assert(rt(0).getInt(1) === 2 && rt(0).getLong(2) === 2L &&
      rt(0).getDouble(3) === 127.5)
    assert(rt(1).isNullAt(1) && rt(2).isNullAt(1))
  }

  test("importanceWeights (DSIR hashed n-gram log-ratio) scores " +
    "target-like docs above off-target ones, counts grams exactly, " +
    "omits empty docs, and quantizes before the per-doc sum") {
    val raw = Seq(
      (1L, "the cat sat", "en"),
      (2L, "le chat noir", "fr"),
      (3L, "the dog sat", "en"),
      (4L, "", "fr")).toDF("doc_id", "text", "lang")
    val out = TextStats.importanceWeights(
      raw, raw.filter(col("lang") === "en"))
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(!rows.contains(4L)) // no grams, no row
    // 3 tokens → 3 unigrams + 2 bigrams, exact regardless of bucket
    // collisions (counts sum over the doc's buckets)
    assert(rows.values.forall(_.getAs[Long]("n_grams") === 5L))
    val w = (id: Long) => rows(id).getAs[Double]("logw")
    // target-distribution docs carry positive weight (their buckets'
    // target share exceeds raw share); the off-target doc is negative
    assert(w(1L) > 0 && w(3L) > 0 && w(2L) < 0)
    assert(w(1L) > w(2L) && w(3L) > w(2L))
    // logw is exactly the quantized long sum / 10000
    assert(rows.values.forall(r =>
      r.getAs[Double]("logw") === r.getAs[Long]("sum_lrq").toDouble / 10000))
    // the single-scan subset path is BIT-IDENTICAL to the two-corpus
    // form whenever target = raw.filter(cond) — same counts, same
    // quantized ratios, same sums (this equality is what lets q_dsir
    // halve its gram-hash scans)
    val within = TextStats.importanceWeightsWithin(raw, col("lang") === "en")
    assert(within.orderBy("doc_id").collect().toSeq ===
      out.orderBy("doc_id").collect().toSeq)
    assert(within.columns.toSeq === out.columns.toSeq)
  }

  test("trainLinearProbe: the all-integer LMS actually LEARNS (squared " +
    "error drops, classes separate, majority classified) and stays " +
    "deterministic; iters=0 and token-less corpora degenerate cleanly") {
    val docs = (1 to 20).map { i =>
      if (i % 2 == 0) (i.toLong, "the cat sat on the mat", "en")
      else (i.toLong, "le chat noir dort bien", "fr")
    }.toDF("doc_id", "text", "lang")
    val w = TextStats.trainLinearProbe(docs, col("lang") === "en")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(w.size === 64)
    // score the training docs with the learned weights
    def pred(text: String): Long = text.split(" ").map { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val slot = (((md(0) & 0xff) << 8) | (md(1) & 0xff)) % 64
      w(slot)
    }.sum
    val en = pred("the cat sat on the mat")
    val fr = pred("le chat noir dort bien")
    val y = 1L << 20
    // error shrinks vs the zero model and the classes separate
    assert((en - y) * (en - y) < y * y)
    assert(fr * fr < y * y || fr === 0L)
    assert(en > fr)
    // majority-threshold classification at y/2 is perfect on this
    // separable fixture
    assert(en > y / 2 && fr < y / 2)
    // determinism: a re-train is bit-identical
    val w2 = TextStats.trainLinearProbe(docs, col("lang") === "en")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(w2 === w)
    // degenerate cases: zero iterations and token-less corpora
    assert(TextStats.trainLinearProbe(docs, col("lang") === "en", iters = 0)
      .filter(col("w_q") =!= 0L).isEmpty)
    val empty = Seq((1L, "", "en")).toDF("doc_id", "text", "lang")
    assert(TextStats.trainLinearProbe(empty, col("lang") === "en")
      .filter(col("w_q") =!= 0L).isEmpty)
  }

  test("decodeMp4 parses a spec-conformant ISO-BMFF box tree: movie " +
    "timescale/duration from mvhd (v0 and v1), dims from the first " +
    "video tkhd (audio tracks carry zeros), track count; foreign and " +
    "truncated payloads degrade to nulls") {
    def be(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
    def u32(v: Long) = java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    def u64(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    def u16(v: Int) = java.nio.ByteBuffer.allocate(2).putShort(v.toShort).array()
    def fourcc(s: String) = s.getBytes("US-ASCII")
    def boxOf(typ: String, body: Array[Byte]) =
      be(u32(8L + body.length), fourcc(typ), body)
    def tkhdV0(w: Int, h: Int) = boxOf("tkhd", be(
      u32(0), u32(0), u32(0), u32(1), u32(0), u32(0),  // verflags..duration
      u64(0), u16(0), u16(0), u16(0), u16(0),          // rsvd, layer, alt, vol, rsvd
      new Array[Byte](36),                              // matrix
      u32(w.toLong << 16), u32(h.toLong << 16)))        // 16.16 dims
    val mvhdV0 = boxOf("mvhd", be(
      u32(0), u32(0), u32(0), u32(600), u32(1800),      // ts 600, dur 1800
      new Array[Byte](80)))                             // rate..next_track
    val moov = boxOf("moov", be(mvhdV0,
      boxOf("trak", tkhdV0(0, 0)),                      // audio: zero dims
      boxOf("trak", tkhdV0(640, 360))))                 // video
    val ftyp = boxOf("ftyp", be(fourcc("isom"), u32(0x200)))
    val mp4 = be(ftyp, boxOf("mdat", new Array[Byte](32)), moov)
    val m = Multimodal.decodeMp4(mp4)
    assert(m.getLong(0) === mp4.length.toLong)
    assert(m.getString(1) === "isom")
    assert(m.getInt(2) === 600)
    assert(m.getLong(3) === 3000L)   // 1800 / 600 s = 3000 ms
    assert(m.getInt(4) === 2)        // both tracks counted
    assert(m.getInt(5) === 640 && m.getInt(6) === 360)
    assert(m.getString(7) === "mp4")
    // v1 mvhd: 64-bit times + duration
    val mvhdV1 = boxOf("mvhd", be(
      Array[Byte](1, 0, 0, 0), u64(0), u64(0), u32(90000), u64(450000),
      new Array[Byte](80)))
    val mp4v1 = be(ftyp, boxOf("moov", mvhdV1))
    val m1 = Multimodal.decodeMp4(mp4v1)
    assert(m1.getInt(2) === 90000 && m1.getLong(3) === 5000L)
    // degradation tier: foreign bytes, truncation, null
    val foreign = Multimodal.decodeMp4("definitely not a video".getBytes)
    assert(foreign.getLong(0) === 22L && (1 to 7).forall(foreign.isNullAt))
    val trunc = Multimodal.decodeMp4(mp4.take(40))
    assert(trunc.getLong(0) === 40L && (2 to 7).forall(trunc.isNullAt))
    assert((0 to 7).forall(Multimodal.decodeMp4(null).isNullAt))
    // and through the per-partition frame contract
    val df = Seq((1L, mp4), (2L, "x".getBytes)).toDF("doc_id", "payload")
    val out = Multimodal.decodeVideoMeta(df, "payload")
      .select("doc_id", "duration_ms", "width", "container")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getLong(1) === 3000L && out(0).getInt(2) === 640 &&
      out(0).getString(3) === "mp4")
    assert(out(1).isNullAt(1) && out(1).isNullAt(3))
  }

  test("inferBatched serves the GPU-session contract: results are " +
    "batch-boundary INVARIANT, forwards see exactly the packed batch " +
    "sizes (full batches + one final partial flush), and null texts " +
    "bypass the session in input order") {
    import graft.ops.Inference
    val docs = (1 to 23)
      .map(i => (i.toLong, if (i % 9 == 0) null else s"w${i % 5} w${i % 3} x$i"))
      .toDF("doc_id", "text")
    def serve(b: Int, onF: Int => Unit = _ => ()) =
      Inference.inferBatched(docs.coalesce(1), "text", dim = 16,
          classes = 3, batchSize = b, onForward = onF)
        .select("doc_id", "pred_class", "logit_q")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getInt(1),
          if (r.isNullAt(2)) null else r.getLong(2)))
        .sortBy(_._1).toSeq
    val ref = serve(1000)
    // a model whose output depends on its batch neighbors cannot be
    // served from a repartitionable corpus — every batch size agrees
    for (b <- Seq(1, 4, 7)) assert(serve(b) === ref, s"batchSize=$b")
    // nulls (doc 9, 18) ride through as null predictions, in order
    assert(ref.count(_._2 == null) === 2)
    assert(ref.filter(_._2 == null).map(_._1) === Seq(9L, 18L))
    // forward-call accounting at B=4 on one ordered partition:
    // 1-8 -> 4+4, null 9 (pending empty), 10-17 -> 4+4, null 18,
    // 19-22 -> 4, end-flush 23 -> 1
    val sizes = spark.sparkContext.collectionAccumulator[Int]("fwd")
    serve(4, n => sizes.add(n))
    val got = sizes.value
    assert(got.size === 6 && got.asScala.sum === 21, got.toString)
    assert(got.asScala.count(_ == 4) === 5 && got.asScala.count(_ == 1) === 1)
    // the hash convention matches the engine-portable md5-prefix form
    // Spark and DuckDB both compute (first 5 md5 hex digits) % dim
    val tok = "w2"
    val sparkB = spark.sql(
      s"SELECT CAST(conv(substring(md5('bkt:$tok'), 1, 5), 16, 10) % 16 AS INT)")
      .head().getInt(0)
    assert(Inference.bucketOf(tok, 16) === sparkB)
  }

  test("inferBatchedBroadcast is the real-model deployment shape: " +
    "bit-identical to the arithmetic head when the broadcast carries " +
    "denseWeights, the weights ride the BROADCAST not the closure " +
    "(the serialized handle is orders of magnitude smaller than the " +
    "model), and the wrong-shape model fails on the driver") {
    import graft.ops.Inference
    val docs = (1 to 40)
      .map(i => (i.toLong, if (i % 9 == 0) null else s"w${i % 7} w${i % 4} y$i"))
      .toDF("doc_id", "text")
    // a deliberately NON-trivial shape so the size contrast is real
    val dim = 512; val classes = 8
    val w = Inference.denseWeights(dim, classes)
    // forwardDense over denseWeights == forward, row for row
    val xs = Array(Array.tabulate(dim)(b => if (b % 37 == 0) 2 else 0),
      Array.tabulate(dim)(b => b % 3))
    assert(Inference.forwardDense(xs, w, dim, classes).map(_.toSeq).toSeq ===
      Inference.forward(xs, dim, classes).map(_.toSeq).toSeq)
    // end-to-end: broadcast path == arithmetic path on every row
    val bc = spark.sparkContext.broadcast(w)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "pred_class", "logit_q").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getInt(1),
        if (r.isNullAt(2)) null else r.getLong(2))).sortBy(_._1).toSeq
    val viaBc = rows(Inference.inferBatchedBroadcast(
      docs, "text", bc, dim = dim, classes = classes, batchSize = 6))
    val viaArith = rows(Inference.inferBatched(
      docs, "text", dim = dim, classes = classes, batchSize = 6))
    assert(viaBc === viaArith)
    // the deployment claim, measured: serializing the broadcast HANDLE
    // (what each task closure carries) costs a few hundred bytes;
    // serializing the MODEL (what a closure-captured array would cost
    // per task) is 8*dim*classes = 32 KiB+. Model >> handle.
    def serSize(o: AnyRef): Int = {
      val buf = new java.io.ByteArrayOutputStream()
      val os = new java.io.ObjectOutputStream(buf)
      os.writeObject(o); os.close(); buf.size()
    }
    val handleBytes = serSize(bc)
    val modelBytes = serSize(w)
    assert(modelBytes > 8 * dim * classes, s"model $modelBytes")
    assert(handleBytes * 10 < modelBytes,
      s"broadcast handle ($handleBytes B) must be far smaller than " +
        s"the model ($modelBytes B) — weights must not ride the closure")
    // wrong-shape model: fails on the DRIVER, before any task launches
    intercept[IllegalArgumentException] {
      Inference.inferBatchedBroadcast(docs, "text",
        spark.sparkContext.broadcast(Array(1L, 2L, 3L)),
        dim = dim, classes = classes)
    }
  }

  test("mp4Bytes <-> decodeMp4 round-trip: exact container size " +
    "(132 + 100*tracks), zero-dim sound tracks written FIRST are " +
    "counted but skipped for display dims, floor-divided duration_ms; " +
    "router (SniffKind) and decode (sniffMedia) tiers agree on every " +
    "written MP4 — the video leg of the writer/parser agreement " +
    "contract") {
    val mp4 = Multimodal.mp4Bytes(1200, 4800L,
      Array((0, 0), (0, 0), (320, 240)), "mp42")
    assert(mp4.length === 132 + 300)
    val m = Multimodal.decodeMp4(mp4)
    assert(m.getLong(0) === mp4.length.toLong)
    assert(m.getString(1) === "mp42")
    assert(m.getInt(2) === 1200)
    assert(m.getLong(3) === 4000L) // 4800 units / 1200 ts = 4 s
    assert(m.getInt(4) === 3)      // sound tracks counted...
    assert(m.getInt(5) === 320 && m.getInt(6) === 240) // ...dims skipped
    assert(m.getString(7) === "mp4")
    // duration_ms floors: 500 units at timescale 600 -> 833 ms
    assert(Multimodal.decodeMp4(
      Multimodal.mp4Bytes(600, 500L, Array((16, 16)))).getLong(3) === 833L)
    // two-tier agreement on the written container
    assert(graft.functions.SniffKind.compute(mp4).toString === "video")
    val s = Multimodal.sniffMedia(mp4)
    assert(s.getString(0) === "video" && s.getInt(2) === 320 &&
      s.getInt(3) === 240 && s.getLong(6) === 4000L)
    // synthMp4Meta: per-partition synth->decode; null brand -> null meta
    val df = Seq((1L, 600, 1800L, 2, 640, 360, "isom"),
        (2L, 600, 0L, 1, 16, 16, null: String))
      .toDF("doc_id", "ts", "dur", "ntr", "w", "h", "brand")
    val out = Multimodal.synthMp4Meta(df, "ts", "dur", "ntr", "w", "h", "brand")
      .select("doc_id", "n_bytes", "major_brand", "duration_ms",
        "n_tracks", "width")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getLong(1) === 332L && out(0).getString(2) === "isom" &&
      out(0).getLong(3) === 3000L && out(0).getInt(4) === 2 &&
      out(0).getInt(5) === 640)
    assert((1 to 5).forall(out(1).isNullAt))
  }

  test("sniffMedia routes by magic bytes alone: WAV -> real audio " +
    "parse, BMP/PNG -> real image parse, ISO-BMFF -> real video " +
    "parse, anything else -> kind 'unknown' with its byte length; " +
    "null payload -> all nulls; synthMedia builds the containers") {
    // audio: a wavBytes container (also exercised javax.sound-side in
    // the decodeWav test — the two writers agree on layout)
    val wav = Multimodal.wavBytes(Array(100, -200, 300, 0), sampleRate = 8000)
    val a = Multimodal.sniffMedia(wav)
    assert(a.getString(0) === "audio" && a.getLong(1) === wav.length.toLong)
    assert(a.getInt(4) === 8000 && a.getLong(5) === 4L)
    assert(a.isNullAt(2) && a.isNullAt(3))
    // image via our own BMP writer AND a foreign encoder (PNG through
    // ImageIO) — the sniff must not depend on the container being ours
    val bmp = Multimodal.bmpBytes(Array(0xff0000, 0x00ff00, 0x0000ff), 3)
    val b = Multimodal.sniffMedia(bmp)
    assert(b.getString(0) === "image" && b.getInt(2) === 3 && b.getInt(3) === 1)
    val img = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val pngBuf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngBuf)
    val p = Multimodal.sniffMedia(pngBuf.toByteArray)
    assert(p.getString(0) === "image" && p.getInt(2) === 5 && p.getInt(3) === 4)
    // video: minimal spec-conformant ftyp+moov tree
    def be(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
    def u32v(v: Long) = java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    def fourcc(s: String) = s.getBytes("US-ASCII")
    def boxOf(typ: String, body: Array[Byte]) =
      be(u32v(8L + body.length), fourcc(typ), body)
    val mp4 = be(boxOf("ftyp", be(fourcc("isom"), u32v(0x200))),
      boxOf("moov", boxOf("mvhd",
        be(u32v(0), u32v(0), u32v(0), u32v(600), u32v(1800),
          new Array[Byte](80)))))
    val v = Multimodal.sniffMedia(mp4)
    assert(v.getString(0) === "video" && v.getLong(6) === 3000L)
    // unknown + null tiers
    val u = Multimodal.sniffMedia("just some words".getBytes)
    assert(u.getString(0) === "unknown" && u.getLong(1) === 15L &&
      (2 to 6).forall(u.isNullAt))
    assert((0 to 6).forall(Multimodal.sniffMedia(null).isNullAt))
    // synthMedia -> sniffMeta end-to-end: sel routes, magic decides
    val base = Seq(
        (0L, 0, Seq(1, 2, 3), Seq(0x102030), "ignored"),
        (1L, 1, Seq(1), Seq(0x102030, 0x405060), "ignored"),
        (2L, 2, Seq(1), Seq(0x102030), "raw text"),
        (3L, 1, Seq(1), Seq.empty[Int], "empty pixels"),
        (4L, 0, Seq(1), Seq(0x102030), null: String))
      .toDF("doc_id", "sel", "samples", "pixels", "text")
    val out = Multimodal.sniffMeta(
        Multimodal.synthMedia(base, "sel", "samples", "pixels", "text"),
        "payload")
      .select("doc_id", "kind", "n_bytes", "width", "n_samples")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getString(1) === "audio" && out(0L).getLong(4) === 3L)
    assert(out(1L).getString(1) === "image" && out(1L).getInt(3) === 2)
    assert(out(2L).getString(1) === "unknown" && out(2L).getLong(2) === 8L)
    assert(out(3L).isNullAt(1)) // 0-width BMP cannot exist -> null payload
    assert(out(4L).isNullAt(1)) // null text -> null payload
  }

  test("no gated fixture text routes as a container: q_media_sniff's " +
    "oracle hardcodes kind='unknown' for sel=2 while the Spark side " +
    "routes by magic — this pin proves the two agree on every raw-text " +
    "payload at BOTH gated scales (sf0.001 and sf0.01), router tier " +
    "(SniffKind) and full decode tier (sniffMedia, incl. ImageIO " +
    "content probing) alike") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val texts = spark.read
        .parquet(s"/root/testdata/$sf/documents.parquet")
        .filter(col("doc_id") % 3 === 2 && col("text").isNotNull)
        .select("text").as[String].collect()
      assert(texts.nonEmpty)
      // router tier: header magic only — cheap enough to run both scales
      val magicHit = texts.find(t => graft.functions.SniffKind
        .compute(t.getBytes("UTF-8")).toString != "unknown")
      assert(magicHit.isEmpty,
        s"$sf raw-text payload matches a container magic: " +
          magicHit.map(_.take(40)).getOrElse(""))
      // decode tier: the full dispatcher (ImageIO probes content, not
      // just magic) must also surface every raw text as 'unknown'
      if (sf == "sf0.001") {
        val probe = texts.find(t =>
          Multimodal.sniffMedia(t.getBytes("UTF-8")).getString(0) != "unknown")
        assert(probe.isEmpty,
          s"sniffMedia routed a raw text as a container: " +
            probe.map(_.take(40)).getOrElse(""))
      }
    }
  }

  test("weightedTopK: integer-weight max-hash priorities match a " +
    "driver-side reference exactly; zero weights drop; the cap bounds " +
    "tickets") {
    def mdHex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rows = (1 to 20).map(i => (i.toLong, (i % 5).toLong)) // w in 0..4
    val out = graft.ops.Sampling
      .weightedTopK(rows.toDF("id", "w"), "id", col("w"), k = 5)
      .select("id", "priority").as[(Long, String)].collect().toSeq
    val ref = rows.filter(_._2 >= 1)
      .map { case (id, w) =>
        (id, (1L to math.min(w, 32L)).map(j => mdHex(s"$j:$id")).max) }
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .take(5)
    assert(out === ref) // ordered compare: priority desc, id asc
    // ids with weight 0 can never appear even with a huge k
    val all = graft.ops.Sampling
      .weightedTopK(rows.toDF("id", "w"), "id", col("w"), k = 99)
      .select("id").as[Long].collect().toSet
    assert(all === rows.filter(_._2 >= 1).map(_._1).toSet)
    // NULL weight drops the row (least() skips nulls, so an uncoalesced
    // null would win the CAP's worth of tickets instead)
    val withNull = Seq((1L, Some(3L)), (2L, None))
      .toDF("id", "w")
    val kept = graft.ops.Sampling
      .weightedTopK(withNull, "id", col("w"), k = 99)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L))
    // cap: weight 1000 under cap 2 draws exactly 2 tickets
    val capped = graft.ops.Sampling
      .weightedTopK(Seq((7L, 1000L)).toDF("id", "w"), "id", col("w"),
        k = 1, weightCap = 2)
      .select("priority").as[String].head()
    assert(capped === Seq(mdHex("1:7"), mdHex("2:7")).max)
  }

  test("splitHotLists: grouped 2-means over a split_now list separates " +
    "the planted sub-clusters; unflagged lists produce no centroids") {
    val dim = 8
    // group A hugs axis 0, group B hugs axis 4 (tiny per-member jitter
    // on disjoint axes keeps members distinct but groups separable)
    def vec(axis: Int, j: Int): Seq[Double] =
      (0 until dim).map(i =>
        if (i == axis) 1.0
        else if (i == (axis + 1 + j % 3) % dim) 0.05 else 0.0)
    val rows = (0 until 4).map(j => (j.toLong, 7L, vec(0, j))) ++
      (0 until 4).map(j => (10L + j, 7L, vec(4, j))) ++
      Seq((20L, 8L, vec(2, 0)), (21L, 8L, vec(2, 1)))
    val assignment = rows.toDF("vec_id", "centroid_id", "embedding")
      .withColumn("cv", transform(col("embedding"), x => x.cast("double")))
      .withColumn("cn", Similarity.norm(col("cv"), dim))
      .select("vec_id", "centroid_id", "cv", "cn")
    val decisions = Seq(("7", "split_now"), ("8", "ok"))
      .toDF("list_key", "decision")
    val out = Similarity.splitHotLists(assignment, decisions,
        k = 2, iters = 3, dim = dim)
      .select("list_key", "sub_id", "centv")
      .as[(String, Long, Seq[Double])].collect().sortBy(_._2)
    assert(out.map(_._1).toSet === Set("7")) // only the flagged list
    assert(out.map(_._2).toSeq === Seq(0L, 1L))
    // each replacement centroid is dominated by one planted axis
    val axes = out.map { case (_, _, c) => c.indexOf(c.max) }.toSet
    assert(axes === Set(0, 4))
    // and the split actually separates: every member is closer (cosine)
    // to the centroid of its own planted group
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byAxis = out.map { case (_, _, c) => c.indexOf(c.max) -> c }.toMap
    rows.filter(_._2 == 7L).foreach { case (_, _, v) =>
      val own = if (v(0) == 1.0) byAxis(0) else byAxis(4)
      val other = if (v(0) == 1.0) byAxis(4) else byAxis(0)
      assert(cos(v, own) > cos(v, other))
    }
    // swap-in: members of the split list land on "7:<sub>" keys split
    // exactly by planted group; the untouched list keeps its key
    val splits = Similarity.splitHotLists(assignment, decisions,
      k = 2, iters = 3, dim = dim)
    val updated = Similarity.applyListSplits(assignment, splits, dim = dim)
      .as[(Long, String)].collect().toMap
    assert(updated.size === 10)
    assert(updated(20L) === "8" && updated(21L) === "8")
    val groupA = (0 until 4).map(j => updated(j.toLong)).toSet
    val groupB = (0 until 4).map(j => updated(10L + j)).toSet
    assert(groupA.size === 1 && groupB.size === 1 && groupA != groupB)
    assert((groupA ++ groupB).forall(k => k == "7:0" || k == "7:1"))
  }

  test("resizeMeta preserves small media, scales the long edge to fit") {
    val d = Seq((1L, 320, 240), (2L, 1280, 480)).toDF("doc_id", "width", "height")
    val out = Multimodal.resizeMeta(d, maxEdge = 640)
      .select("doc_id", "out_width", "out_height")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 320, 240), (2L, 640, 240)))
  }

  test("synthWavSampleFrames samples REAL PCM frames: every k-th frame " +
    "of the written container with exact energy/peak from the bytes, " +
    "a ragged final frame kept short, null/empty clips emit no rows") {
    // 11 samples at frameLen 4 -> frames [0..3][4..7][8..10]; keep 0, 2
    val samples = Seq(100, -200, 300, 0, 5, 5, 5, 5, -7, 7, 32767)
    val d = Seq((1L, Some(samples)), (2L, Some(Seq.empty[Int])),
        (3L, Option.empty[Seq[Int]]))
      .toDF("doc_id", "samples")
    val out = Multimodal.synthWavSampleFrames(d, "samples",
        frameLen = 4, everyK = 2)
      .select("doc_id", "frame_idx", "frame_n", "frame_energy", "frame_peak")
      .as[(Long, Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out.map(_._1).distinct === Seq(1L), "empty/null clips: no rows")
    assert(out === Seq(
      (1L, 0L, 4, 100L*100 + 200L*200 + 300L*300, 300L),
      (1L, 2L, 3, 49L + 49L + 32767L*32767, 32767L)))
    // stride 1 keeps every frame — the middle frame's numbers are real
    val all = Multimodal.synthWavSampleFrames(
        Seq((1L, samples)).toDF("doc_id", "samples"), "samples",
        frameLen = 4, everyK = 1)
      .select("frame_idx", "frame_n", "frame_energy")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(all === Seq((0L, 4, 140000L), (1L, 4, 100L), (2L, 3, 1073676387L)))
  }

  test("bm25TopDocs: hand-computed Okapi scores, rank by quantized " +
    "score with doc_id tiebreak") {
    val d = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y z"))
      .toDF("doc_id", "text")
    // N = 3, avgdl = 9/3 = 3.0; df(x)=df(y)=df(z)=2 -> top-2 terms: x, y
    val out = TextStats.bm25TopDocs(d, nQueryTerms = 2, k = 5)
      .select("term", "doc_id", "rank", "score_q")
      .as[(String, Long, Int, Long)].collect().sortBy(r => (r._1, r._3))
    def score(c: Long, dl: Long): Double = {
      val idf = math.log((3.0 - 2 + 0.5) / (2 + 0.5) + 1)
      idf * (c * 2.2) / (c + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0))
    }
    def q(s: Double): Long = math.floor(s * 10000).toLong
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq(("x", 1L, 1), ("x", 2L, 2), ("y", 3L, 1), ("y", 1L, 2)))
    assert(out.map(_._4).toSeq ===
      Seq(q(score(2, 3)), q(score(1, 2)), q(score(3, 4)), q(score(1, 3))))
  }

  test("bm25WandTopDocs: the certified pruned top-k EQUALS brute-force " +
    "full scoring on the real corpus, at the default prefix depth AND " +
    "at d0=1 (forcing the threshold-algorithm doubling loop through " +
    "its uncertified rounds)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // brute force: fully score every doc matching any query term
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val probe = docs.filter(col("text").isNotNull)
      .select(count(lit(1)), sum(size(split(col("text"), " "))).cast("long"))
      .head()
    val n = probe.getLong(0); val avgdl = probe.getLong(1).toDouble / n
    val dl = tf.groupBy("doc_id").agg(sum("c").as("dl"))
    val qt = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(9).collect()
      .zipWithIndex.map { case (r, i) => (r.getString(0), r.getLong(1), i % 3) }
    val qdf = qt.toSeq.toDF("term", "df", "qid")
    val sc = log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1) *
      (col("c") * 2.2) /
      (col("c") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val brute = tf.join(qdf, Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("sq", floor(sc * 10000).cast("long"))
      .groupBy("qid", "doc_id")
      .agg(sum("sq").as("score_q"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score_q").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .select("qid", "doc_id", "rank", "score_q", "n_terms")
      .as[(Int, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3))
    for (d0 <- Seq(64, 1)) {
      val pruned = TextStats.bm25WandTopDocs(docs, d0 = d0)
        .as[(Int, Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._3))
      assert(pruned.toSeq === brute.toSeq, s"d0=$d0")
    }
  }

  test("lmScore: add-one-smoothed bigram log probs, quantized before " +
    "the per-doc sum; unseen context backs off to 1/V") {
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val test_ = Seq((1L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextStats.lmScore(train, test_)
      .select("doc_id", "n_bigrams", "sum_lpq")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // train: c(a,b)=2 c(b,a)=1; ctx a=2 b=1; V=2
    val lp1 = math.floor(math.log(3.0 / 4.0) * 10000).toLong  // (a,b): (2+1)/(2+2)
    val lp2 = math.floor(math.log(1.0 / 3.0) * 10000).toLong  // (b,c): (0+1)/(1+2)
    // "solo" has no bigram -> no row
    assert(out.toSeq === Seq((1L, 2L, lp1 + lp2)))
  }

  test("semDedup: within-cluster duplicates point at their lowest-id " +
    "witness; cross-cluster near-pairs are never candidates") {
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f, 0f)),   // ~cos 1 with 0, same cluster
      (2L, Array(0f, 0f, 1f, 0f)),
      (3L, Array(0f, 0f, 1f, 0.01f))    // ~cos 1 with 2, same cluster
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(e, threshold = 0.95, centroidStride = 2, dim = 4)
      .select("vec_id", "centroid_id", "dup_of", "keep")
      .as[(Long, Long, Option[Long], Boolean)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (0L, 0L, None, true), (1L, 0L, Some(0L), false),
      (2L, 2L, None, true), (3L, 2L, Some(2L), false)))
  }

  test("pqEncode picks the nearest sub-codebook entry; pqTopK ranks by " +
    "summed quantized table lookups with neighbor-id ties") {
    val e = Seq(
      (0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(0.4f, 0f, 10.4f, 10f)),
      (2L, Array(5f, 5f, 0f, 0f)),
      (3L, Array(5.4f, 5f, 0.4f, 0f))
    ).toDF("vec_id", "embedding")
    // codes = vectors 0 and 2; subspaces: dims 1-2 and 3-4
    val cb = Similarity.pqCodebooks(e, m = 2, dim = 4, codeStride = 2)
    val enc = Similarity.pqEncode(e, cb, m = 2, dim = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(enc === Set((0L, 0, 0L), (0L, 1, 0L), (1L, 0, 0L), (1L, 1, 0L),
      (2L, 0, 2L), (2L, 1, 2L), (3L, 0, 2L), (3L, 1, 2L)))
    val out = Similarity.pqTopK(e.filter(col("vec_id") === 1), e, k = 3,
        m = 2, dim = 4, codeStride = 2)
      .select("neighbor_id", "rank", "adc_q")
      .as[(Long, Int, Long)].collect().sortBy(_._2)
    def q(d: Double): Long = math.floor(d * 10000).toLong
    // expectations built from the FLOAT-rounded values the engine sees
    // (0.4f != 0.4), folded in the same element order
    val f04 = 0.4f.toDouble
    val f104 = 10.4f.toDouble
    val near = q(f04 * f04) + q((f104 - 10.0) * (f104 - 10.0)) // codes (0,0)
    val far = q((f04 - 5.0) * (f04 - 5.0) + 25.0) +
      q(f104 * f104 + 100.0)                                   // codes (2,2)
    // vec 2 and vec 3 share codes (2,2) -> identical adc, id tiebreak
    assert(out.toSeq === Seq((0L, 1, near), (2L, 2, far), (3L, 3, far)))
  }

  test("canonicalByScore elects the highest-score member per cluster " +
    "with id tiebreak") {
    val cl = Seq((1L, 1L, 5L), (2L, 1L, 9L), (3L, 1L, 9L), (4L, 4L, 2L))
      .toDF("doc_id", "cluster_id", "score")
    val out = Dedup.canonicalByScore(cl, col("score"))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // cluster 1: docs 2 and 3 tie at score 9 -> lowest id (2) wins
    assert(out.toSeq === Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 1L, 2L, false), (4L, 4L, 4L, true)))
  }

  test("exactKPerStratum keeps exactly min(k, stratum size) rows, " +
    "stable under repartitioning") {
    val d = (1L to 100L).map(i => (i, if (i <= 90) "big" else "small"))
      .toDF("id", "stratum")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.exactKPerStratum(df, "stratum", "id", k = 20)
        .as[(Long, String)].collect().toSet
    val out = run(d)
    assert(out === run(d.repartition(7)))
    assert(out.count(_._2 == "big") === 20)
    assert(out.count(_._2 == "small") === 10) // fewer than k -> all kept
  }

  test("pqTrain recovers exact sub-cluster patterns; trained codebooks " +
    "plug into pqTopK via the codebooks hook") {
    // two exact patterns per subspace, repeated -> Lloyd means converge
    // to the patterns themselves
    val a = Array(0f, 0f, 1f, 1f)
    val b = Array(10f, 10f, -1f, -1f)
    val e = (0L to 5L).map(i => (i, if (i % 2 == 0) a else b))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(e, m = 2, dim = 4, k = 2, iters = 2)
    val entries = cb.as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3.toList).toSet).toMap
    assert(entries(0) === Set(List(0.0, 0.0), List(10.0, 10.0)))
    assert(entries(1) === Set(List(1.0, 1.0), List(-1.0, -1.0)))
    val top = Similarity.pqTopK(e.filter(col("vec_id") === 0), e, k = 2,
      m = 2, dim = 4, codebooks = Some(cb))
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // trained codes are exact -> even ids (same pattern) rank first
    assert(top.map(_._1).toSeq === Seq(2L, 4L))
  }

  test("ivfPqTopK equals pqTopK when nprobe covers every posting list") {
    val e = (0L to 7L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 13 + d * 5) % 9 - 4).toFloat))
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 4 === 0)
    val viaPq = Similarity.pqTopK(q, e, k = 3, m = 2, dim = 4, codeStride = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    // centroidStride 4 -> centroids {0, 4}; nprobe 2 covers both
    val viaIvfPq = Similarity.ivfPqTopK(q, e, k = 3, nprobe = 2, m = 2,
        dim = 4, centroidStride = 4, codeStride = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(viaIvfPq === viaPq)
  }

  test("meanPool: micro-fixed-point sums give an order-free mean; " +
    "stable under repartitioning") {
    val e = Seq(
      (0L, Array(1.5f, -2.25f)),
      (1L, Array(0.5f, 0.75f)),
      (10L, Array(3f, 4f))
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.meanPool(df, expr("vec_id div 10"))
        .select("group_id", "dim_idx", "n", "sum_micro", "mean_v")
        .as[(Long, Int, Long, Long, Double)].collect().toSet
    val out = run(e)
    assert(out === run(e.repartition(5)))
    // group 0: dims (1.5+0.5, -2.25+0.75) over 2 vectors
    assert(out === Set(
      (0L, 0, 2L, 2000000L, 1.0), (0L, 1, 2L, -1500000L, -0.75),
      (1L, 0, 1L, 3000000L, 3.0), (1L, 1, 1L, 4000000L, 4.0)))
  }

  test("referentialCheck counts matches and per-side orphans once each") {
    val l = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val r = Seq(3L, 4L, 5L).toDF("vec_id")
    val out = graft.ops.Profile.referentialCheck(l, r, "doc_id", "vec_id")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out === ((4L, 3L, 2L, 2L, 1L)))
  }

  test("histogram: fixed-width bins, out-of-range values clamped to " +
    "the edge bins, nulls dropped") {
    val d = Seq(Some(-5.0), Some(0.0), Some(9.9), Some(10.0), Some(25.0),
      Some(99.9), Some(100.0), Some(250.0), None)
      .toDF("v")
    val out = graft.ops.Profile.histogram(d, "v", lo = 0.0, hi = 100.0, bins = 10)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (0L, 3L, -5.0, 9.9),      // -5 clamps into bin 0
      (1L, 1L, 10.0, 10.0),
      (2L, 1L, 25.0, 25.0),
      (9L, 3L, 99.9, 250.0)))   // 100 and 250 clamp into bin 9
  }

  test("weightedSample: weight 0 drops, weight >= 1 keeps, fractional " +
    "weights gate on the id slot") {
    val d = (1L to 200L).toDF("id")
      .withColumn("w", when(col("id") <= 50, 0.0)
        .when(col("id") <= 100, 1.5).otherwise(0.25))
    val kept = Sampling.weightedSample(d, "id", col("w"))
      .select("id").as[Long].collect().toSet
    assert(kept.intersect((1L to 50L).toSet).isEmpty)      // w=0: none
    assert((51L to 100L).forall(kept.contains))            // w>=1: all
    val frac = (101L to 200L).filter(kept.contains)
    val slots = d.filter(col("id") > 100)
      .select(col("id"), Sampling.hashSlot(col("id")).as("s"))
      .as[(Long, Long)].collect().toMap
    val expected = (101L to 200L).filter(id =>
      slots(id) < math.floor(0.25 * 65536).toLong)
    assert(frac.toSet === expected.toSet)
  }

  test("shardAssign: dense 0-based positions per shard, stable under " +
    "repartitioning, shard = md5-slot mod numShards") {
    val d = (1L to 40L).toDF("id")
    val a = Sampling.shardAssign(d, "id", numShards = 3)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    val b = Sampling.shardAssign(d.repartition(7), "id", numShards = 3)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    assert(a === b)                       // partition-layout invariant
    assert(a.map(_._1).size === 40)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3) === (0L until rows.size).toSet) // dense ranks
    }
    val slots = d.select(col("id"), Sampling.hashSlot(col("id")).as("s"))
      .as[(Long, Long)].collect().toMap
    a.foreach { case (id, shard, _) => assert(shard === (slots(id) % 3).toInt) }
  }
  test("duplicateSpans: cross-doc window sharing counted, internal-only " +
    "repetition and short docs excluded") {
    val d = Seq(
      (1L, "a b c d e"),             // windows(3): abc bcd cde
      (2L, "x a b c d"),             // windows: xab abc bcd -> shares 2
      (3L, "p q r s t"),             // no shared windows
      (4L, "u v"),                   // < 3 tokens: no row
      (5L, "m n o m n o m n")        // "m n o" repeats WITHIN one doc only
    ).toDF("doc_id", "text")
    val out = TextStats.duplicateSpans(d, windowLen = 3)
      .select("doc_id", "n_windows", "n_dup_windows")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 3L, 2L), (2L, 3L, 2L), (3L, 3L, 0L),
      (5L, 6L, 0L)))
  }

  test("collocations: hand-computed PMI lift, minCount floor, " +
    "deterministic tie order") {
    val d = Seq(
      (1L, "new york is big"),
      (2L, "new york new jersey"),
      (3L, "big apple is big")
    ).toDF("doc_id", "text")
    // N=12; "new york" c=2 (c_x=3, c_y=2); "is big" c=2 (c_x=2, c_y=3)
    // -> both lift = 2*12*1e6/6 = 4,000,000; tie orders by bigram
    val out = TextStats.collocations(d, minCount = 2L, k = 5)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("is big", 2L, 2L, 3L, 4000000L),
      ("new york", 2L, 3L, 2L, 4000000L)))
  }

  test("shardManifest: partitioning-invariant checksums that move on " +
    "any content change, doc removal, or doc swap between builds") {
    val d = (1 to 40).map(i => (i.toLong, s"doc $i content words here"))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val base = canon(Sampling.shardManifest(d, "doc_id", "text", 4))
    assert(base.map(_._2).sum === 40L)
    // order-free: a different physical partitioning hashes identically
    assert(canon(Sampling.shardManifest(d.repartition(7), "doc_id", "text", 4))
      === base)
    // one flipped character moves exactly that shard's checksums
    val tampered = d.withColumn("text",
      when(col("doc_id") === 17L, lit("doc 17 content words here!"))
        .otherwise(col("text")))
    val t = canon(Sampling.shardManifest(tampered, "doc_id", "text", 4))
    assert(t.count(r => !base.contains(r)) === 1)
    assert(t.map(r => (r._1, r._2, r._3)).count(r =>
      !base.map(b => (b._1, b._2, b._3)).contains(r)) === 0) // counts same
    // a dropped doc moves counts and checksums
    val dropped = canon(Sampling.shardManifest(
      d.filter(col("doc_id") =!= 17L), "doc_id", "text", 4))
    assert(dropped.map(_._2).sum === 39L)
    assert(dropped.count(r => !base.contains(r)) === 1)
    // null text counts zero tokens, still checksums
    val withNull = d.unionByName(Seq((99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    assert(canon(Sampling.shardManifest(withNull, "doc_id", "text", 4))
      .map(_._2).sum === 41L)
  }

  test("distinctNgramStats: hand-computed Distinct-n — totals, " +
    "distincts, cross-doc sharing, exact ppm; short docs skip higher " +
    "orders") {
    val d = Seq(
      (1L, "a b a"),     // 1g: a,b,a; 2g: "a b","b a"; 3g: "a b a"
      (2L, "a b"),       // 1g: a,b;   2g: "a b";       3g: none
      (3L, "c")          // 1g: c only
    ).toDF("doc_id", "text")
    val out = TextStats.distinctNgramStats(d, maxN = 3)
      .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      // n=1: 6 occurrences, distinct {a,b,c}=3, shared {a,b}=2
      (1, 6L, 3L, 2L, 500000L, 666666L),
      // n=2: 3 occurrences, distinct {"a b","b a"}=2, shared {"a b"}=1
      (2, 3L, 2L, 1L, 666666L, 500000L),
      // n=3: 1 occurrence, distinct 1, shared 0
      (3, 1L, 1L, 0L, 1000000L, 0L)))
  }

  test("hardNegatives: the cross-cluster high-cos bridge surfaces, " +
    "same-cluster neighbors and above-band near-dups are excluded") {
    // two orthogonal-ish clusters in 8-d. Centroid stride 3 makes
    // vec 3 (cluster A) and vec 6 (cluster B) the coarse centroids.
    def va(eps: Float) = Array(1f, eps, 0, 0, 0, 0, 0, 0)
    def vb(eps: Float) = Array(eps, 1f, 0, 0, 0, 0, 0, 0)
    val emb = Seq(
      (3L, va(0f)), (4L, va(0.05f)), (5L, va(0.1f)),     // cluster A
      (6L, vb(0f)), (7L, vb(0.05f)),                     // cluster B
      (8L, Array(1f, 0.9f, 0, 0, 0, 0, 0, 0))            // bridge: A-ish but near B too
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(emb, k = 5, perVec = 5,
        minCosQ = 3000L, maxCosQ = 9500L, nprobe = 2,
        centroidStride = 3, dim = 8)
      .select("src", "neg_id", "src_cluster", "neg_cluster", "cos_q")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    // every emitted pair crosses clusters inside the band
    assert(out.forall(r => r._3 != r._4))
    assert(out.forall(r => r._5 >= 3000 && r._5 <= 9500))
    // the bridge participates: it is SOMEONE's hard negative across
    // the boundary (or finds one itself)
    assert(out.exists(r => r._1 === 8L || r._2 === 8L))
    // pure same-cluster pairs never appear: 4 vs 5 (both A, cos ~1)
    assert(!out.exists(r => Set(r._1, r._2) === Set(4L, 5L)))
  }

  test("zorderKey: Morton interleave bit positions (a odd, b even), " +
    "known values, monotone prefix locality") {
    import graft.ops.Layout
    val out = Seq((1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L), (65535L, 65535L))
      .toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"), 16).as("z"))
      .as[Long].collect().toSeq
    // a=1,b=0 -> bit 1; a=0,b=1 -> bit 0; a=3,b=3 -> bits 0..3;
    // a=5(101),b=2(010) -> a bits at 1,5; b bit at 2 -> 100110 = 38
    assert(out === Seq(2L, 1L, 15L, 38L, (1L << 32) - 1))
  }

  test("zorderReport: 64 files give tight min/max envelopes on BOTH " +
    "dims (the multi-dim pruning claim); a 1-D sort leaves the other " +
    "dim's span wide open") {
    import graft.ops.Layout
    // uniform 128x128 grid: every (x, y) pair once
    val grid = (0 until 128).flatMap(x => (0 until 128).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val rep = Layout.zorderReport(grid, "x", "y", bits = 16, nFiles = 64)
      .select("file_id", "n_rows", "a_span_ppm", "b_span_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(rep.length === 64)
    assert(rep.map(_._2).sum === 128L * 128)
    // 64 files = 3 prefix bits per dim -> each file covers ~1/8 of
    // each dim's range: span <= ~125000 ppm (+ grid-edge slack)
    assert(rep.forall(r => r._3 <= 200000 && r._4 <= 200000),
      rep.map(r => (r._1, r._3, r._4)).mkString(", "))
    // contrast: files cut by sorting on x alone leave y spanning the
    // whole range — that is what Z-ordering removes
    val sortedBaseline = grid
      .withColumn("file_id", (col("x") / 2).cast("long")) // 64 x-slices
      .groupBy("file_id").agg(max(col("y")) - min(col("y")))
      .as[(Long, Long)].collect()
    assert(sortedBaseline.forall(_._2 === 127L))
  }

  test("clusterByZ: actual output partitions carry tight min/max on " +
    "both dims — the file stats a parquet write would persist") {
    import graft.ops.Layout
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val parts = Layout.clusterByZ(grid, "x", "y", bits = 16, nFiles = 16)
      .select(spark_partition_id().as("p"), col("x"), col("y"))
      .groupBy("p").agg(
        (max(col("x")) - min(col("x"))).as("xs"),
        (max(col("y")) - min(col("y"))).as("ys"),
        count(lit(1)).as("n"))
      .as[(Int, Long, Long, Long)].collect()
    assert(parts.map(_._4).sum === 64L * 64)
    // 16 range-cut files over the Z-curve: each dim's span stays a
    // fraction of the 0..63 range on every file (range boundaries are
    // sampled, so allow slack over the ideal 1/4)
    assert(parts.forall(p => p._2 <= 32 && p._3 <= 32),
      parts.sortBy(_._1).mkString(", "))
    // schema untouched: helper columns dropped
    assert(Layout.clusterByZ(grid, "x", "y").columns.toSeq === Seq("x", "y"))
  }

  test("decodeImageDHash: real BMP->ImageIO round trip — identical " +
    "pixels hash identically, a single flipped pixel moves few bits, " +
    "monotone luminance sets every bit, degenerate payloads null out") {
    import graft.ops.Multimodal
    def hashOf(rgb: Array[Int]): java.lang.Long = {
      val r = Multimodal.decodeImageDHash(Multimodal.bmpBytes(rgb, rgb.length))
      assert(r.getLong(0) === rgb.length.toLong)
      r.getAs[java.lang.Long](1)
    }
    // strictly increasing luminance over exactly 64 pixels: every
    // sampled gradient is positive -> all 63 bits set
    val ramp = Array.tabulate(64)(i => (i << 16) | (i << 8) | i)
    assert(hashOf(ramp) === (1L << 63) - 1)
    // constant image: no strict increase anywhere -> hash 0
    assert(hashOf(Array.fill(64)(0x808080)) === 0L)
    val base = Array.tabulate(64)(i => if (i % 2 == 0) 0x101010 else 0xf0f0f0)
    // brighten dark pixel 10 above its bright neighbors: exactly the
    // two gradients touching it (bits 9 and 10) flip sign
    val tweaked = base.clone(); tweaked(10) = 0xffffff
    val (hb, ht) = (hashOf(base), hashOf(tweaked))
    assert(java.lang.Long.bitCount(hb ^ ht) === 2)
    // unreadable payload and null degrade to nulls
    assert(Multimodal.decodeImageDHash(Array[Byte](1, 2, 3)) ===
      org.apache.spark.sql.Row(null, null))
    assert(Multimodal.decodeImageDHash(null) ===
      org.apache.spark.sql.Row(null, null))
  }

  test("hammingPairs: dist <= bands-1 always caught (pigeonhole), " +
    "radius filter exact, far pairs with a shared band rejected, " +
    "null hashes drop out") {
    val hashes = Seq(
      (1L, java.lang.Long.valueOf(0L)),
      (2L, java.lang.Long.valueOf(7L)),            // dist 3 from 1: band 0 differs, bands 1-3 agree
      (3L, java.lang.Long.valueOf(0x0001000100010001L)), // one bit per band vs 1: dist 4, all bands differ
      (4L, java.lang.Long.valueOf(0x00000000000000FFL)), // dist 8 from 1, shares bands 1-3 -> candidate but > maxDist
      (5L, null.asInstanceOf[java.lang.Long])
    ).toDF("doc_id", "dhash")
    val out = Dedup.hammingPairs(hashes, maxDist = 6)
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    // (1,2): dist 3 <= 6, caught via shared upper bands.
    // (1,3)/(2,3): differ in every band -> never candidates (banded recall).
    // (1,4): candidate (shared bands) but dist 8 > 6 -> filtered.
    // (2,4): dist 5 <= 6 and bands 1-3 shared -> caught.
    assert(out === Seq((1L, 2L, 3), (2L, 4L, 5)))
  }

  test("removeDuplicateSpans: shared windows deleted from every doc, " +
    "surviving tokens keep order, fully-covered docs go empty, short " +
    "docs pass through") {
    val d = Seq(
      (1L, "a b c d e"),        // shares window "a b c" (+ "b c d") with 2
      (2L, "x a b c d"),        // covered: a b c d (positions 2..5)
      (3L, "p q r s"),          // untouched
      (4L, "u v"),              // < 3 tokens: passes through whole
      (5L, "a b c"),            // exactly one window, shared -> fully removed
      (6L, "a b c")             // dup of 5
    ).toDF("doc_id", "text")
    val out = TextStats.removeDuplicateSpans(d, windowLen = 3)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, 5L, 4L, "e"),        // abc + bcd cover 1..4
      (2L, 5L, 4L, "x"),
      (3L, 4L, 0L, "p q r s"),
      (4L, 2L, 0L, "u v"),
      (5L, 3L, 3L, ""),
      (6L, 3L, 3L, "")))
  }

  test("languageSegments: per-window votes merge into runs; a bilingual " +
    "doc reports its switch and minority share; uniform docs are one " +
    "segment; empty docs emit nothing") {
    val en = "the cat of the house and a dog to boot" // 2 windows of 5
    val de = "der hund und die katze ein tier und der baum"
    val d = Seq(
      (1L, en + " " + de),     // en,en then de,de at window=5 -> 1 switch
      (2L, en),                // uniform en
      (3L, ""),                // one empty token -> zh? no hits -> 'en' tie
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.languageSegments(d, window = 5)
      .as[(Long, Long, Long, Long, String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    // doc 3: a single empty-string token -> one window, zero hits
    // everywhere -> precedence tie-break lands 'en'; doc 4 absent
    assert(out.map(_._1) === Seq(1L, 2L, 3L))
    val d1 = out.head
    assert(d1._2 === 4L) // 20 tokens at window=5 -> 4 windows
    assert(d1._3 === 2L && d1._4 === 1L, s"segments/switches: $d1")
    assert(d1._5 === "en" && d1._6 === 2L) // 2 en vs 2 de: precedence tie
    assert(d1._7 === 2L * 1000000L / 4L)
    val d2 = out(1)
    assert(d2._3 === 1L && d2._4 === 0L && d2._5 === "en" && d2._7 === 0L)
    assert(out(2)._5 === "en")
  }

  test("paddingWaste: docs go to the smallest holding bucket, over-long " +
    "docs to the overflow row with zero padding, nulls excluded") {
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val d = Seq((1L, words(2)), (2L, words(33)), (3L, words(64)),
      (4L, words(200)), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.ops.Pack.paddingWaste(d, Seq(32, 64, 128))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (-1, 1L, 200L, 0L, 0L),                    // overflow: chunked, no pad
      (32, 1L, 2L, 30L, 30L * 1000000L / 32L),   // 2 tokens in a 32 slot
      (64, 2L, 97L, 31L, 31L * 1000000L / 128L)) // 33+64 in two 64 slots
    )
  }

  test("removeBoilerplateLines: cross-doc lines drop everywhere, order " +
    "survives, all-boilerplate and NULL docs yield NULL text, unique " +
    "lines pass untouched") {
    val d = Seq(
      (1L, "COOKIE BANNER\nreal content one\nfooter (c) corp"),
      (2L, "COOKIE BANNER\nother real text\nfooter (c) corp"),
      (3L, "totally unique\nlines only here"),
      (4L, "COOKIE BANNER\nfooter (c) corp"), // nothing left -> NULL
      (5L, null.asInstanceOf[String]),
      (6L, "") // the lone empty doc: its one empty line is unique
    ).toDF("doc_id", "text")
    val out = TextStats.removeBoilerplateLines(d, minDocs = 2)
      .as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, 3L, 2L, Some("real content one")),
      (2L, 3L, 2L, Some("other real text")),
      (3L, 2L, 0L, Some("totally unique\nlines only here")),
      (4L, 2L, 2L, None),
      (5L, 0L, 0L, None),
      (6L, 1L, 0L, Some(""))))
    // raising minDocs above every line's doc-count (the banner is in 3
    // docs) disables all drops
    val loose = TextStats.removeBoilerplateLines(d, minDocs = 4)
      .as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(loose.forall(_._3 == 0L))
    assert(loose.find(_._1 == 1L).get._4 ===
      Some("COOKIE BANNER\nreal content one\nfooter (c) corp"))
  }

  test("phraseSearch: anchor-counted overlapping hits, multi-term join " +
    "offsets, absent phrases yield no row") {
    val d = Seq(
      (1L, "the cat sat the cat sat"),    // "the cat" twice
      (2L, "cat cat cat"),                // "cat cat" overlaps: anchors 1,2
      (3L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val out = TextStats.phraseSearch(d,
        Seq("the cat", "cat cat", "the cat sat the"))
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      ("cat cat", 2L, 2L),
      ("the cat", 1L, 2L),
      ("the cat sat the", 1L, 1L)))
  }

  test("winnow: shared run >= w+k-1 tokens yields a shared fingerprint; " +
    "fingerprints are a subset of the doc's gram hashes; short docs " +
    "emit nothing") {
    import org.apache.spark.sql.functions.md5
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "z z a b c d q"),          // shares run "a b c d" (4 >= 2+2-1)
      (3L, "a b")                     // 2 tokens < k+w-1: no grams >= w
    ).toDF("doc_id", "text")
    val out = TextStats.winnow(d, k = 2, w = 2)
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert(out.getOrElse(3L, Set.empty).isEmpty)
    assert(out(1L).intersect(out(2L)).nonEmpty)
    // every fingerprint is the md5 of one of the doc's k-grams
    def gramHashes(text: String): Set[String] = {
      val t = text.split(" ")
      t.sliding(2).map(g => g.mkString(" ")).toSeq
        .toDF("g").select(md5($"g")).as[String].collect().toSet
    }
    assert(out(1L).subsetOf(gramHashes("a b c d e f")))
    assert(out(2L).subsetOf(gramHashes("z z a b c d q")))
  }

  test("bloomScreen == exactAgainst bit-for-bit; empty base passes " +
    "everything through") {
    val base = docs.filter($"doc_id" % 2 === 0)
    val inc = docs.filter($"doc_id" % 2 === 1)
    val viaBloom = Dedup.bloomScreen(inc, base, expectedItems = 100L)
      .as[(Long, String)].collect().sortBy(_._1)
    val exact = Dedup.exactAgainst(inc, base)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(viaBloom.toSeq === exact.toSeq)
    val emptyBase = docs.filter($"doc_id" < 0)
    val all = Dedup.bloomScreen(inc, emptyBase)
      .select("doc_id").as[Long].collect().sorted
    assert(all.toSeq === inc.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("randomProject: exact signed micro sums against the sign matrix; " +
    "seed-deterministic; +-1 entries only") {
    val m = Similarity.signMatrix("rp", 4, 3)
    assert(m === Similarity.signMatrix("rp", 4, 3))
    assert(m.flatten.forall(s => s == 1 || s == -1))
    assert(Similarity.signMatrix("other", 4, 3) !== m) // seed matters
    // micro-exact inputs: floor(x*1e6) has no rounding surprises
    val v = Array(0.5f, -0.25f, 1.0f, 2.0f)
    val micros = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    val d = Seq((7L, v.toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(d, outDim = 3, seed = "rp")
      .as[(Long, Long, Long, Long)].collect()
    val expected = (0 until 3).map(j =>
      (0 until 4).map(i => m(j)(i) * micros(i)).sum)
    assert(out.toSeq === Seq((7L, expected(0), expected(1), expected(2))))
  }

  test("qualityClassifier: score is the exact sum of bucket weights, " +
    "quality the mean, keep the sign; empty docs are dropped") {
    val w = TextStats.classifierWeights("quality", 1024)
    assert(w.forall(x => x >= -10 && x <= 10))
    assert(TextStats.classifierWeights("quality", 1024).toSeq === w.toSeq)
    def slot(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(4), 16)
    }
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha")).toDF("doc_id", "text")
    val out = TextStats.qualityClassifier(d)
      .select("doc_id", "n_tokens", "score")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    def expected(text: String): Long =
      text.split(" ").map(t => w(slot(t) % 1024).toLong).sum
    assert(out.toSeq === Seq(
      (1L, 3L, expected("alpha beta gamma")),
      (2L, 2L, expected("alpha alpha"))))
  }

  test("corpusDiff labels added/removed/changed and suppresses unchanged") {
    val base = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "same"), (2L, "changed!"), (9L, "brand new"))
      .toDF("doc_id", "text")
    val out = Dedup.corpusDiff(base, cur)
      .select("doc_id", "status").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((2L, "changed"), (3L, "removed"), (9L, "added")))
  }

  test("shared ANN index == inline build: ivfTopK with a pre-built " +
    "assignToCentroids and pqTopK/ivfPqTopK with pre-built codebooks/" +
    "codes return bit-identical results") {
    val emb = (1 to 120)
      .map(i => (i.toLong, Array.tabulate(8)(dd => ((i * 31 + dd * 7) % 17 - 8).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" % 40 === 0)
    val assign = Similarity.assignToCentroids(emb, centroidStride = 11, dim = 8)
    val a = Similarity.ivfTopK(q, emb, k = 3, centroidStride = 11, dim = 8,
        corpusAssigned = Some(assign)).collect().toSet
    val b = Similarity.ivfTopK(q, emb, k = 3, centroidStride = 11, dim = 8)
      .collect().toSet
    assert(a === b)
    val cb = Similarity.pqCodebooks(emb, m = 2, dim = 8, codeStride = 11)
    val enc = Similarity.pqEncode(emb, cb, m = 2, dim = 8)
    val c = Similarity.pqTopK(q, emb, k = 3, m = 2, dim = 8, codeStride = 11,
        codebooks = Some(cb), encoded = Some(enc)).collect().toSet
    val e2 = Similarity.pqTopK(q, emb, k = 3, m = 2, dim = 8, codeStride = 11)
      .collect().toSet
    assert(c === e2)
    val f = Similarity.ivfPqTopK(q, emb, k = 3, m = 2, dim = 8,
        centroidStride = 11, codeStride = 11,
        codebooks = Some(cb), encoded = Some(enc),
        corpusAssigned = Some(assign)).collect().toSet
    val g = Similarity.ivfPqTopK(q, emb, k = 3, m = 2, dim = 8,
        centroidStride = 11, codeStride = 11).collect().toSet
    assert(f === g)
  }

  test("native WinnowFingerprints == interpreted HOF chain, bit-for-bit, " +
    "on random docs incl. short/empty edge cases (8 seeds)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val docsR = ((1 to 30).map { i =>
        val n = rnd.nextInt(14) // 0..13 tokens: exercises n<k and G<w
        (i.toLong, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
      } :+ (98L, "a  b c d  e f") :+ (99L, " x y z w v"))  // empty tokens:
        // split on double/leading spaces yields "" elements — concat_ws
        // joins them WITH separators, and the native kernel must agree
        .toDF("doc_id", "text")
      val native = TextStats.winnow(docsR, k = 3, w = 4)
        .as[(Long, String)].collect().sortBy(x => (x._1, x._2)).toSeq
      val chain = TextStats.winnowChain(docsR, 3, 4, "doc_id", "text")
        .as[(Long, String)].collect().sortBy(x => (x._1, x._2)).toSeq
      assert(native === chain, s"seed=$seed")
    }
  }

  test("native WindowHashes == interpreted xxhash64 chain, bit-for-bit " +
    "(position-aligned), on random docs incl. short docs (8 seeds)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val docsR = ((1 to 30).map { i =>
        val n = rnd.nextInt(12) // 0..11 tokens: exercises n < windowLen
        (i.toLong, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
      } :+ (98L, "a  b c d  e f") :+ (99L, " x y z w v"))  // empty tokens
        .toDF("doc_id", "text")
      val native = docsR.select($"doc_id",
          posexplode(graft.functions.WindowHashes(
            org.apache.spark.sql.functions.split($"text", " "), 4)))
        .as[(Long, Int, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
      val chain = TextStats.windowHashChain(docsR, 4, "doc_id", "text")
      // chain emits in order; re-derive positions per doc for alignment
      val chainRows = chain.as[(Long, Long)].collect()
        .groupBy(_._1).toSeq.flatMap { case (id, rows) =>
          rows.map(_._2).zipWithIndex.map { case (h, p) => (id, p, h) }
        }.sortBy(x => (x._1, x._2))
      assert(native === chainRows, s"seed=$seed")
    }
  }

  test("incremental IVF assignment: base assignment ++ delta assigned " +
    "against the base's frozen centroids == full re-assignment when " +
    "the centroid set is unchanged") {
    val mk = (r: Range) => r
      .map(i => (i.toLong, Array.tabulate(8)(dd => ((i * 31 + dd * 7) % 17 - 8).toFloat)))
      .toDF("vec_id", "embedding")
    val base = mk(1 to 80)
    val delta = mk(81 to 120)
    // frozen quantizer: the BASE corpus' stride centroids
    val centroids = base.filter($"vec_id" % 11 === 0)
      .select($"vec_id".as("centroid_id"),
        transform($"embedding", x => x.cast("double")).as("centv"))
    val baseAssign = Similarity.assignToCentroids(base,
      centroidStride = 11, dim = 8)
    val deltaAssign = Similarity.assignToCentroids(delta,
      centroidStride = 11, dim = 8, centroids = Some(centroids))
    val incremental = baseAssign.unionByName(deltaAssign)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toSet
    val full = Similarity.assignToCentroids(mk(1 to 120),
      centroidStride = 11, dim = 8, centroids = Some(centroids))
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toSet
    assert(incremental === full)
  }

  test("winnowNearDup: a long shared run yields a pair with n_shared >= " +
    "minShared; docs sharing nothing produce no pair; count equals the " +
    "distinct shared fingerprint count") {
    val d = Seq(
      (1L, "p q r shared1 shared2 shared3 shared4 shared5 shared6 shared7 z1"),
      (2L, "a b shared1 shared2 shared3 shared4 shared5 shared6 shared7 y8 y9"),
      (3L, "completely different words with no overlap at all here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDup(d, k = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    val fp = TextStats.winnow(d, k = 3, w = 4)
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert(pairs.head._3 === fp(1L).intersect(fp(2L)).size.toLong)
  }

  test("native WordNgrams == interpreted concat_ws chain, bit-for-bit, " +
    "incl. empty tokens and short docs (8 seeds)") {
    import org.apache.spark.sql.functions.{concat_ws, sequence, slice, transform => tfm, size => sz, when => whn, array, posexplode, split => spl}
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val docsR = ((1 to 30).map { i =>
        val n = rnd.nextInt(8)
        (i.toLong, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
      } :+ (98L, "a  b c  d") :+ (99L, " x y z")).toDF("doc_id", "text")
      val t = spl($"text", " ")
      val native = docsR.select($"doc_id",
          posexplode(graft.functions.WordNgrams(t, 3)))
        .as[(Long, Int, String)].collect().sortBy(x => (x._1, x._2)).toSeq
      val chain = docsR.select($"doc_id",
          posexplode(whn(sz(t) >= 3,
            tfm(sequence(lit(1), sz(t) - 2),
              i => concat_ws(" ", slice(t, i, lit(3)))))
            .otherwise(array().cast("array<string>"))))
        .as[(Long, Int, String)].collect().sortBy(x => (x._1, x._2)).toSeq
      assert(native === chain, s"seed=$seed")
    }
  }

  test("editDistancePairs == brute-force levenshtein join on a random " +
    "corpus incl. short strings (8 seeds)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val base = "the quick brown fox jumps over the lazy dog again and again"
      val corpus = ((1 to 40).map { i =>
        // random mutations of a base string: deletions + substitutions
        val chars = base.toCharArray.toBuffer
        val edits = rnd.nextInt(8)
        for (_ <- 1 to edits; if chars.nonEmpty) {
          val p = rnd.nextInt(chars.length)
          if (rnd.nextBoolean()) chars.remove(p)
          else chars(p) = ('a' + rnd.nextInt(26)).toChar
        }
        (i.toLong, chars.mkString)
      } ++ Seq((90L, "ab"), (91L, "cd"), (92L, "x"), (93L, ""))) // short-path docs
        .toDF("doc_id", "text")
      val k = 5
      val got = Dedup.editDistancePairs(corpus, maxDist = k)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val a = corpus.select($"doc_id".as("doc_a"), $"text".as("ta"))
      val b = corpus.select($"doc_id".as("doc_b"), $"text".as("tb"))
      val brute = a.join(b, $"doc_a" < $"doc_b")
        .withColumn("dist", levenshtein($"ta", $"tb").cast("long"))
        .filter($"dist" <= k)
        .select("doc_a", "doc_b", "dist")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got === brute, s"seed=$seed")
      assert(brute.nonEmpty, s"seed=$seed produced a vacuous corpus")
    }
  }

  test("knnGraph: exact top-k on a single-list index, mutual flag " +
    "matches the reversed-edge set") {
    // ids < 37 ⇒ one centroid (vec 0) ⇒ one posting list ⇒ the probe
    // covers the whole corpus and the graph is EXACT brute-force top-k
    val rnd = new scala.util.Random(7)
    val emb = (0L to 9L).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(emb, k = 3, nprobe = 2)
      .as[(Long, Long, Int, Long, Boolean)].collect().toSeq
    assert(g.size === 10 * 3)
    val brute = Similarity.bruteForceTopK(emb, emb, k = 3)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(g.map(e => (e._1, e._2, e._3, e._4)).toSet === brute)
    val edgeSet = g.map(e => (e._1, e._2)).toSet
    g.foreach { e =>
      assert(e._5 === edgeSet.contains((e._2, e._1)),
        s"mutual flag wrong for ${(e._1, e._2)}")
    }
  }

  test("clusterReport: best doc = highest score then lowest id; " +
    "dup_score = total - max") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 7L))
      .toDF("doc_id", "n_tokens")
    val out = Dedup.clusterReport(clusters, scores, "n_tokens")
      .select("cluster_id", "n_docs", "total_score", "max_score",
        "best_doc", "dup_score")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // docs 2 and 3 tie at 30 tokens -> best is the LOWER id (2)
    assert(out.toSeq === Seq((1L, 3L, 70L, 30L, 2L, 40L),
      (4L, 1L, 7L, 7L, 4L, 0L)))
  }

  test("embeddingDrift: one-sided groups always drift, identical " +
    "halves never, and the micro threshold is an exact inequality") {
    val base = Seq((1L, Seq(1.0f, 2.0f), "same"), (2L, Seq(4.0f, 4.0f), "gone"),
      (5L, Seq(1.0f, 1.0f), "moved")).toDF("vec_id", "embedding", "g")
    val cur = Seq((3L, Seq(1.0f, 2.0f), "same"), (4L, Seq(9.0f, 9.0f), "new"),
      (6L, Seq(1.005f, 1.0f), "moved")).toDF("vec_id", "embedding", "g")
    val out = Similarity.embeddingDrift(base, cur, col("g"),
        thresholdMicro = 10000L) // 0.01 in vector units
      .select("group_id", "dim_idx", "drifted")
      .as[(String, Int, Boolean)].collect()
      .groupBy(_._1).map { case (g, v) =>
        g -> v.sortBy(_._2).map(_._3).toSeq }
    assert(out("same") === Seq(false, false))
    assert(out("gone") === Seq(true, true))
    assert(out("new") === Seq(true, true))
    // dim 0 moved by ~0.005 < 0.01 -> NOT drifted (quantized exactly:
    // floor(1.005e6)=1004999 vs 1e6, |delta|=4999 micro < 10000)
    assert(out("moved") === Seq(false, false))
  }

  test("NfcNormalize: composed == normalized(decomposed), NFC keeps " +
    "ligatures (no NFKC folding), ASCII/null pass through; exact dedup " +
    "unifies encodings AFTER normalization") {
    val composed = "caf\u00e9"            // precomposed U+00E9
    val decomposed = "cafe\u0301"         // e + combining acute U+0301
    val d = Seq(
      (1L, Option(composed)), (2L, Option(decomposed)),
      (3L, Option("ﬁle")),           // ﬁ ligature — NFC preserves
      (4L, Option("plain ascii")), (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id",
        graft.functions.NfcNormalize($"text").as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).get === composed)
    assert(out(2L).get === composed)      // decomposed canonicalizes
    assert(out(3L).get === "ﬁle")    // ligature NOT folded
    assert(out(4L).get === "plain ascii")
    assert(out(5L).isEmpty)               // null in, null out
    // the motivating pipeline property: same visible text, different
    // encodings — distinct to md5 raw, ONE group after NFC
    val raw = Dedup.exact(d.filter($"doc_id".isin(1L, 2L))).count()
    val norm = Dedup.exact(d.filter($"doc_id".isin(1L, 2L))
      .select($"doc_id", graft.functions.NfcNormalize($"text").as("text")))
      .count()
    assert(raw === 2L && norm === 1L)
  }

  test("containmentPairs: directed semantics (subset contains fully, " +
    "superset does not); both paths == brute force (4 seeds)") {
    // hand case: A ⊂ B — cont(A in B)=1e6, cont(B in A)=3/5
    val hand = Seq((1L, "a b c"), (2L, "a b c d e")).toDF("doc_id", "text")
    val h = Dedup.containmentPairs(hand, 900000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(h === Set((1L, 2L, 1000000L))) // 600000 ppm fails the 0.9 gate
    def brute(d: org.apache.spark.sql.DataFrame, t: Long) = {
      val ts = d.select($"doc_id", Dedup.tokenSet($"text").as("ts"),
        size(Dedup.tokenSet($"text")).as("n"))
      val a = ts.select($"doc_id".as("src"), $"ts".as("ts_s"), $"n".as("n_s"))
      val b = ts.select($"doc_id".as("dst"), $"ts".as("ts_d"))
      a.join(b, $"src" =!= $"dst").filter($"n_s" > 0)
        .withColumn("inter", size(array_intersect($"ts_s", $"ts_d")))
        .filter($"inter" * 1000000L >= lit(t) * $"n_s")
        .select($"src", $"dst",
          expr("CAST(inter * 1000000 DIV n_s AS BIGINT)").as("cont_ppm"))
        .as[(Long, Long, Long)].collect().toSet
    }
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      // small vocab (9 tokens) -> mask path
      val small = (1 to 40).map { i =>
        (i.toLong, (1 to 3 + rnd.nextInt(6)).map(_ => s"t${rnd.nextInt(9)}")
          .mkString(" "))
      }.toDF("doc_id", "text")
      assert(Dedup.containmentPairs(small, 800000L)
        .as[(Long, Long, Long)].collect().toSet === brute(small, 800000L),
        s"mask path seed=$seed")
      // wide vocab (200 tokens) -> prefix path
      val wide = (1 to 40).map { i =>
        (i.toLong, (1 to 6 + rnd.nextInt(10)).map(_ => s"w${rnd.nextInt(200)}")
          .mkString(" "))
      }.toDF("doc_id", "text")
      assert(Dedup.containmentPairs(wide, 700000L)
        .as[(Long, Long, Long)].collect().toSet === brute(wide, 700000L),
        s"prefix path seed=$seed")
    }
  }

  test("minhashEstimate: identical docs estimate 1e6 ppm; pair set == " +
    "minhashLsh candidates; matches == hand-counted signature agreement") {
    val d = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on that mat"),
      (4L, "completely different words entirely")
    ).toDF("doc_id", "text")
    val est = Dedup.minhashEstimate(d, numHashes = 16, bands = 4)
      .as[(Long, Long, Int, Long)].collect().sortBy(e => (e._1, e._2))
    val lshPairs = Dedup.minhashLsh(d, numHashes = 16, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(est.map(e => (e._1, e._2)).toSet === lshPairs)
    val byPair = est.map(e => (e._1, e._2) -> e).toMap
    assert(byPair((1L, 2L))._3 === 16 && byPair((1L, 2L))._4 === 1000000L)
    // hand-check agreement vs the interpreted signature form
    val sigs = d.select($"doc_id",
        Dedup.minhashSignature(Dedup.tokenSet($"text"), 16).as("mh"))
      .as[(Long, Seq[String])].collect().toMap
    est.foreach { case (a, b, matches, ppm) =>
      val expect = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      assert(matches === expect, s"pair ($a,$b)")
      assert(ppm === expect * 1000000L / 16)
    }
  }

  test("knnGraph IVF recall on clustered vectors: nprobe=2 of ~8 " +
    "lists recovers most of the exact top-5 graph") {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(6)(Array.fill(32)(rnd.nextDouble() * 2 - 1))
    val emb = (0L until 300L).map { i =>
      val c = centers((i % 6).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, emb, k = 5, dim = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnGraph(emb, k = 5, nprobe = 2, dim = 32)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    // measured 1.0 on this fixture; 0.8 floor leaves jitter headroom
    // if the stride quantizer's list boundaries ever shift
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("gopherRules: each rule gates independently; integer-exact " +
    "mean word length") {
    val d = Seq(
      // 50 words of mean length 4 incl. stopwords ⇒ all rules pass
      (1L, (Seq.fill(24)("word") ++ Seq.fill(24)("lake") ++
        Seq("the", "a")).mkString(" ")),
      (2L, "the a of short text"),            // < 50 words ⇒ ok_words false
      (3L, (Seq.fill(50)("hippopotamuses") :+ "the").mkString(" ") + " a"),
      (4L, (Seq.fill(50)("word")).mkString(" ")),  // no stopwords ⇒ ok_stop false
      (5L, (Seq.fill(49)("word") ++ Seq("the", "a", "7777")).mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextStats.gopherRules(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"))
    assert(out(1L).getAs[Long]("mean_len_micro") ===
      (24 * 4 + 24 * 4 + 3 + 1) * 1000000L / 50)
    assert(!out(2L).getAs[Boolean]("ok_words") &&
      out(2L).getAs[Boolean]("ok_stop"))
    assert(!out(3L).getAs[Boolean]("ok_mean_len")) // mean len > 10
    assert(!out(4L).getAs[Boolean]("ok_stop") &&
      !out(4L).getAs[Boolean]("pass"))
    // one numeric word in 52: alpha fraction 51/52 > 0.8 still passes
    assert(out(5L).getAs[Boolean]("ok_alpha"))
    assert(out(5L).getAs[Long]("n_alpha_words") === 51L)
  }

  test("mojibake: replacement chars, double-UTF8 tells, and stray C0 " +
    "controls count separately; tab/newline are not controls; the gate " +
    "fires only on the encoding signals") {
    val d = Seq(
      (1L, "abc \u00c3\u00a9 def"),          // one Ã© tell
      (2L, "x\u0007y"),                        // BEL: control, not mojibake
      (3L, "ok \uFFFD"),                       // decoder gave up
      (4L, "plain text"),
      (5L, ""),
      (6L, "a\tb\nc\rd"),                      // whitelisted whitespace
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.mojibake(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out(1L).getAs[Long]("n_double_utf8") === 1L &&
      out(1L).getAs[Boolean]("is_mojibake"))
    assert(out(1L).getAs[Long]("bad_ppm") === 1000000L / 10)
    assert(out(2L).getAs[Long]("n_control") === 1L &&
      !out(2L).getAs[Boolean]("is_mojibake"))
    assert(out(3L).getAs[Long]("n_replacement") === 1L &&
      out(3L).getAs[Boolean]("is_mojibake"))
    assert(out(4L).getAs[Long]("bad_ppm") === 0L)
    assert(out(5L).getAs[Long]("n_chars") === 0L &&
      out(5L).getAs[Long]("bad_ppm") === 0L)
    assert(out(6L).getAs[Long]("n_control") === 0L)
  }

  test("stripMarkup: tags strip to spaces and collapse, tag chars and " +
    "tag counts are exact, unterminated brackets are not tags") {
    val d = Seq(
      (1L, "<p>hello</p>"),
      (2L, "a < b > c"),        // naive pattern: "< b >" IS a tag
      (3L, "no tags"),
      (4L, "<br/>"),
      (5L, "<abc never closed"),
      (6L, "<p>a</p><p>b</p>")
    ).toDF("doc_id", "text")
    val out = TextStats.stripMarkup(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("tag_chars") === 7L)
    assert(out(1L).getAs[Long]("n_tags") === 2L)
    assert(out(1L).getAs[String]("clean_text") === "hello")
    assert(out(1L).getAs[Long]("markup_ppm") === 7L * 1000000L / 12L)
    assert(out(2L).getAs[Long]("n_tags") === 1L &&
      out(2L).getAs[String]("clean_text") === "a c")
    assert(out(3L).getAs[Long]("tag_chars") === 0L &&
      out(3L).getAs[String]("clean_text") === "no tags")
    assert(out(4L).getAs[Long]("markup_ppm") === 1000000L &&
      out(4L).getAs[String]("clean_text") === "")
    assert(out(5L).getAs[Long]("n_tags") === 0L)
    assert(out(6L).getAs[String]("clean_text") === "a b")
  }

  test("specialTokenAudit: every marker reports even at zero; doc and " +
    "occurrence counts separate; </s> does not phantom-match <s>") {
    val d = Seq(
      (1L, "a <|endoftext|> b"),
      (2L, "x </s> mid </s>"),
      (3L, "plain"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.specialTokenAudit(d).collect()
      .map(r => r.getAs[String]("marker") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occurrences"))).toMap
    assert(out.size === TextStats.SpecialTokens.size)
    assert(out("<|endoftext|>") === ((1L, 1L)))
    assert(out("</s>") === ((1L, 2L)))
    assert(out("<s>") === ((0L, 0L)))
    assert(out("[INST]") === ((0L, 0L)))
  }

  test("badwordGate: token-exact hits (no substring bleed), ppm " +
    "threshold splits, null docs fail closed") {
    val d = Seq(
      (1L, "slow slow fast"),                  // 2/3 flagged
      (2L, "slowly fast good"),                // 'slowly' is NOT 'slow'
      (3L, (Seq.fill(999)("ok") :+ "slow").mkString(" ")), // 1000 ppm
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.badwordGate(d, maxPpm = 10000L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_flagged") === 2L &&
      out(1L).getAs[Long]("flagged_ppm") === 2000000L / 3 &&
      !out(1L).getAs[Boolean]("pass"))
    assert(out(2L).getAs[Long]("n_flagged") === 0L &&
      out(2L).getAs[Boolean]("pass"))
    assert(out(3L).getAs[Long]("flagged_ppm") === 1000L &&
      out(3L).getAs[Boolean]("pass"))
    assert(!out(4L).getAs[Boolean]("pass"))
  }

  test("blockedLinkage: pairs only within a block, each once, length " +
    "prune and distance threshold both bite") {
    val d = Seq(
      (1L, "x", "abc"), (2L, "x", "abd"), (3L, "x", "xyz"),
      (4L, "y", "abc"),                     // same name, other block
      (5L, "x", "abcdef")                   // length diff 3 > maxDist
    ).toDF("id", "blk", "nm")
    val out = Dedup.blockedLinkage(d, "blk", "id", "nm", maxDist = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("dist"))).sorted.toSeq
    assert(out === Seq((1L, 2L, 1)))
  }

  test("MultiCountLiterals (kernel #12): one automaton pass == the " +
    "replace-identity chain, incl. self-overlap, pattern-in-pattern, " +
    "multi-byte, and empty text") {
    import graft.functions.MultiCountLiterals
    val pats = Seq("aa", "\u00e2\u20ac", "\u00e2\u20ac\u2122", "<s>", "ab")
    val d = Seq(
      (1L, "aaa ab aaaa"),                 // aa: 1+2 greedy; ab: 1
      (2L, "x\u00e2\u20ac\u2122y"),        // the prefix counts for BOTH
      (3L, "<s><s>ab<s>"),
      (4L, ""),
      (5L, "no hits here")
    ).toDF("doc_id", "text")
    val viaKernel = d.select(col("doc_id"),
        MultiCountLiterals(col("text"), pats).as("c")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val viaChain = d.select(col("doc_id") +: pats.zipWithIndex.map {
        case (pt, i) => TextStats.countLiteral(col("text"), pt).as(s"c$i")
      }: _*).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        pats.indices.map(i => r.getAs[Long](s"c$i"))).toMap
    for (id <- viaKernel.keys) assert(viaKernel(id) === viaChain(id),
      s"doc $id: kernel ${viaKernel(id)} vs chain ${viaChain(id)}")
    assert(viaKernel(1L) === Seq(3L, 0L, 0L, 0L, 1L))
    assert(viaKernel(2L) === Seq(0L, 1L, 1L, 0L, 0L))
    assert(viaKernel(3L) === Seq(0L, 0L, 0L, 3L, 1L))
  }

  test("ivfTopKSweep: every arm is bit-identical to the per-width " +
    "ivfTopK probe it replaces (same candidates, same ranks, same " +
    "quantized scores) on the real embedding fixture") {
    import graft.ops.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.assignToCentroids(e)
    val sweeps = Seq(1, 2, 4)
    val sweep = Similarity.ivfTopKSweep(q, e, k = 5, sweeps = sweeps,
        corpusAssigned = Some(assigned))
      .select("nprobe", "query_id", "neighbor_id", "rank", "cos_q")
      .collect().map(_.toString).sorted.toSeq
    val perWidth = sweeps.flatMap { np =>
      Similarity.ivfTopK(q, e, k = 5, nprobe = np,
          corpusAssigned = Some(assigned))
        .select(lit(np).as("nprobe"), col("query_id"), col("neighbor_id"),
          col("rank"), col("cos_q"))
        .collect().map(_.toString)
    }.sorted
    assert(sweep.nonEmpty)
    assert(sweep === perWidth)
    // contract guards: unsorted sweeps and a missing shared index fail
    intercept[IllegalArgumentException](
      Similarity.ivfTopKSweep(q, e, k = 5, sweeps = Seq(2, 1),
        corpusAssigned = Some(assigned)))
    intercept[IllegalArgumentException](
      Similarity.ivfTopKSweep(q, e, k = 5, sweeps = Seq(1)))
  }

  test("servingAdvisor: smallest nprobe meeting each target; RAISING " +
    "the target provably raises (never lowers) the chosen nprobe; " +
    "unmet targets keep the widest arm with met_target=false; costs " +
    "and rebuild flag come from the health table") {
    import graft.ops.Similarity
    // monotone curve 20%/50%/80% over nprobe 1/2/4
    val curve = Seq((1, 200000L), (2, 500000L), (4, 800000L))
      .toDF("nprobe", "recall_ppm")
    // 4 lists of 40/30/20/10 items, the hot one skewed
    val health = Seq(
      ("a", 40L, 4L, 100L, true), ("b", 30L, 4L, 100L, false),
      ("c", 20L, 4L, 100L, false), ("d", 10L, 4L, 100L, false))
      .toDF("list_key", "n_items", "n_lists", "total_items", "skewed")
    val out = Similarity.servingAdvisor(curve, health,
        Seq(100000L, 300000L, 600000L, 900000L))
      .as[(Long, Long, Long, Boolean, Long, Long, Boolean)]
      .collect().toSeq
    assert(out === Seq(
      //  target    np  recall   met   mean  worst rebuild
      (100000L, 1L, 200000L, true,  25L,  40L, true),
      (300000L, 2L, 500000L, true,  50L,  70L, true),
      (600000L, 4L, 800000L, true, 100L, 100L, true),
      (900000L, 4L, 800000L, false, 100L, 100L, true)))
    // monotonicity is structural: chosen nprobe never decreases as the
    // target rises (smallest-meeting over a monotone curve)
    assert(out.map(_._2) === out.map(_._2).sorted)
    // a healthy index reports rebuild_any = false
    val healthy = health.withColumn("skewed", lit(false))
    assert(Similarity.servingAdvisor(curve, healthy, Seq(300000L))
      .select("rebuild_any").as[Boolean].head() === false)
    // contract guards
    intercept[IllegalArgumentException](
      Similarity.servingAdvisor(curve, health, Nil))
    intercept[IllegalArgumentException](
      Similarity.servingAdvisor(curve, health, Seq(2L, 1L)))
  }

  test("indexAdvisorFrom: index_action flips serve -> rebuild when the " +
    "winning index's posting lists are artificially skewed") {
    import spark.implicits._
    // synthetic gated curves; trained dominates, so it wins the target
    val strideCurve = Seq((1L, 100000L), (2L, 200000L), (4L, 400000L))
      .toDF("nprobe", "recall_ppm")
    val trainedCurve = Seq((1L, 300000L), (2L, 500000L), (4L, 700000L))
      .toDF("nprobe", "recall_ppm")
    // balanced: 4 lists x 10 items — skew test 10*4*1000 = 40k vs
    // 2000*40 = 80k -> healthy. Skewed: one list holds 37 of 40 —
    // 37*4*1000 = 148k > 80k -> rebuild (Profile.indexHealth's rule).
    val balanced = (0L until 40L).map(i => (i, i % 4))
      .toDF("vec_id", "centroid_id")
    val skewed = (0L until 40L)
      .map(i => (i, if (i < 37) 0L else i % 3 + 1))
      .toDF("vec_id", "centroid_id")
    def advise(trainedAssign: org.apache.spark.sql.DataFrame) =
      graft.queries.ExtensionQueries.indexAdvisorFrom(spark,
          Seq(("stride", strideCurve, balanced),
            ("trained", trainedCurve, trainedAssign)),
          Seq(300000L))
        .select("variant", "index_action")
        .as[(String, String)].collect().toSeq
    assert(advise(balanced) === Seq(("trained", "serve")))
    assert(advise(skewed) === Seq(("trained", "rebuild")))
  }

  test("embedContamination: the fixture flags at 0.8, and a zero-norm " +
    "vector drops out of the match set even at a threshold every " +
    "finite cosine clears") {
    val all = (1 to 240).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 13 + d * 7) % 19 - 9).toDouble))
    }
    val bench = all.filter(_._1 % 100 == 0).toDF("vec_id", "embedding")
    val corpus = all.filterNot(_._1 % 100 == 0).toDF("vec_id", "embedding")
    assert(!Similarity.embedContamination(corpus, bench,
      thresholdQ = 8000L, dim = 8).isEmpty)
    val probe = Seq((7000L, Array.fill(8)(0.0)),
      (7001L, Array.tabulate(8)(_.toDouble + 1))).toDF("vec_id", "embedding")
    val flagged = Similarity.embedContamination(probe, bench,
        thresholdQ = -20000L, dim = 8)
      .as[(Long, Long, Long, Long)].collect().map(_._1).toSet
    assert(flagged === Set(7001L))
  }
}
