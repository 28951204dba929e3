package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch operators and served queries run on a stream, driven through
  * MemoryStream or a file source.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("streamed arrivals APPEND into the persisted posting-list layout " +
    "(foreachBatch -> partitionBy(centroid_id) into the IndexStore dir) " +
    "and the searcher over the loaded layout serves old+new bit-equal " +
    "to the in-memory index") {
    import graft.ops.{IndexStore, Similarity}
    import org.apache.spark.sql.DataFrame
    val sf = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val c0 = all.filter(col("vec_id") % 3 =!= 0)
    val arrivals = all.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Seq[Float])].collect().toSeq
    // frozen quantizer trained on the bootstrap corpus; the index dir
    // starts as the bootstrap assignment's partitioned layout
    val cent = Similarity.kmeansExact(c0, k = 16, iters = 2)
      .select(col("centroid_id"), col("centv")).localCheckpoint()
    val dir = tmpDir("ivf-stream-append")
    IndexStore.saveIvf(
      Similarity.assignToCentroids(c0, centroids = Some(cent)), dir)

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the same frozen-centroid assignment the batch path runs,
        // landing each arrival directly in its posting list's directory
        Similarity.assignToCentroids(batch, centroids = Some(cent))
          .select("vec_id", "centroid_id", "cv", "cn")
          .write.mode("append").partitionBy("centroid_id").parquet(dir)
      }
      .start()
    try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    // the on-disk layout now holds exactly the full corpus's assignment
    val loaded = IndexStore.loadIvf(spark, dir)
    val expectedAssign = Similarity
      .assignToCentroids(all, centroids = Some(cent))
    assert(loaded.select("vec_id", "centroid_id")
        .as[(Long, Long)].collect().sorted.toSeq ===
      expectedAssign.select("vec_id", "centroid_id")
        .as[(Long, Long)].collect().sorted.toSeq)
    // and the searcher over the LOADED layout == the in-memory index
    val queries = all.filter(col("vec_id") % 50 === 0)
    def topk(assign: DataFrame) =
      Similarity.ivfTopK(queries, all, k = 5,
          corpusAssigned = Some(assign), centroids = Some(cent))
        .select("query_id", "neighbor_id", "rank", "cos_q")
        .as[(Long, Long, Int, Long)].collect().sorted.toSeq
    assert(topk(loaded) === topk(expectedAssign))
  }

  test("streaming provenance twin: arriving docs are judged per " +
    "micro-batch against the GROWING curated lake (judge first, then " +
    "append — the arrival-order duplicate contract live), and the " +
    "accumulated ledger equals the one-shot incremental ledger") {
    import graft.queries.ExtensionQueries.provenanceIncrLedger
    import org.apache.spark.sql.DataFrame
    val longText = (c: Char) => (0 until 25).map(k => s"$c$k").mkString(" ")
    val base = Seq(50L -> longText('x'), 200L -> longText('b'))
      .toDF("doc_id", "text")
    val lakeDir = tmpDir("prov-lake")
    val ledgerDir = tmpDir("prov-ledger")
    base.write.mode("overwrite").parquet(lakeDir)
    val arrivals: Seq[Seq[(Long, String)]] = Seq(
      Seq(10L -> longText('x'),                 // dup of curated content
        11L -> ("b0 b1 b2 b3 " +                // contaminated vs lake bench
          (0 until 21).map(k => s"c$k").mkString(" "))),
      Seq(20L -> longText('y')),                // fresh -> kept
      Seq(30L -> longText('y'),                 // dup of 20 ACROSS batches
        31L -> "s1 s2 s3"))                     // too_short
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val curated = spark.read.parquet(lakeDir)
        // judge against what was curated BEFORE this batch, then admit
        provenanceIncrLedger(batch, curated)
          .write.mode("append").parquet(ledgerDir)
        batch.write.mode("append").parquet(lakeDir)
      }
      .start()
    try arrivals.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    val got = spark.read.parquet(ledgerDir)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got.map(r => r._1 -> r._3).toMap === Map(
      10L -> "duplicate", 11L -> "contaminated", 20L -> "kept",
      30L -> "duplicate", 31L -> "too_short"))
    val oneShot = provenanceIncrLedger(
        arrivals.flatten.toDF("doc_id", "text"), base)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got === oneShot, "live ledger == one-shot incremental ledger")
    // the lake ends holding base + every arrival exactly once
    assert(spark.read.parquet(lakeDir).count() === 7L)
  }

  test("streamingInferGate: the live batched classifier admits exactly " +
    "the docs the batch server scores into keepClass, with " +
    "bit-identical predictions and logits; null text fails closed") {
    import graft.ops.Inference
    import graft.streaming.InferStreamOps
    implicit val sc = spark.sqlContext
    val fixture = (1 to 57)
      .map(i => (i.toLong, if (i % 19 == 0) null else s"w${i % 7} w${i % 5} y$i"))
    val batch = Inference.inferBatched(
        fixture.toDF("doc_id", "text"), "text",
        dim = 16, classes = 3, batchSize = 8)
      .select("doc_id", "pred_class", "logit_q")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getLong(2)))))
      .toMap
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2020-01-01 11:$min%02d:00")
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = InferStreamOps.streamingInferGate(mem.toDS(), keepClass = 1,
        dim = 16, classes = 3, batchSize = 8)
      .writeStream.format("memory").queryName("igate2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(fixture.map { case (id, tx) => (t((id % 50).toInt), id, tx) })
      q.processAllAvailable() // stateless: same-batch emission
      val live = spark.table("igate2")
        .select("doc_id", "pred_class", "logit_q", "pass")
        .as[(Long, Option[Int], Option[Long], Boolean)].collect()
      assert(live.length === fixture.length, "every arrival is audited")
      live.foreach { case (id, pc, lq, pass) =>
        assert(pc.map(p => (p, lq.get)) === batch(id),
          s"doc $id: live and batch must score identically")
        assert(pass === pc.contains(1), s"doc $id: admit iff keepClass")
      }
      // the null docs (19, 38, 57) failed closed
      assert(live.filter(_._2.isEmpty).map(_._1).sorted.toSeq ===
        Seq(19L, 38L, 57L))
      assert(live.filter(_._2.isEmpty).forall(!_._4))
    } finally q.stop()
  }

  test("Bpe.encode tokenizes a STREAM unchanged: the frozen merge list " +
    "rides the plan as a stateless projection, so live ingest gets the " +
    "exact batch tokenizer") {
    import graft.ops.Bpe
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"))
    val q = Bpe.encode(mem.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "low lower"))
      q.processAllAvailable()
      val got = spark.table("bpe_stream")
        .select("doc_id", "bpe_tokens", "n_bpe_tokens")
        .as[(Long, Seq[String], Long)].collect()
      assert(got.toSeq === Seq(
        (1L, Seq("low</w>", "low", "e", "r", "</w>"), 5L)))
    } finally q.stop()
  }

  test("gopherRules gates a STREAM unchanged: the rule projection is " +
    "stateless, so the live ingest filter is the batch op verbatim") {
    import graft.ops.TextStats
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val gated = TextStats.gopherRules(
        mem.toDF().toDF("doc_id", "text"), minWords = 3)
      .filter(col("pass"))
    val q = gated.select("doc_id").writeStream.format("memory")
      .queryName("gopher_gate").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, "the lake holds a great deal of data"), // passes
        (2L, "no"),                                  // < 3 words
        (3L, "zz qq xx ww vv uu tt ss rr"))          // no stopwords
      q.processAllAvailable()
      val got = spark.table("gopher_gate").as[Long].collect().toSet
      assert(got === Set(1L))
    } finally q.stop()
  }

  test("ingestGate on a STREAM: the stateless projection gates batches " +
    "bit-identically to the batch gate over the same docs") {
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "plain good text here"),
      (2L, "broken caf\u00c3\u00a9 mark"),
      (3L, "template <|endoftext|> leaked"),
      (4L, "slow slow slow pipeline"),
      (5L, "<p>very</p><b>taggy</b>"),
      (6L, null.asInstanceOf[String]))
    val static = corpus.toDF("doc_id", "text")
    val batch = graft.ops.TextStats
      .ingestGate(static, maxBadPpm = 10000L, maxMarkupPpm = 100000L)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(batch.count(_._7) === 1) // only doc 1 survives
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.TextStats
      .ingestGate(mem.toDF().toDF("doc_id", "text"),
        maxBadPpm = 10000L, maxMarkupPpm = 100000L)
      .writeStream.format("memory").queryName("gate")
      .outputMode(OutputMode.Append()).start()
    try {
      corpus.grouped(2).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      val live = spark.table("gate")
        .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
        .collect().sortBy(_._1).toSeq
      assert(live === batch)
    } finally q.stop()
  }

  test("q_sess_stream cross-batch session MERGE: a session whose " +
    "events arrive in two separate lake files (two micro-batches) " +
    "emits ONCE with the merged bounds — the session-window state " +
    "store extends open sessions across batches before the sentinel " +
    "watermark finalizes them") {
    // a directory lake: file 1 has user 9's events at t0 and t0+10min,
    // file 2 (newer mtime -> later micro-batch) adds t0+20min — all
    // within the 30min gap, so ONE 3-event session must come back
    val fix = java.nio.file.Files.createTempDirectory("graft_sessfix_")
    val lake = fix.resolve("events.parquet")
    val t0 = 1700000000000000L // us
    def write(name: String, rows: Seq[(Long, Long, Long)],
              mtimePlus: Long): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sessfix_w_").toString + "/p"
      rows.toDF("event_id", "tsUs", "user_id")
        .select(col("event_id"), (col("tsUs") * 1000L).as("ts"),
          col("user_id"), lit("view").as("event_type"),
          lit(null).cast("double").as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dest = lake.resolve(name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + mtimePlus))
    }
    java.nio.file.Files.createDirectory(lake)
    write("a.parquet",
      Seq((1L, t0, 9L), (2L, t0 + 600000000L, 9L)), 0L)
    write("b.parquet", Seq((3L, t0 + 1200000000L, 9L)), 1000L)
    val out = graft.queries.ExtensionQueries
      .queries("q_sess_stream")(spark, fix.toString)
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((9L, t0, t0 + 1200000000L, 3L)), out.toString)
  }
}
