package graft

import graft.queries.FrameMemo
import org.apache.spark.storage.StorageLevel

/** The LRU materialized-frame memo: eviction order, rebuild-on-miss,
  * and — the part a long-lived session cares about — that evicted
  * checkpoints release their cached RDD blocks instead of leaking
  * until context shutdown.
  */
class FrameMemoSpec extends SparkSpec {
  import spark.implicits._

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.count {
      case (_, r) => r.getStorageLevel != StorageLevel.NONE
    }

  test("LRU eviction: oldest entry rebuilt after crossing the bound, " +
    "recently-used entries retained; evicted checkpoints unpersist " +
    "(no leaked cached RDDs)") {
    // quiesce: drop anything other suites left persisted so the leak
    // accounting below is exact
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = persistedCount
    val memo = new FrameMemo[String](bound = 3)
    var builds = Map.empty[String, Int].withDefaultValue(0)
    def get(k: String) = memo(k) {
      builds = builds.updated(k, builds(k) + 1)
      Seq((k, 1)).toDF("k", "v")
    }
    get("a"); get("b"); get("c")
    assert(memo.size === 3)
    assert(persistedCount === before + 3)
    get("a")            // refresh a: LRU order is now b, c, a
    get("d")            // evicts b
    assert(memo.size === 3)
    assert(persistedCount === before + 3) // b's checkpoint released
    assert(builds("b") === 1)
    get("c"); get("a"); get("d") // all hits, no rebuilds
    assert(builds === Map("a" -> 1, "b" -> 1, "c" -> 1, "d" -> 1))
    get("b")            // miss: rebuilds b, evicts c (eldest)
    assert(builds("b") === 2)
    get("c")
    assert(builds("c") === 2)
    assert(memo.size === 3)
    assert(persistedCount === before + 3)
    // results stay correct across rebuild
    assert(get("b").as[(String, Int)].head() === (("b", 1)))
    memo.clear()
    assert(memo.size === 0)
    assert(persistedCount === before)
  }

  test("memoized frames are served materialized: a second access " +
    "returns the SAME checkpointed plan, not a rebuild") {
    val memo = new FrameMemo[String](bound = 8)
    val first = memo("x")(Seq((1, 2)).toDF("a", "b"))
    val second = memo("x")(sys.error("must not rebuild"))
    assert(first eq second)
    assert(second.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("per-key locking: a slow build does not block lookups of other, " +
    "already-cached keys; racing threads on the SAME key build once") {
    val memo = new FrameMemo[String](bound = 8)
    memo("fast")(Seq(1).toDF("v")) // cached up front
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val slow = pool.submit(new Runnable {
        def run(): Unit = memo("slow") {
          slowEntered.countDown()
          release.await(30, java.util.concurrent.TimeUnit.SECONDS)
          Seq(2).toDF("v")
        }
      })
      assert(slowEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // with the build mid-flight, a cached-key lookup must return
      // immediately (under the old whole-map monitor this deadlocked
      // until the build finished)
      val t0 = System.nanoTime()
      memo("fast")(sys.error("must not rebuild"))
      assert((System.nanoTime() - t0) < 5e9, "cached lookup blocked behind a build")
      // racing threads on the same in-flight key serialize and build once
      val before = memo.buildCount
      val racer = pool.submit(new Runnable {
        def run(): Unit = memo("slow")(sys.error("must not double-build"))
      })
      release.countDown()
      slow.get(30, java.util.concurrent.TimeUnit.SECONDS)
      racer.get(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(memo.buildCount === before + 1) // the one slow build only
      memo("slow")(sys.error("must not rebuild"))
    } finally pool.shutdownNow()
  }

  test("q_dedup_minhash and q_minhash_est share ONE minhash index " +
    "build (sigs/bands/pairs memoized, estimator adds zero builds)") {
    import graft.queries.ExtensionQueries
    val dir = java.nio.file.Files.createTempDirectory("memoshare").toString
    (0 until 40).map(i =>
        (i.toLong, s"shared tok${i % 7} tok${(i + 1) % 7} body $i"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val c0 = ExtensionQueries.sharedBuildCount
    ExtensionQueries.dedupMinhash(spark, dir).count()
    val c1 = ExtensionQueries.sharedBuildCount
    assert(c1 - c0 === 3, "expected exactly sigs+bands+pairs builds")
    ExtensionQueries.minhashEst(spark, dir).count()
    assert(ExtensionQueries.sharedBuildCount === c1,
      "the estimator must reuse the memoized signature + pair indexes")
  }

  test("q_acf and q_ljung_box share ONE ACF-grid build (the lag " +
    "branches and checkpoint are paid once; the portmanteau reads the " +
    "memoized grid)") {
    import graft.queries.ExtensionQueries
    val dir = java.nio.file.Files.createTempDirectory("acfshare").toString
    (0 until 200).map { i =>
      (s"t${i % 2}", i.toLong, (i % 7).toLong,
        new java.sql.Timestamp(i.toLong * 3600L * 1000L),
        (i % 5) * 100.0)
    }.toDF("event_type", "event_id", "user_id", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    val c0 = ExtensionQueries.sharedBuildCount
    ExtensionQueries.queries("q_acf")(spark, dir).count()
    val c1 = ExtensionQueries.sharedBuildCount
    assert(c1 - c0 === 1, "expected exactly the acf_grid build")
    ExtensionQueries.queries("q_ljung_box")(spark, dir).count()
    assert(ExtensionQueries.sharedBuildCount === c1,
      "the portmanteau must reuse the memoized ACF grid")
  }

  test("q_dsir and q_dsir_sample share ONE importance-weight build " +
    "(the corpus is scored once; the resample reads the scores)") {
    import graft.queries.ExtensionQueries
    val dir = java.nio.file.Files.createTempDirectory("dsirshare").toString
    (0 until 40).map(i =>
        (i.toLong, s"tok${i % 7} tok${(i + 1) % 5} body $i",
          if (i % 2 == 0) "en" else "fr", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val c0 = ExtensionQueries.sharedBuildCount
    ExtensionQueries.dsir(spark, dir).count()
    val c1 = ExtensionQueries.sharedBuildCount
    assert(c1 - c0 === 1, "expected exactly the weight-frame build")
    ExtensionQueries.dsirSample(spark, dir).count()
    assert(ExtensionQueries.sharedBuildCount === c1,
      "the resample must reuse the memoized weight frame")
  }

  test("withInvocationCheckpoints: after N queries the persistent RDDs " +
    "grown in the session are exactly the memo-owned frames, even when " +
    "a query throws") {
    val memo = new FrameMemo[String](bound = 8)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (i <- 1 to 6) FrameMemo.withInvocationCheckpoints(spark) {
      // one invocation-local checkpoint and one shared memo frame
      val local = spark.range(100).selectExpr(s"id * $i AS v")
        .localCheckpoint()
      val shared = memo(s"k${i % 2}")(spark.range(50).toDF("v"))
      assert(local.union(shared).count() === 150L)
    }
    intercept[IllegalStateException](
      FrameMemo.withInvocationCheckpoints(spark) {
        spark.range(10).localCheckpoint()
        throw new IllegalStateException("query failed")
      })
    val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(grown.size === 2, grown)
    assert(grown.subsetOf(FrameMemo.ownedRddIds))
    memo.clear()
  }
}
