package graft.queries

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}

/** LRU memo of materialized (localCheckpoint'd) DataFrames — the
  * materialized-view registry a long-lived session keeps for shared
  * intermediates (dedup graphs, ANN index artifacts).
  *
  * Past `bound` entries the LEAST-RECENTLY-USED memo is evicted and
  * its checkpointed RDD unpersisted (blocks freed, not GC-deferred) —
  * unlike a wholesale clear(), a session that crosses the bound loses
  * only its coldest frame and re-pays only that build. Rebuild is
  * always safe: every memo is a pure function of its key's inputs.
  *
  * VALIDITY CONTRACT: a returned frame is executable until `bound`
  * OTHER keys have been built after it was last accessed. Eviction
  * unpersists checkpoint blocks that have no lineage to recompute, so
  * a DIRECT reference held across more than `bound` subsequent builds
  * and executed afterwards fails with missing blocks — re-fetch
  * through `apply` instead (a post-eviction fetch simply rebuilds).
  * This applies across THREADS too: a frame another thread is still
  * holding can be evicted under it if `bound` newer keys land first —
  * size `bound` >> the concurrent working set (here: 256 vs ~15 keys).
  * Consumers here (Verify/Bench queries) execute their frames within
  * the same query, far inside the window.
  *
  * Thread-safe with PER-KEY build locking: the map monitor guards only
  * map mutation (get/put/evict — microseconds), while the build +
  * eager localCheckpoint (a full Spark job) runs under the key's own
  * holder lock. Concurrent lookups of other, already-cached keys are
  * never blocked behind a slow build; two threads racing the SAME key
  * serialize on its holder and build once. A build may recursively
  * resolve OTHER keys of the same memo (each nested apply takes the
  * map lock briefly, then the nested key's holder lock) — mutually
  * recursive builds of each other's keys would deadlock, but memos
  * are pure functions of their inputs so no such cycle exists here.
  */
object FrameMemo {
  /** Attribution tag for the build ledger: the harness (Bench) sets
    * this to the query it is currently timing, so a memo build that
    * lands inside that query's wall-clock is charged to it by name in
    * [[buildLog]] — the observable that separates "query got slower"
    * from "the shared memo's build cost moved to a different first
    * consumer" (bench drift forensics). Unset outside the harness.
    */
  val currentConsumer = new ThreadLocal[String]

  private val log =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, String)]

  private[queries] val logger =
    org.slf4j.LoggerFactory.getLogger(classOf[FrameMemo[_]])

  private[queries] def record(key: String, secs: Double): Unit =
    log.add((key, secs, Option(currentConsumer.get).getOrElse("")))

  // Registry of checkpoint-RDD ids the memos own — the per-query sweep
  // ([[withInvocationCheckpoints]]) consults it so a memo built INSIDE
  // a query's window (straggler past the prewarm) is never unpersisted
  // out from under its later consumers.
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private[queries] def registerOwned(df: DataFrame): Unit =
    GraftSqlShim.checkpointRddId(df).foreach(id => owned.add(id))

  /** Unpersist a memo frame's checkpoint AND drop it from the owned
    * registry — every memo release path funnels through here.
    */
  private[queries] def releaseFrame(df: DataFrame): Unit = {
    GraftSqlShim.checkpointRddId(df).foreach(id => owned.remove(id))
    GraftSqlShim.unpersistCheckpoint(df)
  }

  /** Checkpoint-RDD ids currently owned by live memo entries. */
  def ownedRddIds: Set[Int] = {
    val b = Set.newBuilder[Int]
    owned.forEach(id => b += id)
    b.result()
  }

  /** Run one query invocation, then free every persistent RDD it
    * created except the frames the memos own ([[ownedRddIds]]).
    * Invocation-local `localCheckpoint` blocks are reachable only
    * through the frames that invocation built; left persisted, a run
    * of 320 queries piles them up in the block manager and the heap
    * until a full GC lands a multi-second pause on a later query. The
    * sweep runs after `body` returns or throws, outside any timing
    * `body` does, so it blocks until the blocks are gone.
    */
  def withInvocationCheckpoints[T](spark: SparkSession)(body: => T): T = {
    quietCheckpointUnpersist
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val keep = ownedRddIds
      for ((id, rdd) <- spark.sparkContext.getPersistentRDDs
           if !before.contains(id) && !keep.contains(id))
        rdd.unpersist(blocking = true)
    }
  }

  // each unpersisted localCheckpoint RDD logs a "lineage has been
  // truncated" WARN — benign here (the frame's consumer has fully
  // materialized) and, at one line per checkpoint per query, enough to
  // crowd the stdout tail a harness's result line must survive in
  private lazy val quietCheckpointUnpersist: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

  /** (memo key, build seconds, consumer query) per ACTUAL build, in
    * build order, across every FrameMemo instance in the session.
    */
  def buildLog: Seq[(String, Double, String)] = {
    val b = Seq.newBuilder[(String, Double, String)]
    log.forEach(e => b += e)
    b.result()
  }

  def clearBuildLog(): Unit = log.clear()
}

final class FrameMemo[K](bound: Int) {
  require(bound >= 1, s"bound must be >= 1, got $bound")

  private val builds = new java.util.concurrent.atomic.AtomicLong

  /** Number of ACTUAL builds run (misses + post-eviction rebuilds) —
    * the observable that lets a spec assert a shared index was
    * materialized once, not once per consumer.
    */
  def buildCount: Long = builds.get()

  /** One-slot lazy cell: the build runs under THIS holder's lock, not
    * the map's. `peek` is lock-free for the evictor.
    */
  private final class Holder(keyLabel: String, build: () => DataFrame) {
    @volatile private var built: DataFrame = null
    def frame: DataFrame = {
      val b0 = built
      if (b0 != null) b0
      else synchronized {
        if (built == null) {
          val t0 = System.nanoTime()
          built = build().localCheckpoint()
          FrameMemo.registerOwned(built)
          builds.incrementAndGet()
          FrameMemo.record(keyLabel, (System.nanoTime() - t0) / 1e9)
        }
        built
      }
    }
    def peek: DataFrame = built
  }

  private val map = new java.util.LinkedHashMap[K, Holder](
    16, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[K, Holder]): Boolean =
      if (size() > bound) {
        // peek, don't force: an unbuilt holder has nothing to free.
        // (Evicting a holder whose build is mid-flight would leak one
        // checkpoint until GC — but the eldest entry is by definition
        // the least recently ACCESSED key, and a mid-build key was
        // just accessed, so the race needs bound concurrent inserts
        // inside one build; accepted and documented.)
        val f = e.getValue.peek
        if (f != null) FrameMemo.releaseFrame(f)
        // loud by design: an eviction on a healthy session means the
        // registry crossed its bound and the coldest index will
        // rebuild on next touch — the operator signal to either raise
        // the bound or persist the artifact (graft.ops.ArtifactStore)
        FrameMemo.logger.warn(
          s"FrameMemo evicting LRU entry '${e.getKey}' (bound=$bound " +
            s"crossed); its checkpoint blocks are freed and the next " +
            s"access rebuilds it")
        true
      }
      else false
  }

  /** Memoized lookup: returns the materialized frame for `k`, running
    * `build` (then localCheckpoint) only on first access or after
    * eviction. The build runs OUTSIDE the map lock.
    */
  def apply(k: K)(build: => DataFrame): DataFrame = {
    val h = map.synchronized {
      val cur = map.get(k) // refreshes LRU order on hit
      if (cur != null) cur
      else {
        val nh = new Holder(k.toString, () => build)
        map.put(k, nh)
        nh
      }
    }
    h.frame
  }

  def size: Int = map.synchronized(map.size())

  /** Built frame for `k` if one exists — never triggers a build. The
    * probe a consumer uses to read an OPTIONAL memo (e.g. post-split
    * serving centroids that only exist after an index refresh).
    */
  def peek(k: K): Option[DataFrame] = map.synchronized {
    Option(map.get(k)).flatMap(h => Option(h.peek))
  }

  /** Swap-in: atomically install a NEW build for `k`, unpersisting the
    * old frame's checkpoint — the index-refresh primitive (an ANN
    * service replacing its posting-list layout after a split). The new
    * build materializes eagerly, outside the map lock like `apply`.
    */
  def replace(k: K)(build: => DataFrame): DataFrame = {
    val h = map.synchronized {
      val old = map.remove(k)
      if (old != null) {
        val f = old.peek
        if (f != null) FrameMemo.releaseFrame(f)
      }
      val nh = new Holder(k.toString, () => build)
      map.put(k, nh)
      nh
    }
    h.frame
  }

  /** Drop `k` (unpersisting its checkpoint if built) — the inverse of
    * an optional-memo install.
    */
  def remove(k: K): Unit = map.synchronized {
    val old = map.remove(k)
    if (old != null) {
      val f = old.peek
      if (f != null) FrameMemo.releaseFrame(f)
    }
  }

  /** Evict everything, unpersisting every BUILT checkpoint. */
  def clear(): Unit = map.synchronized {
    map.values().forEach { h =>
      val f = h.peek
      if (f != null) FrameMemo.releaseFrame(f)
    }
    map.clear()
  }
}
