package perfbench

import graft.core.{AuditSchema, CaptureDiff, Replay, SyncJob}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `cdc_batch`: the reference's cron run with `-w`, round after round,
  * on a lineitem-shaped table. A round is
  * `CaptureDiff.capture(prev, next)` -> append to a flat parquet log
  * dir -> `SyncJob.syncTable` to CSV -> `SyncJob.wipeLogDir`.
  *
  * The table is keyed by a surrogate `row_id`: `(l_orderkey,
  * l_linenumber)` is not unique in TPC-H-shaped lineitem data (see
  * perfbench/NOTES.md). The log is a flat directory because
  * `wipeLogDir` only lists top-level parquet files.
  */
object CdcBatch {
  val Rows = 100000
  // per-round DML: ~1.2% updates, ~0.4% deletes, ~0.4% inserts
  val UpdatePeriod = 83
  val DeleteP = 0.004
  val InsertsPerRound: Int = (Rows * 0.004).toInt
  val Snapshots = 10
  val SetupReps = 3
  val WarmUpRounds = 3
  val Pk = Seq("row_id")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val dir = c.dir(s"batch/snapshots-$i")
      writeSnapshots(spark, c.seed, dir)
      ((System.nanoTime() - t0) / 1e9, dir)
    }
    c.rec.put("setup_reps_s", setups.map(_._1))
    val snapDir = setups.last._2
    val w0 = System.nanoTime()
    warmUp(spark, setups.head._2, c.dir("batch/warmup"))
    c.rec.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    def snap(k: Int): DataFrame = spark.read.parquet(s"$snapDir/snap=$k")

    val logDir = c.dir("batch/log")
    val sinkDir = c.dir("batch/sink")
    val rounds = Seq.newBuilder[Map[String, Any]]
    var attempted = 0
    var failed = 0
    val errors = Seq.newBuilder[String]
    var lastPk = 0L
    var k = 0
    c.heap.startWindow()
    c.trace.foreach(_.startWindow())
    val end = System.nanoTime() + (c.seconds * 1e9).toLong
    while (System.nanoTime() < end && k < Snapshots) {
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val events = CaptureDiff.capture(snap(k), snap(k + 1), Pk, basePk = lastPk)
        val t1 = System.nanoTime()
        events.write.mode("append").parquet(logDir)
        val t2 = System.nanoTime()
        val delivered = SyncJob.syncTable(spark, spark.read.parquet(logDir), sinkDir)
        val t3 = System.nanoTime()
        val retained = SyncJob.wipeLogDir(spark, logDir)
        val t4 = System.nanoTime()
        lastPk += delivered
        k += 1
        // the log must keep exactly its newest row after each wipe
        val log = spark.read.parquet(logDir).agg(count(lit(1)), max(AuditSchema.PkCol)).head()
        val logOk = retained == 1 && log.getLong(0) == 1 && log.getLong(1) == lastPk
        if (!logOk) {
          failed += 1
          errors += s"round $k: log holds ${log.getLong(0)} rows, max pk ${log.get(1)}, expected 1 row at $lastPk"
        }
        rounds += Map("capture_s" -> (t1 - t0) / 1e9, "append_s" -> (t2 - t1) / 1e9,
          "sync_s" -> (t3 - t2) / 1e9, "wipe_s" -> (t4 - t3) / 1e9,
          "total_s" -> (t4 - t0) / 1e9, "events" -> delivered)
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          errors += s"round ${k + 1}: $e"
          k = Snapshots // the sink no longer matches a snapshot; stop
      }
    }
    c.trace.foreach(_.endWindow())
    c.heap.endWindow()

    // Outside the window: the sink has a dense audit_pk 1..N without
    // duplicates, and replaying it gives the last captured snapshot.
    val sink = spark.read.options(SyncJob.CsvOptions)
      .schema(spark.read.parquet(logDir).schema).csv(sinkDir)
    val st = sink.agg(count(lit(1)), countDistinct(col(AuditSchema.PkCol)),
      min(AuditSchema.PkCol), max(AuditSchema.PkCol)).head()
    val dense = st.getLong(0) == lastPk && st.getLong(1) == lastPk &&
      (lastPk == 0 || (st.getLong(2) == 1 && st.getLong(3) == lastPk))
    if (!dense) errors += s"sink audit_pk not dense 1..$lastPk: $st"
    val t0 = System.nanoTime()
    Replay.toState(sink, Pk).write.format("noop").mode("overwrite").save()
    val replayS = (System.nanoTime() - t0) / 1e9
    // the sink holds changes only: replay it over snapshot 0
    val base = snap(0).withColumn(AuditSchema.EventCol, lit("insert"))
      .withColumn(AuditSchema.TimestampCol, current_timestamp())
      .withColumn(AuditSchema.PkCol, lit(0L))
    val replayed = Replay.toState(base.unionByName(sink), Pk).localCheckpoint()
    val expected = snap(k)
    val diff = replayed.exceptAll(expected).count() + expected.exceptAll(replayed).count()
    if (diff != 0) errors += s"sink replayed over snapshot 0 differs from snapshot $k in $diff rows"
    c.rec.put("rounds", rounds.result())
    c.rec.put("replay_s", replayS)
    c.rec.put("attempted", attempted)
    c.rec.put("failed", failed)
    c.rec.put("correct", dense && diff == 0 && failed == 0)
    c.rec.put("errors", errors.result())
  }

  /** All snapshots in one partitioned write. Snapshot k is a closed
    * form of (seed, row id, k): ids below `Rows + k * InsertsPerRound`
    * exist unless their seeded death round is <= k, and a row's image
    * is a function of its last update round, which recurs every
    * `UpdatePeriod` rounds from a seeded phase.
    */
  def writeSnapshots(spark: SparkSession, seed: Long, dir: String): Unit = {
    val maxId = Rows.toLong + Snapshots.toLong * InsertsPerRound
    def h(salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def u(salt: Int, cs: Column*): Column =
      (pmod(h(salt, cs: _*), lit(1L << 30)).cast("double") + 0.5) / (1L << 30).toDouble
    val k = col("snap")
    val id = col("row_id")
    val born = greatest(lit(0L), floor((id - Rows) / InsertsPerRound) + 1)
    val death = born + 1 + floor(log(u(1, id)) / math.log(1 - DeleteP))
    val phase = pmod(h(2, id), lit(UpdatePeriod.toLong))
    val lastUpd = k - pmod(k + phase, lit(UpdatePeriod.toLong))
    val version = when(lastUpd > born, lastUpd).otherwise(lit(-1L))
    val qty = (pmod(h(3, id, version), lit(50L)) + 1).cast("double")
    spark.range(0, Snapshots + 1).toDF("snap")
      .crossJoin(spark.range(0, maxId).toDF("row_id"))
      .filter(id < lit(Rows.toLong) + k * InsertsPerRound && death > k)
      .select(k, id,
        (floor(id / 4) + 1).as("l_orderkey"),
        (pmod(h(4, id), lit(20000L)) + 1).as("l_partkey"),
        (pmod(h(5, id), lit(1000L)) + 1).as("l_suppkey"),
        (pmod(id, lit(7L)) + 1).cast("int").as("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + pmod(h(6, id, version), lit(100000L)) / 100.0), 2).as("l_extendedprice"),
        (pmod(h(7, id, version), lit(11L)) / 100.0).as("l_discount"),
        (pmod(h(8, id, version), lit(9L)) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(h(9, id, version), lit(3L)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pmod(h(10, id, version), lit(2L)) + 1).cast("int")).as("l_linestatus"),
        date_add(lit(java.sql.Date.valueOf("1995-01-01")),
          pmod(h(11, id, version), lit(2500L)).cast("int")).as("l_shipdate"))
      .repartition(Main.Cpus, k)
      .write.partitionBy("snap").parquet(dir)
  }

  /** `WarmUpRounds` throwaway rounds outside the measured dirs: the
    * first rounds of a JVM run about 40% slower while the capture, sync
    * and wipe paths are compiled, which would otherwise land in the
    * window's median.
    */
  private def warmUp(spark: SparkSession, snapDir: String, dir: String): Unit = {
    var basePk = 0L
    for (k <- 0 until WarmUpRounds) {
      CaptureDiff.capture(spark.read.parquet(s"$snapDir/snap=$k"),
        spark.read.parquet(s"$snapDir/snap=${k + 1}"), Pk, basePk = basePk)
        .write.mode("append").parquet(s"$dir/log")
      basePk += SyncJob.syncTable(spark, spark.read.parquet(s"$dir/log"), s"$dir/sink")
      SyncJob.wipeLogDir(spark, s"$dir/log")
    }
    Replay.toState(spark.read.parquet(s"$dir/log"), Pk).count()
  }
}
