package graft

import graft.core.{AuditLake, AuditSchema, CaptureDiff, SyncJob}
import graft.streaming.JdbcPoller
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The Spark work one CDC round needs: capture evaluates its inputs
  * once, sync and the keep-last wipe stay within their job budgets, a
  * poll releases what it persisted, and the sink header is read
  * without Spark.
  */
class CdcRoundJobsSpec extends SparkSpec {
  import spark.implicits._

  private def oldSnap = (1 to 2000).map(i => (i, s"v$i")).toDF("id", "v")
  private def newSnap = (1 to 2100).filter(_ % 10 != 3)
    .map(i => (i, if (i % 7 == 0) s"w$i" else s"v$i")).toDF("id", "v")

  test("capture plus its write reads each bucketed snapshot exactly once") {
    AuditLake.writeBucketedSnapshot(oldSnap, "jobs_old", Seq("id"), buckets = 4)
    AuditLake.writeBucketedSnapshot(newSnap, "jobs_new", Seq("id"), buckets = 4)
    try {
      // a pass-through filter that counts every row read; it keeps the
      // bucketed scan's partitioning, so the join plans no Exchange and
      // every evaluation of the join re-reads the snapshot files
      def counted(table: String) = {
        val acc = spark.sparkContext.longAccumulator(table)
        val pass = udf { (_: Int) => acc.add(1); true }.asNondeterministic()
        (spark.table(table).filter(pass(col("id"))), acc)
      }
      val (o, oRead) = counted("jobs_old")
      val (n, nRead) = counted("jobs_new")
      val out = tmpDir("capture-once")
      CaptureDiff.capture(o, n, Seq("id")).write.mode("overwrite").parquet(out)
      assert(oRead.value === 2000L)
      assert(nRead.value === 1890L)
      val events = spark.read.parquet(out)
      val expected = CaptureDiff.classify(oldSnap, newSnap, Seq("id")).count()
      assert(events.count() === expected)
      val pks = events.select(AuditSchema.PkCol).as[Long].collect().sorted
      assert(pks.toSeq === (1L to expected))
    } finally {
      spark.sql("DROP TABLE IF EXISTS jobs_old")
      spark.sql("DROP TABLE IF EXISTS jobs_new")
    }
  }

  /** A parquet audit log with `rounds` captured rounds, synced to a
    * CSV sink after each but the last, so the sink is non-empty and the
    * log holds one round not yet delivered.
    */
  private def logAndSink(rounds: Int): (String, String, Long) = {
    val dir = tmpDir("round")
    var delivered = 0L
    (0 until rounds).foreach { r =>
      val (a, b) = if (r % 2 == 0) (oldSnap, newSnap) else (newSnap, oldSnap)
      CaptureDiff.capture(a, b, Seq("id"), basePk = delivered)
        .write.mode("append").parquet(s"$dir/log")
      if (r < rounds - 1)
        delivered += SyncJob.syncTable(spark, spark.read.parquet(s"$dir/log"), s"$dir/sink")
    }
    (s"$dir/log", s"$dir/sink", delivered)
  }

  test("on a parquet log with a non-empty sink: sinkColumns runs no job, " +
    "syncTable at most 5 and the keep-last wipe at most 3") {
    val (logDir, sinkDir, delivered) = logAndSink(rounds = 2)
    val log = spark.read.parquet(logDir)
    val (cols, colJobs) = GraftSqlShim.countJobs(spark)(SyncJob.sinkColumns(spark, sinkDir))
    assert(cols === Some(log.columns.toSeq))
    assert(colJobs === 0)
    val (n, syncJobs) = GraftSqlShim.countJobs(spark)(SyncJob.syncTable(spark, log, sinkDir))
    assert(n > 0)
    assert(syncJobs <= 5, s"syncTable ran $syncJobs jobs")
    assert(SyncJob.watermark(spark, sinkDir) === delivered + n)
    val (kept, wipeJobs) = GraftSqlShim.countJobs(spark)(SyncJob.wipeLogDir(spark, logDir))
    info(s"jobs: sinkColumns $colJobs, syncTable $syncJobs, wipeLogDir $wipeJobs")
    assert(kept === 1L)
    assert(wipeJobs <= 3, s"wipeLogDir ran $wipeJobs jobs")
    assert(spark.read.parquet(logDir).select(AuditSchema.PkCol).as[Long].collect().toSeq ===
      Seq(delivered + n))
  }

  test("keep-last wipe of a log with no rows keeps its schema in one empty file") {
    val dir = tmpDir("empty-log")
    oldSnap.withColumn(AuditSchema.PkCol, col("id").cast("long")).limit(0)
      .write.mode("overwrite").parquet(dir)
    assert(SyncJob.wipeLogDir(spark, dir) === 0L)
    val after = spark.read.parquet(dir)
    assert(after.columns.toSeq === Seq("id", "v", AuditSchema.PkCol))
    assert(after.count() === 0L)
  }

  test("20 polls leave the context's persisted RDDs unchanged") {
    val (logDir, sinkDir, _) = logAndSink(rounds = 1)
    val source = () => spark.read.parquet(logDir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val delivered = (1 to 20).map(_ => JdbcPoller.pollOnce(spark, source, sinkDir))
    assert(delivered.head > 0 && delivered.tail.forall(_ == 0L), delivered)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  private def sinkWith(parts: (String, String)*): String = {
    val dir = tmpDir("header")
    parts.foreach { case (name, text) => Files.writeString(Paths.get(dir, name), text) }
    dir
  }

  private def sparkColumns(dir: String): Option[Seq[String]] =
    Some(spark.read.options(SyncJob.CsvOptions).csv(dir).columns.toSeq)

  test("sinkColumns answers what a Spark CSV read of the sink answers") {
    // a sink SyncJob wrote, with a quoted column name
    val written = tmpDir("header-written")
    Seq((1, "a")).toDF("id", "odd, \"name\"").write.mode("overwrite")
      .options(SyncJob.CsvOptions).csv(written)
    assert(SyncJob.sinkColumns(spark, written) === sparkColumns(written))
    assert(SyncJob.sinkColumns(spark, written) === Some(Seq("id", "odd, \"name\"")))
    // a zero-byte part and a header-only part
    val mixed = sinkWith("part-0.csv" -> "", "part-1.csv" -> "id,x,audit_pk\n")
    assert(SyncJob.sinkColumns(spark, mixed) === sparkColumns(mixed))
    // state and marker files are not parts
    val marked = sinkWith(SyncJob.WatermarkFile -> "7,1\n", "_SUCCESS" -> "",
      "part-0.csv" -> "id,\"x\"\"y\",,audit_pk\n1,2,3,4\n")
    assert(SyncJob.sinkColumns(spark, marked) === sparkColumns(marked))
    assert(SyncJob.sinkColumns(spark, marked) === Some(Seq("id", "x\"y", "_c2", "audit_pk")))
    // empty or absent sinks have no columns
    assert(SyncJob.sinkColumns(spark, sinkWith("part-0.csv" -> "")) === None)
    assert(SyncJob.sinkColumns(spark, sinkWith(SyncJob.WatermarkFile -> "7,1\n")) === None)
    assert(SyncJob.sinkColumns(spark, tmpDir("header") + "/absent") === None)
  }
}
