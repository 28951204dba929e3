package graft

import graft.core.{AuditSchema, CaptureDiff, SyncJob}
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, TimestampType}
import java.sql.DriverManager

/** What a warm CDC round costs: capture compiles no new class once its
  * code is cached, a batch in one partition is synced with one stats
  * job and one write, and the keep-last wipe reads the log's schema
  * without a job.
  */
class CdcRoundCostSpec extends SparkSpec {
  import spark.implicits._

  private def oldSnap = (1 to 2000).map(i => (i, s"v$i")).toDF("id", "v")
  private def newSnap = (1 to 2100).filter(_ % 10 != 3)
    .map(i => (i, if (i % 7 == 0) s"w$i" else s"v$i")).toDF("id", "v")

  /** Classes Spark's code generator compiled while `f` ran. */
  private def compiled[T](f: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def jobs[T](f: => T): (T, Int) = GraftSqlShim.countJobs(spark)(f)

  test("a second capture plus its write, over another snapshot pair with " +
    "the default clock, compiles no class") {
    val dir = tmpDir("capture-codegen")
    // the first call may compile: its code is not cached yet
    CaptureDiff.capture(oldSnap, newSnap, Seq("id"))
      .write.mode("overwrite").parquet(s"$dir/a")
    val (_, n) = compiled {
      CaptureDiff.capture(newSnap, oldSnap, Seq("id"), basePk = 500L)
        .write.mode("overwrite").parquet(s"$dir/b")
    }
    assert(n === 0L, s"the second capture compiled $n classes")
    val pks = spark.read.parquet(s"$dir/b").select(AuditSchema.PkCol).as[Long].collect().sorted
    assert(pks.toSeq === (501L to 500L + pks.length))
  }

  test("audit_timestamp keeps its place and field, with one value per call") {
    val out = CaptureDiff.capture(oldSnap, newSnap, Seq("id"))
    assert(out.columns.toSeq ===
      Seq("id", "v", AuditSchema.EventCol, AuditSchema.TimestampCol, AuditSchema.PkCol))
    assert(out.schema(AuditSchema.TimestampCol) ===
      StructField(AuditSchema.TimestampCol, TimestampType, nullable = false))
    assert(out.select(AuditSchema.TimestampCol).distinct().count() === 1L)
    val at = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val fixed = CaptureDiff.capture(oldSnap, newSnap, Seq("id"), clock = lit(at))
    assert(fixed.select(AuditSchema.TimestampCol).distinct().as[java.sql.Timestamp]
      .collect().toSeq === Seq(at))
  }

  test("a clock that refers to a row column is refused") {
    intercept[IllegalArgumentException] {
      CaptureDiff.capture(oldSnap, newSnap, Seq("id"), clock = to_timestamp(col("v")))
    }
  }

  private def sinkPks(sink: String): Seq[Long] =
    spark.read.options(SyncJob.CsvOptions).csv(sink)
      .select(col(AuditSchema.PkCol).cast("long")).as[Long].collect().toSeq

  /** `f`'s result, with the `audit_pk`s of each non-empty CSV part it
    * added to `sink`, in part order.
    */
  private def added[T](sink: String)(f: => T): (T, Seq[Seq[Long]]) = {
    val dir = new Path(sink)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).map(_.getPath.toString).filter(_.endsWith(".csv")).toSet
    val before = parts
    val r = f
    (r, (parts -- before).toSeq.sorted.map(sinkPks).filter(_.nonEmpty))
  }

  test("syncTable of a one-partition JDBC batch (embedded Derby) runs 2 jobs") {
    val url = s"jdbc:derby:${tmpDir("derby-cost")}/db;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def withConn[T](f: java.sql.Connection => T): T = {
      val c = DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    val tbl = "\"cost_audit\""
    withConn(_.createStatement().execute(
      s"""CREATE TABLE $tbl ("id" INT, "audit_event" VARCHAR(16), "audit_pk" BIGINT)"""))
    def insert(pks: Range): Unit = withConn { c =>
      val ps = c.prepareStatement(s"INSERT INTO $tbl VALUES (?, 'insert', ?)")
      // inserted in reverse: the sort, not the source, orders the sink
      pks.reverse.foreach { i => ps.setInt(1, i); ps.setLong(2, i.toLong); ps.addBatch() }
      ps.executeBatch()
    }
    val sink = tmpDir("derby-cost-sink")
    val log = spark.read.jdbc(url, tbl, props)
    insert(1 to 20)
    val ((first, firstJobs), firstParts) = added(sink)(jobs(SyncJob.syncTable(spark, log, sink)))
    insert(21 to 40)
    val ((second, secondJobs), secondParts) = added(sink)(jobs(SyncJob.syncTable(spark, log, sink)))
    assert((first, second) === ((20L, 20L)))
    assert((firstJobs, secondJobs) === ((2, 2)))
    assert(firstParts === Seq(1L to 20L))
    assert(secondParts === Seq(21L to 40L))
  }

  /** A parquet log of two captured rounds, the first synced to a CSV
    * sink; each round is written by `write`.
    */
  private def twoRounds(write: DataFrame => DataFrame): (String, String, Long) = {
    val dir = tmpDir("cost-log")
    val (logDir, sinkDir) = (s"$dir/log", s"$dir/sink")
    write(CaptureDiff.capture(oldSnap, newSnap, Seq("id")))
      .write.mode("append").parquet(logDir)
    val delivered = SyncJob.syncTable(spark, spark.read.parquet(logDir), sinkDir)
    write(CaptureDiff.capture(newSnap, oldSnap, Seq("id"), basePk = delivered))
      .write.mode("append").parquet(logDir)
    (logDir, sinkDir, delivered)
  }

  test("syncTable of a parquet log whose new rows sit in one file runs 2 jobs") {
    val (logDir, sinkDir, delivered) = twoRounds(_.coalesce(1))
    val log = spark.read.parquet(logDir)
    val ((n, syncJobs), parts) = added(sinkDir)(jobs(SyncJob.syncTable(spark, log, sinkDir)))
    assert(n > 0)
    assert(syncJobs === 2)
    assert(parts === Seq(delivered + 1 to delivered + n))
    assert(sinkPks(sinkDir).sorted === (1L to delivered + n))
  }

  test("a batch over several partitions keeps the range sort: every part " +
    "is in audit_pk order and the sink is dense; singleFile writes one " +
    "sorted part") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    // keep the range exchange's partitions apart, so the sort's output
    // is several parts
    spark.conf.set(key, "false")
    try {
      val (logDir, sinkDir, delivered) = twoRounds(_.repartition(4))
      val log = spark.read.parquet(logDir)
      val ((n, syncJobs), parts) = added(sinkDir)(jobs(SyncJob.syncTable(spark, log, sinkDir)))
      info(s"multi-partition syncTable: $syncJobs jobs, ${parts.length} parts")
      assert(syncJobs > 2, "the range sort's sampling and shuffle jobs did not run")
      assert(parts.length > 1, parts.map(_.length))
      assert(parts.forall(p => p === p.sorted))
      assert(parts.flatten === (delivered + 1 to delivered + n))
      assert(sinkPks(sinkDir).sorted === (1L to delivered + n))

      val (logDir2, sinkDir2, delivered2) = twoRounds(_.repartition(4))
      val log2 = spark.read.parquet(logDir2)
      val ((n2, singleJobs), single) = added(sinkDir2)(jobs(
        SyncJob.syncTable(spark, log2, sinkDir2, singleFile = true)))
      assert(singleJobs === 2)
      assert(single === Seq(delivered2 + 1 to delivered2 + n2))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("the keep-last wipe runs at most 2 jobs and keeps the schema a " +
    "parquet read of the log reports") {
    val (logDir, _, delivered) = twoRounds(_.repartition(3))
    val schema = spark.read.parquet(logDir).schema
    val fs = new Path(logDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(logDir)).filter(_.getPath.getName.endsWith(".parquet")).head
    assert(spark.read.schema(GraftParquetShim.footerSchema(spark, part))
      .parquet(logDir).schema === schema)
    val top = spark.read.parquet(logDir).agg(max(AuditSchema.PkCol)).as[Long].head()
    assert(top > delivered)
    val (kept, wipeJobs) = jobs(SyncJob.wipeLogDir(spark, logDir))
    assert(kept === 1L)
    assert(wipeJobs <= 2, s"wipeLogDir ran $wipeJobs jobs")
    val after = spark.read.parquet(logDir)
    assert(after.schema === schema)
    assert(after.select(AuditSchema.PkCol).as[Long].collect().toSeq === Seq(top))
  }
}
