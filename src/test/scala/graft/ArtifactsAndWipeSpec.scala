package graft

import graft.codegen.{AuditArtifacts, ColumnMeta}
import graft.core.SyncJob
import graft.sources.AuditSource
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Generator file artifacts (S8-S10), directory wipe, drift check,
  * source discovery.
  */
class ArtifactsAndWipeSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq(
    ColumnMeta("id", "int(11)", nullable = false, isPrimaryKey = true),
    ColumnMeta("v", "text", nullable = true))

  test("generateAll bootstraps, cleans stale files, writes one artifact " +
    "per selected source table") {
    val out = tmpDir("gen")
    Files.writeString(Paths.get(out, "old_table.audit.sql"), "stale")
    val written = AuditArtifacts.generateAll(out,
      Map("person" -> cols, "person_audit" -> cols, "acct" -> cols))
    assert(written.map(_.getFileName.toString).sorted ===
      Seq("acct.audit.sql", "person.audit.sql"))
    assert(!Files.exists(Paths.get(out, "old_table.audit.sql")))
    val content = Files.readString(Paths.get(out, "person.audit.sql"))
    assert(content.contains("create table if not exists `person_audit`"))
    assert(content.contains("CREATE TRIGGER `person_after_delete`"))
  }

  test("cleanStale with include list deletes ONLY included tables' files " +
    "(the reference's intent, not its prefix-compare bug — SURVEY.md §7.4.6)") {
    val out = tmpDir("gen2")
    Files.writeString(Paths.get(out, "a.audit.sql"), "x")
    Files.writeString(Paths.get(out, "b.audit.sql"), "x")
    val deleted = AuditArtifacts.cleanStale(out, include = Some(Set("a")))
    assert(deleted === Seq("a.audit.sql"))
    assert(Files.exists(Paths.get(out, "b.audit.sql")))
  }

  private def mkLogDir(pks: Range): String = {
    val dir = tmpDir("log")
    pks.map(i => (i, s"row$i", "insert"))
      .toDF("id", "x", "audit_event")
      .withColumn("audit_timestamp", lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .withColumn("audit_pk", col("id").cast("long"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("wipeLogDir compacts the log to its single max-pk row " +
    "(wipe post-condition, sync:304-308)") {
    val dir = mkLogDir(1 to 50)
    assert(SyncJob.wipeLogDir(spark, dir) === 1L)
    val after = spark.read.parquet(dir).select("audit_pk").as[Long].collect()
    assert(after.toSeq === Seq(50L))
  }

  test("wipeLogDir on a partitioned log throws instead of silently " +
    "wiping nothing, and leaves every partition file in place") {
    val dir = tmpDir("plog")
    val log = spark.read.parquet(mkLogDir(1 to 6))
      .withColumn("dt", when(col("id") <= 3, "d1").otherwise("d2"))
    graft.core.AuditLake.writePartitionedLog(log, dir, "dt")
    val e = intercept[IllegalArgumentException](SyncJob.wipeLogDir(spark, dir))
    assert(e.getMessage.contains("partitioned"), e.getMessage)
    assert(spark.read.parquet(dir).count() === 6L)
  }

  test("wipeLogDir keeps a file appended concurrently with the wipe " +
    "(reference's bounded delete: live trigger writes survive, sync:267-283)") {
    val dir = mkLogDir(1 to 30)
    val n = SyncJob.wipeLogDir(spark, dir, afterSnapshot = () => {
      // a concurrent writer lands rows AFTER the wipe's file listing
      Seq((99, "late", "insert"))
        .toDF("id", "x", "audit_event")
        .withColumn("audit_timestamp", lit(java.sql.Timestamp.valueOf("2020-01-02 00:00:00")))
        .withColumn("audit_pk", lit(99L))
        .write.mode("append").parquet(dir)
    })
    assert(n === 1L)
    val after = spark.read.parquet(dir).select("audit_pk").as[Long].collect().sorted
    // kept max-of-snapshot row AND the concurrently appended row
    assert(after.toSeq === Seq(30L, 99L))
  }

  test("wipeLogDir with maxAge keeps the trailing age window by the " +
    "LOG'S OWN clock plus the newest row (the reference wipe's @TODO, " +
    "sync:289), and Retention.keepYoungerThan never drops the max row") {
    // rows at one-hour spacing: pk i sits i-1 hours after midnight
    val hourly = (1 to 48).map(i => (i, s"row$i", "insert"))
      .toDF("id", "x", "audit_event")
      .withColumn("audit_timestamp",
        expr("timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,id-1,0,0)"))
      .withColumn("audit_pk", col("id").cast("long"))
    val dir = tmpDir("log-age")
    hourly.write.mode("overwrite").parquet(dir)
    // keep the trailing 5 hours of a 48-hour log: newest ts is hour 47,
    // cutoff hour 42 -> pks 43..48 survive
    val n = SyncJob.wipeLogDir(spark, dir,
      maxAge = Some(expr("INTERVAL 5 HOURS")))
    assert(n === 6L)
    assert(spark.read.parquet(dir).select("audit_pk").as[Long]
      .collect().sorted.toSeq === (43L to 48L))
    // every row stale: the max-pk row STILL survives (wipe invariant)
    val dir2 = mkLogDir(1 to 10) // all at the same fixed timestamp
    val kept = graft.core.Retention.keepYoungerThan(
      spark.read.parquet(dir2).filter($"audit_pk" <= 5L),
      expr("INTERVAL 0 SECONDS"))
    // cutoff == max ts and every row carries it -> all 5 pass the age
    // test here; the invariant matters when ages differ:
    val onlyMax = graft.core.Retention.keepYoungerThan(
      hourly.filter($"audit_pk" <= 40L), expr("INTERVAL 0 SECONDS"))
      .select("audit_pk").as[Long].collect().sorted
    assert(onlyMax.contains(40L), "max-pk row must always survive")
    assert(kept.count() === 5L)
    // ALL-NULL timestamps: no age bound computes — fail safe and keep
    // EVERYTHING (same conservative contract as wipeJdbcAudit; the
    // alternative silently degrades an age policy to keep-newest-only)
    val nullTs = (1 to 4).map(i => (i, s"r$i", "insert"))
      .toDF("id", "x", "audit_event")
      .withColumn("audit_timestamp", lit(null).cast("timestamp"))
      .withColumn("audit_pk", col("id").cast("long"))
    val keptNull = graft.core.Retention.keepYoungerThan(
      nullTs, expr("INTERVAL 1 HOURS"))
    assert(keptNull.count() === 4L,
      "age retention with no computable bound must keep all rows")
  }

  test("watermark is answered from the _watermark sidecar without " +
    "re-reading the delivered CSV; count mismatch falls back to a scan") {
    val dir = mkLogDir(1 to 15)
    val sink = tmpDir("sinkwm")
    SyncJob.syncTable(spark, spark.read.parquet(dir), sink, singleFile = true)
    val sidecar = Paths.get(sink, SyncJob.WatermarkFile)
    assert(Files.exists(sidecar))
    assert(Files.readString(sidecar).trim === "15,1")
    // tampering below bypasses Hadoop's LocalFileSystem checksum — drop
    // the crc sidecar-of-the-sidecar so the reads see the new bytes
    def plant(text: String): Unit = {
      Files.writeString(sidecar, text)
      Files.deleteIfExists(Paths.get(sink, "." + SyncJob.WatermarkFile + ".crc"))
    }
    // prove the O(1) path is taken: plant a bogus watermark with the
    // CORRECT file count — if the sidecar is trusted, its value wins
    // (no CSV scan could produce 999)
    plant("999,1\n")
    assert(SyncJob.watermark(spark, sink) === 999L)
    // stale count (simulated crashed append) -> full scan repairs
    plant("999,7\n")
    assert(SyncJob.watermark(spark, sink) === 15L)
    // ...and the fallback REWRITES the sidecar, so one repair scan
    // heals the sink even when no fresh rows ever arrive (otherwise
    // every idle poll repeats the O(delivered-history) scan)
    assert(Files.readString(sidecar).trim === "15,1")
    // corrupt sidecar -> full scan
    plant("garbage\n")
    assert(SyncJob.watermark(spark, sink) === 15L)
    assert(Files.readString(sidecar).trim === "15,1")
  }

  test("syncAndWipe: rows reach the sink before the log is compacted") {
    val dir = mkLogDir(1 to 20)
    val sink = tmpDir("sink")
    val (delivered, retained) = SyncJob.syncAndWipe(spark, dir, sink, singleFile = true)
    assert(delivered === 20L && retained === 1L)
    // sink has all 20; a re-sync from the compacted log delivers nothing
    assert(SyncJob.watermark(spark, sink) === 20L)
    val (d2, r2) = SyncJob.syncAndWipe(spark, dir, sink, singleFile = true)
    assert(d2 === 0L && r2 === 1L)
  }

  test("syncTable fails fast on sink schema drift (README.md:222 intent)") {
    val dir = mkLogDir(1 to 5)
    val sink = tmpDir("sink2")
    SyncJob.syncTable(spark, spark.read.parquet(dir), sink, singleFile = true)
    val drifted = spark.read.parquet(dir)
      .withColumnRenamed("x", "renamed")
    intercept[IllegalArgumentException] {
      SyncJob.syncTable(spark, drifted, sink, singleFile = true)
    }
  }

  test("discoverAuditDirs finds audit-table dirs by substring, sorted") {
    val root = tmpDir("root")
    Files.createDirectories(Paths.get(root, "b_audit"))
    Files.createDirectories(Paths.get(root, "a_audit"))
    Files.createDirectories(Paths.get(root, "plain"))
    assert(AuditSource.discoverAuditDirs(spark, root) === Seq("a_audit", "b_audit"))
  }

  test("parquetAbove pushes the watermark filter to the scan") {
    val dir = mkLogDir(1 to 100)
    val df = AuditSource.parquetAbove(spark, dir, 90L)
    assert(df.count() === 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("audit_pk"))
  }
}
