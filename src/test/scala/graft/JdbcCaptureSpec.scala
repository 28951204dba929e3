package graft

import graft.core.SyncJob
import graft.sources.AuditSource
import graft.streaming.JdbcPoller
import java.sql.DriverManager

/** Streaming JDBC change capture against embedded Derby: the
  * reference's cron-poll of a real database's audit table
  * (cdc_audit_sync_mysql.php:243), including the remote WHERE
  * pushdown pin and exactly-once resume across query restarts.
  */
class JdbcCaptureSpec extends SparkSpec {
  import spark.implicits._

  private val dbDir = tmpDir("derby") + "/db"
  private val url = s"jdbc:derby:$dbDir;create=true"
  private val props = {
    val p = new java.util.Properties
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  // quoted lowercase identifiers: Derby uppercases bare names, and the
  // audit contract's column names are lowercase
  private def createAuditTable(): Unit = withConn { c =>
    c.createStatement().execute(
      """CREATE TABLE "person_audit" (
        |  "id" INT, "name" VARCHAR(64),
        |  "audit_event" VARCHAR(16), "audit_timestamp" TIMESTAMP,
        |  "audit_pk" BIGINT)""".stripMargin)
  }

  private def insertRows(pks: Range): Unit = withConn { c =>
    val ps = c.prepareStatement(
      """INSERT INTO "person_audit" VALUES (?, ?, 'insert', TIMESTAMP('2020-01-01 00:00:00'), ?)""")
    pks.foreach { i =>
      ps.setInt(1, i); ps.setString(2, s"p$i"); ps.setLong(3, i.toLong)
      ps.addBatch()
    }
    ps.executeBatch()
  }

  private def sinkPks(sink: String): Seq[Long] =
    spark.read.options(SyncJob.CsvOptions).option("header", "true").csv(sink)
      .select("audit_pk").collect().map(_.getString(0).toLong).toSeq.sorted

  createAuditTable()
  insertRows(1 to 10)

  test("jdbcAbove pushes the watermark filter into the remote query " +
    "(the reference's one data-plane optimization, sync:243)") {
    val df = AuditSource.jdbcAbove(spark, url, "\"person_audit\"", 7L, props)
    assert(df.count() === 3)
    val plan = df.queryExecution.executedPlan.toString
    // JDBC v1 scans print pushed predicates; '*' marks source-handled
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(audit_pk,7)"),
      s"watermark filter not pushed to JDBC source:\n$plan")
  }

  test("jdbcAboveParallel range-partitions the pull and returns the " +
    "same rows as the single-partition read") {
    val par = AuditSource.jdbcAboveParallel(spark, url, "\"person_audit\"",
      wm = 2L, upper = 10L, numPartitions = 3, props)
    assert(par.rdd.getNumPartitions === 3)
    val single = AuditSource.jdbcAbove(spark, url, "\"person_audit\"", 2L, props)
    assert(par.select("audit_pk").as[Long].collect().sorted.toSeq ===
      single.select("audit_pk").as[Long].collect().sorted.toSeq)
    // the watermark predicate still reaches the remote WHERE clause
    val plan = par.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(audit_pk,2)"), plan)
  }

  test("pollOnce is the incremental cron-run: first poll delivers all, " +
    "re-poll delivers nothing, new inserts deliver only the delta") {
    val sink = tmpDir("jdbc_sink")
    val src = JdbcPoller.jdbcSource(spark, url, "\"person_audit\"", props)
    assert(JdbcPoller.pollOnce(spark, src, sink, singleFile = true) === 10L)
    assert(JdbcPoller.pollOnce(spark, src, sink, singleFile = true) === 0L)
    insertRows(11 to 15)
    assert(JdbcPoller.pollOnce(spark, src, sink, singleFile = true) === 5L)
    assert(sinkPks(sink) === (1L to 15L))
  }

  test("wipeJdbcAudit bounded by the delivered watermark: rows " +
    "committed after the sync survive the wipe, and the next sync " +
    "delivers each of them exactly once") {
    val tbl = "\"race_audit\""
    withConn(_.createStatement().execute(
      s"""CREATE TABLE $tbl ("id" INT, "audit_pk" BIGINT)"""))
    def insert(pks: Range): Unit = withConn { c =>
      val ps = c.prepareStatement(s"INSERT INTO $tbl VALUES (?, ?)")
      pks.foreach { i => ps.setInt(1, i); ps.setLong(2, i.toLong); ps.addBatch() }
      ps.executeBatch()
    }
    val sink = tmpDir("race_sink")
    def sync(): Long =
      SyncJob.syncTable(spark, spark.read.jdbc(url, tbl, props), sink)
    insert(1 to 5)
    assert(sync() === 5L)
    // committed between the sync's snapshot and the wipe's MAX probe
    insert(6 to 8)
    val delivered = SyncJob.watermark(spark, sink)
    assert(delivered === 5L)
    assert(withConn(AuditSource.wipeJdbcAudit(_, tbl, delivered)) === 5L)
    assert(sync() === 3L)
    assert(sync() === 0L)
    assert(sinkPks(sink) === (1L to 8L))
  }

  test("resident poller delivers across micro-batches and resumes " +
    "exactly-once after a restart (even with a FRESH checkpoint)") {
    val sink = tmpDir("jdbc_sink2")
    val src = JdbcPoller.jdbcSource(spark, url, "\"person_audit\"", props)

    def awaitSink(atLeast: Int, timeoutMs: Long = 30000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline &&
        (try sinkPks(sink).size < atLeast catch { case _: Exception => true })) {
        Thread.sleep(200)
      }
    }

    val q1 = JdbcPoller.start(spark, src, sink, tmpDir("cp1"),
      intervalMs = 200, singleFile = true)
    try awaitSink(15) finally q1.stop()
    assert(sinkPks(sink).size === 15)

    insertRows(16 to 20)
    // new checkpoint on purpose: delivery state lives in the sink
    // watermark, so even a checkpoint wipe cannot double-deliver
    val q2 = JdbcPoller.start(spark, src, sink, tmpDir("cp2"),
      intervalMs = 200, singleFile = true)
    try awaitSink(20) finally q2.stop()
    assert(sinkPks(sink) === (1L to 20L))
  }

  test("trigger-free change capture against a LIVE database: snapshot " +
    "diff over two JDBC reads classifies I/U/D with post-images — the " +
    "capture mode the reference cannot offer (it requires triggers)") {
    // the capture operator is frame-agnostic: a JDBC scan is just
    // another DataFrame, so snapshot-diff CDC works on databases where
    // trigger DDL is forbidden (managed instances, read replicas)
    val db3 = tmpDir("derby-snap") + "/db"
    val url3 = s"jdbc:derby:$db3;create=true"
    def withC[T](f: java.sql.Connection => T): T = {
      val c = DriverManager.getConnection(url3)
      try f(c) finally c.close()
    }
    withC { c =>
      val st = c.createStatement()
      st.execute("""CREATE TABLE "acct" ("id" INT, "bal" INT)""")
      st.execute("""INSERT INTO "acct" VALUES (1, 10), (2, 20), (3, 30)""")
    }
    // snapshot v1 must MATERIALIZE before the source mutates — a lazy
    // JDBC frame would re-read post-mutation state into both sides
    val v1 = spark.read.jdbc(url3, "\"acct\"", props).localCheckpoint()
    withC { c =>
      val st = c.createStatement()
      st.execute("""UPDATE "acct" SET "bal" = 25 WHERE "id" = 2""")
      st.execute("""DELETE FROM "acct" WHERE "id" = 3""")
      st.execute("""INSERT INTO "acct" VALUES (4, 40)""")
    }
    val v2 = spark.read.jdbc(url3, "\"acct\"", props)
    val events = graft.core.CaptureDiff.classify(v1, v2, Seq("id"))
      .select("id", "audit_event", "bal")
      .as[(Int, String, Integer)].collect().sortBy(_._1).toSeq
    assert(events === Seq(
      (2, "update", Int.box(25)),   // post-image
      (3, "delete", Int.box(30)),   // pre-image on delete, like the triggers
      (4, "insert", Int.box(40))))
  }

  test("SyncTool --jdbc: discovers live *_audit tables from the " +
    "catalog, syncs incrementally with the pushed-down range scan, " +
    "and -w wipes the live table to its newest row (bounded delete)") {
    val db2 = tmpDir("derby-sync") + "/db"
    val url2 = s"jdbc:derby:$db2;create=true"
    def withC[T](f: java.sql.Connection => T): T = {
      val c = DriverManager.getConnection(url2)
      try f(c) finally c.close()
    }
    withC { c =>
      val st = c.createStatement()
      for (t <- Seq("orders_audit", "person_audit"))
        st.execute(
          s"""CREATE TABLE "$t" (
             |  "id" INT, "name" VARCHAR(64),
             |  "audit_event" VARCHAR(16), "audit_timestamp" TIMESTAMP,
             |  "audit_pk" BIGINT)""".stripMargin)
      st.execute("""CREATE TABLE "plain" ("id" INT)""") // not an audit table
    }
    def ins(t: String, pks: Range): Unit = withC { c =>
      val ps = c.prepareStatement(
        s"""INSERT INTO "$t" VALUES (?, ?, 'insert', TIMESTAMP('2020-01-01 00:00:00'), ?)""")
      pks.foreach { i =>
        ps.setInt(1, i); ps.setString(2, s"p$i"); ps.setLong(3, i.toLong)
        ps.addBatch()
      }
      ps.executeBatch(); ()
    }
    ins("orders_audit", 1 to 5)
    ins("person_audit", 1 to 7)
    val sink = tmpDir("jdbc_tool_sink")
    def run(extra: String*): Unit = graft.tools.SyncTool.main(
      (Seq("--jdbc", url2, "--sink", sink, "--jdbc-schema", "APP",
        "--jdbc-driver", "org.apache.derby.jdbc.EmbeddedDriver",
        "-v", "0") ++ extra).toArray)
    run()
    // catalog discovery found exactly the two audit tables
    assert(new java.io.File(sink).listFiles().map(_.getName).toSet ===
      Set("orders_audit", "person_audit"))
    assert(sinkPks(s"$sink/orders_audit") === (1L to 5L))
    assert(sinkPks(s"$sink/person_audit") === (1L to 7L))
    // incremental: new rows only, wipe leaves the live newest row
    ins("orders_audit", 6 to 9)
    run("-w", "true")
    assert(sinkPks(s"$sink/orders_audit") === (1L to 9L))
    assert(sinkPks(s"$sink/person_audit") === (1L to 7L))
    withC { c =>
      val rs = c.createStatement().executeQuery(
        """SELECT "audit_pk" FROM "orders_audit"""")
      val left = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getLong(1)).toSeq
      assert(left === Seq(9L), "wipe must keep exactly the newest row")
    }
    // idempotent re-run after wipe: watermark sidecar already covers
    // the surviving row — nothing re-delivers
    run()
    assert(sinkPks(s"$sink/orders_audit") === (1L to 9L))
    // age-bounded live wipe (the reference's sync:289 @TODO on the
    // JDBC backend): hourly-spaced rows, keep the trailing 2 hours by
    // the TABLE'S OWN newest timestamp plus the newest row
    withC { c =>
      c.createStatement().execute(
        """CREATE TABLE "aged_audit" (
          |  "id" INT, "name" VARCHAR(64),
          |  "audit_event" VARCHAR(16), "audit_timestamp" TIMESTAMP,
          |  "audit_pk" BIGINT)""".stripMargin)
      val ps = c.prepareStatement(
        """INSERT INTO "aged_audit" VALUES (?, 'x', 'insert', ?, ?)""")
      (1 to 6).foreach { i =>
        ps.setInt(1, i)
        ps.setTimestamp(2, java.sql.Timestamp.valueOf(
          s"2020-01-01 0$i:00:00")) // hours 1..6
        ps.setLong(3, i.toLong)
        ps.addBatch()
      }
      ps.executeBatch()
      // newest ts = 06:00; 2h window keeps >= 04:00 -> pks 4,5,6
      val gone = AuditSource.wipeJdbcAudit(c, "\"aged_audit\"", Long.MaxValue,
        maxAgeSec = Some(2L * 3600L))
      assert(gone === 3L)
      val rs = c.createStatement().executeQuery(
        """SELECT "audit_pk" FROM "aged_audit" ORDER BY "audit_pk"""")
      val left = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getLong(1)).toSeq
      assert(left === Seq(4L, 5L, 6L))
    }
    // keep-last wipe on a table WITHOUT the timestamp column: the
    // default mode must probe only MAX(audit_pk) (the reference's
    // audit tables need nothing else) — a ts-column probe would throw
    withC { c =>
      c.createStatement().execute(
        """CREATE TABLE "nots_audit" ("id" INT, "audit_pk" BIGINT)""")
      val ps = c.prepareStatement("""INSERT INTO "nots_audit" VALUES (?, ?)""")
      (1 to 4).foreach { i =>
        ps.setInt(1, i); ps.setLong(2, i.toLong); ps.addBatch()
      }
      ps.executeBatch()
      assert(AuditSource.wipeJdbcAudit(c, "\"nots_audit\"", Long.MaxValue) === 3L)
      val rs = c.createStatement().executeQuery(
        """SELECT "audit_pk" FROM "nots_audit"""")
      val left = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getLong(1)).toSeq
      assert(left === Seq(4L))
    }
    // age-bounded wipe over ALL-NULL timestamps: no age bound exists —
    // FAIL SAFE and delete NOTHING. The normal age branch preserves
    // NULL-ts rows (ts < cutoff is UNKNOWN), so degrading to keep-last
    // here would be maximal deletion exactly when the policy can't be
    // evaluated — a retention-safety hazard the engine refuses.
    withC { c =>
      c.createStatement().execute(
        """CREATE TABLE "nullts_audit" (
          |  "id" INT, "audit_timestamp" TIMESTAMP, "audit_pk" BIGINT)"""
          .stripMargin)
      c.createStatement().executeUpdate(
        """INSERT INTO "nullts_audit" VALUES
          | (1, NULL, 1), (2, NULL, 2), (3, NULL, 3)""".stripMargin)
      assert(AuditSource.wipeJdbcAudit(c, "\"nullts_audit\"", Long.MaxValue,
        maxAgeSec = Some(3600L)) === 0L)
      val rs = c.createStatement().executeQuery(
        """SELECT "audit_pk" FROM "nullts_audit"""")
      val left = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getLong(1)).toSeq
      assert(left === Seq(1L, 2L, 3L),
        "age policy with no computable bound must delete nothing")
      // one non-null timestamp restores the normal age branch: the
      // bound computes, NULL-ts rows still survive (UNKNOWN predicate)
      c.createStatement().executeUpdate(
        """INSERT INTO "nullts_audit" VALUES
          | (4, TIMESTAMP('2020-01-01 06:00:00'), 4)""".stripMargin)
      assert(AuditSource.wipeJdbcAudit(c, "\"nullts_audit\"", Long.MaxValue,
        maxAgeSec = Some(3600L)) === 0L,
        "NULL-ts rows survive the age predicate (UNKNOWN)")
    }
  }
}
