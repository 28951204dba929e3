package perfbench

import graft.core.SyncJob
import graft.sources.AuditSource
import graft.streaming.JdbcPoller
import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** `cdc_trickle`: the live capture path. An orders-shaped table in
  * embedded Derby carries AFTER INSERT/UPDATE/DELETE triggers that
  * write the reference's audit row (post-image for insert and update,
  * pre-image for delete, `audit_pk` an identity column, last). An
  * open-loop generator (one thread, one autocommit connection) commits
  * changes on a fixed seeded schedule; the resident
  * `JdbcPoller.start` delivers them to a CSV sink.
  *
  * Freshness is measured from each change's SCHEDULED commit time to
  * the end of the micro-batch that wrote it to the sink. The batch that
  * wrote a sink file is the first batch ending at or after the file's
  * modification time; the mapping is done in `metrics.py`.
  */
object CdcTrickle {
  val Rate = 20.0 // changes per second
  val InitialRows = 1000
  val SetupReps = 3
  val IntervalMs = 100L // below one poll's duration
  val WarmUpBatches = 3
  val Table = "orders"
  val Audit = "orders_audit"
  private val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def props = {
    val p = new java.util.Properties
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** A row image as the CSV sink renders it, for the delivery check. */
  final case class Image(key: Long, cust: Long, status: String, price: String,
                         date: String, prio: String) {
    def fields: Seq[String] = Seq(key.toString, cust.toString, status, price, date, prio)
  }

  final case class Change(event: String, image: Image)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    System.setProperty("derby.stream.error.file", c.dir("trickle/derby.log"))
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val url = s"jdbc:derby:${c.dir(s"trickle/db-$i")};create=true"
      val rng = new scala.util.Random(c.seed)
      val live = createDb(url, rng)
      ((System.nanoTime() - t0) / 1e9, url, live, rng)
    }
    c.rec.put("setup_reps_s", setups.map(_._1))
    val (_, url, live, rng) = setups.last
    val w0 = System.nanoTime()
    warmUp(c, setups.head._2)
    val pollWarmUpS = (System.nanoTime() - w0) / 1e9

    val sinkDir = c.dir("trickle/sink")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches.add(Map("batch" -> p.batchId, "start_ms" -> start,
          "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)), "durations_ms" -> d))
      }
    }
    spark.streams.addListener(listener)
    val traced = Seq.newBuilder[Map[String, Double]]
    val tracer = c.trace.map { _ =>
      // traced run only: the public calls a poll makes, timed from
      // outside on their own after each batch
      val t = new Thread(() => {
        var seen = -1L
        try while (!Thread.currentThread().isInterrupted) {
          val latest = batches.asScala.map(_("batch").asInstanceOf[Long]).maxOption.getOrElse(-1L)
          if (latest > seen) {
            seen = latest
            traced += timeCalls(c, url, sinkDir)
          }
          Thread.sleep(20)
        } catch { case _: InterruptedException => () }
      }, "perfbench-trace")
      t.setDaemon(true)
      t
    }

    // the resident poller is started, and has run its first (empty)
    // batches, before the window opens: freshness is a steady-state
    // figure, not the stream's start-up
    val s0 = System.nanoTime()
    val src = JdbcPoller.jdbcSource(spark, url, "\"" + Audit + "\"", props)
    val q = JdbcPoller.start(spark, src, sinkDir, c.dir("trickle/checkpoint"),
      intervalMs = IntervalMs)
    while (batches.size < WarmUpBatches) Thread.sleep(10)
    batches.clear()
    c.rec.put("warmup_s", pollWarmUpS + (System.nanoTime() - s0) / 1e9)
    c.heap.startWindow()
    c.trace.foreach(_.startWindow())
    tracer.foreach(_.start())
    val gen = new Generator(url, rng, live, c.seconds)
    gen.run()
    // let the poller deliver what was committed, then stop it
    val deadline = System.nanoTime() + 30000000000L
    while (delivered(sinkDir) < gen.changes.size && System.nanoTime() < deadline)
      Thread.sleep(20)
    q.processAllAvailable()
    q.stop()
    tracer.foreach { t => t.interrupt(); t.join() }
    c.trace.foreach(_.endWindow())
    c.heap.endWindow()
    spark.streams.removeListener(listener)

    // Outside the window: every committed change is in the sink exactly
    // once, with its row image, in audit_pk order.
    val files = csvFiles(sinkDir)
    val rows = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toSeq.drop(1) // header
      lines.map(l => (f, parseCsv(l)))
    }
    val errors = Seq.newBuilder[String]
    val pks = rows.map(_._2.last.toLong)
    val ordered = files.forall { f =>
      val ps = rows.filter(_._1 == f).map(_._2.last.toLong)
      ps == ps.sorted
    }
    if (!ordered) errors += "a sink file is not in audit_pk order"
    val expected = gen.changes.zipWithIndex.map { case (ch, i) => (i + 1L) -> ch }.toMap
    val byPk = rows.map(_._2).groupBy(_.last.toLong)
    var failed = 0
    for ((pk, ch) <- expected) byPk.get(pk) match {
      case Some(Seq(r)) if r.take(6) == ch.image.fields && r(6) == ch.event => ()
      case other =>
        failed += 1
        if (failed <= 5) errors += s"change $pk (${ch.event} ${ch.image}) delivered as $other"
    }
    val extra = pks.filterNot(expected.contains)
    if (extra.nonEmpty) errors += s"${extra.size} sink rows match no committed change"
    // group sink files by write job: each poll writes one job's files
    val groups = files.groupBy(f => f.getFileName.toString.split("-").slice(2, 7).mkString("-"))
      .values.map { fs =>
        val ps = rows.filter(r => fs.contains(r._1)).map(_._2.last.toLong)
        Seq(fs.map(f => java.nio.file.Files.getLastModifiedTime(f).toMillis).max,
          if (ps.isEmpty) 0L else ps.min, if (ps.isEmpty) 0L else ps.max)
      }.toSeq.sortBy(_(2))
    c.rec.put("changes", gen.changes.indices.map(i =>
      Seq(gen.scheduledMs(i), gen.startedMs(i), gen.committedMs(i))))
    c.rec.put("change_window_ms", Seq(gen.t0Ms, gen.endMs))
    c.rec.put("batches", batches.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]))
    c.rec.put("sink_groups", groups)
    c.rec.put("sink_files", files.size)
    c.rec.put("traced_calls", traced.result())
    c.rec.put("attempted", gen.changes.size)
    c.rec.put("failed", failed + gen.failures)
    c.rec.put("correct", failed == 0 && gen.failures == 0 && ordered && extra.isEmpty &&
      gen.changes.nonEmpty)
    c.rec.put("errors", errors.result() ++ gen.errors)
  }

  private def delivered(sinkDir: String): Long = {
    val f = java.nio.file.Paths.get(sinkDir, SyncJob.WatermarkFile)
    if (!java.nio.file.Files.exists(f)) 0L
    else scala.util.Try(java.nio.file.Files.readString(f).trim.split(",")(0).toLong).getOrElse(0L)
  }

  private def csvFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else java.nio.file.Files.list(p).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq.sortBy(_.getFileName.toString)
  }

  /** The sink's CSV dialect: `"` quoting with `""` doubling. */
  private[perfbench] def parseCsv(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val b = new StringBuilder
    var i = 0
    var quoted = false
    while (i < line.length) {
      val ch = line.charAt(i)
      if (quoted) {
        if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { b += '"'; i += 1 }
        else if (ch == '"') quoted = false
        else b += ch
      } else if (ch == '"') quoted = true
      else if (ch == ',') { out += b.toString; b.clear() }
      else b += ch
      i += 1
    }
    out += b.toString
    out.result()
  }

  /** The traced run's per-batch probes: the sink watermark and header
    * reads and the JDBC read above the watermark, each a public call.
    */
  private def timeCalls(c: Ctx, url: String, sinkDir: String): Map[String, Double] = {
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    var wm = -1L
    val w = timed { wm = SyncJob.watermark(c.spark, sinkDir) }
    val s = timed { SyncJob.sinkColumns(c.spark, sinkDir) }
    val j = timed {
      AuditSource.jdbcAbove(c.spark, url, "\"" + Audit + "\"", wm, props)
        .agg(count(lit(1))).head()
    }
    Map("watermark_s" -> w, "sinkColumns_s" -> s, "jdbcAbove_s" -> j)
  }

  private def image(key: Long, rng: scala.util.Random): Image =
    Image(key, 1 + rng.nextInt(1500).toLong, Statuses(rng.nextInt(3)),
      java.math.BigDecimal.valueOf(100000 + rng.nextInt(49900000).toLong, 2).toPlainString,
      java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2400).toLong).toString,
      Priorities(rng.nextInt(5)))

  private def bind(ps: java.sql.PreparedStatement, im: Image, from: Int): Unit = {
    ps.setLong(from, im.key); ps.setLong(from + 1, im.cust)
    ps.setString(from + 2, im.status); ps.setBigDecimal(from + 3, new java.math.BigDecimal(im.price))
    ps.setDate(from + 4, java.sql.Date.valueOf(im.date)); ps.setString(from + 5, im.prio)
  }

  private def q(s: String) = "\"" + s + "\""

  /** Source table, audit table and triggers, then the initial rows
    * (loaded before the triggers exist, so the audit log starts empty).
    * Returns the live rows by key.
    */
  private def createDb(url: String, rng: scala.util.Random)
      : scala.collection.mutable.LinkedHashMap[Long, Image] = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      val colDefs = Seq("BIGINT NOT NULL", "BIGINT", "VARCHAR(1)", "DECIMAL(12,2)",
        "DATE", "VARCHAR(15)")
      val defs = Cols.zip(colDefs).map { case (n, t) => s"${q(n)} $t" }
      st.execute(s"CREATE TABLE ${q(Table)} (${defs.mkString(", ")}, PRIMARY KEY (${q("o_orderkey")}))")
      st.execute(s"CREATE TABLE ${q(Audit)} (${defs.mkString(", ").replace(" NOT NULL", "")}, " +
        s"${q("audit_event")} VARCHAR(6) NOT NULL, ${q("audit_timestamp")} TIMESTAMP NOT NULL, " +
        s"${q("audit_pk")} BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY)")
      val live = scala.collection.mutable.LinkedHashMap.empty[Long, Image]
      val ins = conn.prepareStatement(s"INSERT INTO ${q(Table)} VALUES (?, ?, ?, ?, ?, ?)")
      (1 to InitialRows).foreach { k =>
        val im = image(k.toLong, rng)
        bind(ins, im, 1); ins.addBatch(); live(im.key) = im
      }
      ins.executeBatch()
      val cols = Cols.map(q).mkString(", ")
      for ((event, ref, when) <- Seq(("insert", "NEW", "INSERT"), ("update", "NEW", "UPDATE"),
                                     ("delete", "OLD", "DELETE"))) {
        val vals = Cols.map(n => s"R.${q(n)}").mkString(", ")
        st.execute(s"CREATE TRIGGER ${q(Table + "_after_" + event)} AFTER $when ON ${q(Table)} " +
          s"REFERENCING $ref AS R FOR EACH ROW INSERT INTO ${q(Audit)} " +
          s"($cols, ${q("audit_event")}, ${q("audit_timestamp")}) " +
          s"VALUES ($vals, '$event', CURRENT_TIMESTAMP)")
      }
      live
    } finally conn.close()
  }

  /** One poll of the first set-up's database, so the JDBC source and
    * the CSV writer are loaded before the window.
    */
  private def warmUp(c: Ctx, url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        s"UPDATE ${q(Table)} SET ${q("o_custkey")} = ${q("o_custkey")} WHERE ${q("o_orderkey")} = 1")
    } finally conn.close()
    JdbcPoller.pollOnce(c.spark, JdbcPoller.jdbcSource(c.spark, url, q(Audit), props),
      c.dir("trickle/warmup-sink"))
  }

  /** Open-loop change generator: change i is due at `t0 + i / Rate`.
    * A late start never shifts later due times; lateness is recorded.
    * Mix: 40% insert, 40% update, 20% delete.
    */
  final class Generator(url: String, rng: scala.util.Random,
                        live: scala.collection.mutable.LinkedHashMap[Long, Image],
                        seconds: Double) {
    val changes = scala.collection.mutable.ArrayBuffer.empty[Change]
    val scheduledMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val startedMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val committedMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    var failures = 0
    var t0Ms = 0L
    var endMs = 0L
    private val keys = scala.collection.mutable.ArrayBuffer.from(live.keys)
    private var nextKey = live.keys.max + 1

    def run(): Unit = {
      val conn: Connection = DriverManager.getConnection(url)
      try {
        val ins = conn.prepareStatement(s"INSERT INTO ${q(Table)} VALUES (?, ?, ?, ?, ?, ?)")
        val upd = conn.prepareStatement(s"UPDATE ${q(Table)} SET " +
          Cols.tail.map(n => s"${q(n)} = ?").mkString(", ") + s" WHERE ${q("o_orderkey")} = ?")
        val del = conn.prepareStatement(s"DELETE FROM ${q(Table)} WHERE ${q("o_orderkey")} = ?")
        t0Ms = System.currentTimeMillis() + 50
        endMs = t0Ms + (seconds * 1000).toLong
        val n = (seconds * Rate).toInt
        for (i <- 0 until n) {
          val due = t0Ms + (i * 1000.0 / Rate).toLong
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val r = rng.nextDouble()
          val started = System.currentTimeMillis()
          val ch =
            if (r < 0.4 || keys.size < 10) {
              val im = image(nextKey, rng); nextKey += 1
              bind(ins, im, 1); ins.executeUpdate()
              keys += im.key; live(im.key) = im
              Change("insert", im)
            } else if (r < 0.8) {
              val key = keys(rng.nextInt(keys.size))
              val im = image(key, rng)
              upd.setLong(1, im.cust); upd.setString(2, im.status)
              upd.setBigDecimal(3, new java.math.BigDecimal(im.price))
              upd.setDate(4, java.sql.Date.valueOf(im.date)); upd.setString(5, im.prio)
              upd.setLong(6, key)
              if (upd.executeUpdate() != 1) { failures += 1; errors += s"update of $key hit no row" }
              live(key) = im
              Change("update", im)
            } else {
              val idx = rng.nextInt(keys.size)
              val key = keys(idx)
              keys(idx) = keys.last; keys.remove(keys.size - 1)
              val im = live.remove(key).get
              del.setLong(1, key)
              if (del.executeUpdate() != 1) { failures += 1; errors += s"delete of $key hit no row" }
              Change("delete", im)
            }
          committedMs += System.currentTimeMillis()
          startedMs += started
          scheduledMs += due
          changes += ch
        }
      } finally conn.close()
    }
  }
}
