package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.functions._

/** Incremental watermark sync: audit log -> CSV sink (SURVEY.md §2.1
  * S5-S7, §2.8). The reference reads each audit table above the last
  * delivered `audit_pk` and appends to one CSV file per table
  * (cdc_audit_sync_mysql.php:242-258); the watermark lives in the sink
  * itself.
  *
  * Spark build: the watermark is `max(audit_pk)` over the sink
  * directory — answered from parquet/CSV scan with partial aggregation
  * (for a parquet sink, footer stats alone) instead of the reference's
  * defective tail-byte-scan (SURVEY.md §2.5 W2 — we implement the
  * documented intent, not the bug). The incremental read is a
  * predicate-pushed filter `audit_pk > wm`, mirroring the reference's
  * pushed-down `WHERE audit_pk > :wm` (cdc_audit_sync_mysql.php:243).
  *
  * CSV conventions match PHP `fputcsv` (cdc_audit_sync_mysql.php:257):
  * comma delimiter, `"` enclosure only when needed, `""` escaping,
  * `\n` terminator, NULL -> empty field. One logical file per table:
  * the sink is a directory of part files (the documented deviation at
  * scale, SURVEY.md §7.4.4); [[SyncJob.syncTable]] takes a
  * `singleFile` flag that coalesces to one part for reference-parity
  * artifacts at test scale.
  *
  * Each append is written in `audit_pk` order. A batch that sits in one
  * partition (every trickle poll, a log round in one file) — or any
  * `singleFile` batch — is coalesced to one partition and sorted there
  * in place; only a batch spread over several partitions pays the
  * parallel range sort (a sampling job and a shuffle).
  */
object SyncJob {

  /** fputcsv-parity writer options (SURVEY.md §2.1 S7, §7.4.3). */
  val CsvOptions: Map[String, String] = Map(
    "header"     -> "true",
    "quote"      -> "\"",
    "escape"     -> "\"",   // "" doubling, like fputcsv
    "nullValue"  -> "",     // NULL -> empty field
    "emptyValue" -> "\"\"", // keep empty string distinguishable on write
    "lineSep"    -> "\n",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss"
  )

  /** Sidecar state file holding the delivered watermark: one line,
    * `<max audit_pk>,<csv part-file count at write time>`. The
    * underscore prefix keeps Spark's readers from treating it as data.
    */
  val WatermarkFile = "_watermark"

  /** Read the sink-side watermark: greatest `audit_pk` already
    * delivered, or `initial` (-1 like the reference's "no file yet"
    * path) when the sink is empty/absent.
    *
    * O(1) path (the reference's intent — it reads only the file tail,
    * cdc_audit_sync_mysql.php:364-386): a `_watermark` sidecar written
    * after each successful append. The sidecar records the csv
    * part-file count at write time; a count mismatch means an append
    * committed without its sidecar update (crash window) — then, and
    * for pre-sidecar sinks, fall back to the full aggregation scan,
    * which is always correct. Sync cost is therefore O(new rows), not
    * O(delivered history).
    */
  def watermark(spark: SparkSession, sinkDir: String,
                pkCol: String = AuditSchema.PkCol,
                initial: Long = -1L): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    if (!fs.exists(path)) return initial
    val files = csvParts(fs, path)
    if (files.isEmpty) return initial
    readSidecar(fs, path) match {
      case Some((wm, cnt)) if cnt == files.length => wm
      case _ =>
        val sink = spark.read
          .options(CsvOptions)
          .option("inferSchema", "false")
          .csv(sinkDir)
        // audit_pk is by contract the LAST column
        // (cdc_audit_sync_mysql.php:352 / AuditSchema invariant)
        val last = sink.columns.last
        val row = sink.agg(max(col(last).cast("long"))).head()
        val wm = if (row.isNullAt(0)) initial else row.getLong(0)
        // Repair the sidecar with the scanned watermark and the file
        // count the scan actually covered, so ONE repair scan heals the
        // sink — without this, a sink with no fresh rows re-scans its
        // whole delivered history on every poll (append-side sidecar
        // writes only happen when n > 0). BEST-EFFORT: watermark() is
        // fundamentally a read — a caller without write permission on
        // the sink (read-only consumer, monitoring) must still get the
        // correct scanned answer, just without the speedup.
        // NonFatal, not just IOException: object-store/file-system
        // clients surface denied writes as RuntimeException/
        // SecurityException subtypes too, and ANY sidecar write failure
        // must degrade to the slow scan, never fail the read
        try writeSidecar(fs, path, wm, files.length)
        catch { case scala.util.control.NonFatal(_) => () }
        wm
    }
  }

  private def readSidecar(fs: org.apache.hadoop.fs.FileSystem,
                          sinkPath: org.apache.hadoop.fs.Path): Option[(Long, Int)] = {
    val p = new org.apache.hadoop.fs.Path(sinkPath, WatermarkFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val text = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      text.split(",") match {
        case Array(wm, cnt) => Some((wm.toLong, cnt.toInt))
        case _ => None
      }
    } catch { case _: Exception => None } // corrupt sidecar -> full scan
    finally in.close()
  }

  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem,
                           sinkPath: org.apache.hadoop.fs.Path, wm: Long,
                           knownCsvCount: Int = -1): Unit = {
    val csvCount =
      if (knownCsvCount >= 0) knownCsvCount
      else csvParts(fs, sinkPath).length
    val out = fs.create(new org.apache.hadoop.fs.Path(sinkPath, WatermarkFile), true)
    try out.write(s"$wm,$csvCount\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** Rows of `log` above the watermark — the incremental read. The
    * filter sits directly over the scan so Catalyst pushes it into the
    * parquet reader (min/max row-group pruning) or JDBC source.
    */
  def above(log: DataFrame, wm: Long,
            pkCol: String = AuditSchema.PkCol): DataFrame =
    log.filter(col(pkCol) > lit(wm))

  /** Column names of an existing CSV sink (header row), or None if the
    * sink is empty/absent. The header line of the first non-empty part
    * is read through the Hadoop FS and parsed by Spark's own CSV
    * reader code under [[CsvOptions]], so the answer is what a Spark
    * CSV read reports — without its job and its file-index listing of
    * the growing sink.
    */
  def sinkColumns(spark: SparkSession, sinkDir: String): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    if (!fs.exists(path)) return None
    val opts = new org.apache.spark.sql.catalyst.csv.CSVOptions(
      CsvOptions, false, spark.sessionState.conf.sessionLocalTimeZone)
    csvParts(fs, path).iterator
      .flatMap(f => CSVUtils.readHeaderLine(f.getPath, opts, conf))
      .nextOption()
      .map { line =>
        val fields = new com.univocity.parsers.csv.CsvParser(opts.asParserSettings)
          .parseLine(line)
        CSVUtils.makeSafeHeader(fields,
          spark.sessionState.conf.caseSensitiveAnalysis, opts).toSeq
      }
  }

  private def csvParts(fs: org.apache.hadoop.fs.FileSystem,
                       sinkPath: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(sinkPath).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".csv"))

  /** One sync run for one table: read watermark from the sink, append
    * everything above it. Returns the number of rows delivered.
    * Idempotent: re-running with no new audit rows appends nothing.
    *
    * Fails fast if the sink's header no longer matches the log schema —
    * the reference's wished-for drift check (README.md:210-212 known
    * issue; todo README.md:222; SURVEY.md §1.2).
    */
  def syncTable(spark: SparkSession, log: DataFrame, sinkDir: String,
                singleFile: Boolean = false): Long = {
    sinkColumns(spark, sinkDir).foreach { cols =>
      require(cols == log.columns.toSeq,
        s"schema drift: sink $sinkDir has columns ${cols.mkString(",")} " +
          s"but the audit log has ${log.columns.mkString(",")}")
    }
    val wm = watermark(spark, sinkDir)
    // SNAPSHOT the batch: the stats and the sink write are separate
    // actions, and against a LIVE source (the JDBC poller's table) a
    // second evaluation could see rows the recorded watermark doesn't
    // cover — delivered-but-uncovered rows would re-deliver on the next
    // poll. One materialization feeds both actions, so sidecar and
    // sink always agree. The checkpoint is lazy: the one stats job
    // below fills it, the write reads it back.
    val fresh = above(log, wm).localCheckpoint(eager = false)
    try {
      // (rows, max audit_pk) per partition
      val parts = fresh.select(col(AuditSchema.PkCol).cast("long"))
        .queryExecution.toRdd
        .mapPartitions { it =>
          var n = 0L
          var mx = Long.MinValue
          it.foreach { r => n += 1; if (!r.isNullAt(0)) mx = math.max(mx, r.getLong(0)) }
          Iterator.single((n, mx))
        }.collect()
      val n = parts.map(_._1).sum
      if (n > 0) {
        // a batch held by one partition (a poll, a log whose new rows sit
        // in one file) is sorted in place: over coalesce(1) Catalyst
        // plans a local sort, with no range exchange and so none of its
        // sampling and shuffle-map jobs. One non-empty partition is at
        // most one input split, so the sort loses no parallelism
        val batch =
          if (singleFile || parts.count(_._1 > 0) == 1) fresh.coalesce(1) else fresh
        batch.orderBy(col(AuditSchema.PkCol))
          .write.mode("append").options(CsvOptions).csv(sinkDir)
        // advance the O(1) watermark sidecar only after the append
        // commits; a crash in between leaves a count mismatch, which the
        // next run detects and repairs with a full scan
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        writeSidecar(fs, new org.apache.hadoop.fs.Path(sinkDir), parts.map(_._2).max)
      }
      n
    } finally org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(fresh)
  }

  /** Full reference `sync_audit_tables` orchestration: filter the table
    * set to audit tables (substring match, P4) and an optional include
    * list (P5), sync each, optionally wipe (keep-last retention).
    * Per-table work is independent — at scale each table is its own
    * Spark job (the reference processed tables serially in one PHP
    * process, SURVEY.md §4 last row) — and `parallelism > 1` submits
    * tables CONCURRENTLY ([[forEachTable]]). `onTable` is a test seam
    * fired as each table's job starts in its worker thread.
    */
  def syncAll(spark: SparkSession,
              logs: Map[String, DataFrame],
              sinkRoot: String,
              include: Option[Set[String]] = None,
              parallelism: Int = 1,
              onTable: String => Unit = _ => ()): Map[String, Long] = {
    val selected = logs.filter { case (name, _) =>
      AuditSchema.isAuditTable(name) && include.forall(_.contains(name))
    }
    forEachTable(selected.keys.toSeq, parallelism) { name =>
      onTable(name)
      spark.sparkContext.setJobDescription(s"syncTable($name)")
      try syncTable(spark, selected(name), s"$sinkRoot/$name")
      finally spark.sparkContext.setJobDescription(null)
    }
  }

  /** Run `one` for every table, up to `parallelism` at once from a
    * scoped fixed-size pool, so a cluster with idle executors overlaps
    * the per-table scan/write jobs instead of draining them one at a
    * time (Spark's scheduler is thread-safe for concurrent job
    * submission; each table's watermark sidecar is its own directory,
    * so no state is shared between threads). Every table runs to
    * completion even when another fails — partial progress is
    * per-table durable, exactly like separate cron invocations — and
    * the FIRST failure is rethrown after the pool drains.
    */
  private[graft] def forEachTable[T](tables: Seq[String], parallelism: Int)
                                    (one: String => T): Map[String, T] = {
    require(parallelism >= 1, "parallelism must be >= 1")
    if (parallelism == 1 || tables.size <= 1) tables.map(t => t -> one(t)).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, tables.size))
      try {
        val futs = tables.map { t =>
          t -> pool.submit(new java.util.concurrent.Callable[T] {
            override def call(): T = one(t)
          })
        }
        // drain EVERY table before surfacing a failure: a broken table
        // must not abandon its siblings mid-write
        val results = futs.map { case (t, f) => t -> scala.util.Try(f.get()) }
        results.collectFirst {
          case (_, scala.util.Failure(e: java.util.concurrent.ExecutionException)) =>
            throw e.getCause
          case (_, scala.util.Failure(e)) => throw e
        }
        results.map { case (t, r) => t -> r.get }.toMap
      } finally pool.shutdown()
    }
  }

  /** The reference's "wipe" (`-w`) on a directory-backed parquet audit
    * log: compact the log down to its single newest row
    * (cdc_audit_sync_mysql.php:284-319).
    *
    * Concurrent-writer safety, matching the reference's bounded delete
    * (it removes only rows at-or-below the max it probed, so live
    * trigger writes survive, :267-283): the wipe operates on a
    * SNAPSHOT of the directory's part files — it reads exactly those
    * files, moves the kept-row file in FIRST, then deletes only the
    * snapshotted files. Any file another writer appends after the
    * listing is never read, never deleted, and never raced (names are
    * unique). The old implementation swapped the whole directory, so a
    * concurrent append between read and rename was silently dropped.
    *
    * Crash window: dying between the kept-file move and the snapshot
    * deletes leaves extra already-delivered rows behind — benign (the
    * next wipe removes them); the newest row is never without a live
    * file. Returns the number of rows retained (1, or 0 for an empty
    * log). Keep-last runs two Spark jobs, one top-1 and the one-row
    * write; the log's schema comes from one footer, read on the driver.
    * `afterSnapshot` is a test seam fired
    * between the listing and the deletes (to exercise a concurrent
    * append).
    *
    * A partitioned log ([[AuditLake.writePartitionedLog]]) keeps its
    * part files in sub-directories this snapshot never lists; the
    * wipe throws on one instead of silently compacting nothing.
    */
  def wipeLogDir(spark: SparkSession, logDir: String,
                 afterSnapshot: () => Unit = () => (),
                 maxAge: Option[org.apache.spark.sql.Column] = None): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(logDir)
    if (!fs.exists(dir)) return 0L
    val entries = fs.listStatus(dir)
    // `_`/`.`-prefixed sub-directories are a writer's scratch space
    // (`_temporary`), not partitions
    entries.filter(_.isDirectory).map(_.getPath.getName)
      .find(n => !n.startsWith("_") && !n.startsWith("."))
      .foreach(sub => throw new IllegalArgumentException(
        s"wipeLogDir: $logDir is a partitioned log (sub-directory $sub); " +
          "only a flat log directory can be wiped"))
    val parts = entries.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val snapshot = parts.map(_.getPath)
    if (snapshot.isEmpty) return 0L
    // the log's schema from one part file's footer, read on the driver:
    // a plain `spark.read.parquet` infers it with a Spark job
    val log  = spark.read.schema(GraftParquetShim.footerSchema(spark, parts.head))
      .parquet(snapshot.toIndexedSeq.map(_.toString): _*)
    val tmp  = new org.apache.hadoop.fs.Path(logDir + ".wipe.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val n = maxAge match {
      // the reference wipe: keep only the newest row. One top-1 job
      // brings it to the driver, where its count is known; the rewrite
      // is that one row (or, for an empty log, an empty file that keeps
      // the schema)
      case None =>
        val newest = Retention.keepLastGlobal(log).collect()
        spark.createDataFrame(java.util.Arrays.asList(newest: _*), log.schema)
          .write.mode("overwrite").parquet(tmp.toString)
        newest.length.toLong
      // its @TODO form: keep the trailing age window + the newest row.
      // The window can retain nearly the whole log, so funneling it
      // through one task/one file would bottleneck the exact feature
      // being used; size the rewrite to the snapshot instead (≤ one
      // output file per source file — compaction never inflates the
      // file count).
      case Some(age) =>
        Retention.keepYoungerThan(log, age)
          .coalesce(math.max(1, snapshot.length))
          .write.mode("overwrite").parquet(tmp.toString)
        spark.read.parquet(tmp.toString).count()
    }
    afterSnapshot()
    // move the kept row in BEFORE deleting its sources: the log is
    // never missing its newest row, whatever happens mid-wipe. Hadoop
    // rename reports failure via `false`, not an exception — abort the
    // wipe (sources untouched, tmp left for inspection) rather than
    // proceed to deletes that would drop the newest row.
    fs.listStatus(tmp)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val target = new org.apache.hadoop.fs.Path(dir, "wipe-kept-" + f.getPath.getName)
        if (!fs.rename(f.getPath, target))
          sys.error(s"wipe aborted: could not move kept file ${f.getPath} " +
            s"to $target; log untouched")
      }
    snapshot.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
    n
  }

  /** Sync then wipe, for directory-backed audit logs — rows reach the
    * sink BEFORE the log is compacted, preserving the reference's
    * ordering (write+close at sync:256-260 precedes delete at
    * :262-264).
    */
  def syncAndWipe(spark: SparkSession, logDir: String, sinkDir: String,
                  singleFile: Boolean = false,
                  maxAge: Option[org.apache.spark.sql.Column] = None): (Long, Long) = {
    val delivered = syncTable(spark, spark.read.parquet(logDir), sinkDir, singleFile)
    val retained  = wipeLogDir(spark, logDir, maxAge = maxAge)
    (delivered, retained)
  }
}
