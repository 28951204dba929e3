package graft.tools

import graft.codegen.{AuditArtifacts, JdbcCatalog, TriggerDdl}
import graft.core.SyncJob
import graft.sources.AuditSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI twins of the reference's two entry points (SURVEY.md §2.11):
  * `cdc_audit_gen_mysql.php` -> [[GenTool]],
  * `cdc_audit_sync_mysql.php` -> [[SyncTool]]. Flag names follow the
  * reference where they transfer (`-t` include list, `-o` output,
  * `-w` wipe, cdc_audit_gen_mysql.php:54-89 / sync:55-91); connection
  * flags (-d/-h/-u/-p) are replaced by data paths, since sources here
  * are parquet directories (JDBC constructors live in
  * [[graft.sources.AuditSource]]).
  */
object Cli {

  /** Flag parsing that handles BARE flags: a `-x` followed by another
    * flag (or nothing) parses as `-x -> "true"` instead of swallowing
    * the next flag as its value (the old pairwise sliding did exactly
    * that for `-w -t a,b`). Known limit, like getopt without an option
    * spec: a VALUE that itself starts with `-` (e.g. a negative
    * number) cannot be distinguished from a flag — none of the current
    * tools take such values.
    */
  def parse(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("-")) {
        val hasValue = i + 1 < args.length && !args(i + 1).startsWith("-")
        if (hasValue) { m(a) = args(i + 1); i += 2 }
        else { m(a) = "true"; i += 1 }
      } else i += 1 // stray positional: ignored, like the reference's getopt
    }
    m.toMap
  }

  /** Reference-parity leveled logger (gen:120-123 `-v`, `-o` redirect;
    * log() at gen:256-263): 0 = errors only, 1 = +warnings (default),
    * 2 = +info, 3 = +debug with source file:line appended.
    */
  final class Logger(val verbosity: Int, out: java.io.PrintStream,
                     owned: Boolean) extends AutoCloseable {
    def error(msg: String): Unit = log(0, msg)
    def warn(msg: String): Unit  = log(1, msg)
    def info(msg: String): Unit  = log(2, msg)
    def debug(msg: String): Unit =
      if (verbosity >= 3) {
        val e = Thread.currentThread.getStackTrace()(2)
        out.println(s"$msg  -- ${e.getFileName} : ${e.getLineNumber}")
      }
    private def log(level: Int, msg: String): Unit =
      if (level <= verbosity) out.println(msg)
    def close(): Unit = if (owned) out.close()
  }

  /** Build the run's logger from `-v N` and `--log FILE` (the
    * reference's `-o FILE` redirect — `-o` itself stays the GenTool
    * output dir for backward compatibility; `-m`, the reference's
    * flag, is also accepted there).
    */
  def logger(opts: Map[String, String]): Logger = {
    val v = opts.get("-v").filter(_ != "true").map(_.toInt).getOrElse(1)
    opts.get("--log") match {
      case Some(f) => new Logger(v,
        new java.io.PrintStream(new java.io.FileOutputStream(f), true, "UTF-8"),
        owned = true)
      case None => new Logger(v, System.out, owned = false)
    }
  }

  /** (session, ownedByUs): only stop sessions this process created —
    * under tests getOrCreate returns the suite's shared session.
    */
  private[tools] def session(): (SparkSession, Boolean) = {
    val preexisting = SparkSession.getDefaultSession.isDefined
    val s = graft.Harness.builder(graft.Harness.cpus, graft.Harness.cpus)
      .getOrCreate()
    (s, !preexisting)
  }

  def include(opts: Map[String, String]): Option[Set[String]] =
    opts.get("-t").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
}

/** Generate per-table audit DDL + trigger SQL artifacts — from parquet
  * schemas, or (`--jdbc`) from a LIVE database catalog like the
  * reference generator's MySQL session (cdc_audit_gen_mysql.php:195-235).
  * Usage:
  * `runMain graft.tools.GenTool --data <dir-of-parquet> -m <outDir>
  *  [-t tbl1,tbl2] [--prefix p_] [-v 0..3] [--log FILE]`, or
  * `runMain graft.tools.GenTool --jdbc <url> -m <outDir>
  *  [--jdbc-user u] [--jdbc-pass p] [--jdbc-schema s]
  *  [-t tbl1,tbl2] [--prefix p_] [--dialect mysql|postgres|sqlite]
  *  [-v 0..3] [--log FILE]`
  * (`-o <outDir>` is accepted as an alias of `-m` for compatibility.)
  *
  * JDBC mode enumerates base tables and column/PK/comment metadata via
  * the portable [[java.sql.DatabaseMetaData]] API and fetches
  * pre-existing AFTER trigger bodies where the dialect exposes them
  * (MySQL/MariaDB/Postgres information_schema, Derby SYS.SYSTRIGGERS —
  * [[graft.codegen.JdbcCatalog]]), so regeneration preserves user
  * trigger logic exactly like the reference (gen:443-475). It is
  * driver-side catalog work: no Spark session is started.
  */
object GenTool {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args)
    val out  = opts.getOrElse("-m", opts("-o"))
    val prefix = opts.getOrElse("--prefix", "")
    val jdbcUrl = opts.get("--jdbc").filter(_ != "true")
    val dialect = opts.getOrElse("--dialect", "mysql")
    val log = Cli.logger(opts)
    try {
      if (jdbcUrl.isDefined) {
        log.debug(s"connecting to ${jdbcUrl.get}")
        val conn = (opts.get("--jdbc-user"), opts.get("--jdbc-pass")) match {
          case (Some(u), p) => java.sql.DriverManager
            .getConnection(jdbcUrl.get, u, p.getOrElse(""))
          case _ => java.sql.DriverManager.getConnection(jdbcUrl.get)
        }
        try {
          val schema = opts.get("--jdbc-schema").filter(_ != "true")
          log.info(s"[gen] introspecting live catalog at ${jdbcUrl.get}")
          val metas = JdbcCatalog.introspect(conn, schema, Cli.include(opts))
          metas.toSeq.sortBy(_._1).foreach { case (t, (cols, trigs)) =>
            log.info(s"[gen] table $t: ${cols.size} column(s), " +
              s"${trigs.size} existing AFTER trigger(s)")
          }
          // pre-existing trigger bodies only transfer into the MySQL
          // dialect (the reference's splice semantic); warn, don't drop
          // silently, when another target would lose them
          if (dialect != "mysql" && metas.values.exists(_._2.nonEmpty))
            log.warn(s"[gen] existing trigger bodies found but --dialect " +
              s"$dialect does not splice them — port them manually")
          val written = AuditArtifacts.generateAllWithTriggers(
            out, metas, Cli.include(opts), prefix, dialect)
          written.foreach(p => log.warn(s"[gen] wrote $p"))
        } finally conn.close()
      } else {
        val data = opts("--data")
        val (spark, owned) = Cli.session()
        try {
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          log.debug(s"listing parquet tables under $data")
          val tables = fs.listStatus(new org.apache.hadoop.fs.Path(data))
            .map(_.getPath.getName).filter(_.endsWith(".parquet"))
            .map(_.stripSuffix(".parquet")).sorted
          val metas = tables.map { t =>
            log.info(s"[gen] reading schema of $t")
            val schema = spark.read.parquet(s"$data/$t.parquet").schema
            t -> TriggerDdl.fromStructType(schema)
          }.toMap
          val written = AuditArtifacts.generateAll(out, metas,
            Cli.include(opts), prefix, dialect)
          written.foreach(p => log.warn(s"[gen] wrote $p"))
        } finally {
          if (owned) spark.stop()
        }
      }
    } finally log.close()
  }
}

/** Build/validate the persisted index library
  * ([[graft.ops.ArtifactStore]]) — the operational entry point of the
  * build-once/serve-many lifecycle. Usage:
  * `runMain graft.tools.IndexTool --data <sfDir> --out <artifactDir>
  *  [--check] [-v 0..3] [--log FILE]`, or
  * `runMain graft.tools.IndexTool --compact-store <storeDir>
  *  [--target-rows N] [--cluster-by col]`, or
  * `runMain graft.tools.IndexTool --forget-store <storeDir>
  *  --ids <id,id,...>`
  * Default mode BUILDS every catalog artifact (trained quantizer,
  * MinHash index, ANN ground truth, BPE merges, ...) into the next
  * version directory and atomically publishes it. `--check` instead
  * validates the committed library against the CURRENT corpus and
  * installs it into the session — exiting nonzero (loudly) if any
  * artifact is stale or the library is absent, which makes it the
  * pre-serve gate a deployment runs after an ingest. `--prune N`
  * (with either mode, applied after it) GCs old versions keeping the
  * newest N plus the committed one. `--compact-store <dir>
  * [--target-rows N]` instead runs the OPTIMIZE pass over a
  * posting-list lake layout ([[graft.ops.IndexStore.compact]]):
  * rewrites only the lists fragmented past N rows/file (default 1M)
  * — the maintenance job a stream-to-lake deployment schedules.
  * `--forget-store <dir> --ids <list>` runs the surgical erasure pass
  * ([[graft.ops.IndexStore.forget]]): removes the vectors by
  * rewriting only the affected lists (the execution half of the
  * right-to-be-forgotten story; `--check`'s library counterpart is
  * the erasure SCAN + rebuild).
  */
object IndexTool {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args)
    val check = opts.get("--check").exists(_.toBoolean)
    val compactStore = opts.get("--compact-store").filter(_ != "true")
    val forgetStore = opts.get("--forget-store").filter(_ != "true")
    val prune = opts.get("--prune").filter(_ != "true").map(_.toInt)
    // --prune GCs versions of a LIBRARY root (--out); the store
    // maintenance modes carry no --out, so the combination must fail
    // BEFORE any work runs — not as a bare NoSuchElementException after
    // the maintenance pass already rewrote the store
    if (prune.isDefined && (compactStore.isDefined || forgetStore.isDefined))
      throw new IllegalArgumentException(
        "[index] --prune applies to the versioned library (--out) and " +
          "cannot be combined with --compact-store/--forget-store")
    if (prune.isDefined && !opts.contains("--out"))
      throw new IllegalArgumentException("[index] --prune requires --out")
    val log = Cli.logger(opts)
    val (spark, owned) = Cli.session()
    try {
      if (forgetStore.isDefined) {
        val ids = opts.getOrElse("--ids",
            throw new IllegalArgumentException(
              "[index] --forget-store needs --ids <id,id,...>"))
          .split(",").map(_.trim.toLong).toSeq
        val done = graft.ops.IndexStore
          .forget(spark, forgetStore.get, ids)
          .orderBy("centroid_id").collect()
        if (done.isEmpty)
          log.warn(s"[index] none of the ${ids.size} id(s) were in " +
            s"${forgetStore.get} — nothing rewritten")
        else done.foreach(r => log.warn(s"[index] forgot " +
          s"${r.getLong(1)} row(s) from list ${r.getLong(0)} " +
          s"(${r.getLong(2)} left)"))
      } else if (compactStore.isDefined) {
        val storeDir = compactStore.get
        val target = opts.get("--target-rows").filter(_ != "true")
          .map(_.toLong).getOrElse(1000000L)
        val cluster = opts.get("--cluster-by").filter(_ != "true")
        val done = graft.ops.IndexStore
          .compact(spark, storeDir, target, cluster)
          .orderBy("centroid_id").collect()
        if (done.isEmpty)
          log.warn(s"[index] store $storeDir already compact " +
            s"at <= $target rows/file")
        else done.foreach(r => log.warn(s"[index] compacted list " +
          s"${r.getLong(0)}: ${r.getLong(2)} -> ${r.getLong(3)} " +
          s"files (${r.getLong(1)} rows)"))
      } else if (check) {
        val data = opts("--data")
        val out = opts("--out")
        // resolve the committed version (flat layouts still accepted)
        val dir = graft.ops.ArtifactStore.latestDir(out).getOrElse(out)
        val n = graft.queries.ExtensionQueries.loadArtifacts(spark, data, dir)
        // an empty/absent library passing the PRE-SERVE gate would be
        // the exact condition the gate exists to stop (typoed path,
        // never-written version): absence fails as loudly as staleness
        if (n == 0)
          throw new IllegalStateException(
            s"[index] no artifacts found at $dir — nothing to serve " +
              "(wrong --out path, or the library was never built?)")
        log.warn(s"[index] OK: $n artifacts at $dir valid for $data, installed")
      } else {
        val data = opts("--data")
        val out = opts("--out")
        // versioned publish: build into vN+1, repoint _LATEST only
        // after every artifact landed — readers never see a half-
        // written library
        val vdir = graft.ops.ArtifactStore.newVersionDir(out)
        val n = graft.queries.ExtensionQueries.saveArtifacts(spark, data, vdir)
        val vname = vdir.substring(vdir.lastIndexOf('/') + 1)
        graft.ops.ArtifactStore.commitVersion(out, vname)
        log.warn(s"[index] built and published $n artifacts as $out/$vname")
      }
      prune.foreach { keep =>
        val gone = graft.ops.ArtifactStore.pruneVersions(opts("--out"), keep)
        log.warn(s"[index] pruned ${gone.size} old version(s): " +
          gone.mkString(", "))
      }
    } finally {
      if (owned) spark.stop()
      log.close()
    }
  }
}

/** The nightly curation job: judge an arriving document batch against
  * the curated lake and admit it — the batch CLI of the streaming
  * provenance twin (judge FIRST against what was curated before this
  * batch, then append; the arrival-order duplicate contract). Usage:
  * `runMain graft.tools.CurateTool --batch <docsParquet>
  *  --lake <curatedLakeDir> --ledger <ledgerDir> [--bootstrap]
  *  [-v 0..3] [--log FILE]`
  * `--bootstrap` permits an ABSENT lake on the first run (judged
  * against an empty corpus); without it a missing lake loud-fails so
  * a typoed path can never silently re-judge from scratch.
  * The lake is the SEEN corpus (every judged doc is admitted so later
  * duplicates resolve against it); the training set is the ledger
  * filtered to verdict = 'kept'. Appends are per-batch atomic only in
  * the single-writer loop — concurrent curators serialize upstream.
  *
  * Crash-retry contract: every ledger row carries a deterministic
  * `batch_id` (order-independent content hash of the batch). A retry
  * of an already-ledgered batch never re-judges or double-writes — it
  * either no-ops (lake has the docs too) or REPAIRS the lake-append
  * half that a mid-batch crash lost. This is what makes the
  * ledger-then-lake two-step safe to re-run blindly from a scheduler.
  */
object CurateTool {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args)
    val batchDir = opts("--batch")
    val lakeDir = opts("--lake")
    val ledgerDir = opts("--ledger")
    val log = Cli.logger(opts)
    val (spark, owned) = Cli.session()
    try {
      val batch = spark.read.parquet(batchDir)
      // existence through the Hadoop FileSystem RESOLVED FROM THE PATH
      // — java.io.File is always false for hdfs://, s3a://, ... and an
      // existing remote lake would then be silently re-judged against
      // an empty corpus under --bootstrap, the exact failure the
      // bootstrap guard exists to prevent
      val hconf = spark.sparkContext.hadoopConfiguration
      def dirExists(p: String): Boolean = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).exists(hp)
      }
      // deterministic batch identity: order-independent content hash
      // (XOR of per-row hashes — one map-side-combined agg, no sort,
      // no driver materialization of the batch)
      val batchId = batch.agg(format_string("%016x",
          expr("bit_xor(xxhash64(doc_id, coalesce(text, '')))")))
        .first().getString(0)
      val lakeExists = dirExists(lakeDir)
      // retry detection: was this exact batch already ledgered? (a
      // legacy ledger without the batch_id column reads as not-applied)
      val alreadyLedgered = dirExists(ledgerDir) &&
        scala.util.Try(spark.read.parquet(ledgerDir)
          .filter(col("batch_id") === batchId).limit(1).count() > 0)
          .getOrElse(false)
      if (alreadyLedgered) {
        // repair set = ONLY the batch rows the lake is missing. A
        // mid-job-commit crash can leave a PARTIAL append visible
        // (some part-files landed), so re-appending the whole batch
        // would duplicate every doc that already made it — the exact
        // corruption the idempotency contract promises to prevent.
        val missingRows =
          if (!lakeExists) batch
          else batch.join(
            spark.read.parquet(lakeDir).select("doc_id"),
            Seq("doc_id"), "left_anti")
        val missing = missingRows.count()
        if (missing == 0)
          log.warn(s"[curate] batch $batchId already applied — no-op")
        else {
          // the crash landed between the two writes: the judgments are
          // durable but the admission isn't — repair the lake half
          // without re-judging (re-judging against the grown lake
          // would flip this batch's verdicts to duplicates)
          missingRows.write.mode("append").parquet(lakeDir)
          log.warn(s"[curate] batch $batchId was ledgered but $missing " +
            s"doc(s) missed the lake (mid-batch crash) — lake repaired")
        }
      } else {
        // an absent lake is only legal when the caller SAYS this is the
        // bootstrap run (--bootstrap) — a typoed --lake must not
        // silently judge everything against an empty corpus
        val lake =
          if (lakeExists) spark.read.parquet(lakeDir)
          else if (opts.get("--bootstrap").exists(_.toBoolean)) batch.limit(0)
          else throw new IllegalStateException(
            s"[curate] lake $lakeDir does not exist — pass --bootstrap " +
              "for the first run, or fix the path")
        val ledger = graft.queries.ExtensionQueries
          .provenanceIncrLedger(batch, lake)
          .withColumn("batch_id", lit(batchId))
          .localCheckpoint() // judge fully BEFORE the lake grows
        ledger.write.mode("append").parquet(ledgerDir)
        batch.write.mode("append").parquet(lakeDir)
        val byVerdict = ledger.groupBy("verdict").count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
          .sorted.mkString(", ")
        log.warn(s"[curate] judged ${ledger.count()} docs ($byVerdict) " +
          s"as batch $batchId, ledger -> $ledgerDir, admitted -> $lakeDir")
      }
    } finally {
      if (owned) spark.stop()
      log.close()
    }
  }
}

/** Incrementally sync audit logs to CSV sinks — from parquet log
  * directories, or (`--jdbc`) from a LIVE database's trigger-filled
  * audit tables, the reference sync's actual deployment shape
  * (cdc_audit_sync_mysql.php:195-265). Usage:
  * `runMain graft.tools.SyncTool --logs <root> --sink <root>
  *  [-t tbl1,tbl2] [-w [--wipe-age-sec N]] [--par N] [-v 0..3]
  *  [--log FILE]`, or
  * `runMain graft.tools.SyncTool --jdbc <url> --sink <root>
  *  [--jdbc-user u] [--jdbc-pass p] [--jdbc-schema s] [--jdbc-driver c]
  *  [-t tbl1,tbl2] [-w] [--par N] [-v 0..3] [--log FILE]`
  * Parquet layout: files under `<logs>/<table>_audit/`; JDBC mode
  * discovers `*_audit` base tables from the live catalog
  * ([[AuditSource.discoverJdbcAuditTables]]) — both through the
  * `_audit` substring rule (P4). Incremental either way: rows above
  * the sink's watermark sidecar; in JDBC mode the predicate pushes
  * into the remote WHERE ([[AuditSource.jdbcAbove]]), the reference's
  * exact `audit_pk > :wm` range scan. `-w` wipes the source to its
  * newest row — parquet log compaction, or the reference's bounded
  * concurrent-writer-safe DELETE on the live table, bounded by the
  * sink's delivered watermark ([[AuditSource.wipeJdbcAudit]]).
  * `--par N` submits up to N tables' Spark jobs CONCURRENTLY (the
  * [[graft.core.SyncJob.forEachTable]] pool) — per-table work shares no
  * state (own sink dir, own watermark sidecar), so a cluster with
  * idle executors overlaps the scans instead of draining them one at
  * a time. Every table runs to completion even when a sibling fails;
  * the first failure is rethrown after the pool drains.
  */
object SyncTool {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args)
    val jdbcUrl = opts.get("--jdbc").filter(_ != "true")
    val sinkRoot = opts("--sink")
    val wipe = opts.get("-w").exists(_.toBoolean)
    // the reference wipe's @TODO (sync:289), as a flag: -w with
    // --wipe-age-sec N keeps the trailing N seconds of the log (by the
    // log's own newest audit_timestamp) instead of only the newest row
    val wipeAge = opts.get("--wipe-age-sec").filter(_ != "true").map(_.toLong)
      .map(n => expr(s"INTERVAL $n SECONDS"))
    val par = opts.get("--par").filter(_ != "true").map(_.toInt).getOrElse(1)
    val inc = Cli.include(opts)
    val log = Cli.logger(opts)
    val (spark, owned) = Cli.session()
    try {
      val schema = opts.get("--jdbc-schema").filter(_ != "true")
      val props = {
        val p = new java.util.Properties
        opts.get("--jdbc-user").foreach(p.setProperty("user", _))
        opts.get("--jdbc-pass").foreach(p.setProperty("password", _))
        opts.get("--jdbc-driver").foreach(p.setProperty("driver", _))
        p
      }
      def withConn[T](f: java.sql.Connection => T): T = {
        val c = (opts.get("--jdbc-user"), opts.get("--jdbc-pass")) match {
          case (Some(u), pw) => java.sql.DriverManager
            .getConnection(jdbcUrl.get, u, pw.getOrElse(""))
          case _ => java.sql.DriverManager.getConnection(jdbcUrl.get)
        }
        try f(c) finally c.close()
      }
      // one catalog connection up front: table list + the dialect's
      // identifier quote (needed to address quoted-lowercase tables)
      val (tables, quote) = jdbcUrl match {
        case Some(_) => withConn { c =>
          val raw = c.getMetaData.getIdentifierQuoteString
          val q = if (raw == null || raw.trim.isEmpty) "" else raw.trim
          (AuditSource.discoverJdbcAuditTables(c, schema)
            .filter(t => inc.forall(_.contains(t))), q)
        }
        case None =>
          (AuditSource.discoverAuditDirs(spark, opts("--logs"))
            .filter(t => inc.forall(_.contains(t))), "")
      }
      log.info(s"[sync] syncing ${tables.size} audit table(s)" +
        (if (par > 1) s", $par-way concurrent" else "") +
        jdbcUrl.map(u => s" from $u").getOrElse(""))
      def one(t: String): Unit = jdbcUrl match {
        case Some(url) =>
          val sink = s"$sinkRoot/$t"
          val quoted = schema.map(s => s"$quote$s$quote.").getOrElse("") +
            s"$quote$t$quote"
          // syncTable reads the O(1) sidecar watermark and filters the
          // frame itself; over a JDBC scan that filter lands in the
          // remote WHERE — the reference's exact `audit_pk > :wm`
          // range scan (pushdown pinned by JdbcCaptureSpec)
          val d = SyncJob.syncTable(spark,
            spark.read.jdbc(url, quoted, props), sink)
          if (wipe) {
            val ageSec = opts.get("--wipe-age-sec").filter(_ != "true")
              .map(_.toLong)
            // bound the wipe by what the sink holds: rows committed
            // after the sync's snapshot stay for the next sync
            val delivered = SyncJob.watermark(spark, sink)
            val gone = withConn(AuditSource.wipeJdbcAudit(_, quoted,
              delivered, maxAgeSec = ageSec))
            log.warn(s"[sync] $t: delivered $d rows, " +
              s"wiped $gone delivered row(s) from the live table")
          } else log.warn(s"[sync] $t: delivered $d rows")
        case None =>
          val logDir = s"${opts("--logs")}/$t"
          val sink   = s"$sinkRoot/$t"
          log.debug(s"log dir $logDir -> sink $sink")
          if (wipe) {
            val (d, r) = SyncJob.syncAndWipe(spark, logDir, sink,
              maxAge = wipeAge)
            log.warn(s"[sync] $t: delivered $d rows, wiped to $r")
          } else {
            val d = SyncJob.syncTable(spark, spark.read.parquet(logDir), sink)
            log.warn(s"[sync] $t: delivered $d rows")
          }
      }
      SyncJob.forEachTable(tables, math.max(1, par))(one)
    } finally {
      if (owned) spark.stop()
      log.close()
    }
  }
}
