package graft.sources

import graft.core.AuditSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source constructors for audit logs (SURVEY.md §2.1 S1-S5).
  *
  * Two physical homes for an audit table:
  *
  *  - **Parquet directory** (the lake-side log this engine writes):
  *    `spark.read.parquet` — Catalyst pushes the watermark predicate
  *    into the scan (row-group min/max pruning on `audit_pk`, which is
  *    sorted by construction, makes incremental reads O(new data)).
  *  - **JDBC** (the reference's home: a MySQL `<table>_audit` table
  *    filled by the generated triggers, BASELINE.json
  *    `spark_approach`): `spark.read.jdbc` with the watermark filter —
  *    Spark pushes `audit_pk > wm` into the remote WHERE clause,
  *    reproducing the reference's single pushed-down range scan
  *    (`SELECT * WHERE audit_pk > :wm`, cdc_audit_sync_mysql.php:243).
  *    For parallel extraction, partition on `audit_pk` bounds.
  *
  * (JDBC paths compile against the public DataFrameReader API; this
  * container has no database to integration-test against — the parquet
  * path is the tested one.)
  */
object AuditSource {

  /** Parquet-backed audit log. */
  def parquet(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Incremental parquet read above a watermark — filter sits on the
    * scan, so parquet stats prune whole row groups.
    */
  def parquetAbove(spark: SparkSession, dir: String, wm: Long): DataFrame =
    parquet(spark, dir).filter(col(AuditSchema.PkCol) > lit(wm))

  /** JDBC audit-table read with the watermark pushed into the remote
    * query, single-partition (the reference's exact access pattern).
    */
  def jdbcAbove(spark: SparkSession, url: String, table: String, wm: Long,
                props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)
      .filter(col(AuditSchema.PkCol) > lit(wm)) // pushed to remote WHERE

  /** Parallel JDBC extraction: `numPartitions` range-partitioned
    * sub-queries on `audit_pk` — how the single-node reference pattern
    * scales out to a cluster pull.
    */
  def jdbcAboveParallel(spark: SparkSession, url: String, table: String,
                        wm: Long, upper: Long, numPartitions: Int,
                        props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, AuditSchema.PkCol,
        lowerBound = wm + 1, upperBound = upper, numPartitions = numPartitions,
        connectionProperties = props)
      .filter(col(AuditSchema.PkCol) > lit(wm))

  /** Live-database audit-table discovery: base tables whose names pass
    * the `_audit` substring rule (P4) — the sync side of the
    * generator's catalog scan, over [[graft.codegen.JdbcCatalog]]'s
    * portable `DatabaseMetaData` enumeration (the reference's
    * `SHOW TABLES` + substring filter, cdc_audit_sync_mysql.php).
    */
  def discoverJdbcAuditTables(conn: java.sql.Connection,
                              schema: Option[String] = None): Seq[String] =
    graft.codegen.JdbcCatalog.baseTables(conn, schema)
      .filter(AuditSchema.isAuditTable)

  /** The reference's audit-table wipe on the LIVE database
    * (cdc_audit_sync_mysql.php:267-283, W1 keep-last semantics):
    * delete every row strictly below the max `audit_pk` probed FIRST —
    * the bound is read before the delete, so rows a concurrent trigger
    * writes after the probe always survive, exactly the reference's
    * concurrent-writer contract (it deletes only at-or-below its
    * probed max; its 100-row incremental batching is MySQL-politeness,
    * not semantics). Returns rows deleted; an empty table no-ops.
    *
    * `delivered` is the sink's watermark read AFTER the sync
    * ([[graft.core.SyncJob.watermark]]): only rows at or below it are
    * deleted. A row committed between the sync's snapshot and the
    * probe sits below the probed max but above `delivered`, so it
    * survives until a later sync delivers it.
    */
  def wipeJdbcAudit(conn: java.sql.Connection, quotedTable: String,
                    delivered: Long,
                    pkCol: String = AuditSchema.PkCol,
                    maxAgeSec: Option[Long] = None,
                    tsCol: String = AuditSchema.TimestampCol): Long = {
    // identifier quoting is dialect-owned (` for MySQL, " for Derby/
    // Postgres) — ask the driver, don't guess
    val rawQ = conn.getMetaData.getIdentifierQuoteString
    // JDBC: a single space means "identifiers not quotable"
    val q = if (rawQ == null || rawQ.trim.isEmpty) "" else rawQ.trim
    val pk = s"$q$pkCol$q"
    val st = conn.createStatement()
    try {
      // probe ONLY what this wipe mode needs: the keep-last wipe reads
      // just MAX(pk) — the reference's audit tables need nothing else,
      // and a table without the timestamp column must still wipe
      val probeTs = maxAgeSec.isDefined
      val probe = if (probeTs)
        s"SELECT MAX($pk), MAX($q$tsCol$q) FROM $quotedTable"
      else s"SELECT MAX($pk) FROM $quotedTable"
      val rs = st.executeQuery(probe)
      val (maxPk, pkNull, maxTs) = try {
        rs.next()
        (rs.getLong(1), rs.wasNull(),
          if (probeTs) rs.getTimestamp(2) else null)
      } finally rs.close()
      if (pkNull) 0L
      else maxAgeSec match {
        case None =>
          st.executeUpdate(
            s"DELETE FROM $quotedTable WHERE $pk < $maxPk AND $pk <= $delivered").toLong
        // all-null timestamps (maxTs == null) leave no age bound to
        // compute. FAIL SAFE: delete nothing. The normal age branch
        // preserves NULL-ts rows (ts < cutoff is UNKNOWN), so one
        // non-null timestamp keeps every NULL-ts row alive — silently
        // degrading the zero-non-null case to keep-last would delete
        // everything below max pk, the opposite of an age policy.
        case Some(_) if maxTs == null => 0L
        case Some(age) =>
          // the @TODO form (sync:289) on the live table: cutoff =
          // the TABLE'S OWN newest timestamp minus the age, computed
          // JVM-side and bound as a parameter — portable across
          // dialects (no per-dialect interval arithmetic), and still
          // the bounded probe-then-delete (concurrent writes survive)
          val cutoff = new java.sql.Timestamp(maxTs.getTime - age * 1000L)
          val ps = conn.prepareStatement(
            s"DELETE FROM $quotedTable WHERE $pk < $maxPk AND $pk <= $delivered " +
              s"AND $q$tsCol$q < ?")
          try { ps.setTimestamp(1, cutoff); ps.executeUpdate().toLong }
          finally ps.close()
      }
    } finally st.close()
  }

  /** Table-set discovery over a directory of per-table logs: the
    * sync-side catalog scan + audit filter (S2/P4) for the lake layout
    * `<root>/<table>_audit/...`.
    */
  def discoverAuditDirs(spark: SparkSession, root: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(AuditSchema.isAuditTable).toSeq.sorted
  }
}
