package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retention / compaction — the reference's "wipe" (keep only the
  * newest audit row, cdc_audit_sync_mysql.php:284-319, SURVEY.md §2.5
  * W1), rebuilt for immutable storage.
  *
  * The reference deletes in 100-row batches with 1 s sleeps purely to
  * bound MySQL lock contention (rationale comment
  * cdc_audit_sync_mysql.php:267-283); Spark rewrites immutable files,
  * so the batching/backoff has no analog — retention here is "compute
  * the retained set, rewrite the log directory" with snapshot isolation
  * provided by the file-listing snapshot.
  */
object Retention {

  /** Keep only the single greatest-`audit_pk` row — the reference wipe's
    * exact post-condition (never deletes the max row,
    * cdc_audit_sync_mysql.php:304-308).
    *
    * A top-1 rather than a global sort or a max-aggregate + broadcast
    * join: collected, Spark plans it as one job of per-partition top-1
    * candidates merged on the driver — one pass over the log, no
    * shuffle, nothing broadcast. `audit_pk` is a unique sequence, so
    * the newest row is one row; null keys are never the newest.
    */
  def keepLastGlobal(log: DataFrame,
                     pkCol: String = AuditSchema.PkCol): DataFrame =
    log.filter(col(pkCol).isNotNull).orderBy(col(pkCol).desc).limit(1)

  /** Per-source-key variant: keep each key's latest audit row (the
    * "current state" materialization, SURVEY.md §2.4 extensions).
    * One shuffle on the key; `max_by(struct(*))` keeps it a single
    * hash-aggregate with map-side partials — no window sort needed.
    */
  def keepLastPerKey(log: DataFrame, keys: Seq[String],
                     pkCol: String = AuditSchema.PkCol): DataFrame = {
    val others = log.schema.fieldNames.filterNot(keys.contains)
    log.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.toIndexedSeq.map(col): _*), col(pkCol)).as("__row"))
      .select(keys.map(col) ++ others.map(c => col(s"__row.$c")): _*)
      // restore contract column order: source cols ..., audit cols last
      .select(log.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Age-based wipe — the reference wipe's own @TODO
    * (cdc_audit_sync_mysql.php:289 "add option to wipe only older than
    * a specific age"), implemented: keep every row whose `tsCol` is
    * within `maxAge` of the LOG'S OWN newest timestamp — the log
    * clock, not the wall clock, so the retained set is deterministic
    * and replayable — plus the max-`pkCol` row unconditionally (the
    * reference wipe's invariant: the log never loses its newest row,
    * sync:304-308, even when every row is stale). `maxAge` is a
    * Column so both timestamp logs (`expr("INTERVAL 7 DAYS")`) and
    * long-nanos logs (`lit(7*86400*1000000000L)`) subtract natively.
    *
    * Scale shape: one partial-aggregated bounds probe (answerable from
    * parquet footers), broadcast back over one pruned scan — no
    * shuffle of the log itself.
    */
  def keepYoungerThan(log: DataFrame, maxAge: Column,
                      pkCol: String = AuditSchema.PkCol,
                      tsCol: String = AuditSchema.TimestampCol): DataFrame = {
    val bounds = log.agg(max(col(pkCol)).as("__max_pk"),
      max(col(tsCol)).as("__max_ts"))
    log.crossJoin(broadcast(bounds))
      // fail-safe arm: ALL-NULL timestamps leave no age bound to
      // compute (__max_ts IS NULL) — keep every row rather than
      // silently degrading an age policy to keep-newest-only (the
      // same conservative contract as AuditSource.wipeJdbcAudit)
      .filter(col("__max_ts").isNull ||
        col(tsCol) >= col("__max_ts") - maxAge ||
        col(pkCol) === col("__max_pk"))
      .drop("__max_pk", "__max_ts")
  }

  /** Window-based per-key keep-last, kept for parity testing against
    * [[keepLastPerKey]] (same result, different physical plan: sort
    * within key partitions instead of hash-agg).
    */
  def keepLastPerKeyWindowed(log: DataFrame, keys: Seq[String],
                             pkCol: String = AuditSchema.PkCol): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(pkCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
