package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dense, monotonic `audit_pk` assignment — the Spark analog of the
  * reference's per-table `auto_increment` sequence
  * (cdc_audit_gen_mysql.php:333,358-359). The ordering contract of the
  * whole pipeline is "order by audit_pk, never by timestamp"
  * (README.md:58-61), so the sequence must be dense (1,2,3,...) and
  * deterministic given a total order of the events.
  *
  * Two implementations (SURVEY.md §4, §7.4.1):
  *
  *  - [[assign]] — scale path. Global range-sort on the order columns,
  *    then per-partition offsets ([[prefixStamp]]): the input is
  *    evaluated ONCE (a lazy local checkpoint, filled by the range
  *    sort's sampling job and read back by its shuffle-map job — without
  *    it both jobs re-ran the upstream, e.g. capture's full-outer
  *    join), one count job over all sorted partitions but the last
  *    computes cumulative offsets (none with one partition), then
  *    indexes stamp per-partition in parallel. No single-partition
  *    bottleneck. The RDD hop is deliberate: a pure Catalyst
  *    formulation (spark_partition_id + offset join) is UNSOUND under
  *    AQE, which may coalesce the range exchange differently in the
  *    count job and the stamping job, silently remapping partition ids
  *    between the two — the walk reads one materialized RDD, so its
  *    two jobs always agree. The same walk stamps `CaptureDiff.capture`'s
  *    `audit_timestamp`, a per-call constant evaluated on the driver:
  *    as a Catalyst literal it would be inlined into the upstream's
  *    generated code and force a fresh compile on every call.
  *
  *  - [[assignWindowed]] — small-data path with whole-stage-codegen:
  *    `row_number()` over an un-partitioned window. Spark plans this as
  *    a single-partition sort; correct at any size but serial in the
  *    final stage. Kept for cases where the input is already known
  *    to be small (e.g. one micro-batch of captured changes).
  *
  * Both produce byte-identical results for the same order columns; the
  * order columns must be a unique key of the input for the result to be
  * deterministic across runs (ties are forbidden, not broken silently).
  */
object AuditSeq {

  /** Append a dense `audit_pk` (base+1, base+2, ...) ordered by
    * `orderCols`. Scale path — see object doc.
    */
  def assign(df: DataFrame, orderCols: Seq[Column], base: Long = 0L,
             pkName: String = AuditSchema.PkCol): DataFrame =
    prefixStamp(df, orderCols, Seq(StructField(pkName, LongType, nullable = false)))(
      _ => 1L)((_, before) => Seq(base + before + 1L))

  /** The sorted walk behind [[assign]], `CaptureDiff.capture` and
    * `Pack.packSequences`:
    * range-sort `df` by `orderCols` and append `stampFields`, computed
    * per row by `stamp(row, before)` where `before` is the sum of
    * `weight` over every earlier row in the global order. `df` is
    * evaluated once; see the object doc for the job plan and why the
    * walk is an RDD.
    */
  private[graft] def prefixStamp(df: DataFrame, orderCols: Seq[Column],
                                 stampFields: Seq[StructField])
                                (weight: Row => Long)
                                (stamp: (Row, Long) => Seq[Any]): DataFrame = {
    val sorted = df.localCheckpoint(eager = false).orderBy(orderCols: _*)
    val rdd = sorted.rdd
    // per-partition weight totals; the last partition's total is never
    // needed, so a one-partition sort runs no job here
    val totals =
      if (rdd.getNumPartitions <= 1) Array.empty[Long]
      else sorted.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[Row]) => it.foldLeft(0L)((s, r) => s + weight(r)),
        0 until rdd.getNumPartitions - 1)
    val offsets = totals.scanLeft(0L)(_ + _) // offsets(pid) = weight before pid
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var before = offsets(pid)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq ++ stamp(r, before))
        before += weight(r)
        out
      }
    }
    sorted.sparkSession.createDataFrame(stamped,
      StructType(sorted.schema.fields ++ stampFields))
  }

  /** Append a dense `audit_pk` via an un-partitioned window —
    * codegen-friendly but single-partition in the final stage. Use only
    * for bounded micro-batches.
    */
  def assignWindowed(df: DataFrame, orderCols: Seq[Column], base: Long = 0L,
                     pkName: String = AuditSchema.PkCol): DataFrame = {
    val w = Window.orderBy(orderCols: _*)
    df.withColumn(pkName, row_number().over(w).cast(LongType) + lit(base))
  }
}
