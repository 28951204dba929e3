package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance over the CDC log — the canonical
  * downstream consumer the reference syncs its audit rows INTO
  * (`README.md:20-27`: ship changes to Hadoop "for analytics"; the
  * sync contract is O(new rows) per run, `cdc_audit_sync_mysql.php:243`).
  * This closes the loop: instead of re-aggregating the whole synced
  * table every run, a keyed aggregate (the "materialized view") is
  * maintained from the change events alone.
  *
  * Design (public literature: incremental view maintenance via
  * retraction+addition deltas — the Z-set/DBSP formulation of Budiu et
  * al., VLDB 2023, and differential dataflow before it): every change
  * event contributes up to two signed delta rows —
  *
  *   - insert  → +(key_new, value_new, +1)
  *   - delete  → -(key_old, value_old, -1)
  *   - update  → BOTH (so a group-key change moves the row's mass
  *               between groups correctly)
  *
  * summed per key into the net view delta. Scale shape: the delta
  * aggregation is O(changes) — one hash-agg over the event batch, the
  * 100 TB view never shuffles. The view joins in twice, both ways
  * cheap: a broadcast LEFT SEMI probe pulls the touched keys' current
  * rows (one columnar scan of the view, zero view-side Exchange — and
  * a key-bucketed view, see [[AuditLake]], turns even that scan's join
  * into a bucket join), then touched-current FULL OUTER net-delta runs
  * over two O(changes)-sized frames. Output is the UPSERT/DELETE
  * instruction set for the view — O(changes) rows, never the view
  * itself — which is exactly what a MERGE INTO against the stored
  * view consumes.
  */
object Ivm {

  /** Signed per-key (sum, count) deltas from a pre-image-carrying
    * change-event frame ([[CaptureDiff.classifyWithPreImages]] schema:
    * image columns + `old_<col>` pre-image twins + `audit_event`).
    * `groupKey` and `valueCol` must be non-key source columns (so
    * their `old_` twins exist); `valueType` is the exact decimal type
    * the money math runs in (engine-independent sums — see
    * "Determinism" in SCALING.md).
    */
  def viewDelta(events: DataFrame, groupKey: String, valueCol: String,
                valueType: String = "decimal(12,2)"): DataFrame =
    signedDeltas(events, groupKey, valueCol, valueType)
      .groupBy(col("k").as(groupKey))
      .agg(sum(col("dv")).as("d_sum"), sum(col("dn")).as("d_n"))
      // cancel-outs (net-zero keys) leave the view row untouched; the
      // recompute oracle sees no difference there either, so suppress.
      .filter(col("d_n") =!= 0L || col("d_sum") =!= lit(0).cast(valueType))

  /** The un-aggregated signed delta rows (k, dv, dn) — one or two per
    * event, aggregated by [[viewDelta]].
    */
  def signedDeltas(events: DataFrame, groupKey: String, valueCol: String,
                   valueType: String = "decimal(12,2)"): DataFrame = {
    val ev = col(AuditSchema.EventCol)
    // addition arm: post-image contribution of insert/update
    val add = when(ev =!= "delete",
      struct(col(groupKey).as("k"),
        col(valueCol).cast(valueType).as("dv"), lit(1L).as("dn")))
    // retraction arm: pre-image contribution of update/delete
    // (classifyWithPreImages fills old_ twins on both)
    val retract = when(ev =!= "insert",
      struct(col(s"old_$groupKey").as("k"),
        (-col(s"old_$valueCol").cast(valueType)).as("dv"),
        lit(-1L).as("dn")))
    events
      .select(explode(filter(array(add, retract), a => a.isNotNull)).as("d"))
      .select(col("d.k").as("k"), col("d.dv").as("dv"), col("d.dn").as("dn"))
  }

  /** Merge a net view delta into the current view state and emit the
    * per-key maintenance instructions: (key, new count, new sum, op)
    * with op = insert (key new to the view), update (aggregates
    * moved), delete (count reached zero — MERGE deletes the row).
    * `view` is the current (key, n_rows, sum_val) state; only touched
    * keys are read from it (broadcast semi probe) and only touched
    * keys are emitted.
    */
  def maintain(view: DataFrame, delta: DataFrame, groupKey: String,
               sumCol: String = "sum_val", cntCol: String = "n_rows"): DataFrame = {
    val touched = view.join(broadcast(delta.select(groupKey)),
      Seq(groupKey), "left_semi")
    val newN = coalesce(col(cntCol), lit(0L)) + coalesce(col("d_n"), lit(0L))
    val newS = coalesce(col(sumCol) + col("d_sum"),
      col(sumCol), col("d_sum"))
    touched.join(delta, Seq(groupKey), "full_outer")
      .select(col(groupKey), newN.as(cntCol), newS.as(sumCol),
        when(newN === 0L, lit("delete"))
          .when(col(cntCol).isNull, lit("insert"))
          .otherwise(lit("update")).as("op"))
  }
}
