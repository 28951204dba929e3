package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Snapshot-diff change capture — the Spark-native replacement for the
  * reference's MySQL AFTER triggers (SURVEY.md §2.3, §2.9). Spark cannot
  * install triggers, so I/U/D events are classified by a full-outer
  * join of two consecutive snapshots on the primary key.
  *
  * Event taxonomy and row images match the generated triggers exactly
  * (cdc_audit_gen_mysql.php:489-499):
  *
  *  - key only in new snapshot  -> `insert`, post-image (NEW.*)
  *  - key in both, any non-key column changed -> `update`, post-image
  *    only — pre-images of updates are NOT captured, matching the
  *    reference (`update_vals = new_vals`, cdc_audit_gen_mysql.php:490;
  *    SURVEY.md §7.4.2)
  *  - key only in old snapshot  -> `delete`, pre-image (OLD.*)
  *
  * No-op updates (key present in both, all columns null-safe equal)
  * produce no event: a MySQL AFTER UPDATE trigger does fire on no-op
  * UPDATE statements, but a snapshot pair cannot observe them — this is
  * the documented semantic of snapshot capture.
  *
  * Scale notes (100 TB): the join is fact-fact on the PK -> Catalyst
  * plans a shuffle (sort-merge / AQE-shuffled-hash) partitioned by the
  * key; if both snapshots are written bucketed by PK the exchange is
  * avoided entirely. The change-detection predicate is a null-safe
  * column comparison, fully codegen'd; no UDFs anywhere.
  */
object CaptureDiff {

  /** Classify changes between two snapshots sharing a schema.
    *
    * @param oldSnap previous snapshot
    * @param newSnap current snapshot
    * @param pk      primary-key column names (join key)
    * @param clock   value for `audit_timestamp` — injectable for
    *                deterministic tests (SURVEY.md §7.4.5); defaults to
    *                capture-time `current_timestamp()` like the
    *                reference's CURRENT_TIMESTAMP
    *                (cdc_audit_gen_mysql.php:498-499). Evaluated ONCE,
    *                on the driver, when `capture` is called, and stamped
    *                by the sequencing walk next to `audit_pk`: kept out
    *                of the join's generated code, where Spark inlines a
    *                timestamp literal and so compiled a new class on
    *                every call. Must not refer to a row column.
    * @param basePk  `audit_pk` offset (last pk already in the log)
    * @return DataFrame in audit schema: source columns (image), then
    *         audit_event, audit_timestamp, audit_pk — audit_pk densely
    *         assigned ordered by the PK columns.
    */
  def capture(oldSnap: DataFrame, newSnap: DataFrame, pk: Seq[String],
              clock: Column = current_timestamp(),
              basePk: Long = 0L): DataFrame = {
    require(oldSnap.schema.fieldNames.sameElements(newSnap.schema.fieldNames),
      "snapshots must share a schema")
    val events = classify(oldSnap, newSnap, pk)
    require(events.select(clock).queryExecution.analyzed.expressions
      .forall(_.references.isEmpty),
      s"capture clock must not refer to a row column: $clock")
    // one row, no columns: a LocalRelation the optimizer evaluates on
    // the driver, so this runs no Spark job
    val at = events.sparkSession
      .createDataFrame(java.util.List.of(Row.empty), new StructType()).select(clock)
    val now = at.head().get(0)
    AuditSeq.prefixStamp(events, pk.map(col) :+ col(AuditSchema.EventCol),
      Seq(at.schema.head.copy(name = AuditSchema.TimestampCol),
        StructField(AuditSchema.PkCol, LongType, nullable = false)))(
      _ => 1L)((_, before) => Seq(now, basePk + before + 1L))
  }

  /** Schema-evolution-tolerant capture — the reference's wished-for
    * "Auto-Detect schema changes to source table and apply to audit
    * table" (`README.md:224`, listed as a TODO; `README.md:210-212`
    * documents today's manual re-run). Snapshot-diff capture gets this
    * almost for free: the two snapshots' schemas are aligned by NAME —
    * a column present on one side only (ALTER TABLE ADD/DROP between
    * snapshots) null-pads the other side — and the ordinary classify
    * runs over the union schema. An added column backfilled on some
    * rows surfaces exactly those rows as updates (null IS DISTINCT
    * FROM value); rows untouched by the backfill stay suppressed.
    * Shared columns must keep their type — a type CHANGE is a rewrite,
    * not capturable from images, and fails fast like the sync drift
    * check (`SyncJob`).
    */
  def captureEvolved(oldSnap: DataFrame, newSnap: DataFrame,
                     pk: Seq[String],
                     clock: Column = current_timestamp(),
                     basePk: Long = 0L): DataFrame = {
    val oldF = oldSnap.schema.fields.map(f => f.name -> f.dataType).toMap
    val newF = newSnap.schema.fields.map(f => f.name -> f.dataType).toMap
    val shared = oldF.keySet intersect newF.keySet
    val mismatched = shared.filter(c => oldF(c) != newF(c))
    require(mismatched.isEmpty,
      s"schema drift beyond add/drop: type change on ${mismatched.mkString(",")}")
    require(pk.forall(shared.contains), "PK columns must exist on both sides")
    // union order: old's columns, then new-only columns
    val unionCols = oldSnap.schema.fieldNames.toSeq ++
      newSnap.schema.fieldNames.filterNot(oldF.contains)
    def pad(df: DataFrame, have: Map[String, org.apache.spark.sql.types.DataType])
        : DataFrame =
      df.select(unionCols.map(c => have.get(c) match {
        case Some(_) => col(c)
        case None    => lit(null).cast(oldF.getOrElse(c, newF(c))).as(c)
      }): _*)
    capture(pad(oldSnap, oldF), pad(newSnap, newF), pk, clock, basePk)
  }

  /** The join+classify core, without sequencing/timestamping: returns
    * source columns (correct image per event) + `audit_event`.
    * Expressed entirely in joinable/codegen-able expressions so Catalyst
    * keeps pushdown and AQE freedom.
    */
  def classify(oldSnap: DataFrame, newSnap: DataFrame,
               pk: Seq[String]): DataFrame = {
    val o = oldSnap.alias("o")
    val n = newSnap.alias("n")
    // plain equality, not null-safe: PKs are non-null by definition
    // (the presence tests below already rely on that), and an
    // equi-join keeps the plan bucket-join compatible (co-located
    // snapshots join without an Exchange — see AuditLake)
    val joinCond = pk.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    val joined = o.join(n, joinCond, "full_outer")

    val cols    = oldSnap.schema.fieldNames.toSeq
    val nonKey  = cols.filterNot(pk.contains)
    // presence tests: any PK column non-null on that side (PKs are
    // non-null by definition, so null PK == side absent)
    val inOld = pk.map(k => col(s"o.$k").isNotNull).reduce(_ && _)
    val inNew = pk.map(k => col(s"n.$k").isNotNull).reduce(_ && _)
    val changed =
      if (nonKey.isEmpty) lit(false)
      else nonKey.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)

    val event = when(!inOld, lit("insert"))
      .when(!inNew, lit("delete"))
      .otherwise(lit("update"))

    // post-image for insert/update, pre-image for delete
    // (cdc_audit_gen_mysql.php:489-496)
    val image = cols.map { c =>
      when(event === "delete", col(s"o.$c")).otherwise(col(s"n.$c")).as(c)
    }

    joined
      .filter(!inOld || !inNew || changed) // suppress no-op updates
      .select(image :+ event.as(AuditSchema.EventCol): _*)
  }

  /** Three-way merge capture — conflict detection for the reference's
    * own motivating deployment shape ("terabytes of legacy data stored
    * in MULTIPLE mysql databases", `README.md:20-27`): two writers
    * diverge from a common base snapshot, and the merged change set
    * must distinguish clean merges from true conflicts. Classic
    * COLUMN-level three-way merge (the VCS rule, public folklore since
    * diff3): a column conflicts only when BOTH sides changed it to
    * DIFFERENT values; disjoint column edits combine into one merged
    * row.
    *
    * Per key (presence = PK non-null per side):
    *   - edited on one side only → that side's image, status
    *     `ours`/`theirs`
    *   - edited on both, per-column disjoint or identical → combined
    *     image, status `merged`
    *   - any column changed by both to different values, or
    *     delete-vs-edit, or both-insert with different images →
    *     status `conflict`, resolved OURS-WINS (deterministic; the
    *     flag is the router — callers quarantine conflict rows)
    *   - unchanged everywhere → suppressed
    * `audit_event` classifies the merged outcome vs base (I/U/D;
    * deletes carry the base pre-image, the reference's delete rule).
    *
    * Scale shape: two co-keyed full-outer joins (one Exchange per
    * side, zero with bucketed snapshots — [[graft.core.AuditLake]]),
    * then pure codegen'd column CASEs. No UDF, no driver logic.
    */
  def threeWayMerge(base: DataFrame, ours: DataFrame, theirs: DataFrame,
                    pk: Seq[String]): DataFrame = {
    require(base.schema.fieldNames.sameElements(ours.schema.fieldNames) &&
      base.schema.fieldNames.sameElements(theirs.schema.fieldNames),
      "snapshots must share a schema")
    val b = base.alias("b"); val o = ours.alias("o"); val t = theirs.alias("t")
    val joined = b
      .join(o, pk.map(k => col(s"b.$k") === col(s"o.$k")).reduce(_ && _), "full_outer")
      // t matches on the key from whichever earlier side is present
      .join(t, pk.map(k =>
        coalesce(col(s"b.$k"), col(s"o.$k")) === col(s"t.$k"))
        .reduce(_ && _), "full_outer")
    val cols = base.schema.fieldNames.toSeq
    val nonKey = cols.filterNot(pk.contains)
    val inB = pk.map(k => col(s"b.$k").isNotNull).reduce(_ && _)
    val inO = pk.map(k => col(s"o.$k").isNotNull).reduce(_ && _)
    val inT = pk.map(k => col(s"t.$k").isNotNull).reduce(_ && _)
    def diffs(side: String): Column =
      if (nonKey.isEmpty) lit(false)
      else nonKey.map(c => !(col(s"$side.$c") <=> col(s"b.$c"))).reduce(_ || _)
    def colConflict(c: String): Column =
      !(col(s"o.$c") <=> col(s"b.$c")) && !(col(s"t.$c") <=> col(s"b.$c")) &&
        !(col(s"o.$c") <=> col(s"t.$c"))
    val anyColConflict =
      if (nonKey.isEmpty) lit(false)
      else nonKey.map(colConflict).reduce(_ || _)
    val oursRow = diffs("o"); val theirsRow = diffs("t")
    val sameImage =
      if (nonKey.isEmpty) lit(true)
      else nonKey.map(c => col(s"o.$c") <=> col(s"t.$c")).reduce(_ && _)
    // presence/status/event/deletion classification
    val status =
      when(!inB && inO && inT, when(sameImage, lit("merged"))
        .otherwise(lit("conflict")))
      .when(!inB, when(inO, lit("ours")).otherwise(lit("theirs")))
      .when(!inO && !inT, lit("merged"))                   // both deleted
      .when(!inO, when(theirsRow, lit("conflict"))         // our delete vs their edit
        .otherwise(lit("ours")))
      .when(!inT, when(oursRow, lit("conflict"))           // their delete vs our edit
        .otherwise(lit("theirs")))
      .when(anyColConflict, lit("conflict"))
      .when(oursRow && theirsRow, lit("merged"))
      .when(oursRow, lit("ours"))
      .when(theirsRow, lit("theirs"))
    // (only consulted for inB rows — event tests !inB first):
    // ours deleted (clean, or ours-wins over their edit) OR their
    // clean delete. Their delete vs OUR edit loses -> stays an update.
    val deleted = !inO || (!inT && !oursRow)
    val event = when(!inB, lit("insert"))
      .when(deleted, lit("delete")).otherwise(lit("update"))
    // merged image: deletes carry the base pre-image; inserts the
    // inserting side's (ours-wins on both-insert); updates merge
    // per-column with ours precedence on conflict
    val image = cols.map { c =>
      val colMerge =
        when(!(col(s"o.$c") <=> col(s"b.$c")), col(s"o.$c"))
          .when(!(col(s"t.$c") <=> col(s"b.$c")), col(s"t.$c"))
          .otherwise(col(s"b.$c"))
      when(!inB, coalesce(col(s"o.$c"), col(s"t.$c")))
        .when(deleted, col(s"b.$c"))
        .when(!inT, col(s"o.$c"))                          // their delete lost
        .otherwise(if (pk.contains(c)) col(s"b.$c") else colMerge)
        .as(c)
    }
    joined
      .filter(!inB || !inO || !inT || oursRow || theirsRow)
      .select(image ++ Seq(event.as(AuditSchema.EventCol),
        status.as("merge_status")): _*)
  }

  /** Capture WITH update pre-images — the deliberate extension beyond
    * the reference (which only stores post-images on update,
    * cdc_audit_gen_mysql.php:490; SURVEY.md §7.4.2): each non-key
    * column gains an `old_<col>` twin holding the pre-image on
    * update/delete events (null on insert). Snapshot-diff capture has
    * the pre-image for free — the reference's trigger model simply
    * chose not to keep it — so this closes its data-loss gap for
    * consumers that need before/after auditing.
    */
  def classifyWithPreImages(oldSnap: DataFrame, newSnap: DataFrame,
                            pk: Seq[String]): DataFrame = {
    val o = oldSnap.alias("o")
    val n = newSnap.alias("n")
    val joinCond = pk.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    val joined = o.join(n, joinCond, "full_outer")

    val cols   = oldSnap.schema.fieldNames.toSeq
    val nonKey = cols.filterNot(pk.contains)
    val inOld = pk.map(k => col(s"o.$k").isNotNull).reduce(_ && _)
    val inNew = pk.map(k => col(s"n.$k").isNotNull).reduce(_ && _)
    val changed =
      if (nonKey.isEmpty) lit(false)
      else nonKey.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
    val event = when(!inOld, lit("insert"))
      .when(!inNew, lit("delete"))
      .otherwise(lit("update"))
    val image = cols.map { c =>
      when(event === "delete", col(s"o.$c")).otherwise(col(s"n.$c")).as(c)
    }
    val preImages = nonKey.map { c =>
      when(event === "insert", lit(null)).otherwise(col(s"o.$c")).as(s"old_$c")
    }
    joined
      .filter(!inOld || !inNew || changed)
      .select(image ++ preImages :+ event.as(AuditSchema.EventCol): _*)
  }
}
