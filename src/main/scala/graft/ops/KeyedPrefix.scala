package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Keyed running (prefix) sums over a GLOBAL sort — without a per-key
  * total sort. The scan that makes "replay a sequential decision over
  * a recorded stream" scale when keys are FEW and HUGE: a
  * `Window.partitionBy(key).orderBy(...)` puts every row of a key on
  * one task and sorts there, so a popular key is a straggler by
  * construction. Here the engine's own [[graft.core.AuditSeq]]
  * discipline is generalized from a row index to arbitrary running
  * sums:
  *
  *   1. one RANGE sort on (keys ++ order) — a hot key spans MANY
  *      partitions, each holding a contiguous slice of its timeline;
  *   2. pass 1: per (partition, key) totals — one lightweight job,
  *      result size = partitions × keys (keys are few by premise);
  *   3. driver: per-key carry-in offsets for every partition
  *      (prefix over earlier partitions), broadcast;
  *   4. pass 2: per-partition running counters seeded from the
  *      carry-in stamp each row's cumulative count and sums in
  *      parallel.
  *
  * The RDD hop is deliberate and shared with [[graft.core.AuditSeq]]:
  * a pure Catalyst formulation (`spark_partition_id` + offset join)
  * is UNSOUND under AQE, which may coalesce the range exchange
  * differently between the counting job and the stamping job —
  * `.rdd` freezes one physical plan (and one set of range-partition
  * boundaries), so both passes walk identical partitions.
  *
  * Contract: `keys ++ order` must be a unique key of the input (ties
  * are forbidden, exactly as in AuditSeq — determinism depends on a
  * total order); sum columns must be non-null `LongType` (the milli/
  * ppm integer-exactness discipline — a null would poison a running
  * sum silently, so it throws instead).
  *
  * At 100 TB: the only coordination is the pass-1 collect
  * (partitions × keys tuples) and a same-sized broadcast; both passes
  * are embarrassingly parallel and the range sort is Spark's own
  * scalable total sort. Used by the SPRT batch replay
  * ([[graft.queries.ExtensionQueries.sprtQ]]).
  */
object KeyedPrefix {

  /** Append a running row count (`countName`), running sums (one
    * output column per `(input, output)` pair in `sums`) and running
    * maxima (`maxes`) per key, in `(keys, order)` global sort order —
    * any per-key associative integer fold fits the same two passes
    * (sum and max are the two shipped). Output rows keep every input
    * column; appended columns are non-null LongType.
    */
  def cumsum(df: DataFrame, keys: Seq[String], order: Seq[String],
             sums: Seq[(String, String)],
             countName: String = "n",
             maxes: Seq[(String, String)] = Nil,
             maxCarryTuples: Int = 1 << 22): DataFrame = {
    require(keys.nonEmpty, "cumsum needs at least one key column")
    require(order.nonEmpty, "cumsum needs at least one order column")
    require(maxCarryTuples >= 1,
      s"maxCarryTuples must be >= 1, got $maxCarryTuples")
    val sorted = df.orderBy((keys ++ order).map(col): _*)
    val schema = sorted.schema
    (sums ++ maxes).foreach { case (in, _) =>
      require(schema(in).dataType == LongType,
        s"cumsum sum column $in must be LongType, got ${schema(in).dataType}")
    }
    val taken = schema.fieldNames.toSet
    (countName +: (sums ++ maxes).map(_._2)).foreach { out =>
      require(!taken(out), s"cumsum output column $out collides with an input column")
    }
    val keyIdx = keys.map(schema.fieldIndex).toArray
    // maxes ride the same accumulator array as the sums, merged with
    // max instead of +; acc slots [0, nSums) are sums, [nSums, nAcc)
    // are maxima seeded at Long.MinValue
    val sumIdx = (sums ++ maxes).map { case (in, _) => schema.fieldIndex(in) }.toArray
    val nSums = sums.length
    val nAcc = sumIdx.length
    // ONE materialized lineage for both passes (see object doc)
    val rdd = sorted.rdd
    def freshAcc(): Array[Long] = {
      val a = new Array[Long](nAcc)
      var i = nSums
      while (i < nAcc) { a(i) = Long.MinValue; i += 1 }
      a
    }
    def accumulate(acc: Array[Long], row: Row): Unit = {
      var i = 0
      while (i < nAcc) {
        require(!row.isNullAt(sumIdx(i)),
          s"cumsum: null in sum column at ordinal ${sumIdx(i)}")
        val v = row.getLong(sumIdx(i))
        if (i < nSums) acc(i) += v
        else if (v > acc(i)) acc(i) = v
        i += 1
      }
    }

    // pass 1: per-(partition, key) totals; keys arrive in contiguous
    // runs because the data is sorted by (keys ++ order). The "keys
    // are few" premise is ENFORCED, not just documented (the public
    // graft_cumsum TVF exposes this path to SQL users who can pass a
    // high-cardinality key): each task fails fast past the tuple
    // bound — before shipping anything to the driver — and the driver
    // re-checks the cross-partition total before building the carry
    // maps, so a bad key errors loudly instead of OOMing the driver.
    def tooMany(n: Long): Nothing = throw new IllegalArgumentException(
      s"cumsum pass 1 produced $n partition-x-key carry tuples " +
        s"(bound $maxCarryTuples): the keyed-prefix scan is designed " +
        "for FEW keys with long timelines — for a high-cardinality " +
        "key use Window.partitionBy (each key fits one task there), " +
        "or raise maxCarryTuples if the driver can hold the carries")
    val partials: Array[(Int, Array[(Seq[Any], Long, Array[Long])])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer
          .empty[(Seq[Any], Long, Array[Long])]
        var curKey: Seq[Any] = null
        var cnt = 0L
        var acc: Array[Long] = null
        def flush(): Unit = if (curKey != null) {
          if (runs.length >= maxCarryTuples) tooMany(runs.length + 1L)
          runs += ((curKey, cnt, acc))
        }
        it.foreach { row =>
          val k = keyIdx.map(row.get(_)).toSeq
          if (k != curKey) {
            flush(); curKey = k; cnt = 0L; acc = freshAcc()
          }
          cnt += 1L
          accumulate(acc, row)
        }
        flush()
        Iterator.single((pid, runs.toArray))
      }.collect()
    val totalTuples = partials.map(_._2.length.toLong).sum
    if (totalTuples > maxCarryTuples) tooMany(totalTuples)

    // driver: carry-in per (partition, key) = the same key's totals
    // over all EARLIER partitions
    def zero = (0L, freshAcc())
    val running = scala.collection.mutable.HashMap.empty[Seq[Any], (Long, Array[Long])]
    val offsets: Map[Int, Map[Seq[Any], (Long, Array[Long])]] =
      partials.sortBy(_._1).map { case (pid, runs) =>
        val carryIn = runs.map { case (k, _, _) =>
          k -> running.getOrElse(k, zero)
        }.toMap
        runs.foreach { case (k, c, s) =>
          val (pc, ps) = running.getOrElse(k, zero)
          val merged = new Array[Long](nAcc)
          var i = 0
          while (i < nAcc) {
            merged(i) = if (i < nSums) ps(i) + s(i) else math.max(ps(i), s(i))
            i += 1
          }
          running(k) = (pc + c, merged)
        }
        pid -> carryIn
      }.toMap
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)

    val outSchema = StructType(schema.fields ++
      (StructField(countName, LongType, nullable = false) +:
        (sums ++ maxes).map { case (_, out) =>
          StructField(out, LongType, nullable = false) }))
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bc.value.getOrElse(pid, Map.empty[Seq[Any], (Long, Array[Long])])
      var curKey: Seq[Any] = null
      var cnt = 0L
      var acc: Array[Long] = null
      it.map { row =>
        val k = keyIdx.map(row.get(_)).toSeq
        if (k != curKey) {
          curKey = k
          val (c0, s0) = off.getOrElse(k, (0L, freshAcc()))
          cnt = c0; acc = s0.clone()
        }
        cnt += 1L
        accumulate(acc, row)
        Row.fromSeq(row.toSeq ++ (cnt +: acc.toSeq))
      }
    }
    sorted.sparkSession.createDataFrame(out, outSchema)
  }
}
