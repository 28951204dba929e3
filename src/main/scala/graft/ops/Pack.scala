package graft.ops

import graft.core.AuditSeq
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Training-sequence packing: lay the corpus's chunks end-to-end on one
  * global token axis and assign each chunk to the fixed-budget training
  * sequence its FIRST token lands in — the packing pass that turns
  * variable-length chunks into model-ready ~budget-token sequences.
  *
  * Semantics, chosen for scale: `tok_start` = exclusive prefix sum of
  * token counts in (global, deterministic) `orderCols` order;
  * `seq_id = tok_start DIV budget`; `seq_offset = tok_start % budget`.
  * A chunk whose tokens straddle a boundary belongs to the sequence it
  * STARTS in. The alternative "open a fresh sequence when a chunk does
  * not fit" (first-fit, no straddle) is inherently sequential — each
  * decision depends on the remainder left by every previous one — and
  * cannot be expressed as any per-row function of a prefix aggregate;
  * start-offset packing is the form that parallelizes, and is what
  * sequence-packing pipelines that slice a concatenated token stream
  * produce anyway.
  *
  * Implementation = [[graft.core.AuditSeq.prefixStamp]], the walk
  * behind `AuditSeq.assign`, with token counts as the weight instead of
  * 1: one global range sort (N-way parallel) over the input evaluated
  * once, one lightweight job computing per-partition token subtotals
  * (numPartitions longs to the driver — bounded by cluster width, not
  * data), then a parallel per-partition stamping pass whose running
  * sum starts at the partition's cumulative offset. Both jobs walk the
  * SAME materialized RDD, so partition boundaries agree (AuditSeq's
  * AQE-soundness argument). No single-partition stage anywhere — the
  * un-partitioned window form (`sum over rows unbounded preceding`)
  * computes the same numbers but serializes the whole corpus through
  * one task.
  *
  * The result is a pure function of (row set, orderCols, budget):
  * partitioning of the input does not affect the output.
  */
object Pack {

  /** Length-bucket padding-waste audit — the table a trainer reads to
    * pick its bucketed-batching boundaries: each document goes to the
    * SMALLEST bucket that holds its token count (the bucketed-batching
    * rule), docs longer than every bucket land in the overflow row
    * (`bucket = -1`, they get chunked, no padding), and each bucket
    * reports how many of its token slots padding would burn. One scan,
    * one buckets-sized aggregate — the whole audit is a codegen'd CASE
    * ladder plus a tiny group-by, so it runs casually at any corpus
    * size.
    */
  def paddingWaste(docs: DataFrame, buckets: Seq[Int],
                   textCol: String = "text"): DataFrame = {
    require(buckets.nonEmpty && buckets == buckets.sorted &&
      buckets.forall(_ >= 1), "buckets must be ascending positive lengths")
    val nTok = size(TextStats.tokens(col(textCol)))
    val bucketCol = buckets.reverse.foldLeft(lit(-1)) { (acc, b) =>
      when(nTok <= b, lit(b)).otherwise(acc)
    }
    docs.filter(col(textCol).isNotNull)
      .select(nTok.cast("long").as("n_tok"), bucketCol.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .withColumn("sum_padding",
        when(col("bucket") > 0,
          col("bucket") * col("n_docs") - col("sum_tokens"))
          .otherwise(lit(0L)))
      .withColumn("pad_ppm",
        when(col("bucket") > 0,
          expr("CAST(CAST(sum_padding AS DECIMAL(38,0)) * 1000000" +
            " div (bucket * n_docs) AS BIGINT)"))
          .otherwise(lit(0L)))
      .orderBy("bucket")
  }

  def packSequences(chunks: DataFrame, budget: Long,
                    orderCols: Seq[String] = Seq("doc_id", "chunk_idx"),
                    tokenCol: String = "n_tokens"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val tokIdx = chunks.columns.indexOf(tokenCol)
    require(tokIdx >= 0, s"missing token column $tokenCol")
    // a null token count contributes 0 tokens (the chunk still gets a
    // position on the axis) — stamping must never NPE mid-stream
    def tokensOf(r: Row): Long = r.get(tokIdx) match {
      case null => 0L
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"token column $tokenCol must be numeric, got $other")
    }
    AuditSeq.prefixStamp(chunks, orderCols.map(col), Seq(
      StructField("tok_start", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("seq_offset", LongType, nullable = false)))(tokensOf)(
      (_, start) => Seq(start, start / budget, start % budget))
  }
}
