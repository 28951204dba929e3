package graft.streaming

import graft.ops.Inference
import org.apache.spark.sql.Dataset

/** Live batched model serving — the streaming twin of
  * [[graft.ops.Inference.inferBatched]], as a stateless typed
  * `mapPartitions`: each micro-batch's
  * partitions pack arriving docs into fixed-size forward batches (one
  * session call per batch — the GPU-amortization shape survives the
  * move to streaming because batching happens WITHIN the partition
  * iterator, not across triggers), emit in the same micro-batch, no
  * state, no watermark. Both paths call the ONE
  * [[graft.ops.Inference.forward]] seam, so the live gate and the
  * batch re-score are bit-identical on every document (spec-pinned).
  */
object InferStreamOps {

  /** Per-doc serving audit row: prediction (None for null text — the
    * bypass contract) and the admit verdict against `keepClass`.
    */
  final case class InferAudit(ts: java.sql.Timestamp, doc_id: Long,
                              pred_class: Option[Int],
                              logit_q: Option[Long],
                              pass: Boolean)

  /** LIVE classification gate: every arriving doc is scored by the
    * batched session and admitted iff it predicts `keepClass` — the
    * quality-/language-/topic-router a live ingest runs before a doc
    * lands in the lake. Null texts fail closed (no features, no
    * verdict to trust).
    */
  def streamingInferGate(
      docs: Dataset[(java.sql.Timestamp, Long, String)],
      keepClass: Int, dim: Int = 64, classes: Int = 4,
      batchSize: Int = 32): Dataset[InferAudit] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      // the ONE serving loop ([[Inference.batchedServe]]) over the
      // typed iterator — the DataFrame server delegates to the same
      // code, so the batching contract cannot drift between paths
      Inference.batchedServe[(java.sql.Timestamp, Long, String), InferAudit](
        it, batchSize,
        t => if (t._3 == null) null else Inference.featuresOf(t._3, dim),
        xs => Inference.forward(xs, dim, classes),
        (t, best, logit) => InferAudit(t._1, t._2, Some(best),
          Some(logit), pass = best == keepClass),
        t => InferAudit(t._1, t._2, None, None, pass = false))
    }
  }
}
