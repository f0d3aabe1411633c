package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-static enrichment with an idempotent micro-batch sink — the
  * streaming shape of the reference's enrichment joins (cache-table join in
  * `operators/Enrichment.scala` is the batch twin): a file stream of facts
  * joins a broadcast dimension table, and each micro-batch lands via
  * foreachBatch + dynamic partition overwrite keyed on the batch id
  * ([[ExactlyOnce]] protocol 2).
  *
  * Exactly-once story: Structured Streaming replays a failed batch with the
  * SAME batch id after checkpoint recovery, so overwriting the batch's own
  * partition makes the replay idempotent — the reference's
  * delete-then-reload idempotence (St3/S20), applied per micro-batch. The
  * dimension side re-broadcasts per batch, so dim updates between batches
  * are picked up (the "slowly changing dimension, latest wins" stance).
  */
object StreamEnrich {

  /** Drain available input once; enriched batches land under `outPath`
    * partitioned by batch id. Returns after the drain completes.
    * @param batchHook invoked AFTER the batch's write, BEFORE the
    *                  checkpoint commit — a throwing hook simulates the
    *                  worst crash window (output landed, commit lost) so
    *                  specs can prove the replay is idempotent. No-op in
    *                  production. */
  def run(spark: SparkSession, inPath: String, schemaSource: DataFrame,
          dim: DataFrame, joinCol: String, outPath: String,
          checkpoint: String, batchHook: Long => Unit = _ => ()): Unit =
    ExactlyOnce.drainAvailableNow(spark, inPath, schemaSource, checkpoint) {
      (batch, batchId) =>
        ExactlyOnce.landBatchPartition(
          batch.join(broadcast(dim), Seq(joinCol), "left"), outPath, batchId)
        batchHook(batchId)
    }
}
