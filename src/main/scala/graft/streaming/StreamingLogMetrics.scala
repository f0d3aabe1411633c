package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipelines.LogMetrics

/** Streaming maintainer for the §3.2 site-metrics spine — the FIFTEENTH
  * [[ExactlyOnce]] maintainer: raw log TEXT files drop into a directory
  * (the log-shipper shape, `dgv/metrics/task_functions.py:46-122` reads
  * the same files in nightly batches), each micro-batch is parsed with the
  * SAME first-match-wins pattern table as the batch pipeline
  * ([[LogMetrics.parse]]) and its per-(date, entity, slug, segment) hit
  * counts land under a `batch_id=` partition (protocol 2 — a replayed
  * batch overwrites exactly its own partition byte-identically).
  *
  * Count-merge associativity is the correctness protocol: hits are pure
  * per-line classifications, so summing per-batch counts across partitions
  * is EXACTLY the batch pipeline's conditional-count pivot over the full
  * line history — [[mergedDaily]] ≡ `LogMetrics.aggregate(parse(all))`,
  * spec-pinned across drains, idle re-runs, and crash replay, including
  * (date, slug) cells SPLIT across batches. Downstream stages (catalog
  * join, monthly rollup) apply unchanged to the merged view.
  *
  * Scale: each batch shuffles only its own hit counts (map-side combined,
  * keyed on the day×slug dimension — far smaller than lines); the store
  * grows by audit-dimension rows per batch, never raw lines; the merged
  * view is one aggregation over the store.
  */
object StreamingLogMetrics {

  /** The store [[ingest]] lands: the per-batch hit counts (`parse`'s string
    * columns and the `count` as BIGINT) under the `batch_id=` partition,
    * which reads back as an int. Declared so [[mergedDaily]] skips the
    * schema-inference job a plain `spark.read.parquet` runs on every merge;
    * StreamingLogMetricsSpec pins it against the inferred schema. */
  val StoreSchema: StructType = StructType.fromDDL(
    "date STRING, entity_type STRING, slug STRING, segment STRING, " +
      "cnt BIGINT, batch_id INT")

  /** Drain available raw-line text files once; land per-batch hit counts. */
  def ingest(spark: SparkSession, inGlob: String, storePath: String,
             checkpoint: String,
             patterns: Seq[LogMetrics.LogPattern] = LogMetrics.defaultPatterns): Unit =
    ExactlyOnce.drainTextAvailableNow(spark, inGlob, checkpoint) {
      (batch, batchId) =>
        ExactlyOnce.landBatchPartition(
          LogMetrics.parse(batch.toDF(), patterns)
            .groupBy("date", "entity_type", "slug", "segment")
            .agg(count(lit(1)).as("cnt")),
          storePath, batchId)
    }

  /** The maintained daily-metrics view — identical to
    * `LogMetrics.aggregate(LogMetrics.parse(fullHistory), segments)`, in
    * one aggregation over the (hit-dimension-sized) store. */
  def mergedDaily(spark: SparkSession, storePath: String,
                  segments: Seq[String]): DataFrame = {
    val store = spark.read.schema(StoreSchema).parquet(storePath)
    val aggs = segments.map(s =>
      sum(when(col("segment") === s, col("cnt")).otherwise(0L))
        .as(s"nb_visit_$s")) :+
      sum("cnt").as("nb_visit_total")
    store.groupBy("date", "entity_type", "slug").agg(aggs.head, aggs.tail: _*)
  }
}
