package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Writers

/** The ONE exactly-once landing protocol shared by every persisted-artifact
  * stream maintainer — so the next artifact reuses a tested mechanism
  * instead of growing a fourth bespoke crash-window dance. Three escalating
  * protocols, each the cheapest that its write shape allows:
  *
  *  1. [[appendFileSink]] — pure per-row output (band index): Spark's own
  *     file-sink manifest in the checkpoint is the protocol; a replayed
  *     batch overwrites its uncommitted files. Nothing to add.
  *  2. [[landBatchPartition]] — append-only rows computed against the rest
  *     of the store (content-hash index): land under a `batch_id=` hive
  *     partition via dynamic overwrite. A replay recomputes against every
  *     OTHER batch's partition and overwrites only its own — byte-identical,
  *     exactly once. Single-partition dir swap, atomic enough on its own.
  *  3. [[Journal]] — rewrites spanning MANY partitions (cluster labels):
  *     the multi-partition dynamic overwrite swaps dirs one at a time, so a
  *     crash mid-apply would leave a torn store. The journal makes the
  *     apply redoable: land the full content of the affected partitions
  *     under `<store>.journal/batch=<id>` (the write's `_SUCCESS` is the
  *     completeness marker), apply it to the store, then drop an applied
  *     marker. [[Journal.recover]] re-applies any complete-but-unapplied
  *     journal — overwriting the same partitions with the same rows, so
  *     every crash point is covered: journal incomplete → store untouched,
  *     the stream replays the batch; apply partial → redo completes it;
  *     marker lost → redo is a no-op rewrite.
  *
  * All maintainers drain through [[drainAvailableNow]] and test store
  * existence with [[storeNonEmpty]] (hidden/underscore-only content — a
  * crashed first write's staging or a bare `_SUCCESS` — is NOT a store;
  * parquet schema inference would fail on it).
  *
  * Session rule: foreachBatch bodies run in the CALLER's session, never in
  * the stream's clone. `writeStream.start()` runs each query in a cloned
  * session with a new session UUID; the executor gives every new UUID a
  * fresh classloader and the codegen cache is keyed by (classloader, code),
  * so a body left in the clone recompiles all of its generated code on
  * every drain (~10 Janino compiles per log-metrics cycle, 0 re-bound).
  * [[drain]] hands `body` the micro-batch re-bound to the session that
  * built the stream (`Bridge.inSession`). Protocol 1 ([[appendFileSink]]:
  * the band, vector, posting and binary-signature indexes) has no
  * foreachBatch, so its queries still run in the clone and still recompile
  * per query.
  */
object ExactlyOnce {

  /** The one foreachBatch drain wiring every reader variant shares —
    * checkpointed AvailableNow trigger, drained to completion, each batch
    * handed to `body` in the caller's session (the session rule above). A
    * fix here fixes every drain path at once. */
  private def drain(stream: DataFrame, checkpoint: String)
                   (body: (Dataset[Row], Long) => Unit): Unit = {
    val caller = stream.sparkSession
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(Bridge.inSession(batch, caller), batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain available files once (AvailableNow) through `body`, which must
    * land each batch idempotently via protocol 2 or 3. Re-invoke per ingest
    * cycle; safe to re-run after a crash at any point. */
  def drainAvailableNow(spark: SparkSession, inGlob: String,
                        schemaSource: DataFrame, checkpoint: String)
                       (body: (Dataset[Row], Long) => Unit): Unit =
    drain(spark.readStream.schema(schemaSource.schema).parquet(inGlob),
      checkpoint)(body)

  /** [[drainAvailableNow]] for RAW TEXT inputs (one `value` line per row —
    * the shape log shippers drop): same file-source registry + foreachBatch
    * protocol, text reader instead of parquet. */
  def drainTextAvailableNow(spark: SparkSession, inGlob: String,
                            checkpoint: String)
                           (body: (Dataset[Row], Long) => Unit): Unit =
    drain(spark.readStream.text(inGlob), checkpoint)(body)

  /** Protocol 1: drain once through a stateless per-frame transform into a
    * plain append file sink — exactly-once from the file-source registry
    * plus the file-sink manifest in the checkpoint. */
  def appendFileSink(spark: SparkSession, inGlob: String,
                     schemaSource: DataFrame, sinkPath: String,
                     checkpoint: String)
                    (transform: DataFrame => DataFrame): Unit = {
    val stream = spark.readStream.schema(schemaSource.schema).parquet(inGlob)
    val q = transform(stream).writeStream
      .format("parquet")
      .option("path", sinkPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Does `path` hold real store data? Hidden/underscore-only content (a
    * crashed write's staging, a bare `_SUCCESS` from an all-null first
    * batch) does not count. */
  def storeNonEmpty(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Protocol 2: land `rows` under the `batch_id=<batchId>` partition of
    * `storePath` via dynamic overwrite — a replayed batch replaces exactly
    * its own partition. Caller computes `rows` against the OTHER batches'
    * partitions only (exclude `batch_id === batchId` from any self-join).
    * The id is written as a STRING literal: codegen inlines a Long literal
    * into the generated source (a new class per batch id) but passes a
    * string by reference, so every batch reuses the same compiled code. The
    * `batch_id=<n>` directory is the same either way, and partition
    * inference reads it back as an int. */
  def landBatchPartition(rows: DataFrame, storePath: String,
                         batchId: Long): Unit =
    Writers.overwritePartitions(
      rows.withColumn("batch_id", lit(batchId.toString)),
      storePath, Seq("batch_id"))

  /** Protocol 3: redo journal for a multi-partition store rewrite.
    * @param storePath     the maintained store (hive-partitioned)
    * @param partitionCols the store's partition columns — the journal frame
    *                      must carry them; apply overwrites exactly the
    *                      partitions present in the journal */
  final case class Journal(storePath: String, partitionCols: Seq[String]) {
    private def journalDir(batchId: Long): String =
      s"$storePath.journal/batch=$batchId"

    private def appliedMarker(batchId: Long): Path =
      new Path(s"$storePath.applied/batch-$batchId")

    /** Land the full content of the affected partitions for `batchId`;
      * the parquet write's own `_SUCCESS` marks the journal complete. */
    def land(frame: DataFrame, batchId: Long): Unit =
      frame.write.mode(SaveMode.Overwrite).parquet(journalDir(batchId))

    /** Redo-apply the journal to the store (idempotent). */
    def applyBatch(spark: SparkSession, batchId: Long): Unit =
      applyDir(spark, journalDir(batchId))

    private def applyDir(spark: SparkSession, jdir: String): Unit =
      Writers.overwritePartitions(
        spark.read.parquet(jdir), storePath, partitionCols)

    /** Drop the applied marker for `batchId` and prune superseded journals:
      * once batch N is applied, earlier redo records can never be needed
      * again (batches apply in order). */
    def markApplied(spark: SparkSession, batchId: Long): Unit = {
      val m = appliedMarker(batchId)
      val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(m.getParent)
      fs.create(m, true).close()
      val jroot = new Path(s"$storePath.journal")
      if (fs.exists(jroot)) fs.listStatus(jroot).foreach { s =>
        val bid = s.getPath.getName.stripPrefix("batch=")
        if (bid.nonEmpty && bid.forall(_.isDigit) && bid.toLong < batchId) {
          fs.delete(s.getPath, true)
          fs.delete(appliedMarker(bid.toLong), false)
        }
      }
    }

    /** Re-apply any COMPLETE (journal `_SUCCESS` present) but unapplied
      * journal. Incomplete journals are ignored: the store was never
      * touched for them and the stream will simply replay the batch. */
    def recover(spark: SparkSession): Unit = {
      val jroot = new Path(s"$storePath.journal")
      val fs = jroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(jroot)) return
      fs.listStatus(jroot).map(_.getPath).foreach { jdir =>
        val bid = jdir.getName.stripPrefix("batch=")
        if (bid.nonEmpty && bid.forall(_.isDigit) &&
            fs.exists(new Path(jdir, "_SUCCESS")) &&
            !fs.exists(appliedMarker(bid.toLong))) {
          applyDir(spark, jdir.toString)
          markApplied(spark, bid.toLong)
        }
      }
    }
  }
}
