package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.SparkSpec
import graft.pipelines.LogMetrics

/** The [[ExactlyOnce]] session rule: foreachBatch bodies run in the
  * caller's session, so a drain reuses the generated code of the previous
  * one instead of recompiling it per batch, while the stream still reports
  * the rows it drained. (Idle re-run and crash-replay equalities through
  * the same drain are pinned by StreamingLogMetricsSpec.) */
class ExactlyOnceSessionSpec extends SparkSpec {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `n` log lines of one fixed shape; `file` varies the slugs and days. */
  private def logLines(file: Int, n: Int): Seq[String] = (0 until n).map { i =>
    val path = Seq("/fr/datasets/d", "/datasets/r/r-", "/api/1/datasets/d",
      "/fr/organizations/o")((i + file) % 4)
    val slug = if (path.startsWith("/api")) s"${i % 9}/" else s"${(i + file) % 13}"
    f"2024-03-${1 + (i + file) % 28}%02d web1 GET $path$slug ${if (i % 5 == 0) 301 else 200} +0"
  }

  test("foreachBatch bodies see the caller's session") {
    val root = Files.createTempDirectory("graft-eos").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    Files.write(Paths.get(s"$root/in/f0.txt"),
      logLines(0, 10).mkString("\n").getBytes(UTF_8))
    val seen = ArrayBuffer.empty[Boolean]
    ExactlyOnce.drainTextAvailableNow(spark, s"$root/in/*", s"$root/ckpt") {
      (batch, _) => seen += (batch.sparkSession eq spark); batch.count()
    }
    assert(seen.toSeq === Seq(true))
  }

  test("a warm drain compiles no code and still reports its input rows") {
    val root = Files.createTempDirectory("graft-eos").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    val progress = ArrayBuffer.empty[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress.numInputRows)
    }
    def drain(file: Int, lines: Int): (Long, Seq[Long]) = {
      Files.write(Paths.get(s"$root/in/f$file.txt"),
        logLines(file, lines).mkString("\n").getBytes(UTF_8))
      Bridge.drainListenerBus(spark)
      progress.synchronized(progress.clear())
      val c0 = compiles
      StreamingLogMetrics.ingest(spark, s"$root/in/*", s"$root/store", s"$root/ckpt")
      val added = compiles - c0
      Bridge.drainListenerBus(spark)
      (added, progress.synchronized(progress.toList))
    }
    spark.streams.addListener(listener)
    try {
      val (_, cold) = drain(0, 400)
      assert(cold === Seq(400L))
      // same shape, new lines, batch id 1 then 2: nothing left to compile
      val (warm1, rows1) = drain(1, 300)
      val (warm2, rows2) = drain(2, 500)
      assert(warm1 === 0L && warm2 === 0L)
      assert(rows1 === Seq(300L) && rows2 === Seq(500L))
    } finally spark.streams.removeListener(listener)
    val merged = StreamingLogMetrics.mergedDaily(spark, s"$root/store", Seq("fr", "direct", "api"))
    val batch = LogMetrics.aggregate(LogMetrics.parse(
      (0 until 3).zip(Seq(400, 300, 500)).flatMap { case (f, n) => logLines(f, n) }
        .toDF("value")), Seq("fr", "direct", "api"))
    assert(merged.exceptAll(batch).isEmpty && batch.exceptAll(merged).isEmpty)
  }

  test("landing a fresh batch id reuses the compiled landing code") {
    val root = Files.createTempDirectory("graft-eos").toString
    // a range scan, not a local Seq: the optimizer would fold a local
    // relation's projection away and nothing would be generated at all
    val rows = spark.range(4).select((col("id") % 2).cast("string").as("k"),
      col("id").as("cnt"))
    ExactlyOnce.landBatchPartition(rows, s"$root/store", 7L)
    val c0 = compiles
    ExactlyOnce.landBatchPartition(rows, s"$root/store", 8L)
    assert(compiles - c0 === 0L)
    assert(spark.read.parquet(s"$root/store").schema("batch_id").dataType.typeName === "integer")
    assert(spark.read.parquet(s"$root/store").groupBy("batch_id").count()
      .as[(Int, Long)].collect().toSet === Set((7, 4L), (8, 4L)))
  }
}
