package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.pipelines.LogMetrics
import org.apache.spark.sql.functions._

/** The streamed log-metrics store, count-merged across batch partitions,
  * must equal the batch parse→pivot over the full line history — and
  * survive idle re-runs and crash replay byte-identically (count-merge
  * associativity is the protocol). */
class StreamingLogMetricsSpec extends SparkSpec {
  import spark.implicits._

  private val segments = Seq("fr", "direct", "api")

  private def batchPivot(lines: Seq[String]) =
    LogMetrics.aggregate(LogMetrics.parse(lines.toDF("value")), segments)

  test("streamed hit counts merge to the batch pivot across drains, idle runs, replay") {
    val root = Files.createTempDirectory("graft-logm").toString
    val in = s"$root/raw"
    Files.createDirectories(Paths.get(in))
    val b1 = Seq(
      "2024-03-01 web1 GET /fr/datasets/abc 200 +0",
      "2024-03-01 web1 GET /fr/datasets/abc 200 +0",
      "2024-03-01 web1 GET /datasets/r/r-9 302 +0",
      "2024-03-01 web1 GET /api/2/datasets/abc/ 200 +0",
      "2024-03-01 web1 GET /static/style.css 200 +0", // unmatched path
      "2024-03-01 web1 GET /fr/datasets/abc 404 +0", // non-2xx/3xx dropped
      "2024-03-02 web1 GET /fr/organizations/org-1 301 +0")
    val b2 = Seq(
      "2024-03-01 web1 GET /fr/datasets/abc 200 +0", // cell SPLIT across batches
      "2024-03-01 web1 GET /datasets/abc 200 +0",
      "2024-03-02 web1 GET /organizations/org-1 200 +0")
    Files.write(Paths.get(s"$in/f1.txt"), b1.mkString("\n").getBytes(UTF_8))

    def runOnce(): Unit = StreamingLogMetrics.ingest(
      spark, s"$in/*", s"$root/store", s"$root/ckpt")
    def merged() = StreamingLogMetrics.mergedDaily(spark, s"$root/store", segments)
    def assertEq(lines: Seq[String]): Unit = {
      assert(merged().exceptAll(batchPivot(lines)).count() == 0)
      assert(batchPivot(lines).exceptAll(merged()).count() == 0)
    }

    runOnce()
    assertEq(b1)
    // mergedDaily reads with the declared schema: it must be the one the
    // store infers (nullability aside — parquet reads are all nullable)
    def fields(s: org.apache.spark.sql.types.StructType) = s.map(f => (f.name, f.dataType))
    assert(fields(spark.read.parquet(s"$root/store").schema) ===
      fields(StreamingLogMetrics.StoreSchema))

    // idle re-run: no new input, merged view unchanged
    runOnce()
    assertEq(b1)

    // incremental drain folds b2 in; merged == batch pivot over the union,
    // including the (2024-03-01, datasets, abc) cell split across batches
    // via two different segments — only a correct cross-batch sum sees its
    // true total
    Files.write(Paths.get(s"$in/f2.txt"), b2.mkString("\n").getBytes(UTF_8))
    runOnce()
    val all = b1 ++ b2
    assertEq(all)
    val cell = merged().filter($"date" === "2024-03-01" &&
      $"entity_type" === "datasets" && $"slug" === "abc").head()
    assert(cell.getAs[Long]("nb_visit_fr") === 3L)
    assert(cell.getAs[Long]("nb_visit_direct") === 1L)
    assert(cell.getAs[Long]("nb_visit_api") === 1L)
    assert(cell.getAs[Long]("nb_visit_total") === 5L)

    // crash replay: re-land b2's partition by hand with the same rows
    // (what a replayed foreachBatch does) — store still merges clean
    ExactlyOnce.landBatchPartition(
      LogMetrics.parse(b2.toDF("value"))
        .groupBy("date", "entity_type", "slug", "segment")
        .agg(count(lit(1)).as("cnt")),
      s"$root/store", 1L)
    assertEq(all)
  }
}
