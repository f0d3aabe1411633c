package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Dump `.explain("formatted")` for catalog queries to files — the
  * optimization-round evidence artifact (plans/r15/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <query1,query2,...|ALL>
  *
  * The dump is the ANALYZED-then-planned static plan (explain before
  * execution — `AdaptiveSparkPlan isFinalPlan=false` where AQE wraps), the
  * same view `df.explain("formatted")` prints; setups run first so a
  * query whose premise assumes a persisted artifact plans against it.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <tag> <names|ALL>")
    val Array(outDir, tag, namesArg) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = SparkEntry.queries
    val names =
      if (namesArg == "ALL") all.keys.toSeq.sorted
      else namesArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val fn = all.getOrElse(n, sys.error(s"unknown query: $n"))
      SparkEntry.setups.get(n).foreach(_(spark, sfDir))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), txt)
      System.err.println(s"[plandump] wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
      // queries may eagerly checkpoint at construction since r15 — GC per
      // query so the ContextCleaner reclaims those blocks (the driver-loop
      // rule), or an ALL run accumulates every query's resident frames
      System.gc()
    }
    spark.stop()
  }
}
