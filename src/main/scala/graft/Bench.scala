package graft

import java.util.concurrent.atomic.LongAdder

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Benchmark main: runs every catalog query against SPARK_GRAFT_SF_DIR.
  *
  * Each query is materialized with a noop-format write: every operator
  * executes end-to-end (unlike count(), which lets Catalyst prune the
  * projection for scan-shaped plans) without paying sink I/O.
  *
  * Noise protocol: each query runs SPARK_GRAFT_RUNS times (default 3) and
  * the recorded number is the per-query MEDIAN — this host has measured
  * 217-397 s catalog totals on identical code (r12 close-out), so a
  * single-shot artifact lets host drift masquerade as a regression. The
  * median also absorbs the one query-specific codegen-JIT cold run that a
  * single pass lands on whichever query comes first.
  *
  * Per timed run a SparkListener also counts jobs, stages, tasks and the
  * stages' shuffle bytes written and read ([[Layers]]). They print on the
  * query's `[bench]` stderr line, one value per run, and a full run records
  * their per-query medians in BENCH_FULL.json's "layers" map.
  *
  * Output: the LAST stdout line is the compact [[headline]] JSON (≤ 2000
  * chars, whatever the catalog size); the per-query map goes to
  * BENCH_FULL.json only.
  *
  * Settable inputs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the
  * host's cores), SPARK_GRAFT_ONLY (comma-separated query names),
  * SPARK_GRAFT_WARM=1 and SPARK_GRAFT_RUNS.
  *
  * Scaling exponents: build a k× directory with [[ScaleGen]], run the same
  * restricted, warm selection over both directories and take
  * log(t_k / t_1) / log(k) per query.
  */
object Bench {
  /** Execution counters of one timed run, summed over its jobs and
    * completed stages. */
  final case class Layers(jobs: Long, stages: Long, tasks: Long,
                          shuffleWriteBytes: Long, shuffleReadBytes: Long) {
    def values: Seq[Long] = Seq(jobs, stages, tasks, shuffleWriteBytes, shuffleReadBytes)
  }
  object Layers {
    /** Record keys of [[Layers.values]], in order. */
    val names: Seq[String] =
      Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")
    /** Each counter's name with its values over `runs`, in run order. */
    def perCounter(runs: Seq[Layers]): Seq[(String, Seq[Long])] =
      names.zip(runs.map(_.values).transpose)
  }

  /** Sums [[Layers]] since the last `reset`. Events arrive asynchronously:
    * callers drain the listener bus before `reset` and before `snapshot`,
    * or a late stage-completed event is lost from the finishing run or
    * counted into the next one. */
  private final class LayerListener extends SparkListener {
    private val jobs, stages, tasks, shuffleWrite, shuffleRead = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      stages.increment()
      tasks.add(e.stageInfo.numTasks)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
    }
    def reset(): Unit =
      Seq(jobs, stages, tasks, shuffleWrite, shuffleRead).foreach(_.reset())
    def snapshot: Layers = Layers(jobs.sum, stages.sum, tasks.sum,
      shuffleWrite.sum, shuffleRead.sum)
  }

  /** True median: the middle value for odd counts, the mean of the two
    * middles for even ones (SPARK_GRAFT_RUNS is user-settable — a
    * lower-middle-only pick would record a low-biased "median" at runs=4
    * while the artifact claims a median). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The catalog queries a run covers, sorted: all of `catalog` when
    * `only` (SPARK_GRAFT_ONLY) lists no name, else the listed ones. A
    * listed name that is not in the catalog fails the run — a typo must
    * not silently shrink the subset whose total gets printed. */
  def select(only: Option[String], catalog: Iterable[String]): Seq[String] = {
    val wanted = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- catalog
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    catalog.toSeq.filter(n => wanted.isEmpty || wanted(n)).sorted
  }

  // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
  // comma decimal separator would corrupt the JSON.
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** The record's scalar fields. A run over less than the whole catalog
    * reports "subset_total", so its line can never be read as the catalog
    * total. `results` holds per-query medians, -1 for a failed query. */
  private def summary(results: Seq[(String, Double)], floor: Double, runs: Int,
                      cpus: Int, restricted: Boolean): Seq[(String, String)] = Seq(
    "metric" -> str(if (restricted) "subset_total" else "total"),
    "value" -> num(results.collect { case (_, v) if v >= 0 => v }.sum),
    "unit" -> str("sec"),
    "floor" -> num(floor),
    "runs" -> runs.toString,
    "cpus" -> cpus.toString)

  /** The last stdout line: scalar fields plus the 10 slowest queries — a
    * bounded size for any catalog, so a 2000-char tail capture keeps it
    * whole. */
  def headline(results: Seq[(String, Double)], floor: Double, runs: Int,
               cpus: Int, restricted: Boolean, sfDir: String): String = {
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
    obj(summary(results, floor, runs, cpus, restricted) ++ Seq(
      "n_queries" -> results.size.toString,
      "n_failed" -> results.count(_._2 < 0).toString,
      "slowest10" -> obj(slowest.map { case (k, v) => k -> num(v) }),
      "sf" -> str(sfDir)))
  }

  /** BENCH_FULL.json: the per-query medians ("queries") and, for queries
    * that did not fail, the per-counter medians of their runs' [[Layers]]
    * ("layers"). */
  def fullRecord(results: Seq[(String, Double)], layers: Seq[(String, Seq[Layers])],
                 floor: Double, runs: Int, cpus: Int, sfDir: String): String = {
    def count(v: Double): String = if (v.isWhole) v.toLong.toString else num(v)
    val layerMap = layers.map { case (q, perRun) =>
      q -> obj(Layers.perCounter(perRun).map { case (k, vs) =>
        k -> count(median(vs.map(_.toDouble)))
      })
    }
    obj(summary(results, floor, runs, cpus, restricted = false) ++ Seq(
      "queries" -> obj(results.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(layerMap),
      "sf" -> str(sfDir)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // Local iteration aid: SPARK_GRAFT_ONLY=j2_large_join_agg,j6_join_preagg
    // restricts the run (spread checks, drift isolation); a catalog run
    // leaves it unset. Checked before the session is built, so a typo
    // costs no start-up.
    val queries = SparkEntry.queries
    val selected = select(sys.env.get("SPARK_GRAFT_ONLY"), queries.keys)
    val restricted = selected.size < queries.size
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ~100 sequential queries in one driver: ContextCleaner only reclaims
      // shuffle files / broadcasts when the driver GCs, which a large heap
      // rarely does — stale state then stalls arbitrary later queries. A 30s
      // GC timer fixed that in round 2 but landed full-GC pauses INSIDE
      // timed queries (up to 200% per-query spread across runs), so the GC
      // now runs explicitly between queries — outside the timed window —
      // and the timer is only a long-stop fallback.
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up the JVM / codegen / parquet reader paths so the first timed
    // query doesn't absorb one-time startup cost. The group/agg/median/sort
    // warmup matters: without it the alphabetically-first a* aggregates
    // absorbed ~30s of JIT/classloading on a cold JVM (3-run measurement).
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(200000)
      .selectExpr("id % 97 AS k", "cast(id as double) AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.expr("sum(v)"),
        org.apache.spark.sql.functions.expr("avg(v)"),
        org.apache.spark.sql.functions.expr("median(v)"),
        org.apache.spark.sql.functions.expr("count(distinct v)"))
      .orderBy("k").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Also warm the exact shape every timed query takes: parquet vectorized
    // scan -> shuffle agg -> sort -> noop-format write. The range-based
    // warmups above never touch the parquet reader codegen, the shuffle
    // writer init, or the noop DataSource lookup (a ServiceLoader scan over
    // every jar on the classpath), so the alphabetically-first catalog query
    // absorbed them all (r4 driver run: a10 5.4s in-catalog vs 1.0s locally).
    spark.read.parquet(s"$sfDir/customer.parquet")
      .groupBy("c_mktsegment")
      .agg(org.apache.spark.sql.functions.expr("min(c_custkey) AS k"),
        org.apache.spark.sql.functions.expr("count(1) AS cnt"))
      .orderBy("c_mktsegment")
      .write.format("noop").mode("overwrite").save()
    // Touch the text/vector tables too: in a RESTRICTED run
    // (SPARK_GRAFT_ONLY) the alphabetically-first d*/s* query otherwise
    // absorbs the first documents/embeddings scan + string-kernel codegen
    // (r6 isolated-run probe: d7 swung 4.8-14.7 s as first-in-set).
    spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("count(distinct substring(text, 1, 8))").collect()
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("sum(aggregate(embedding, 0d, (a, x) -> a + x))").collect()
    // SPARK_GRAFT_WARM=1: run each selected query once UNTIMED first.
    // Restricted runs (SPARK_GRAFT_ONLY) measure steady state this way —
    // without it, the first execution absorbs that query's own codegen
    // JIT, which the full catalog amortizes across neighbors (r6: d7
    // isolated swung 2.2-14.7 s cold vs tight warm).
    if (sys.env.get("SPARK_GRAFT_WARM").contains("1"))
      selected.foreach { name =>
        // NonFatal only: a query that dies in warmup will die timed too —
        // log it as the early signal — and fatal errors (OOM) must escape.
        try queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] warmup failed for $name: ${e.getMessage}")
        }
        System.gc()
      }
    // Local-mode floor: the fixed per-query harness cost (scheduler +
    // noop-sink commit on a 5-row scan) under TODAY'S host state. With
    // ~60 catalog queries sitting at 0.2-0.5s, host drift in this floor
    // dominates their signal — recording it per run lets a later
    // adjudication normalize totals across runs instead of chasing
    // phantom regressions (this host has measured 126-180s catalog
    // totals on identical code).
    val floor = median((1 to 15).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/region.parquet")
        .selectExpr("r_regionkey", "upper(r_name) AS n")
        .orderBy("r_regionkey")
        .write.format("noop").mode("overwrite").save()
      // elapsed captured BEFORE the gc: timed catalog queries exclude their
      // inter-query gc, so the floor must too, or it overstates the very
      // harness cost it normalizes
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc()
      dt
    })
    System.err.println(f"[bench] floor (median of 15)          $floor%8.2f s")
    val runs = sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption)
      .getOrElse(3).max(1)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val setups = SparkEntry.setups
    val measured = selected.map { name =>
      val fn = queries(name)
      // Untimed setup: materialize any persisted artifact the query's
      // premise assumes (e.g. d13's baseline label table) outside the
      // timed window — the catalog number measures the advertised work.
      setups.get(name).foreach { prep =>
        try { prep(spark, sfDir); System.gc() }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] setup failed for $name: ${e.getMessage}")
        }
      }
      // N timed executions, median recorded (see the noise protocol in the
      // scaladoc). A failure on any run marks the query failed — a query
      // that dies once is broken, not noisy. NonFatal only: an OOM or an
      // interrupt must stop the bench, not be recorded as one failed query.
      var failed = false
      val timed = (1 to runs).iterator.takeWhile(_ => !failed).map { _ =>
        Bridge.drainListenerBus(spark)
        listener.reset()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed = true
        }
        val secs = (System.nanoTime() - t0) / 1e9
        Bridge.drainListenerBus(spark)
        val layers = listener.snapshot
        // Untimed inter-run/inter-query GC: lets the ContextCleaner reclaim
        // the finished run's shuffles/broadcasts without a pause landing in
        // the next timed window.
        System.gc()
        (secs, layers)
      }.toVector
      val times = timed.map(_._1)
      val perRun = timed.map(_._2)
      val secs = if (failed) -1.0 else median(times)
      System.err.println(f"[bench] $name%-28s $secs%8.2f s" +
        (if (failed) "" else times.map(t => f"$t%.2f").mkString("  [", " ", "]")) +
        Layers.perCounter(perRun).map { case (k, vs) => s"$k=${vs.mkString("/")}" }
          .mkString("  ", " ", ""))
      (name, secs, perRun)
    }
    val results = measured.map { case (name, secs, _) => name -> secs }
    // Restricted runs (SPARK_GRAFT_ONLY) are adjudication probes, never the
    // catalog record — only a full run may overwrite the committed artifact.
    if (!restricted) {
      val full = fullRecord(results,
        measured.collect { case (name, secs, perRun) if secs >= 0 => name -> perRun },
        floor, runs, cpus, sfDir)
      // BENCH_FULL.json is the latest-run pointer; a round-stamped copy
      // (BENCH_FULL_r{N}.json, N = 1 + highest committed driver record)
      // survives the next round's overwrite so per-query regression
      // analysis never depends on the driver's truncated stdout tail
      // (VERDICT r10 #4 — the r9 per-query map is unrecoverable).
      val round = try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(".")).iterator().asScala
          .map(_.getFileName.toString)
          .collect { case s if s.matches("BENCH_r\\d+\\.json") =>
            s.stripPrefix("BENCH_r").stripSuffix(".json").toInt }
          .maxOption.getOrElse(0) + 1
      } catch { case _: Exception => 0 }
      val targets = Seq("BENCH_FULL.json") ++
        (if (round > 0) Seq(f"BENCH_FULL_r$round%02d.json") else Nil)
      for (t <- targets)
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(t), full + "\n")
        catch { case e: java.io.IOException =>
          System.err.println(s"[bench] could not write $t: ${e.getMessage}")
        }
    }
    spark.stop()
    // Printed after spark.stop() so no shutdown output can follow it: the
    // record is read as the LAST line of a bounded stdout tail.
    println(headline(results, floor, runs, cpus, restricted, sfDir))
  }
}
