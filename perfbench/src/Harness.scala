package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.pipelines.LogMetrics
import graft.streaming.StreamingLogMetrics

/** The timed process of the benchmark. It runs one workload in one JVM and
  * writes a raw record (set-up, pass and op times, output digests, and in a
  * traced run every span and listener count) as JSON to `--out`.
  * `perfbench/run.py` turns the record into the reported metrics.
  *
  * Protocol: `local[cores]`, shuffle partitions = cores, a System.gc()
  * before every op outside its timed window. An op is one catalog query
  * (`fn(spark, sf)` then a noop write) or, in the `incremental_ingest`
  * workload, one arrive → `StreamingLogMetrics.ingest` → `mergedDaily` noop
  * cycle over one generated log file. Pass 0 is the cold pass; `--passes`
  * more passes follow, a fixed count so that every run times the same
  * number of ops. `--seed` permutes the op order of every pass and picks
  * the event lines of the ingest files.
  */
object Harness {
  val Segments = Seq("fr", "direct", "api")
  val IngestWorkload = "incremental_ingest"
  /** incremental_ingest: log files drained per pass, one per cycle, and
    * log lines per file. */
  val IngestFiles = 7
  val FileLines = 5000

  final case class Opts(data: String, work: String, out: String, seed: Long,
                        passes: Int, trace: Boolean, workload: String,
                        ops: Seq[String]) {
    def ingest: Boolean = workload == IngestWorkload
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("data"), need("work"), need("out"), need("seed").toLong,
      need("passes").toInt, need("trace") == "1", need("workload"),
      m.get("ops").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
  }

  /** Order-independent output digest: row count and the exact sum of the
    * per-row 64-bit xxhash of every column. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(col("*")).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def dirBytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(o.ops.nonEmpty != o.ingest, s"give --ops for every workload but $IngestWorkload")
    val cores = Runtime.getRuntime.availableProcessors
    val rec = if (o.trace) Some(new Recorder) else None
    val runSpan = rec.map(_.newId()).getOrElse(0L)
    val runStart = System.currentTimeMillis.toDouble
    val ingest = new Ingest(o)
    val queries = SparkEntry.queries
    o.ops.foreach(n => require(queries.contains(n), s"unknown op $n"))

    // Set-up, timed from JVM start: session build, one warm-up query and
    // the selected ops' own set-ups (ingest: generating the log files).
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // GC runs explicitly between ops; the timer is only a long stop.
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    rec.foreach { r =>
      sc.addSparkListener(r)
      spark.streams.addListener(r.streaming)
    }
    warmUp(spark, o.data)
    val opSetups = SparkEntry.setups
    o.ops.foreach(n => opSetups.get(n).foreach(_(spark, o.data)))
    if (o.ingest) ingest.generate(spark)
    System.gc()
    val setupS =
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] setup done in $setupS%.3f s")

    val heap = ManagementFactory.getMemoryMXBean
    var peakHeap = 0L
    val rng = new scala.util.Random(o.seed)
    def gcBetweenOps(): Unit = {
      System.gc()
      peakHeap = math.max(peakHeap, heap.getHeapMemoryUsage.getUsed)
    }
    val spanProps = Seq("perfbench.span", "perfbench.pass", "perfbench.phase")
    /** Runs `body` as a span; the jobs it submits carry the span, pass and
      * phase as local properties, which are restored when it ends. */
    def spanned[T](parent: Long, kind: String, name: String, pass: Int)(body: Long => T): T = {
      val id = rec.map(_.newId()).getOrElse(0L)
      val saved = spanProps.map(sc.getLocalProperty)
      spanProps.zip(Seq(id.toString, pass.toString, kind)).foreach {
        case (k, v) => sc.setLocalProperty(k, v)
      }
      val start = System.currentTimeMillis.toDouble
      try body(id)
      finally {
        rec.foreach(_.span(Span(id, parent, kind, name, start,
          System.currentTimeMillis.toDouble)))
        spanProps.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

    /** One op, timed per phase; with `verify` its output is digested after
      * the timed window. */
    def runOp(name: String, pass: Int, passSpan: Long, verify: Boolean): Map[String, Any] = {
      gcBetweenOps()
      val gc0 = gcMillis()
      val phases = mutable.LinkedHashMap.empty[String, Double]
      var error: Option[String] = None
      var result: Option[DataFrame] = None
      val t0 = System.nanoTime()
      spanned(passSpan, "op", name, pass) { opSpan =>
        def phase(kind: String)(body: => Unit): Unit = {
          val s = System.nanoTime()
          spanned(opSpan, kind, name, pass)(_ => body)
          phases(kind) = (System.nanoTime() - s) / 1e9
        }
        try {
          if (o.ingest) {
            phase("drain")(ingest.cycle(spark, name.stripPrefix("cycle").toInt))
            phase("merge")(ingest.merged(spark).write.format("noop").mode("overwrite").save())
          } else {
            phase("construct") { result = Some(queries(name)(spark, o.data)) }
            phase("execute")(result.get.write.format("noop").mode("overwrite").save())
          }
        } catch { case NonFatal(e) =>
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMillis() - gc0) / 1e3
      System.err.println(f"[perfbench] pass $pass%d $name%-32s $wall%7.3f s " +
        phases.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") + error.fold("")(" FAILED " + _))
      val digest = if (verify && error.isEmpty) result.map { df =>
        sc.setLocalProperty("perfbench.phase", "verify")
        try Harness.digest(df) catch { case NonFatal(e) => s"error: ${e.getMessage}" }
        finally sc.setLocalProperty("perfbench.phase", null)
      } else None
      Map("op" -> name, "phases" -> phases, "error" -> error, "gc_s" -> gc,
        "digest" -> digest)
    }

    val opNames = if (o.ingest) (0 until IngestFiles).map(i => s"cycle$i") else o.ops
    def runPass(pass: Int): Map[String, Any] = {
      val order = rng.shuffle(opNames)
      val passSpan = rec.map(_.newId()).getOrElse(0L)
      val start = System.currentTimeMillis.toDouble
      val t0 = System.nanoTime()
      if (o.ingest) ingest.startPass(pass)
      val ops = order.map(n => runOp(n, pass, passSpan, verify = pass == 0))
      val wall = (System.nanoTime() - t0) / 1e9
      rec.foreach(_.span(Span(passSpan, runSpan, "pass", s"pass$pass", start,
        System.currentTimeMillis.toDouble)))
      gcBetweenOps()
      val extra = mutable.LinkedHashMap.empty[String, Any]
      if (o.ingest) extra ++= ingest.endPass(spark, verify = pass == 0)
      if (o.trace) extra("resident_bytes_end") =
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      Map("pass" -> pass, "wall_s" -> wall, "ops" -> ops) ++ extra
    }

    val passes = (0 to o.passes).map(runPass)
    System.err.println("[perfbench] passes done")

    val functions = if (o.trace) kernelRates(spark, o.data) else Map.empty[String, Double]
    org.apache.spark.perfbenchaccess.BusDrain(sc)
    rec.foreach(_.span(Span(runSpan, 0L, "run", "run", runStart,
      System.currentTimeMillis.toDouble)))
    val record = Map("cores" -> cores, "seed" -> o.seed, "setup_s" -> setupS,
      "peak_live_heap_bytes" -> peakHeap,
      "passes" -> passes, "functions" -> functions,
      "ingest_reference" -> ingest.referenceDigest,
      "trace" -> rec.map(_.toMap))
    Files.writeString(Paths.get(o.out), Json(record))
    System.err.println("[perfbench] record written")
    spark.stop()
  }

  /** One parquet scan → shuffle aggregate → sort → noop write, so that the
    * first op does not absorb the reader, shuffle and noop-sink start-up
    * alone (graft.Bench warms the same shape). */
  def warmUp(spark: SparkSession, data: String): Unit =
    Tables.customer(spark, data).groupBy("c_mktsegment")
      .agg(expr("min(c_custkey) AS k"), expr("count(1) AS cnt"))
      .orderBy("c_mktsegment").write.format("noop").mode("overwrite").save()

  /** Rows per second of each registered kernel: the median of three noop
    * writes of a cached input column through the SQL function. Input sizes
    * keep each write near a few hundred milliseconds. */
  def kernelRates(spark: SparkSession, data: String): Map[String, Double] = {
    GraftFunctions.register(spark)
    val parts = spark.sparkContext.defaultParallelism
    def cached(df: DataFrame, copies: Int): DataFrame = {
      val c = df.crossJoin(spark.range(copies).select(col("id").as("copy")))
        .repartition(parts).cache()
      c.count()
      c
    }
    val docs = Tables.documents(spark, data)
    val text = cached(docs.select("text"), 4)
    // normadresse's rules rescan the whole string: address-sized inputs
    val addrs = cached(docs.selectExpr("substring(text, 1, 48) AS a").limit(1000), 1)
    val vecs = cached(Tables.embeddings(spark, data)
      .select(col("embedding").cast("array<double>").as("e")), 50)
    val kernels = Seq(
      "minhash_bands" -> (text, "minhash_bands(split(text, ' '), 3, 16, 8)"),
      "unaccent" -> (text, "unaccent(text)"),
      "normadresse" -> (addrs, "normadresse(a)"),
      "dot_product" -> (vecs, "dot_product(e, e)"))
    val rates = kernels.map { case (name, (in, kernel)) =>
      spark.sparkContext.setLocalProperty("perfbench.phase", s"kernel_$name")
      val rows = in.count()
      val times = (1 to 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        in.selectExpr(s"$kernel AS o").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> rows / times(1)
    }.toMap
    Seq(text, addrs, vecs).foreach(_.unpersist())
    rates
  }

  /** Input and state of the incremental_ingest workload. */
  final class Ingest(o: Opts) {
    private val staging = s"${o.work}/ingest/staging"
    private var passDir = ""
    var referenceDigest: Option[String] = None

    /** [[IngestFiles]] text files of [[FileLines]] log lines each, in the
      * log1 grammar: one line per sf0.1 event (every byte a function of
      * integer event fields), the events taken in an order the seed
      * decides. */
    def generate(spark: SparkSession): Unit = {
      deleteRecursively(new File(staging))
      val ev = Tables.events(spark, o.data)
      val p = col("event_id") % 10
      val dnum = (col("user_id") % 50).cast("string")
      val onum = (col("user_id") % 7).cast("string")
      val rs = concat(lit("r-"), (col("user_id") % 40).cast("string"))
      val path = when(p === 0, concat(lit("GET /fr/datasets/r/"), rs))
        .when(p === 1, concat(lit("GET /datasets/r/"), rs))
        .when(p === 2, concat(lit("GET /api/1/datasets/D"), dnum, lit("/")))
        .when(p === 3 || p === 4, concat(lit("GET /fr/datasets/D"), dnum))
        .when(p === 5, concat(lit("GET /datasets/D"), dnum))
        .when(p === 6, concat(lit("GET /fr/organizations/O"), onum))
        .when(p === 7, concat(lit("GET /organizations/O"), onum))
        .otherwise(lit("GET /static/style.css"))
      val st = when(col("event_id") % 11 === 0, lit(404))
        .when(col("event_id") % 7 === 0, lit(301))
        .otherwise(lit(200)).cast("string")
      val rank = row_number().over(
        Window.orderBy(xxhash64(col("event_id"), lit(o.seed)), col("event_id"))) - 1
      ev.select(
          concat(date_format(col("ts_us"), "yyyy-MM-dd"), lit(" web1 "), path,
            lit(" "), st, lit(" +0")).as("value"),
          floor(rank / FileLines).as("file"))
        .where(col("file") < IngestFiles)
        .repartition(1).write.partitionBy("file").text(staging)
    }

    private def files(i: Int): Seq[File] =
      Option(new File(s"$staging/file=$i").listFiles).toSeq.flatten
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)

    def startPass(pass: Int): Unit = {
      passDir = s"${o.work}/ingest/pass$pass"
      deleteRecursively(new File(passDir))
      Files.createDirectories(Paths.get(s"$passDir/in"))
    }

    /** Arrive (file i lands in the input directory) and drain once. */
    def cycle(spark: SparkSession, i: Int): Unit = {
      files(i).zipWithIndex.foreach { case (f, k) =>
        Files.copy(f.toPath, Paths.get(s"$passDir/in/f$i-$k.txt"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      StreamingLogMetrics.ingest(spark, s"$passDir/in/*", s"$passDir/store",
        s"$passDir/ckpt")
    }

    def merged(spark: SparkSession): DataFrame =
      StreamingLogMetrics.mergedDaily(spark, s"$passDir/store", Segments)

    /** Untimed: the state sizes are recorded and, when `verify`, the final
      * merged view is checked against the batch pipeline over every line
      * the pass drained; then the pass's state is dropped. */
    def endPass(spark: SparkSession, verify: Boolean): Map[String, Any] = {
      val check = if (!verify) Map.empty[String, Any] else {
        spark.sparkContext.setLocalProperty("perfbench.phase", "verify")
        val ref = LogMetrics.aggregate(LogMetrics.parse(spark.read.text(
          (0 until IngestFiles).flatMap(files).map(_.getPath): _*)), Segments)
        referenceDigest = Some(digest(ref))
        Map("ingest_digest" -> digest(merged(spark).select(ref.columns.map(col): _*)))
      }
      val out = check ++ Map(
        "input_bytes" -> dirBytes(s"$passDir/in"),
        "store_bytes" -> dirBytes(s"$passDir/store"),
        "checkpoint_bytes" -> dirBytes(s"$passDir/ckpt"))
      deleteRecursively(new File(passDir))
      out
    }
  }
}
