package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the dedup/ANN scale probe
  * (VERDICT r5 item 2): synthesizes a `mult`× documents + embeddings pair
  * from an existing SF directory so the LSH/SimHash/k-means family can be
  * measured at 1× vs 10× and its scaling exponents recorded (PLANS.md).
  *
  * Every derived row is a pure function of (source row, variant index) —
  * no RNG — so repeated runs are byte-identical:
  *  - documents: variant 0 is the original; variants 1..4 churn ~6% of
  *    tokens (hash-gated substitution) → planted NEAR-DUPS the MinHash /
  *    SimHash family must keep finding at scale; variants 5+ churn ~60%
  *    → far texts that only grow the corpus. Duplicate-density per row
  *    therefore stays constant as the corpus grows — candidate-pair count
  *    should scale linearly for a bucketed pipeline, and that is exactly
  *    the property the probe measures.
  *  - embeddings: per-dimension multiplicative jitter, small for variants
  *    1..4 (near vectors) and large for 5+ (spread), all hash-derived.
  *  - orders/lineitem: orderkey remapped CONSISTENTLY on both sides
  *    (key·mult+v) so per-order join fan-out is constant and the j2-family
  *    join output scales exactly ×mult; customer/part keys stay, so
  *    per-dimension-key density grows ×mult — the realistic fact-vs-dim
  *    scale-up. Lineitem prices shift v cents per variant so DISTINCT
  *    price sets (f18-family) grow with the corpus too.
  *  - events: event_id remapped (·mult+v), timestamps/users untouched —
  *    ×mult denser event stream over the same window, which is what a
  *    10× traffic scale-up looks like to the metrics DAG (mv-family).
  *
  * Dimension tables are symlinked (fallback: copied recursively — parquet
  * "files" are directories) so the output dir is a drop-in
  * SPARK_GRAFT_SF_DIR.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> [mult=10]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 10
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val variants = spark.range(mult).select(col("id").cast("int").as("__v"))

    // documents: token-level hash-gated churn; churn rate by variant tier
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .crossJoin(broadcast(variants))
      .withColumn("__rate", when(col("__v") === 0, 0)
        .when(col("__v") <= 4, 6).otherwise(60))
      .withColumn("text", concat_ws(" ",
        expr("""transform(split(text, ' '), (t, i) ->
                 IF(pmod(hash(doc_id, __v, i), 100) < __rate,
                    concat('w', conv(substring(md5(concat(t, '|', __v)), 1, 8), 16, 10)),
                    t))""")))
      .select((col("doc_id") * mult + col("__v")).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).as("n_chars"))
    docs.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/documents.parquet")

    // embeddings: deterministic per-dimension jitter, tiered by variant
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
      .crossJoin(broadcast(variants))
      .withColumn("__amp", when(col("__v") === 0, 0.0)
        .when(col("__v") <= 4, 0.01).otherwise(0.2))
      .select((col("vec_id") * mult + col("__v")).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
                 cast(x * (1.0d + __amp * (pmod(hash(vec_id, __v, i), 7) - 3) / 3.0d)
                      as float))""").as("embedding"),
        col("label"))
    embs.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/embeddings.parquet")

    // relational facts: orderkey remapped identically on both join sides,
    // so every scaled order keeps exactly its original lineitems
    val orders = spark.read.parquet(s"$src/orders.parquet")
      .crossJoin(broadcast(variants))
      .withColumn("o_orderkey", col("o_orderkey") * mult + col("__v"))
      .drop("__v")
    orders.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/orders.parquet")

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
      .crossJoin(broadcast(variants))
      .withColumn("l_orderkey", col("l_orderkey") * mult + col("__v"))
      // v-cent shift: distinct price values (quantile-over-distinct
      // pipelines) grow with the corpus instead of staying 1x-sized
      .withColumn("l_extendedprice",
        round(col("l_extendedprice") + col("__v") * lit(0.01), 2))
      .drop("__v")
    lineitem.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/lineitem.parquet")

    // events: nanos ride as raw longs. KNOWN FIDELITY LIMIT: the source
    // column is parquet TIMESTAMP(NANOS), which Spark can only read via
    // nanosAsLong and cannot write back — the scaled dir's ts is plain
    // INT64 nanoseconds. graft.Tables reads both layouts identically
    // (ts_ns is a long either way); a non-graft reader of the SCALED dir
    // (DuckDB) sees BIGINT where the base dir has TIMESTAMP_NS and must
    // cast. Only the graft bench/probe reads the scaled dir today.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$src/events.parquet")
      .crossJoin(broadcast(variants))
      .withColumn("event_id", col("event_id") * mult + col("__v"))
      .drop("__v")
    events.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/events.parquet")
    // marker for non-graft readers: this dir's events.ts is plain INT64
    // nanoseconds, NOT TIMESTAMP(NANOS) like the base dirs — oracle
    // tooling must not treat a scaled dir as a drop-in for the base one
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_SCALED_TS_NS"),
      "events.ts is INT64 nanoseconds (scaled dir); base dirs use parquet TIMESTAMP(NANOS)\n")

    // dimension tables ride along untouched
    val others = Seq("region", "nation", "customer", "supplier", "part")
    for (t <- others) {
      // absolute target: a relative src arg would otherwise make the link
      // resolve relative to the OUTPUT dir — silently broken table
      val from = java.nio.file.Paths.get(s"$src/$t.parquet").toAbsolutePath.normalize
      val to = java.nio.file.Paths.get(s"$out/$t.parquet")
      if (java.nio.file.Files.exists(from) && !java.nio.file.Files.exists(to)) {
        try java.nio.file.Files.createSymbolicLink(to, from)
        catch { case _: Exception => copyTree(from, to) }
      }
    }
    // count the WRITTEN parquet (footer metadata, near-free) — counting
    // the source frames would re-execute every crossJoin transform
    def written(t: String): Long = spark.read.parquet(s"$out/$t.parquet").count()
    println(s"""{"documents": ${written("documents")}, "embeddings": ${written("embeddings")}, """ +
      s""""orders": ${written("orders")}, "lineitem": ${written("lineitem")}, """ +
      s""""events": ${written("events")}, "mult": $mult}""")
    spark.stop()
  }

  /** Recursive copy: a parquet table path is a DIRECTORY, and a flat
    * Files.copy would create an empty dir — a silently broken table.
    * Copies into a temp sibling and moves into place on success, so an
    * interrupted run never leaves a partial table dir that the
    * !exists(to) guard above would then skip as "done". */
  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val tmp = to.resolveSibling(to.getFileName.toString + ".__tmp")
    deleteTree(tmp) // leftover from a previous interrupted run
    val stream = Files.walk(from)
    try stream.forEach { (p: Path) =>
      val dest = tmp.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    } finally stream.close()
    try Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, to) }
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach((p: java.nio.file.Path) => Files.delete(p))
      finally stream.close()
    }
  }
}
