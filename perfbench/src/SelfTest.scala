package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks the output digest on a small frame: it must not depend on row
  * order or partitioning, and must change when one value changes. Prints
  * `digest ok` on success; run by test_metrics.py. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = spark.range(1000).select(col("id"),
        (col("id") * 1.5).as("x"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
        array(col("id"), col("id") + 1).as("a"))
      val d = Harness.digest(df)
      val same = Seq(df.orderBy(col("id").desc), df.repartition(7),
        df.repartition(3, col("s")).sortWithinPartitions("x"))
      same.foreach(o => require(Harness.digest(o) == d, s"order-dependent digest: $d"))
      val changed = df.withColumn("x", when(col("id") === 500, lit(0.0)).otherwise(col("x")))
      require(Harness.digest(changed) != d, "digest missed a changed value")
      require(Harness.digest(df.filter("id < 0")) == "0:0", "empty digest")
      require(d.startsWith("1000:"), s"row count missing from $d")
      println("digest ok")
    } finally spark.stop()
  }
}
