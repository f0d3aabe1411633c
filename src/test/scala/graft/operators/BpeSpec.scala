package graft.operators

import graft.SparkSpec

/** BPE merge induction must equal a scalar reference on fixtures that
  * exercise the convention edges: overlapping-pair counting, left-to-right
  * non-overlapping merge application, the (count DESC, pair ASC) tie
  * break, merged symbols feeding later pairs, and early exhaustion. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def reference(words: Map[String, Long], rounds: Int): Seq[(Long, String, Long, String)] = {
    var cur = words
    val out = Seq.newBuilder[(Long, String, Long, String)]
    var r = 0
    var stop = false
    while (r < rounds && !stop) {
      val pc = scala.collection.mutable.Map.empty[String, Long]
      for ((s, f) <- cur; i <- 0 until s.length - 1) {
        val p = s.substring(i, i + 2)
        pc(p) = pc.getOrElse(p, 0L) + f
      }
      if (pc.isEmpty) stop = true
      else {
        val (pair, cnt) = pc.toSeq.minBy { case (p, c) => (-c, p) }
        val sym = ('A' + r).toChar.toString
        out += (((r + 1).toLong, pair, cnt, sym))
        cur = cur.toSeq.map { case (s, f) => (s.replace(pair, sym), f) }
          .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        r += 1
      }
    }
    out.result()
  }

  private def run(words: Map[String, Long], rounds: Int) =
    Bpe.merges(words.toSeq.toDF("w", "f"), "w", "f", rounds)
      .collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"),
        r.getAs[Long]("cnt"), r.getAs[String]("sym"))).sortBy(_._1).toSeq

  test("merges == scalar reference incl. overlap counting and merged-symbol pairs") {
    // 'lll' counts 'll' TWICE (overlapping positions) but a merge collapses
    // it left-to-right to 'Al'; later rounds must see pairs containing 'A'
    val words = Map("lll" -> 5L, "hello" -> 3L, "help" -> 4L, "lo" -> 2L)
    assert(run(words, 4) === reference(words, 4))
  }

  test("tie on count breaks by pair ascending") {
    // 'ab' and 'ba' both occur exactly 7 times -> 'ab' must win
    val words = Map("ab" -> 7L, "ba" -> 7L)
    val got = run(words, 1)
    assert(got === reference(words, 1))
    assert(got.head._2 === "ab")
  }

  test("exhaustion stops early; single-char vocab yields no merges") {
    assert(run(Map("a" -> 10L, "b" -> 3L), 5).isEmpty)
    // two-char vocab exhausts after its single possible merge chain
    val words = Map("ab" -> 2L)
    val got = run(words, 5)
    assert(got === reference(words, 5))
    assert(got.length === 1)
  }

  test("corpus-shaped end-to-end is deterministic across reruns") {
    val vocab = graft.Tables.documents(spark, sf())
      .selectExpr("explode(split(text, ' ')) AS w")
      .filter($"w".rlike("^[a-z]+$"))
      .groupBy("w").count().withColumnRenamed("count", "f")
    val a = Bpe.merges(vocab, "w", "f", 4).collect().toSeq
    val b = Bpe.merges(vocab, "w", "f", 4).collect().toSeq
    assert(a === b && a.length === 4)
  }

  test("sampleVocab rejects null and duplicated doc ids") {
    val ok = Seq((1L, "ab ab"), (2L, "abc"), (3L, "ab ab")).toDF("id", "text")
    assert(Bpe.sampleVocab(ok, "text", "id").toMap === Map("ab ab" -> 2L, "abc" -> 1L))
    // a null id is picked (Spark ranks null md5 first) but joins nothing
    val nullId = Seq((Some(1L), "ab"), (None, "abc")).toDF("id", "text")
    intercept[IllegalArgumentException](Bpe.sampleVocab(nullId, "text", "id"))
    // the empty-text twin of a picked id is fetched by the id semi-join
    val dupId = Seq((1L, "ab"), (1L, ""), (2L, "abc")).toDF("id", "text")
    intercept[IllegalArgumentException](Bpe.sampleVocab(dupId, "text", "id"))
    // a twin the row-level top-`cap` left out is fetched too (id 1 has the
    // smallest md5 of 1..2, so cap = 1 picks one of its two rows)
    val straddle = Seq((1L, "ab"), (1L, "abc"), (2L, "ba")).toDF("id", "text")
    intercept[IllegalArgumentException](Bpe.sampleVocab(straddle, "text", "id", cap = 1))
  }
}
