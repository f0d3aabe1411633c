package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Byte-pair-encoding merge induction — the tokenizer-vocabulary step of
  * an LLM data pipeline (Sennrich et al. 2016), made exactly replayable:
  *
  *  - symbols start as single characters and every merge is assigned a
  *    fresh single RESERVED character ('A' + round over a lowercase-only
  *    corpus), so a symbol sequence is always a plain string — pair
  *    enumeration is substring(s, i, 2) and a merge is one replace();
  *  - pair counts enumerate POSITIONS (overlapping occurrences count,
  *    the standard zip-adjacent convention), weighted by word frequency;
  *  - the merge applies left-to-right non-overlapping — exactly what
  *    both Spark's and DuckDB's replace() implement;
  *  - the argmax is (count DESC, pair ASC) — a total order.
  *
  * Scale shape: the loop runs over the DISTINCT-WORD vocabulary (one
  * corpus aggregation, localCheckpoint'd once, freed on exit under the
  * r10 hygiene rule), so each round is an explode+groupBy over vocab
  * rows, never over the corpus; the per-round driver scalar is the
  * single argmax row (the sanctioned kcore-style collect). Rounds are
  * bounded by the caller.
  */
object Bpe {

  /** One learned merge: batch round, rank within the round's batch, the
    * 2-codepoint pair replaced, its count at selection time, and the fresh
    * single-codepoint symbol. Global merge order is (round, rk). */
  final case class Merge(round: Int, rk: Int, pair: String, cnt: Long, sym: String)

  /** Shared conventions of the production-scale batched trainer (t17b/
    * t18b) — the SQL oracle generator unrolls exactly these constants, so
    * they are pinned here once. */
  val SymBase: Int = 0x100 // first merge-symbol codepoint ('Ā'); corpus
                           // alphabet is ASCII, so no collision, and all
                           // symbols stay BMP (1 UTF-16 unit in Spark,
                           // codepoint-ordered identically in UTF-8/DuckDB)
  val BatchM: Int = 16     // merges selected per round
  val CandK: Int = 64      // candidate window the conflict filter sees
  val SampleCap: Int = 4096 // training-sample bound (docs), hash-ranked

  /** Bounded deterministic training sample: the `cap` documents ranked by
    * md5(id) (unique id tiebreak), grouped to a (sequence, freq) vocab.
    * Real tokenizers never train on the full corpus — the trainer input is
    * a BOUNDED sample by construction, which is what makes the driver-local
    * induction below legitimate at any corpus size (the only corpus-wide
    * passes are this top-k sample selection and the encode kernel).
    * DuckDB replays the same sample with ORDER BY md5(CAST(id AS VARCHAR)).
    *
    * Precondition: `idCol` is unique and non-null across `docs`. A NULL id
    * has no cross-engine rank (Spark sorts nulls first, DuckDB last), and a
    * duplicated id lets the id semi-join below fetch a document the
    * row-level top-`cap` did not pick. Any violation that changes the
    * sample fails with IllegalArgumentException: the semi-join must return
    * exactly as many documents as ids were picked. */
  def sampleVocab(docs: DataFrame, textCol: String, idCol: String,
                  cap: Int = SampleCap): Seq[(String, Long)] = {
    // Decide with small rows, attach the payload once (guide §8): the
    // top-`cap` hash-rank selection orders ONLY (md5, id) — the old form
    // carried full document texts through every per-partition top-cap
    // heap and the driver merge, so the merge cost GREW with core count
    // (t17b measured faster at 8 cores than 32 — VERDICT r15 #6). The
    // winning cap-sized id set is collected (the job a broadcast of it
    // would run anyway) and broadcast back onto the corpus scan to fetch
    // texts; its size is what the precondition guard checks against.
    val picked = docs.filter(length(col(textCol)) > 0)
      .select(md5(col(idCol).cast("string")).as("__h"), col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id"))
      .limit(cap)
      .select("__id")
      .collect()
    val ids = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(picked: _*),
      StructType(Seq(docs.schema(idCol).copy(name = "__id"))))
    val vocab = docs.join(broadcast(ids), col(idCol) === col("__id"), "left_semi")
      .groupBy(col(textCol).as("__t")).agg(count(lit(1)).as("__f"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fetched = vocab.iterator.map(_._2).sum
    require(fetched == picked.length,
      s"Bpe.sampleVocab: '$idCol' must be unique and non-null — the " +
        s"${picked.length} picked ids fetched $fetched documents")
    vocab
  }

  /** Batched BPE merge induction, driver-local over a bounded vocab — the
    * SentencePiece shape (whole sequences, space in-alphabet, no word
    * pre-tokenization), so merge capacity grows into multi-word phrases
    * instead of capping at the word list (Sennrich et al. 2016; Kudo &
    * Richardson 2018). Replaces the r14 design's three scale bounds
    * (26-symbol alphabet, one driver round-trip per merge, unrolled encode
    * chain): symbols are fresh BMP codepoints, induction runs in driver
    * memory over the bounded sample (ZERO per-merge Spark jobs), and the
    * encode is the data-driven [[graft.functions.BpeEncode]] kernel.
    *
    * Batched-round semantics, pinned identically in the DuckDB oracle:
    * per round, count adjacent pairs (overlapping positions, freq-
    * weighted); rank (count DESC, pair ASC); within the top-`candK`
    * candidates drop any pair sharing a symbol with ANY higher-ranked
    * candidate (so selected pairs are mutually symbol-disjoint and their
    * applications commute); keep the first `batchM` survivors; apply them
    * in rank order, each left-to-right non-overlapping. Round r's rank-j
    * merge gets symbol codepoint `symBase + (r-1)·batchM + (j-1)` —
    * deterministic even when a round under-fills (gaps are harmless).
    * With batchM = 1 every round is the classic global argmax, which the
    * byte-parity spec pins against the legacy 8-round goldens. */
  def trainBatched(vocab: Seq[(String, Long)], rounds: Int,
                   batchM: Int = BatchM, candK: Int = CandK,
                   symBase: Int = SymBase): Vector[Merge] = {
    require(rounds >= 1 && batchM >= 1 && candK >= batchM, "bad BPE shape")
    require(symBase >= 0x80 && symBase + rounds.toLong * batchM < 0xD800,
      "merge symbols must stay below the surrogate range")
    // The whole design leans on two corpus-alphabet facts: merge symbols
    // are FRESH (never pre-exist in the corpus — the greedy-kernel ≡
    // sequential-fold proof needs it) and every char is one UTF-16 unit
    // AND one codepoint (Spark charAt pairing ≡ DuckDB substr pairing).
    // Both are exactly `char < symBase` (surrogates sit at 0xD800+, above
    // any legal symBase range). Validate the bounded sample instead of
    // assuming: a corpus char in the symbol range must fail loudly, not
    // silently diverge the kernel from the oracle.
    vocab.foreach { case (s, _) =>
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        require(c < symBase, f"corpus char U+${c.toInt}%04X (in ${
          s.take(24)}…) collides with the merge-symbol range starting U+${
          symBase}%04X: pre-normalize the corpus to chars below symBase, " +
          "or raise symBase above the corpus alphabet")
        i += 1
      }
    }
    // pair key packs two BMP chars into a non-negative Int; ascending Int
    // order == ascending pair-string order (UTF-8 preserves codepoint order)
    var cur: Array[(String, Long)] = vocab.toArray
    val out = Vector.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = new java.util.HashMap[Integer, java.lang.Long]()
      var vi = 0
      while (vi < cur.length) {
        val s = cur(vi)._1; val f = cur(vi)._2
        var i = 0
        while (i < s.length - 1) {
          val key = Integer.valueOf((s.charAt(i) << 16) | s.charAt(i + 1))
          val prev = counts.get(key)
          counts.put(key, if (prev == null) f else prev + f)
          i += 1
        }
        vi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        val cand = {
          val arr = new Array[(Int, Long)](counts.size())
          val it = counts.entrySet().iterator()
          var i = 0
          while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey.intValue(), e.getValue.longValue()); i += 1 }
          java.util.Arrays.sort(arr, Ordering.by[(Int, Long), (Long, Int)](pc => (-pc._2, pc._1)))
          arr.take(candK)
        }
        val batch = Array.newBuilder[(Int, Long)]
        var taken = 0
        var ci = 0
        while (ci < cand.length && taken < batchM) {
          val p = cand(ci)._1
          val a = p >>> 16; val b = p & 0xFFFF
          var conflict = false
          var cj = 0
          while (cj < ci && !conflict) {
            val q = cand(cj)._1
            val qa = q >>> 16; val qb = q & 0xFFFF
            conflict = qa == a || qa == b || qb == a || qb == b
            cj += 1
          }
          if (!conflict) { batch += ((p, cand(ci)._2)); taken += 1 }
          ci += 1
        }
        val sel = batch.result()
        if (sel.nonEmpty) {
          val reps = new Array[(String, String)](sel.length)
          var j = 0
          while (j < sel.length) {
            val (p, c) = sel(j)
            val pair = new String(Array((p >>> 16).toChar, (p & 0xFFFF).toChar))
            val sym = (symBase + (r - 1) * batchM + j).toChar.toString
            out += Merge(r, j + 1, pair, c, sym)
            reps(j) = (pair, sym)
            j += 1
          }
          cur = cur.map { case (s, f) =>
            var t = s
            var k = 0
            while (k < reps.length) { t = t.replace(reps(k)._1, reps(k)._2); k += 1 }
            (t, f)
          }
        }
        r += 1
      }
    }
    out.result()
  }

  /** Sequential rank-order application of a merge list to one sequence —
    * the scalar reference the encode kernel's greedy loop must equal
    * (specs only; the distributed encode is [[graft.functions.BpeEncode]]). */
  def applySequential(s: String, merges: Seq[Merge]): String =
    merges.foldLeft(s)((acc, m) => acc.replace(m.pair, m.sym))

  /** Classic one-merge-per-round variant over a distributed word vocab —
    * kept for the t17/t18 goldens and as the batch-1 reference shape. It
    * is DEMO-scale by design (26 reserved symbols, one driver argmax per
    * merge); the production path is [[trainBatched]] +
    * [[graft.functions.BpeEncode]].
    *
    * Run `rounds` BPE merges over (wordCol, freqCol) — words must be
    * lowercase a-z only (the reserved merge alphabet is 'A'-'Z').
    * @return (round, pair, cnt, sym): merge r replaced `pair` (count
    *         `cnt` at selection time) with the single character `sym` */
  def merges(vocab: DataFrame, wordCol: String, freqCol: String,
             rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 26, s"rounds must be 1..26, got $rounds")
    val spark = vocab.sparkSession
    val protect = Bridge.checkpointIds(vocab)
    var cur = vocab.select(col(wordCol).as("s"), col(freqCol).cast("long").as("f"))
      .localCheckpoint()
    val out = Seq.newBuilder[Row]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val best = cur.filter(length(col("s")) >= 2)
        .select(col("f"),
          explode(expr("transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))"))
            .as("p"))
        .groupBy("p").agg(sum("f").as("cnt"))
        .orderBy(desc("cnt"), asc("p")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getAs[String]("p")
        val cnt = best(0).getAs[Long]("cnt")
        val sym = ('A' + r).toChar.toString
        out += Row((r + 1).toLong, pair, cnt, sym)
        val next = cur.select(expr(s"replace(s, '$pair', '$sym')").as("s"), col("f"))
          .localCheckpoint()
        Bridge.freeCheckpointExcept(cur, protect)
        cur = next
        r += 1
      }
    }
    Bridge.freeCheckpointExcept(cur, protect)
    spark.createDataFrame(spark.sparkContext.parallelize(out.result(), 1),
      StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("pair", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false),
        StructField("sym", StringType, nullable = false))))
  }
}
