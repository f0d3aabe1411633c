package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape: the ONLY shuffle keys are content hashes and LSH band
  * hashes — there is no all-pairs comparison anywhere. Candidate pairs are
  * generated by equi-joining on (band index, band hash), so cost scales
  * with collision counts, not n^2.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-partitioned aggregation keyed on
    * md5(content); keeps the minimum id per group (the reference's
    * drop_duplicates + MIN surrogate retention, A10/O4). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__h", md5(col(textCol)))
      .groupBy("__h")
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Persistable exact-dedup hash index: (content_hash, kept_id) per
    * distinct content — the artifact the incremental exact path keeps on
    * disk, exactly as [[minhashBandIndex]] is the near-dup one. One row
    * per distinct document, hash-partitionable on content_hash. */
  def contentHashIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash").agg(min(col(idCol)).as("kept_id"))

  /** INCREMENTAL exact dedup — the d1 twin of [[incrementalMinhashPairs]]:
    * a new batch keeps only content the indexed corpus has never seen,
    * collapsed to first occurrence within the batch. One anti-join keyed
    * on the content hash (broadcast when the index is small, shuffle
    * otherwise — Spark picks from stats) plus one aggregation; the corpus
    * itself is never rehashed or rescanned beyond its index.
    * @return [[exactDedup]]-shaped (kept_id, n_copies) for the SURVIVING
    *         new content, plus the content_hash for appending to the index */
  def incrementalExactDedup(newDocs: DataFrame, index: DataFrame,
                            idCol: String, textCol: String): DataFrame =
    newDocs.withColumn("content_hash", md5(col(textCol)))
      // null text → null hash: drop it here so the d12 semantics match the
      // SQL NOT IN form (a NULL lhs never matches, so the row vanishes)
      // instead of the null key surviving the anti-join as a spurious group
      .filter(col("content_hash").isNotNull)
      .join(index.select("content_hash"), Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** Paragraph-level dedup (the boilerplate-removal pass of web-corpus
    * pipelines): drop every paragraph whose TOTAL occurrence count across
    * the corpus exceeds `maxOccurrences`, then reassemble each document
    * from its surviving paragraphs in original order.
    *
    * Shape: posexplode → one hash-keyed count aggregation (map-side
    * combined, so a billion-copy boilerplate paragraph partial-aggregates
    * before the shuffle) → SALTED count join back on an md5 paragraph key
    * → one per-document regroup.
    *
    * The count join is the skew point: a hot paragraph's occurrences all
    * share one join key. AQE skew-join splitting CANNOT absorb it —
    * OptimizeSkewedJoin only matches a join whose children are raw shuffle
    * stages, and the counts side here has its final HashAggregate between
    * the Sort and the stage (measured on Spark 4.1: a 17x-median skewed
    * partition goes unsplit even with forced thresholds). So the skew is
    * handled deterministically instead: the join key is (md5(para), salt)
    * with the doc-id-derived salt spreading a hot paragraph over `nSalts`
    * reducers, and the counts side — one ~25-byte row per distinct
    * paragraph, not the text — replicates per salt, which also keeps the
    * paragraph text out of the dim-side shuffle entirely.
    *
    * @param parasCol array<string> column of the document's paragraphs.
    * @return (id, n_paras, n_kept, clean_text) — clean_text joins surviving
    *         paragraphs with `sep`; a fully-boilerplate document keeps an
    *         empty clean_text rather than disappearing.
    */
  def paragraphDedup(df: DataFrame, idCol: String, parasCol: String,
                     maxOccurrences: Long, sep: String = " <p> ",
                     nSalts: Int = 16): DataFrame = {
    val exploded = df
      .select(col(idCol), posexplode(col(parasCol)).as(Seq("pos", "para")))
      .withColumn("__pk", md5(col("para")))
    val counts = exploded.groupBy("__pk").agg(count(lit(1)).as("__occ"))
    Relational.saltedJoin(exploded, counts, "__pk",
        xxhash64(col(idCol)), nSalts)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("__occ") <= maxOccurrences, 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__occ") <= maxOccurrences, struct(col("pos"), col("para"))))),
            s => s.getField("para")),
          sep).as("clean_text"))
  }

  /** MinHash-LSH near-duplicate pairs over a (id, tokens) frame.
    *
    * shingle -> MinHash(k) -> band-bucket (b bands of r) -> bucket equi-join
    * -> exact-Jaccard verify on candidates only. Deterministic: md5-derived
    * hash family, so an external oracle can replay the full pipeline.
    *
    * Optional blocking: `blockCols` (e.g. a `source` column) are added to
    * the band-join key, restricting pairs to the same block WITHOUT the
    * quadratic per-block all-pairs a raw block self-join would cost — the
    * join key stays (block, band_idx, band hash), whose cardinality grows
    * with the data, never a fixed-cardinality block key alone.
    *
    * @return (blockCols…, id1, id2, jac) pairs with id1 < id2 and
    *         shingle-set Jaccard >= threshold.
    */
  /** Shared signature pass: one MinhashBands evaluation per doc, carrying
    * both the shingle sets (verification) and the band hashes (candidate
    * generation). Single source of truth for every LSH-pair path — the
    * persisted index and the live operators CANNOT desynchronize on hash
    * family or band layout, because they all read this column. */
  private def sigBands(df: DataFrame, toksCol: String,
                       k: Int, bands: Int, w: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    df.withColumn("__sb",
        graft.functions.MinhashBands.minhashBands(col(toksCol), w, k, bands))
      .filter(col("__sb").isNotNull)
  }

  /** Band rows of a [[sigBands]] frame: (blockCols…, idCol, band_idx, bh). */
  private def bandRowsOf(sb: DataFrame, idCol: String,
                         blockCols: Seq[String]): DataFrame =
    sb.select(blockCols.map(col) :+ col(idCol) :+
      posexplode(col("__sb.bands")).as(Seq("band_idx", "bh")): _*)

  /** Band self-join candidates (id1 < id2) + exact-Jaccard verify over the
    * attached shingle sets. The band join shuffles ONLY (block…, id,
    * band_idx, band hash) — never the shingle payloads (which would
    * multiply corpus text volume by 2·bands). Shingle sets re-attach to
    * the (deduplicated, tiny) candidate pairs via two id equi-joins. */
  private def verifiedSelfPairs(bandRows: DataFrame, shingles: DataFrame,
                                idCol: String, threshold: Double,
                                blockCols: Seq[String]): DataFrame = {
    val joinKey = blockCols ++ Seq("band_idx", "bh")
    val a = bandRows.withColumnRenamed(idCol, "id1")
    val b = bandRows.withColumnRenamed(idCol, "id2")
    val cand = a.join(b, joinKey)
      .filter(col("id1") < col("id2"))
      .select((blockCols :+ "id1" :+ "id2").map(col): _*)
      .dropDuplicates("id1", "id2")
    cand
      .join(shingles.select(col(idCol).as("id1"), col("__shingles").as("s1")), Seq("id1"))
      .join(shingles.select(col(idCol).as("id2"), col("__shingles").as("s2")), Seq("id2"))
      .withColumn("jac", TextOps.jaccard(col("s1"), col("s2")))
      .filter(col("jac") >= threshold)
      .select(blockCols.map(col) ++
        Seq(col("id1"), col("id2"),
          TextOps.jaccardPpm("s1", "s2").as("jac_ppm")): _*)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, toksCol: String,
                      k: Int = 16, bands: Int = 8, threshold: Double = 0.5,
                      w: Int = 3, blockCols: Seq[String] = Nil): DataFrame = {
    // materialize-once (r15 opt): the signature frame feeds FOUR plan
    // consumers (both band-join sides + both verify attachments), and the
    // planner reuses none of them — each re-ran the scan + the k×shingles
    // MinHash kernel (the dvf1 materialize-once rule; 4 kernel passes → 1).
    // NARROWED first: every consumer reads only (block…, id, __sb) — the
    // caller's token arrays would otherwise ride the checkpoint unread
    // (the wide-derived-array lesson).
    val sb = sigBands(df, toksCol, k, bands, w)
      .select((blockCols :+ idCol).map(col) :+ col("__sb"): _*)
      .localCheckpoint(true)
    val shingles = sb.select(col(idCol), col("__sb.shingles").as("__shingles"))
    verifiedSelfPairs(bandRowsOf(sb, idCol, blockCols), shingles,
      idCol, threshold, blockCols)
  }

  /** [[minhashLshPairs]] over LONG token sets (w = 1): neighbor-id sets
    * (g6), pre-hashed shingles — anything already integer-keyed. Same
    * band space and pair output as stringifying the longs first (the
    * [[graft.functions.MinhashBandsLong]] bit-parity contract), so the
    * SQL oracle twin stays the `cast(x AS string)` HOF form; the Spark
    * side skips that transform and the per-token string materialization.
    * The exact-Jaccard verify runs over the raw long sets — value-
    * identical (long → decimal string is a bijection). */
  def minhashLshPairsLong(df: DataFrame, idCol: String, toksCol: String,
                          k: Int = 16, bands: Int = 8, threshold: Double = 0.5,
                          blockCols: Seq[String] = Nil): DataFrame = {
    // materialize-once — see minhashLshPairs (g6's input subtree is a
    // full collect_set aggregation over the co-purchase incidence frame;
    // un-checkpointed it re-ran once per plan consumer); narrowed to the
    // columns the consumers read before materializing
    val sb = df.withColumn("__sb",
        graft.functions.MinhashBands.minhashBandsLong(col(toksCol), k, bands))
      .filter(col("__sb").isNotNull)
      .select((blockCols :+ idCol).map(col) :+ col("__sb"): _*)
      .localCheckpoint(true)
    val shingles = sb.select(col(idCol), col("__sb.shingles").as("__shingles"))
    verifiedSelfPairs(bandRowsOf(sb, idCol, blockCols), shingles,
      idCol, threshold, blockCols)
  }

  /** Persistable MinHash-LSH band INDEX of a corpus: one row per
    * (blockCols…, idCol, band_idx, bh) — the artifact a daily-ingest
    * pipeline keeps on disk (parquet, partitionable by band_idx) so that
    * new batches near-dup against the corpus WITHOUT recomputing one
    * corpus signature. ~bands rows of (id, two ints, md5 hash) per doc —
    * a tiny fixed fraction of corpus text volume. Same hash family and
    * band layout as [[minhashLshPairs]], so index rows and a fresh batch's
    * band rows join directly. */
  def minhashBandIndex(df: DataFrame, idCol: String, toksCol: String,
                       k: Int = 16, bands: Int = 8, w: Int = 3,
                       blockCols: Seq[String] = Nil): DataFrame =
    bandRowsOf(sigBands(df, toksCol, k, bands, w), idCol, blockCols)

  /** INCREMENTAL near-dup pairs — the daily-ingest shape at corpus scale:
    * a new batch pairs against the already-indexed corpus (via the
    * persisted [[minhashBandIndex]]) and within itself, and nothing else.
    * Corpus-vs-corpus pairs were found when the corpus was indexed; the
    * whole point is never re-shingling, re-hashing, or re-joining the
    * indexed side. Equivalent to running [[minhashLshPairs]] over
    * (corpus ∪ batch) and keeping only pairs that involve a new doc —
    * DedupSpec pins that equivalence, and the d11 oracle replays it.
    *
    * Scale shape: the band join shuffles (id, band_idx, bh) only — index
    * rows and new-batch band rows, never text. Corpus text is read back
    * ONLY for docs that land in a candidate pair (a semi-join-sized fetch
    * against the landed corpus table) to run the exact-Jaccard verify.
    *
    * @param index  persisted [[minhashBandIndex]] frame of the corpus
    * @param corpus (idCol, toksCol) for the INDEXED docs — candidate
    *               verification re-shingles just the candidate ids
    * @return (id1, id2, jac, src) with id1 < id2, jac >= threshold;
    *         src = 'cross' (batch-vs-corpus) or 'new' (within the batch) */
  def incrementalMinhashPairs(newDocs: DataFrame, index: DataFrame,
                              corpus: DataFrame, idCol: String, toksCol: String,
                              k: Int = 16, bands: Int = 8,
                              threshold: Double = 0.5, w: Int = 3): DataFrame = {
    // ONE signature pass over the batch feeds both the cross-candidates
    // and the within-batch pairs — the MinHash kernel is the expensive
    // per-row work and must not run twice per ingest
    val newSb = sigBands(newDocs, toksCol, k, bands, w)
    val newBands = bandRowsOf(newSb, idCol, Nil)
    val newShingles = newSb.select(col(idCol), col("__sb.shingles").as("__sh"))
    // batch-vs-corpus candidates: bands of the batch against the INDEX
    val crossCand = index.select(col(idCol).as("__cid"), col("band_idx"), col("bh"))
      .join(newBands.select(col(idCol).as("__nid"), col("band_idx"), col("bh")),
        Seq("band_idx", "bh"))
      .select("__cid", "__nid").dropDuplicates("__cid", "__nid")
    // verify: corpus text fetched only for candidate ids (semi-join-sized)
    val corpusSh = corpus
      .join(crossCand.select(col("__cid").as(idCol)).distinct(), Seq(idCol))
      .withColumn("__sb",
        graft.functions.MinhashBands.minhashBands(col(toksCol), w, k, bands))
      .filter(col("__sb").isNotNull)
      .select(col(idCol).as("__cid"), col("__sb.shingles").as("__s1"))
    val cross = crossCand
      .join(corpusSh, Seq("__cid"))
      .join(newShingles.select(col(idCol).as("__nid"), col("__sh").as("__s2")),
        Seq("__nid"))
      .withColumn("jac", TextOps.jaccard(col("__s1"), col("__s2")))
      .filter(col("jac") >= threshold)
      .select(least(col("__cid"), col("__nid")).as("id1"),
        greatest(col("__cid"), col("__nid")).as("id2"),
        TextOps.jaccardPpm("__s1", "__s2").as("jac_ppm"),
        lit("cross").as("src"))
    // within-batch pairs: the LSH self-join over the batch's ALREADY
    // COMPUTED band rows and shingles (no second signature pass)
    val within = verifiedSelfPairs(newBands,
        newShingles.withColumnRenamed("__sh", "__shingles"),
        idCol, threshold, Nil)
      .select(col("id1"), col("id2"), col("jac_ppm"), lit("new").as("src"))
    cross.unionByName(within)
  }

  /** Per-document 16-bit SimHash signatures; exact-signature buckets give
    * hamming-0 near-dup groups with a single aggregation. */
  def simhashSignatures(df: DataFrame, idCol: String, toksCol: String): DataFrame =
    df.withColumn("simhash16", TextOps.simhash16Expr(toksCol))
      .select(col(idCol), col("simhash16"))

  /** SimHash near-dup SEARCH: 60-bit native signature, `bands` equal-width
    * bands — pigeonhole-complete for hamming <= bands-1 — band equi-join,
    * then exact bit_count verify. The cheap hamming filter runs BEFORE the
    * pair distinct, so only surviving pairs pay the dedup shuffle.
    *
    * Scaling rule: random band collisions cost ~n²/2^width pairs, so band
    * width must track log2(corpus) — 60/4 = 15 bits suits 1e4–1e6 docs;
    * beyond that widen the signature and the bands (keeping
    * bands >= maxHamming + 1 for completeness).
    *
    * @return (id1, id2, hamming) with id1 < id2 and hamming <= maxHamming.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, toksCol: String,
                          maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands >= maxHamming + 1,
      s"bands=$bands must be >= maxHamming+1=${maxHamming + 1} for pigeonhole completeness")
    require(60 % bands == 0, s"bands=$bands must divide the 60-bit signature")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val sigs = df.select(col(idCol),
      graft.functions.MinhashBands.simhash60Col(col(toksCol)).as("sig"))
    val bandRows = sigs.select(col(idCol), col("sig"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("j"))
      .withColumn("band", expr(s"(sig >> ($width * j)) & $mask"))
    val a = bandRows.select(col(idCol).as("id1"), col("sig").as("s1"),
      col("j"), col("band"))
    val b = bandRows.select(col(idCol).as("id2"), col("sig").as("s2"),
      col("j"), col("band"))
    a.join(b, Seq("j", "band")).filter(col("id1") < col("id2"))
      .withColumn("hamming", expr("bit_count(s1 ^ s2)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming").cast("int").as("hamming"))
      .distinct()
  }

  /** Wide-signature SimHash near-dup search for corpus scale: 120-bit
    * signatures ([hi60, lo60] — [[graft.functions.MinhashBands.simhash120]])
    * banded into 15-bit slices. Same algebra as [[simhashNearDupPairs]],
    * one width notch up: random band collisions cost ~n²/2^15 per band
    * regardless of width, but identical-SIGNATURE groups (which no band
    * scheme can split) shrink by 2^60 — the failure mode that saturates a
    * 60-bit signature past ~1e6 docs. bands=8 keeps pigeonhole completeness
    * to hamming 7, double the 60-bit search's reach.
    *
    * @return (id1, id2, hamming) with id1 < id2 and hamming <= maxHamming.
    */
  def simhashNearDupPairsWide(df: DataFrame, idCol: String, toksCol: String,
                              maxHamming: Int = 7, bands: Int = 8): DataFrame = {
    require(bands >= maxHamming + 1,
      s"bands=$bands must be >= maxHamming+1=${maxHamming + 1} for pigeonhole completeness")
    require(bands % 2 == 0 && 60 % (bands / 2) == 0,
      s"bands=$bands must split evenly across the two 60-bit halves")
    val perHalf = bands / 2
    val width = 60 / perHalf
    val mask = (1L << width) - 1
    val sigs = df.select(col(idCol),
        graft.functions.MinhashBands.simhash120Col(col(toksCol)).as("sig"))
      .select(col(idCol), element_at(col("sig"), 1).as("hi"),
        element_at(col("sig"), 2).as("lo"))
    val bandRows = sigs.select(col(idCol), col("hi"), col("lo"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("j"))
      .withColumn("band", expr(
        s"if(j < $perHalf, (hi >> ($width * j)) & $mask, (lo >> ($width * (j - $perHalf))) & $mask)"))
    val a = bandRows.select(col(idCol).as("id1"), col("hi").as("h1"),
      col("lo").as("l1"), col("j"), col("band"))
    val b = bandRows.select(col(idCol).as("id2"), col("hi").as("h2"),
      col("lo").as("l2"), col("j"), col("band"))
    a.join(b, Seq("j", "band")).filter(col("id1") < col("id2"))
      .withColumn("hamming", expr("bit_count(h1 ^ h2) + bit_count(l1 ^ l2)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming").cast("int").as("hamming"))
      .distinct()
  }

  /** Connected components over near-dup pairs: (id, component) with
    * component = min id reachable — the cluster step that turns pairwise
    * near-dup hits into dedup groups (keep `id == component`, drop the
    * rest).
    *
    * Min-label propagation to fixpoint: each round joins the current labels
    * across the symmetrized edge set and keeps the per-vertex min. Rounds =
    * cluster diameter; near-dup clusters are shallow (pairs chain through
    * shared shingles), so this converges in 2-3 rounds at any corpus size,
    * shuffling only (id, label) pairs.
    *
    * Storage note: superseded rounds' checkpoint blocks are freed
    * explicitly ([[org.apache.spark.sql.graft.Bridge.freeCheckpoint]]) once
    * the convergence probe has read them, so resident storage is bounded at
    * {edges, current labels} regardless of round count.
    */
  def connectedComponents(pairs: DataFrame, id1Col: String, id2Col: String,
                          maxRounds: Int = 20): DataFrame = {
    // input staging: the symmetric union consumes the pair frame TWICE —
    // an unmaterialized build (d6 feeds the whole d4 LSH pipeline in
    // here) would run twice inside the edge materialization
    val pairs0 =
      if (org.apache.spark.sql.graft.Bridge.isBareCheckpoint(pairs)) pairs
      else pairs.localCheckpoint(true)
    val fwd = pairs0.select(col(id1Col).as("a"), col(id2Col).as("b"))
    // ADVERTISED b layout (r15 opt): the resident edge frame is joined by
    // b every round — a plain checkpoint (UnknownPartitioning under AQE)
    // re-exchanged it per round, writing O(E) to shuffle storage each time
    // (the r15 s6 audit). Advertised, it is only ever scanned in place;
    // per round the moving data is the node-dimension label frame.
    // pairs0 is bare either way: 2x its registered bytes bounds the
    // symmetrized-distinct frame from above — a slight n overshoot (the
    // distinct only shrinks it) is harmless, and the helper skips its own
    // sizing materialization (VERDICT r15 #1)
    val edges = org.apache.spark.sql.graft.Bridge.localCheckpointPartitioned(
      fwd.union(fwd.select(col("b").as("a"), col("a").as("b"))).distinct(),
      Seq("b"), sorted = true,
      bytesHint = org.apache.spark.sql.graft.Bridge
        .checkpointStorageBytes(pairs0).map(2L * _).getOrElse(-1L))
    if (!(pairs0 eq pairs)) // consumed only by the edge materialization
      org.apache.spark.sql.graft.Bridge.freeCheckpoint(pairs0)
    val nParts = org.apache.spark.sql.graft.Bridge.advertisedNumPartitions(edges)
      .getOrElse(edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // per-round layout under the Bridge.localCheckpointRound tiny-graph
    // rule (plain checkpoints at nParts == 1, co-partitioned above)
    def roundCp(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.Bridge.localCheckpointRound(
        df, Seq("id"), nParts)
    var labels = roundCp(
      edges.groupBy("a").agg(min("b").as("nb"))
        .select(col("a").as("id"), least(col("a"), col("nb")).as("component")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // neighbor labels (via edges) unioned with own label, min per vertex.
      // labels sits in id layout ≡ edges' b layout (same hash family, same
      // count), so the propagation join runs with ZERO exchange; the only
      // per-round shuffle is the union's min-combine aggregation.
      // The convergence probe rides the round's ONE checkpoint action (r16
      // opt): tagging the union's own-label branch lets the same min-agg
      // also produce "did this vertex's label change" — min over all
      // candidates < min over the own branch (the own label, unique per
      // vertex) — and `observe` counts the changes during the
      // materialization. Exact for ANY ordered id type (the old decimal
      // sum broke on string ids); the old per-round join-against-previous
      // probe job is gone, so each round is exactly one job.
      val obs = org.apache.spark.sql.Observation()
      val merged = edges
        .join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("component"),
          lit(false).as("__own"))
        .union(labels.withColumn("__own", lit(true)))
        .groupBy("id").agg(
          min("component").as("component"),
          (min(when(col("__own"), col("component"))) > min("component"))
            .as("__chg"))
        .observe(obs, sum(when(col("__chg"), 1L).otherwise(0L)).as("__nchg"))
        .select("id", "component")
      val next = roundCp(merged)
      converged = obs.get("__nchg").asInstanceOf[Long] == 0L
      org.apache.spark.sql.graft.Bridge.freeCheckpoint(labels)
      labels = next
      round += 1
    }
    // the returned labels are themselves checkpointed — edges are done
    org.apache.spark.sql.graft.Bridge.freeCheckpoint(edges)
    // silent non-convergence would return non-min labels — breaking the
    // component==min-member-id invariant every incremental/streaming
    // consumer builds on. Fail loudly; diameter-shaped graphs need a
    // larger maxRounds, not partial labels.
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "the graph's diameter exceeds maxRounds; raise it")
    labels
  }

  /** Quality-aware canonical selection: the dedup policy real curation
    * pipelines want — per near-dup CLUSTER keep the highest-QUALITY member,
    * not the smallest id (a crawl's best copy of a page is rarely its
    * first). Clusters come from [[connectedComponents]] over the verified
    * pair frame; documents in no pair are their own singleton cluster
    * (component = own id). Ties break (score desc, id asc) — total order,
    * deterministic on any engine; the score must be an exact integer
    * (engine-float invariant), e.g. t2's fixed-point quality.
    *
    * Scale shape: one left join of the corpus-sized score frame against
    * the (much smaller) component labels, one per-component window over
    * cluster-sized groups, one join back of the one-row-per-component
    * winners (component count ≤ docs; AQE broadcasts when small). A
    * pathological giant cluster (corpus-wide boilerplate) would skew the
    * window — at that shape dedup the boilerplate FIRST (d8), exactly as
    * the operator contract for er1 demands exact dups go to d1.
    *
    * @param scored (idCol, scoreCol) one row per document, integer score
    * @return (doc_id, component, score_fp, kept_id, keep) one row per doc */
  def qualityCanonical(scored: DataFrame, idCol: String, scoreCol: String,
                       pairs: DataFrame, id1Col: String, id2Col: String): DataFrame = {
    val comp = connectedComponents(pairs, id1Col, id2Col)
    val j = scored
      .select(col(idCol).as("id"), col(scoreCol).cast("long").as("score_fp"))
      .join(comp, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col("score_fp").desc, col("id"))
    val kept = j.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("component"), col("id").as("kept_id"))
    j.join(kept, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("score_fp"),
        col("kept_id"), (col("id") === col("kept_id")).as("keep"))
  }

  /** INCREMENTAL connected components — the d6 twin of
    * [[incrementalMinhashPairs]]/[[incrementalExactDedup]], closing the
    * incremental-dedup loop at the cluster level: fold a batch of NEW pairs
    * into a PERSISTED label table without rescanning the old edge set.
    *
    * Why it is exact: min-label propagation converges each component's
    * label to its minimum member id, so the persisted labels are a
    * CONTRACTION of the old graph — one (member → min-id) super-edge per
    * vertex reproduces its whole component's connectivity. The mini graph
    * {new pairs} ∪ {seed → old label, for the new pairs' endpoints that
    * have labels} therefore has exactly the union graph's connectivity
    * among everything the new pairs can influence, and since every old
    * label IS the min id of its members, min labels over the mini graph
    * equal min labels over the full union graph. The result is
    * row-identical to `connectedComponents(old pairs ∪ new pairs)`
    * (IncrementalCcSpec pins it).
    *
    * Cost at corpus scale: the mini CC is sized by the NEW pairs; the
    * relabel join touches only members of components the new pairs reach;
    * every join against the label table broadcasts the batch-sized side
    * explicitly, so the labels are streamed exactly twice (seed lookup,
    * relabel+passthrough) and NEVER shuffled (PlanSpec pins no
    * SortMergeJoin). Nothing is proportional to the old edge count.
    *
    * @param labels persisted (id, component) from a min-label CC run —
    *               component MUST be the component's min member id (which
    *               [[connectedComponents]] guarantees at convergence).
    * @return the full updated (id, component) table over the union graph.
    */
  def incrementalConnectedComponents(labels: DataFrame, newPairs: DataFrame,
                                     id1Col: String, id2Col: String,
                                     maxRounds: Int = 20): DataFrame = {
    val (untouched, changed) =
      incrementalCcParts(labels, newPairs, id1Col, id2Col, maxRounds)
    untouched.unionByName(changed)
  }

  /** [[incrementalConnectedComponents]] split into (changed, full updated):
    * `changed` is the members of touched components plus the new vertices —
    * the rows a bucket-partitioned label store must rewrite — and is sized
    * by the touched components, never the corpus. Used by
    * [[graft.streaming.StreamingClusterLabels]]. */
  def incrementalCcDelta(labels: DataFrame, newPairs: DataFrame,
                         id1Col: String, id2Col: String,
                         maxRounds: Int = 20): (DataFrame, DataFrame) = {
    val (untouched, changed) =
      incrementalCcParts(labels, newPairs, id1Col, id2Col, maxRounds)
    (changed, untouched.unionByName(changed))
  }

  private def incrementalCcParts(labels: DataFrame, newPairs: DataFrame,
                                 id1Col: String, id2Col: String,
                                 maxRounds: Int): (DataFrame, DataFrame) = {
    val np = newPairs.select(col(id1Col).as("a"), col(id2Col).as("b"))
    val seeds = np.select(col("a").as("id"))
      .union(np.select(col("b").as("id"))).distinct()
    // every label-table access below is a broadcast-probed STREAM of it —
    // the corpus-sized side is scanned, never shuffled. The seed lookup is
    // materialized once (it is batch-sized) and reused three ways.
    val labeledSeeds = labels.join(broadcast(seeds), Seq("id"), "left_semi")
      .localCheckpoint(true)
    val contraction = labeledSeeds
      .select(col("id").as("a"), col("component").as("b"))
    val miniLabels =
      connectedComponents(np.unionByName(contraction), "a", "b", maxRounds)
    // touched old components → their post-merge label (an old label is
    // itself a vertex of the mini graph: its contraction edges point at it)
    val touched = labeledSeeds
      .select(col("component").as("old_component")).distinct()
      .join(miniLabels, col("old_component") === miniLabels("id"))
      .select(col("old_component"), miniLabels("component").as("new_component"))
    val relabeled = labels
      .join(broadcast(touched), labels("component") === touched("old_component"))
      .select(labels("id"), col("new_component").as("component"))
    val untouched = labels
      .join(broadcast(touched),
        labels("component") === touched("old_component"), "left_anti")
    // vertices the new pairs introduced (no old label) keep their mini
    // label; both sides here are batch-sized
    val newIds = seeds
      .join(broadcast(labeledSeeds.select("id")), Seq("id"), "left_anti")
    val newRows = miniLabels.join(broadcast(newIds), Seq("id"), "left_semi")
      .select(col("id"), col("component"))
    (untouched, relabeled.unionByName(newRows))
  }

  /** Bloom-prefiltered benchmark decontamination — the 100 TB shape of the
    * n-gram intersection d7 computes directly.
    *
    * A plain grams⋈bench join shuffles EVERY training-side gram (trillions
    * at corpus scale) to probe a benchmark set that is many orders of
    * magnitude smaller. Here the benchmark grams aggregate into one Bloom
    * filter (Catalyst `BloomFilterAggregate` over xxhash64 — distributed
    * build, partial buffers merge map-side), the driver inlines the
    * serialized filter (MBs) as a literal, and the codegen'd
    * `BloomFilterMightContain` drops non-colliding grams BEFORE the shuffle
    * — the same push-a-filter-to-the-scan move as Spark's own runtime
    * row-level filtering, made explicit. False positives only let a few
    * extra grams through to the exact confirm join, so the RESULT is
    * byte-identical to the unfiltered intersection (which is what the
    * DuckDB oracle replays).
    *
    * @param grams      training-side (idCol, gramCol) rows, one per gram.
    * @param benchGrams benchmark gram set (gramCol; need not be distinct).
    * @return (idCol, n_bad_grams) for training ids with >= 1 benchmark
    *         gram; ids here are candidates for drop/flag downstream.
    */
  def bloomDecontaminate(grams: DataFrame, benchGrams: DataFrame,
                         idCol: String, gramCol: String,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.util.sketch.BloomFilter

    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val hash = XxHash64(Seq(Bridge.expression(benchGrams(gramCol))), 42L)
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(hash, Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
    // One binary blob (≤ numBits/8 bytes — MBs, aggregate-sized by
    // construction) to the driver; at cluster scale this is the blob every
    // executor needs anyway, shipped back as a reference-object literal.
    val blob = benchGrams.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val distinctBench = benchGrams.select(col(gramCol)).distinct()
    if (blob == null) {
      // empty benchmark set: nothing can be contaminated
      return grams.join(distinctBench, gramCol)
        .groupBy(idCol).agg(count(lit(1)).as("n_bad_grams"))
    }
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(blob, org.apache.spark.sql.types.BinaryType),
      XxHash64(Seq(Bridge.expression(grams(gramCol))), 42L)))
    grams.filter(mightContain)
      .join(distinctBench, gramCol)
      .groupBy(idCol).agg(count(lit(1)).as("n_bad_grams"))
  }

  /** Exact duplicated-SUBSTRING detection — the suffix-window approximation
    * of corpus-level substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every `w`-codepoint
    * sliding window of every document is tested for repetition ANYWHERE in
    * the corpus; all occurrences except the global first (ordered by
    * (id, position)) are duplicate spans, which are then merged per
    * document into maximal islands.
    *
    * Reference scope: the reference removes whole duplicate rows
    * (drop_duplicates); this extends dedup below document granularity for
    * training corpora, where shared boilerplate inside otherwise-unique
    * pages is the dominant duplication mode.
    *
    * Shape and 100 TB story: window generation is one codegen'd kernel per
    * row ([[graft.functions.SlidingWindows]] — zero-copy slices, no
    * per-element lambda); the duplicate test is ONE shuffle keyed on the
    * window VALUE — a content-derived key space that grows with the corpus
    * (the repo bucketed-similarity invariant), so collision groups stay
    * tiny at any scale. The interval merge is one per-document window pass
    * (equal-length spans sorted by start make the running-max test a plain
    * `lag`). At petabyte scale the same plan runs with the window value
    * replaced by a 64-bit rolling hash as the shuffle key (6× less shuffle
    * volume, verify-within-group for collisions) and a stride >1 on the
    * window generator — both parameter swaps, not plan changes.
    *
    * @return one row per input document: (id, total_chars, n_dup_spans,
    *         dup_chars, kept_chars), never dropping zero-dup docs
    */
  def substringDedupSpans(df: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame =
    mergeDupSpans(dupSpanRows(df, idCol, textCol, w), df, idCol, textCol)

  /** All-but-global-first duplicate window occurrences as raw (id, s, e)
    * spans — the shared head of [[substringDedupSpans]] and
    * [[substringDedupCleanText]]. */
  private def dupSpanRows(df: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame =
    dupSpanRowsFrom(slidingWins(df, idCol, textCol, w), idCol, w)

  /** The duplicate test over prepared window rows (id, s, __win) — `__win`
    * may be the window STRING (oracle-exact form) or its 64-bit rolling
    * hash (scale form); the plan is identical either way. */
  private def dupSpanRowsFrom(wins: DataFrame, idCol: String,
                              w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWin = Window.partitionBy("__win")
    wins
      .withColumn("rn", row_number().over(byWin.orderBy(col(idCol), col("s"))))
      .withColumn("cnt", count(lit(1)).over(byWin))
      .filter(col("cnt") > 1 && col("rn") > 1)
      .select(col(idCol), col("s"), (col("s") + w).as("e"))
  }

  /** [[substringDedupSpans]] with the shuffle keyed on each window's
    * 64-BIT ROLLING HASH instead of its string value — the deployment-
    * scale form the d16 design documents as a parameter swap: the same
    * one-shuffle plan now carries an 8-byte key (≈6× less shuffle volume
    * at w=40) and never allocates a window string at all
    * ([[graft.functions.SlidingWindowHashes]] rolls in O(n) per doc).
    * Equality-of-hash stands in for equality-of-window (collision odds
    * ≈ windows²/2⁶⁴ — vanishing until far past the corpus size where the
    * string key already stops being affordable); the string form remains
    * the oracle-replayable catalog default, and SubstringDedupSpec pins
    * result equality between the two on real corpora. */
  def substringDedupSpansHashed(df: DataFrame, idCol: String, textCol: String,
                                w: Int): DataFrame =
    mergeDupSpans(dupSpanRowsFrom(slidingWinsHashed(df, idCol, textCol, w),
      idCol, w), df, idCol, textCol)

  /** REMOVE every duplicate span from the text — the cleaning step
    * downstream of [[substringDedupSpans]]'s measurement (Lee et al. 2022
    * drop the repeated span, keeping one canonical occurrence corpus-wide).
    * Each document is rebuilt from the gaps between its merged islands:
    * one lag per span for the gap start, one ordered per-doc fold
    * (array_sort of (ms, seg) — collect_list order is made deterministic
    * before concatenation), tail re-attached from the last island end.
    * Zero-dup documents pass through byte-identical.
    * @return (id, clean_chars, clean_md5) — md5 proves the rebuilt BYTES,
    *         not just lengths, match on any engine */
  def substringDedupCleanText(df: DataFrame, idCol: String, textCol: String,
                              w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = mergeIslands(dupSpanRows(df, idCol, textCol, w), idCol)
    val segs = spans
      .join(df.select(col(idCol), col(textCol).as("__txt")), Seq(idCol))
      .withColumn("__gs",
        coalesce(lag(col("me"), 1).over(Window.partitionBy(idCol).orderBy("ms")),
          lit(1L)))
      .withColumn("__seg",
        expr("substring(__txt, cast(__gs as int), cast(ms - __gs as int))"))
    val perDoc = segs.groupBy(idCol)
      .agg(concat_ws("",
          transform(array_sort(collect_list(struct(col("ms"), col("__seg")))),
            x => x.getField("__seg"))).as("__head"),
        max("me").as("__te"))
    df.select(col(idCol), col(textCol).as("__txt"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("__clean",
        when(col("__te").isNull, col("__txt"))
          .otherwise(concat(col("__head"),
            expr("substring(__txt, cast(__te as int))"))))
      .select(col(idCol), length(col("__clean")).cast("long").as("clean_chars"),
        md5(col("__clean")).as("clean_md5"))
  }

  /** (id, s, win) sliding-window rows — shared generator of the substring
    * dedup family (one codegen'd [[graft.functions.SlidingWindows]] kernel
    * per document, 1-based start positions matching SQL `substr`). */
  private def slidingWins(df: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.SlidingWindows.slidingWindows(col(textCol), w))
          .as(Seq("__p0", "__win")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("s"), col("__win"))

  /** Hash-keyed sibling of [[slidingWins]]: (id, s, __win:Long). */
  private def slidingWinsHashed(df: DataFrame, idCol: String, textCol: String,
                                w: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.SlidingWindowHashes
          .slidingWindowHashes(col(textCol), w)).as(Seq("__p0", "__win")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("s"), col("__win"))

  /** Merge equal-length duplicate spans (id, s, e) into maximal per-doc
    * islands (id, ms, me). Spans all have length w, so ordering by start
    * also orders ends: the island-start test needs only `lag(e)`, not a
    * running max. */
  private def mergeIslands(dups: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(idCol).orderBy(col("s"))
    dups
      .withColumn("__st",
        when(lag(col("e"), 1).over(byDoc).isNull
          .or(col("s") > lag(col("e"), 1).over(byDoc)), 1L).otherwise(0L))
      .withColumn("__isle", sum(col("__st"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isle"))
      .agg(min("s").as("ms"), max("e").as("me"))
      .drop("__isle")
  }

  /** Island merge + per-doc totals over `docs` — the shared tail of
    * [[substringDedupSpans]] and [[incrementalSubstringSpans]]. */
  private def mergeDupSpans(dups: DataFrame, docs: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val agg = mergeIslands(dups, idCol).groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("me") - col("ms")).as("dup_chars"))
    docs.select(col(idCol), length(col(textCol)).cast("long").as("total_chars"))
      .join(agg, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup_spans", "dup_chars"))
      .withColumn("kept_chars", col("total_chars") - col("dup_chars"))
  }

  /** Content-defined chunks of every document — the delta-friendly corpus
    * layout primitive ([[graft.functions.CdcChunks]]: Gear-style rolling-
    * hash cut points, so an edit resynchronizes at the first unaffected
    * window and every later chunk is byte-identical across versions;
    * fixed-size chunking shares ~nothing after one inserted byte). One
    * codegen'd pass per doc + a posexplode; chunk identity is the md5 of
    * the chunk text, so cross-version / cross-corpus chunk dedup is a
    * plain hash aggregation on a content-derived key space (the bucketed-
    * similarity invariant holds by construction).
    *
    * @return (idCol, chunk_idx, start, len, chunk_md5), start 1-based. */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           w: Int = 16, maskBits: Int = 6,
                           minLen: Int = 1,
                           maxLen: Int = Int.MaxValue): DataFrame =
    df.select(col(idCol), col(textCol).as("__t"),
        posexplode(graft.functions.CdcChunks.cdcChunks(
          col(textCol), w, maskBits, minLen, maxLen)).as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.start").as("start"), col("__c.len").as("len"),
        md5(expr("substring(__t, __c.start, __c.len)")).as("chunk_md5"))

  /** Persistable substring-dedup index: the DISTINCT `w`-codepoint windows
    * of the corpus — presence is sufficient for the incremental test,
    * because ANY indexed occurrence precedes (and therefore demotes) every
    * occurrence in a later batch. One hash aggregation; at corpus scale the
    * artifact lands bucketed on `win` ([[graft.sources.Writers.bucketedTable]])
    * so batch probes shuffle only the batch side. */
  def substringWindowIndex(df: DataFrame, textCol: String, w: Int): DataFrame =
    df.select(explode(graft.functions.SlidingWindows.slidingWindows(col(textCol), w))
        .as("win"))
      .distinct()

  /** Hash-keyed [[substringWindowIndex]]: the DISTINCT rolling hashes
    * (win_h — 8 bytes per corpus window, ≈6× smaller than the string
    * index). The incremental probe is INDEX-SCAN-BOUND (linear in index
    * bytes; the 100× probe measured it, PLANS r11), so shrinking the
    * persisted artifact is the probe-side lever, not a nicety. */
  def substringWindowIndexHashed(df: DataFrame, textCol: String,
                                 w: Int): DataFrame =
    df.select(explode(graft.functions.SlidingWindowHashes
        .slidingWindowHashes(col(textCol), w)).as("win_h"))
      .distinct()

  /** INCREMENTAL substring dedup — the d16 twin of [[incrementalExactDedup]]
    * / [[incrementalMinhashPairs]]: a new batch's duplicate spans against a
    * corpus summarized ONLY by its window index ([[substringWindowIndex]]).
    * A batch window is a duplicate span if it exists in the index (the
    * corpus occurrence came first) OR repeats within the batch beyond its
    * batch-first occurrence. Equals the full [[substringDedupSpans]] over
    * corpus ∪ batch restricted to batch docs whenever batch ids sort after
    * corpus ids (the spec pins this). The corpus text is never rescanned:
    * one probe join on the window value + the same island merge.
    */
  def incrementalSubstringSpans(newDocs: DataFrame, index: DataFrame,
                                idCol: String, textCol: String,
                                w: Int): DataFrame =
    incrementalSpansFrom(slidingWins(newDocs, idCol, textCol, w),
      index.select(col("win").as("__win")), newDocs, idCol, textCol, w)

  /** Hash-keyed [[incrementalSubstringSpans]] against a
    * [[substringWindowIndexHashed]] artifact — the same probe join with
    * 8-byte keys on BOTH sides (batch windows never materialize as
    * strings either). */
  def incrementalSubstringSpansHashed(newDocs: DataFrame, index: DataFrame,
                                      idCol: String, textCol: String,
                                      w: Int): DataFrame =
    incrementalSpansFrom(slidingWinsHashed(newDocs, idCol, textCol, w),
      index.select(col("win_h").as("__win")), newDocs, idCol, textCol, w)

  /** The incremental duplicate test over prepared batch window rows and a
    * presence-only index keyed the same way (string or hash). */
  private def incrementalSpansFrom(wins: DataFrame, index: DataFrame,
                                   newDocs: DataFrame, idCol: String,
                                   textCol: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWin = Window.partitionBy("__win")
    val dups = wins
      .join(index.withColumn("__ix", lit(1)), Seq("__win"), "left")
      .withColumn("rn", row_number().over(byWin.orderBy(col(idCol), col("s"))))
      .withColumn("cnt", count(lit(1)).over(byWin))
      .filter(col("__ix").isNotNull || (col("cnt") > 1 && col("rn") > 1))
      .select(col(idCol), col("s"), (col("s") + w).as("e"))
    mergeDupSpans(dups, newDocs, idCol, textCol)
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin candidate rule): every unordered pair whose
    * element-set Jaccard >= tauPpm/10⁶, with candidates drawn from an
    * equi-join on each set's PREFIX under one global element order
    * (document-frequency ascending, element ascending — rarest first).
    * The exact complement of [[minhashLshPairs]]: LSH recall is
    * probabilistic; the prefix filter is complete — two sets with
    * J >= tau share at least one element in their first
    * n − ⌈tau·n⌉ + 1 elements under ANY common total order, so the
    * equi-join yields a candidate SUPERSET and the integer-exact verify
    * loses nothing. Rarest-first ordering just minimizes candidates
    * (measured at sf0.01, 3-gram shingles, tau 0.5: 977 candidates vs
    * 124 750 all-pairs, 25 true pairs).
    *
    * Scale shape: one df aggregation, per-doc array sort, and an
    * equi-join keyed on element VALUES — a content-derived key space
    * that grows with the corpus (the bucketed-similarity invariant);
    * the all-pairs product never exists. The size filter
    * (min·10⁶ >= tau·max) prunes before payload re-attach; payloads
    * (the sorted element arrays) travel only to the deduplicated
    * candidate pairs via two id equi-joins, never through the prefix
    * shuffle. At corpus scale hash elements to 64-bit first (the d16d
    * lever) — the prefix theorem only needs SOME consistent total
    * order.
    *
    * Candidate cost is Σ_prefix-keys C(df, 2) — a property of the
    * corpus's df distribution, measurable for pennies BEFORE the verify
    * (tools/PrefixProbe counts it). On a corpus whose element space
    * grows with size (real text shingles) it is near-linear (exponent
    * 1.17 measured on the ScaleGen 10x, PLANS r11 s5); on a
    * BOUNDED-vocabulary corpus prefix-key df grows with the corpus and
    * candidates go quadratic (x401 at x10 docs measured sf0.01→sf0.1) —
    * there, prefer the LSH family (whose band-key space is corpus-sized
    * by construction) and keep this operator for exactness-critical
    * subsets.
    *
    * @param tauPpm Jaccard threshold in ppm (e.g. 500000 = 0.5)
    * @return (id1, id2, n1, n2, jac_ppm) with id1 < id2, exact
    */
  def prefixJaccardSelfJoin(df: DataFrame, idCol: String, toksCol: String,
                            tauPpm: Long): DataFrame = {
    // materialize-once (r15 opt, the dvf1 rule): `dfc` feeds the exploded
    // token table TWICE (the df-count branch and the join branch below) —
    // un-checkpointed, each branch re-ran the caller's scan + shingle
    // kernel (the d19 static plan showed the input scan EIGHT times).
    // `docs` stays UN-checkpointed deliberately: its consumers re-read the
    // (cheap, exchange-reused) post-shuffle aggregation with per-consumer
    // COLUMN PRUNING — the prefix explode never materializes the full rks
    // arrays — and checkpointing it measured d19 3.6 → 5.4 s (r15 opt).
    // A bare-checkpoint input (a memoized artifact) passes through.
    val dfc = if (org.apache.spark.sql.graft.Bridge.isBareCheckpoint(df)) df
              else df.localCheckpoint(true)
    val toks = dfc.select(col(idCol),
      explode(array_distinct(col(toksCol))).as("__tok"))
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val docs = toks.join(freq, "__tok")
      .groupBy(idCol)
      .agg(expr("transform(array_sort(collect_list(struct(__df, __tok))), x -> x.__tok)")
          .as("__rks"),
        count(lit(1)).as("__n"))
    val pref = docs.select(Seq(col(idCol), col("__n")) :+
      posexplode(expr(
        s"slice(__rks, 1, cast(__n - (($tauPpm * __n + 999999) div 1000000) + 1 as int))"))
        .as(Seq("__p", "__k")): _*)
    // positional filter (the PPJoin refinement): at a pair's FIRST common
    // prefix element (0-based positions p1, p2) total overlap is at most
    // min(n1 − p1, n2 − p2), and J >= tau needs overlap >=
    // ceil(tau·(n1+n2)/(1+tau)); occurrences failing the bound are
    // pruned — complete, because a true pair's first-common-element
    // occurrence always satisfies it (later occurrences may undercount
    // prior overlap, but the pair is already retained by the first).
    val cand = pref.select(col(idCol).as("id1"), col("__n").as("n1"),
        col("__p").as("__p1"), col("__k"))
      .join(pref.select(col(idCol).as("id2"), col("__n").as("n2"),
        col("__p").as("__p2"), col("__k")), Seq("__k"))
      .filter(col("id1") < col("id2"))
      .filter(least(col("n1"), col("n2")) * lit(1000000L) >=
        lit(tauPpm) * greatest(col("n1"), col("n2")))
      .filter(least(col("n1") - col("__p1"), col("n2") - col("__p2")) *
        lit(1000000L + tauPpm) >= lit(tauPpm) * (col("n1") + col("n2")))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    cand
      .join(docs.select(col(idCol).as("id1"), col("__rks").as("__r1"),
        col("__n").as("n1")), Seq("id1"))
      .join(docs.select(col(idCol).as("id2"), col("__rks").as("__r2"),
        col("__n").as("n2")), Seq("id2"))
      .withColumn("__inter",
        size(array_intersect(col("__r1"), col("__r2"))).cast("long"))
      .withColumn("__uni", col("n1") + col("n2") - col("__inter"))
      .filter(col("__inter") * lit(1000000L) >= lit(tauPpm) * col("__uni"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        TextOps.divPpm(col("__inter"), col("__uni")).as("jac_ppm"))
  }

  /** EXACT directed set-CONTAINMENT self-join: every ordered pair
    * (id1, id2) with |T1 ∩ T2| / |T1| >= tau — "id1 is tau-contained in
    * id2". The asymmetric sibling of [[prefixJaccardSelfJoin]]: quote and
    * boilerplate inclusion, truncated-copy detection, and sub-document
    * decontamination are containment questions, not Jaccard ones (a short
    * doc fully quoted inside a long one has low Jaccard but containment
    * 1.0).
    *
    * Candidates: the contained side exposes only its rarest-first PREFIX
    * (first n1 − ⌈tau·n1⌉ + 1 elements in the global (df, element) order —
    * if |T1∩T2| ≥ ⌈tau·n1⌉, pigeonhole puts a common element inside that
    * prefix); the containing side is probed on its FULL posting list (no
    * size upper bound exists for the container). Three prunes cut the
    * probe volume before any payload moves: the container-capacity filter
    * (n2 ≥ ⌈tau·n1⌉), and the PPJoin-style positional filter — at a pair's
    * first common element, overlap ≤ min(n1−p1, n2−p2), complete because
    * a true pair's first-common-element occurrence always passes. Exact
    * verify on the deduplicated candidates only.
    *
    * Scale shape: same content-derived join-key space as the Jaccard
    * prefix join, but candidate cost is Σ_prefix-keys df·prefdf (the
    * container side cannot be prefix-truncated) — on corpora with heavy
    * stopword shingles, hash elements and probe the candidate count first
    * (the d19 deployment rule applies with a larger constant).
    *
    * @param tauPpm containment threshold in ppm on the id1 side
    * @return (id1, id2, n1, n2, inter, cont_ppm), id1 != id2, exact */
  def containmentSelfJoin(df: DataFrame, idCol: String, toksCol: String,
                          tauPpm: Long): DataFrame = {
    // materialize-once on the INPUT only — see prefixJaccardSelfJoin
    // (same spine, same docs-stays-lazy rationale); bare inputs pass through
    val dfc = if (org.apache.spark.sql.graft.Bridge.isBareCheckpoint(df)) df
              else df.localCheckpoint(true)
    val toks = dfc.select(col(idCol),
      explode(array_distinct(col(toksCol))).as("__tok"))
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val docs = toks.join(freq, "__tok")
      .groupBy(idCol)
      .agg(expr("transform(array_sort(collect_list(struct(__df, __tok))), x -> x.__tok)")
          .as("__rks"),
        count(lit(1)).as("__n"))
    val pref = docs.select(Seq(col(idCol), col("__n")) :+
      posexplode(expr(
        s"slice(__rks, 1, cast(__n - (($tauPpm * __n + 999999) div 1000000) + 1 as int))"))
        .as(Seq("__p", "__k")): _*)
    val fullPost = docs.select(Seq(col(idCol), col("__n")) :+
      posexplode(col("__rks")).as(Seq("__p", "__k")): _*)
    // n2 >= ceil(tau*n1) and min(n1-p1, n2-p2) >= ceil(tau*n1), both as
    // integer >= real comparisons (k >= ceil(x) <=> k*10^6 >= tauPpm*n1)
    val cand = pref.select(col(idCol).as("id1"), col("__n").as("n1"),
        col("__p").as("__p1"), col("__k"))
      .join(fullPost.select(col(idCol).as("id2"), col("__n").as("n2"),
        col("__p").as("__p2"), col("__k")), Seq("__k"))
      .filter(col("id1") =!= col("id2"))
      .filter(col("n2") * lit(1000000L) >= lit(tauPpm) * col("n1"))
      .filter(least(col("n1") - col("__p1"), col("n2") - col("__p2")) *
        lit(1000000L) >= lit(tauPpm) * col("n1"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    cand
      .join(docs.select(col(idCol).as("id1"), col("__rks").as("__r1"),
        col("__n").as("n1")), Seq("id1"))
      .join(docs.select(col(idCol).as("id2"), col("__rks").as("__r2"),
        col("__n").as("n2")), Seq("id2"))
      .withColumn("inter",
        size(array_intersect(col("__r1"), col("__r2"))).cast("long"))
      .filter(col("inter") * lit(1000000L) >= lit(tauPpm) * col("n1"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        TextOps.divPpm(col("inter"), col("n1")).as("cont_ppm"))
  }
}
