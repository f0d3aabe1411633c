package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Spark 4 removed `Column.expr` / `new Column(Expression)` from the public
  * API; the supported conversion lives in `org.apache.spark.sql.classic.
  * ExpressionUtils`, which is `private[sql]`. This bridge re-exports the two
  * conversions to graft. It is the only place graft touches a non-public
  * Spark API, and it goes through the blessed classic conversion path.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Free the block-manager storage behind a `localCheckpoint(true)`-ed
    * frame. Iterative operators (transitive closure, label propagation)
    * checkpoint every round; without this, every superseded round's blocks
    * stay resident until the session dies — unbounded storage growth on
    * deep fixpoints. Call ONLY once nothing will read the frame again: the
    * checkpoint truncated its lineage, so freed blocks cannot be recomputed.
    */
  def freeCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    freeCheckpointExcept(df, Set.empty)

  /** RDD ids of every `LogicalRDD` reachable in `df`'s analyzed plan.
    * An iterative operator snapshots its INPUT's set before the loop so
    * [[freeCheckpointExcept]] can free the loop's own superseded
    * checkpoints without ever unpersisting a block the caller still owns
    * (a round-0 frame derives from the input, so a bare plan walk would
    * reach — and free — a checkpointed caller frame; see the r10
    * assignClustersApprox regression, VERDICT r10 #1). */
  def checkpointIds(df: org.apache.spark.sql.Dataset[_]): Set[Int] = {
    val b = Set.newBuilder[Int]
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => b += lr.rdd.id
        case _ => ()
      }
    b.result()
  }

  /** True when `df`'s analyzed plan is already a bare LogicalRDD leaf —
    * an eager checkpoint / materialized artifact that re-reads without
    * recomputation. Iterative operators use this to materialize an
    * unmaterialized input ONCE instead of re-running its build subtree
    * every round, while passing an already-checkpointed artifact (the
    * g5/g6 co-purchase frame) through untouched. */
  def isBareCheckpoint(df: org.apache.spark.sql.Dataset[_]): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** `localCheckpoint(true)` that KEEPS its hash layout visible to the
    * planner. A plain localCheckpoint lands `UnknownPartitioning` under
    * AQE (the physical plan is an un-finalized AdaptiveSparkPlanExec when
    * the checkpoint captures it — PLANS r15 s1), so an iterative
    * operator's RESIDENT frame — checkpointed once, joined every round —
    * is re-exchanged, i.e. re-WRITTEN to shuffle storage, on every round
    * it participates in (the r15 s6 plan audit; AQE's late broadcast
    * conversion does not spare the write either). This helper shuffles
    * ONCE into exactly `spark.sql.shuffle.partitions` buckets
    * (`repartition(n, cols)` — REPARTITION_BY_NUM, which AQE must
    * preserve verbatim, never coalesce), materializes, and rebuilds the
    * LogicalRDD leaf advertising `HashPartitioning(cols, n)` (and, with
    * `sorted=true`, a per-partition ascending SortOrder backed by a
    * sortWithinPartitions before the materialization). Downstream joins
    * and aggregations keyed on a prefix-compatible set then satisfy their
    * distribution requirement in place: only the round's frontier frame
    * moves, the resident frame is scanned where it sits.
    *
    * The bucket count is SCALE-ADAPTIVE, not the local core count: with
    * `numParts <= 0`, n = clamp(bytes / coalescePartitions.minPartitionSize,
    * 1, numShufflePartitions) — the same parallelism-first sizing rule
    * AQE's coalescer applies to ordinary exchanges, which
    * REPARTITION_BY_NUM shuffles (required here: a coalesced hash layout
    * merges buckets and is no longer HashPartitioning) opt out of. Without
    * this, a small graph pays `spark.sql.shuffle.partitions` near-empty
    * tasks per round where the plain-checkpoint path would have
    * AQE-coalesced to one (measured: d6 0.49 → 1.91 s under a fixed n = 32
    * advertisement, back under the adaptive one — r15 opt). The bytes come
    * from `bytesHint` (an operator that already staged its input knows the
    * size class — r15's separate sizing checkpoint cost every iterative
    * operator a second full materialization, VERDICT r15 #1/#3), from the
    * frame's own storage registration when it is already a bare
    * checkpoint, or — last resort — from a plain staging checkpoint (no
    * shuffle, no sort; freed right after the layout). Per-round frames
    * pass the resident frame's count via `numParts`
    * ([[advertisedNumPartitions]]) so every round stays co-partitioned
    * without re-staging.
    *
    * Safety: the advertisement is exactly the layout the repartition
    * produced — same hash family (`HashPartitioning`), same column order,
    * same count — and a runtime guard refuses the rebuild (returning the
    * plain checkpoint, merely slower) if the materialized RDD's partition
    * count differs from `n` for any reason. Origin constraints are
    * deliberately dropped — they crash `UnionBase.rewriteConstraints`
    * when they reference dropped-side attributes (PLANS r15 s1) and only
    * feed optional filter inference; origin stats pass through so a small
    * frame stays visibly broadcastable downstream. BridgePartitioningSpec
    * pins result parity and the exchange-free plan shape.
    */
  def localCheckpointPartitioned(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                                 cols: Seq[String],
                                 sorted: Boolean = false,
                                 numParts: Int = 0,
                                 bytesHint: Long = -1L): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession
    val maxN = session.sessionState.conf.numShufflePartitions
    // Float-family layout keys are rejected outright (ADVICE r15 #1):
    // join equality on float/double goes through NormalizeFloatingNumbers
    // (-0.0 ≡ 0.0, canonical NaN), so a hash layout over RAW float bytes
    // is not the layout a join on that key requires — the advertisement
    // contract is "exactly the produced layout", and this is the one key
    // class where hash-of-raw and join-equality can disagree. No graft
    // operator keys a resident frame on floats; fail loudly if one tries.
    def hasFloat(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasFloat(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasFloat(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
      case _ => false
    }
    cols.foreach { c =>
      require(!hasFloat(df.schema(c).dataType),
        s"localCheckpointPartitioned: layout column '$c' is float-family " +
          s"(${df.schema(c).dataType.simpleString}) — a raw-bytes hash " +
          "advertisement can disagree with float join equality (-0.0/NaN); " +
          "key the layout on a non-float column")
    }
    // Sizing rule = AQE's coalescer in its default PARALLELISM-FIRST mode:
    // shrink the count only while partitions stay above minPartitionSize
    // (1 MB default) — NOT the advisory target, which trades parallelism
    // for size and starved a 10x-volume k-core peel to 6 partitions on 32
    // cores (KcoreProbe: 24.3 s vs 8-ish; exponent 0.99 vs 0.41 — r15 opt
    // adjudication). Small frames still land at 1-few partitions (the
    // d6/g2 fix). Bytes come from (in order): the caller's hint (an
    // operator that staged its INPUT already knows the size class — the
    // r15 double-materialization cost, VERDICT r15 #1/#3), the frame's own
    // storage registration when it is already a bare checkpoint, or a
    // plain staging checkpoint (no shuffle, no sort; freed after the
    // layout). An optimistic full-parallelism first layout was tried for
    // the fallback and measured strictly worse — the frames that actually
    // reach it are the small/unknown ones (g1's 930-edge graph ran 136
    // tasks vs 62 under plain staging; r16 opt).
    val minPart = session.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      .max(1L)
    def adapt(b: Long): Int = ((b + minPart - 1) / minPart).min(maxN.toLong).toInt.max(1)
    def layout(src: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               n: Int): org.apache.spark.sql.DataFrame = {
      val laid0 = src.repartition(n, cols.map(col): _*)
      val laid = if (sorted) laid0.sortWithinPartitions(cols.map(col): _*) else laid0
      laid.localCheckpoint(true)
    }
    val knownBytes: Option[Long] =
      if (numParts > 0) None
      else if (bytesHint > 0L) Some(bytesHint)
      else checkpointStorageBytes(df)
    val (cp, n) =
      if (numParts > 0) (layout(df, numParts), numParts)
      else knownBytes match {
        case Some(b) => val nn = adapt(b); (layout(df, nn), nn)
        case None =>
          // no hint: stage a PLAIN checkpoint (no shuffle, no sort — the
          // cheapest possible materialization) to learn the bytes, then
          // lay out at the right n. Every big-frame operator passes
          // bytesHint (its input is a bare checkpoint with registered
          // bytes), so this path serves frames of UNKNOWN size — in
          // practice the vocabulary-bounded word graphs and zone
          // hierarchies, where an optimistic full-parallelism first
          // layout measured strictly worse (g1 62 → 136 tasks: a 32-way
          // sorted layout of a 930-edge frame, then a re-layout — r16
          // probe) than this cheap stage.
          val cp0 = df.localCheckpoint(true)
          val nn = checkpointStorageBytes(cp0).map(adapt).getOrElse(maxN)
          val re = layout(cp0, nn)
          freeCheckpoint(cp0) // the sizing stage is dead weight now
          (re, nn)
      }
    cp.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getNumPartitions == n =>
        val attrs = cols.map { c =>
          lr.output.filter(a => session.sessionState.conf.resolver(a.name, c)) match {
            case Seq(one) => one
            case other => sys.error(
              s"localCheckpointPartitioned: column '$c' resolves to ${other.size} attributes")
          }
        }
        val ordering =
          if (sorted) attrs.map(a => SortOrder(a, Ascending)) else Nil
        // originStats pass through (computeStats returns them verbatim):
        // a small checkpointed frame must stay visibly small, or every
        // downstream auto-broadcast of it degrades to a sort-merge join
        // (caught by the d13 label-table plan pin). originConstraints stay
        // dropped — checkpoint-origin constraints referencing dropped-side
        // attrs crash UnionBase.rewriteConstraints (PLANS r15 s1), and
        // constraints only feed optional filter inference.
        val relaid = new LogicalRDD(
          lr.output, lr.rdd, HashPartitioning(attrs, n), ordering,
          lr.isStreaming, lr.getStream)(session, Some(lr.computeStats()))
        org.apache.spark.sql.classic.Dataset.ofRows(session, relaid)
      case _ => cp
    }
  }

  /** Per-round checkpoint of an iterative operator's node-dimension frame:
    * the co-partitioned layout at the resident frame's count
    * ([[localCheckpointPartitioned]] with `numParts`), EXCEPT when that
    * count is 1 — every stage is a single task there (tiny graph), so the
    * per-round repartition bought no exchange-freedom and cost a stage per
    * round (g1 ran 136 tasks vs 62 before this rule — r16 opt). */
  def localCheckpointRound(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                           cols: Seq[String],
                           numParts: Int): org.apache.spark.sql.DataFrame =
    if (numParts <= 1) df.localCheckpoint(true)
    else localCheckpointPartitioned(df, cols, numParts = numParts)

  /** Actual materialized bytes of a bare eager-checkpoint leaf, from the
    * block manager's storage registry (mem + disk). None when the frame
    * is not a bare LogicalRDD or its blocks are not registered. */
  def checkpointStorageBytes(df: org.apache.spark.sql.Dataset[_]): Option[Long] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** Partition count advertised by a [[localCheckpointPartitioned]] leaf —
    * per-round frames of an iterative operator pass this as `numParts` so
    * every round stays co-partitioned with the resident frame. None when
    * `df` carries no hash advertisement. */
  def advertisedNumPartitions(df: org.apache.spark.sql.Dataset[_]): Option[Int] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.outputPartitioning match {
          case hp: HashPartitioning => Some(hp.numPartitions)
          case _ => None
        }
      case _ => None
    }

  /** `df`'s plan re-bound to `session`: every job the returned frame submits
    * is planned by `session` and carries its artifact state, so its tasks
    * use that session's executor classloader and hit the codegen cache
    * entries compiled under it (the `graft.streaming.ExactlyOnce` session
    * rule: a foreachBatch micro-batch is re-bound to the caller's session).
    *
    * A micro-batch's `LogicalRDD` leaf keeps the stream session in its
    * second parameter list: the leaf reads it only to copy itself and for
    * the default size estimate (`conf.defaultSizeInBytes`, which the clone
    * copies from the caller), so rebuilding the leaf would change nothing. */
  def inSession(df: org.apache.spark.sql.DataFrame,
                session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.logical)

  /** Block until the Spark listener bus has delivered every queued event —
    * graft.Bench reads its listener-accumulated per-run counters after an
    * action returns, but events are dispatched asynchronously: a late
    * stage-completed event would be lost from the finishing run or
    * miscounted into the next one. Test-utility API, safe on a live bus. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The hash-layout advertisement carried by a bare checkpoint leaf, as
    * column names — `Some(cols)` when `df` is a LogicalRDD advertising
    * `HashPartitioning(cols, _)` (a [[localCheckpointPartitioned]]
    * artifact), None otherwise. Iterative operators use it to skip
    * re-laying-out an input artifact that already sits in the layout they
    * need. */
  def advertisedHashCols(df: org.apache.spark.sql.Dataset[_]): Option[Seq[String]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.outputPartitioning match {
          case hp: HashPartitioning =>
            val names = hp.expressions.map {
              case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
              case _ => return None
            }
            Some(names)
          case _ => None
        }
      case _ => None
    }

  /** [[freeCheckpoint]], but LogicalRDDs whose rdd id is in `keep` are
    * left alone — the iterative-operator hygiene primitive: pair with
    * [[checkpointIds]] on the operator's input. */
  def freeCheckpointExcept(df: org.apache.spark.sql.Dataset[_],
                           keep: Set[Int]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD
            if !keep.contains(lr.rdd.id) => lr.rdd.unpersist(false)
        case _ => ()
      }
}
