package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the raw record (no library beyond the JDK). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** A span at one layer boundary: run, pass, op, construct, execute (the
  * harness), job and stage (Spark listener), batch (streaming listener).
  * Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start" -> start, "end" -> end)
}

/** Traced-run recorder. Jobs inherit the harness's local properties
  * (`perfbench.span`, `perfbench.pass`, `perfbench.phase`), which tie every
  * job and stage to the op phase that submitted it. Task metrics are summed
  * per stage; RDD block writes (checkpoints) are charged to the job open
  * when they arrive, since listener events are delivered in bus order. */
final class Recorder extends SparkListener {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val openJobs = mutable.LinkedHashSet.empty[Int]
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  def span(s: Span): Unit = synchronized { spans += s }

  private def stage(id: Int): mutable.Map[String, Any] = stages.getOrElseUpdate(id,
    mutable.Map[String, Any]("id" -> id, "job" -> stageJob.getOrElse(id, -1),
      "tasks" -> 0L, "failed_tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L,
      "gc_ms" -> 0L, "shuffle_write" -> 0L, "shuffle_read" -> 0L,
      "spill_disk" -> 0L, "peak_mem_max" -> 0L, "in_bytes" -> 0L,
      "in_records" -> 0L, "out_bytes" -> 0L, "file_scan" -> false))

  private def add(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m(k) = m(k).asInstanceOf[Long] + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobs(e.jobId) = mutable.Map[String, Any]("id" -> e.jobId,
      "start" -> e.time.toDouble, "span" -> prop("perfbench.span"),
      "pass" -> prop("perfbench.pass"), "phase" -> prop("perfbench.phase"),
      "blocks" -> 0L, "block_bytes" -> 0L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    openJobs += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = e.time.toDouble)
    openJobs -= e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    add(s, "tasks", 1)
    if (!e.taskInfo.successful) add(s, "failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(s, "run_ms", m.executorRunTime)
      add(s, "cpu_ns", m.executorCpuTime)
      add(s, "gc_ms", m.jvmGCTime)
      add(s, "shuffle_write", m.shuffleWriteMetrics.bytesWritten)
      add(s, "shuffle_read", m.shuffleReadMetrics.totalBytesRead)
      add(s, "spill_disk", m.diskBytesSpilled)
      add(s, "in_bytes", m.inputMetrics.bytesRead)
      add(s, "in_records", m.inputMetrics.recordsRead)
      add(s, "out_bytes", m.outputMetrics.bytesWritten)
      s("peak_mem_max") = math.max(s("peak_mem_max").asInstanceOf[Long],
        m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s("start") = i.submissionTime.map(_.toDouble).orNull
    s("end") = i.completionTime.map(_.toDouble).orNull
    // Input read by a stage that scans files is source input; input read
    // by any other stage comes from cached/checkpointed RDD blocks.
    s("file_scan") = i.rddInfos.exists(r =>
      r.name == "FileScanRDD" || r.name == "DataSourceRDD")
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      openJobs.lastOption.flatMap(jobs.get).foreach { j =>
        add(j, "blocks", 1)
        add(j, "block_bytes", b.memSize + b.diskSize)
      }
  }

  /** Streaming micro-batch progress: one batch span plus its `durationMs`. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        batches += Map("batch" -> p.batchId, "start" -> start,
          "end" -> (start + ms("triggerExecution")), "rows" -> p.numInputRows,
          "add_batch_ms" -> ms("addBatch"), "wal_commit_ms" -> ms("walCommit"),
          "commit_offsets_ms" -> ms("commitOffsets"),
          "query_planning_ms" -> ms("queryPlanning"))
      }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("spans" -> spans.map(_.toMap), "jobs" -> jobs.values.map(_.toMap),
      "stages" -> stages.values.map(_.toMap), "batches" -> batches)
  }
}
