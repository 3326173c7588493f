package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query layer counters from Spark's public listener interfaces.
  *
  * Every job carries the local property [[Tracer.QidKey]], set by the
  * harness around each query, so execution events are attributed to the
  * query that started them even though the listener bus delivers them
  * asynchronously. Streaming runs are attributed at `onQueryStarted`,
  * which Spark delivers synchronously while the starting query waits.
  */
class Tracer extends SparkListener {
  import Tracer._

  /** The query the harness is running now (fallback attribution). */
  @volatile var current: String = ""

  private val counters = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val stageQid = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new ConcurrentHashMap[String, mutable.ArrayBuffer[Long]]()
  private val stageSpans = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val runQid = new ConcurrentHashMap[java.util.UUID, String]()
  private val runStartMs = new ConcurrentHashMap[java.util.UUID, Long]()

  private def add(qid: String, key: String, v: Double): Unit =
    if (qid != null && qid.nonEmpty) {
      val m = counters.computeIfAbsent(qid, _ => mutable.Map.empty[String, Double])
      m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
    }

  private def listFor[T](m: ConcurrentHashMap[String, mutable.ArrayBuffer[T]], qid: String) =
    m.computeIfAbsent(qid, _ => mutable.ArrayBuffer.empty[T])

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fromProps = Option(e.properties).flatMap(p => Option(p.getProperty(QidKey)))
    val qid = fromProps.filter(_.nonEmpty).getOrElse(current)
    e.stageInfos.foreach(s => stageQid.put(s.stageId, qid))
    add(qid, "exec.jobs", 1)
    val starts = listFor(jobStartMs, qid)
    starts.synchronized { starts += e.time }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stageSubmitMs.put(s.stageId, s.submissionTime.getOrElse(System.currentTimeMillis()))
    add(stageQid.getOrDefault(s.stageId, current), "exec.stages", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val qid = stageQid.getOrDefault(s.stageId, current)
    val start = s.submissionTime.getOrElse(stageSubmitMs.getOrDefault(s.stageId, 0L))
    val end = s.completionTime.getOrElse(System.currentTimeMillis())
    if (qid.nonEmpty) {
      val spans = listFor(stageSpans, qid)
      spans.synchronized { spans += ((start, end)) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val qid = stageQid.getOrDefault(e.stageId, current)
    add(qid, "exec.tasks", 1)
    val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
    add(qid, "exec.task_wait_s", math.max(0L, e.taskInfo.launchTime - submitted) / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      add(qid, "exec.task_run_s", m.executorRunTime / 1e3)
      add(qid, "exec.task_cpu_s", m.executorCpuTime / 1e9)
      add(qid, "exec.task_gc_s", m.jvmGCTime / 1e3)
      add(qid, "exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add(qid, "exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add(qid, "exec.spill_mb", m.diskBytesSpilled / MB)
      add(qid, "exec.input_mb", m.inputMetrics.bytesRead / MB)
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      runQid.put(e.runId, current)
      runStartMs.put(e.runId, System.currentTimeMillis())
    }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val qid = runQid.getOrDefault(p.runId, current)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      add(qid, "streaming.batches", 1)
      for ((key, phase) <- DurationKeys) add(qid, key, d.getOrElse(phase, 0.0))
      p.stateOperators.foreach { so =>
        add(qid, "streaming.state_commit_s", so.commitTimeMs / 1e3)
        add(qid, "streaming.state_rows", so.numRowsUpdated.toDouble)
      }
      // Query start to the end of its first trigger.
      val started = runStartMs.remove(p.runId)
      if (started != 0L) {
        val triggerEnd = java.time.Instant.parse(p.timestamp).toEpochMilli +
          d.getOrElse("triggerExecution", 0.0) * 1e3
        add(qid, "streaming.start_s", math.max(0.0, triggerEnd - started) / 1e3)
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Counters of one query; call after the listener bus is drained. */
  def counters(qid: String): Map[String, Double] =
    Option(counters.get(qid)).map(m => m.synchronized(m.toMap)).getOrElse(Map.empty)

  /** Jobs of `qid` that started no later than `untilMs`. */
  def jobsStartedBy(qid: String, untilMs: Long): Int =
    Option(jobStartMs.get(qid)).map(b => b.synchronized(b.count(_ <= untilMs))).getOrElse(0)

  /** Wall time of [w0, w1] not covered by any stage of `qid`. */
  def uncoveredMs(qid: String, w0: Long, w1: Long): Long = {
    val spans = Option(stageSpans.get(qid)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
    val clipped = spans.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (w1 - w0) - covered
  }
}

object Tracer {
  val QidKey = "graftbench.qid"
  private val MB = 1024.0 * 1024.0
  /** Per-layer name → `StreamingQueryProgress.durationMs` phase. */
  val DurationKeys: Seq[(String, String)] = Seq(
    "streaming.trigger_s" -> "triggerExecution",
    "streaming.add_batch_s" -> "addBatch",
    "streaming.query_planning_s" -> "queryPlanning",
    "streaming.wal_commit_s" -> "walCommit",
    "streaming.commit_offsets_s" -> "commitOffsets",
    "streaming.latest_offset_s" -> "latestOffset",
  )
  /** Every counter a traced query reports, zero when its layer is idle. */
  val CounterKeys: Seq[String] = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.task_gc_s", "exec.task_wait_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.input_mb", "streaming.batches", "streaming.state_commit_s",
    "streaming.state_rows", "streaming.start_s") ++ DurationKeys.map(_._1)
}
