package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Records Spark's jobs, stages and task metrics for the traced laps.
  *
  * Each job is tied to the statement that submitted it through the job
  * description the harness sets (`stmt:<id>`); a job without one (none
  * are expected) keeps a null statement and the caller places it by time.
  * Listener events arrive asynchronously, so [[drain]] waits for the
  * counters to settle before the caller writes the files.
  */
final class TraceListener extends SparkListener {

  private final class Job(val id: Int, val stmt: Integer, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }

  private final class StageAgg(val stageId: Int, val attempt: Int) {
    @volatile var stmt: Integer = null
    @volatile var job: Int = -1
    @volatile var submittedMs: Long = -1L
    @volatile var completedMs: Long = -1L
    val tasks = new AtomicLong()
    val failed = new AtomicLong()
    val runMs = new AtomicLong()
    val cpuNs = new AtomicLong()
    val durationMs = new AtomicLong()
    val schedDelayMs = new AtomicLong()
    val inputBytes = new AtomicLong()
    val shuffleReadBytes = new AtomicLong()
    val shuffleWriteBytes = new AtomicLong()
    val spillBytes = new AtomicLong()
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val stageStmt = new ConcurrentHashMap[Int, (Integer, Int)]()
  private val events = new AtomicLong()

  private def stage(id: Int, attempt: Int): StageAgg = {
    val s = stages.computeIfAbsent((id, attempt), _ => new StageAgg(id, attempt))
    Option(stageStmt.get(id)).foreach { case (st, j) => s.stmt = st; s.job = j }
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val stmt: Integer = desc.filter(_.startsWith("stmt:"))
      .map(d => Integer.valueOf(d.stripPrefix("stmt:").toInt)).orNull
    jobs.put(e.jobId, new Job(e.jobId, stmt, e.time))
    e.stageIds.foreach(s => stageStmt.put(s, (stmt, e.jobId)))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submittedMs < 0) s.submittedMs = e.stageInfo.submissionTime.getOrElse(s.completedMs)
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks.incrementAndGet()
    e.reason match {
      case org.apache.spark.Success => ()
      case _ => s.failed.incrementAndGet()
    }
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      s.runMs.addAndGet(m.executorRunTime)
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      s.shuffleReadBytes.addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (info != null) {
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        // the scheduler-delay formula of Spark's own stage page
        s.schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      }
    }
    if (info != null) s.durationMs.addAndGet(info.duration)
    events.incrementAndGet()
  }

  /** Wait (bounded, at most ~2 s) until no event arrived for 50 ms. */
  def drain(): Unit = {
    var last = -1L
    var spins = 0
    while (spins < 40 && events.get() != last) {
      last = events.get()
      Thread.sleep(50)
      spins += 1
    }
  }

  private def us(ms: Long): Json.Raw = Json.num(ms * 1000.0)

  def spanLines(): Seq[String] = {
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).filter(_.endMs >= 0).map { j =>
      Json.obj("stmt" -> j.stmt, "name" -> "exec.job", "job" -> j.id,
        "start_us" -> us(j.startMs), "end_us" -> us(j.endMs))
    }
    val stageSpans = stages.values.asScala.toSeq.sortBy(s => (s.stageId, s.attempt))
      .filter(s => s.submittedMs >= 0 && s.completedMs >= 0).map { s =>
        Json.obj("stmt" -> s.stmt, "name" -> "exec.stage", "job" -> s.job,
          "stage" -> s.stageId, "start_us" -> us(s.submittedMs), "end_us" -> us(s.completedMs))
      }
    jobSpans ++ stageSpans
  }

  def stageLines(): Seq[String] =
    stages.values.asScala.toSeq.sortBy(s => (s.stageId, s.attempt)).map { s =>
      Json.obj("stmt" -> s.stmt, "job" -> s.job, "stage" -> s.stageId,
        "attempt" -> s.attempt, "tasks" -> s.tasks.get, "failed" -> s.failed.get,
        "run_ms" -> s.runMs.get, "cpu_ns" -> s.cpuNs.get, "duration_ms" -> s.durationMs.get,
        "sched_delay_ms" -> s.schedDelayMs.get, "input_bytes" -> s.inputBytes.get,
        "shuffle_read_bytes" -> s.shuffleReadBytes.get,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.get, "spill_bytes" -> s.spillBytes.get)
    }
}
