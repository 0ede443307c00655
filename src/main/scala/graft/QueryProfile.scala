package graft

import java.lang.management.ManagementFactory
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one block of code cost the JVM and the Spark scheduler.
  *
  * @param wall        seconds from the start to the end of the block
  * @param cpu         process CPU seconds over the same interval; in local
  *                    mode every executor thread lives in this JVM, so this
  *                    is the block's task, codegen and GC cost (-1 on a JVM
  *                    without the `com.sun` OS bean)
  * @param gc          stop-the-world collection seconds, all collectors
  * @param jit         JIT compilation seconds, all compiler threads (-1 when
  *                    the JVM does not monitor compile time)
  * @param jobs        Spark jobs the block started
  * @param tasks       tasks of those jobs that ended, and their executor
  *                    run seconds (`taskSec`) and failures (`taskFail`)
  * @param spillMem    memory and disk bytes those tasks spilled
  * @param peakExec    the largest peak execution memory of one task
  * @param storageUsed BlockManager storage bytes in use when the block ended
  */
final case class QueryProfile(wall: Double, cpu: Double, gc: Double,
    jit: Double = 0.0, jobs: Int = 0, tasks: Int = 0, taskSec: Double = 0.0,
    taskFail: Int = 0, spillMem: Long = 0L, spillDisk: Long = 0L,
    peakExec: Long = 0L, storageUsed: Long = 0L)

object QueryProfile {

  private val MarkerKey = "graft.profile.marker"

  private val osBean = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  private val jitBean = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)

  private def cpuNs(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
  private def jitMs(): Long = jitBean.map(_.getTotalCompilationTime).getOrElse(-1L)
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Counts the jobs started after `since` (epoch ms) and the ended tasks
    * of their stages, until the marker job starts.
    */
  private final class Counts(marker: String, since: Long) extends SparkListener {
    val markerSeen = new CountDownLatch(1)
    var closed = false
    private val stages = scala.collection.mutable.Set.empty[Int]
    var jobs, tasks, taskFail = 0
    var runMs, spillMem, spillDisk, peakExec = 0L

    // the bus delivers events on one thread, in the order they were posted
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(MarkerKey) == marker)) {
        closed = true
        markerSeen.countDown()
      } else if (!closed && e.time >= since) {
        jobs += 1
        stages ++= e.stageIds
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!closed && stages.contains(e.stageId)) {
        tasks += 1
        if (e.reason != org.apache.spark.Success) taskFail += 1
        Option(e.taskMetrics).foreach { m =>
          runMs += m.executorRunTime
          spillMem += m.memoryBytesSpilled
          spillDisk += m.diskBytesSpilled
          peakExec = math.max(peakExec, m.peakExecutionMemory)
        }
      }
  }

  /** `body`'s result and its profile. A body that throws rethrows, with
    * the listener removed.
    *
    * Listener events arrive asynchronously but in the order they were
    * posted, and a job posts its tasks' end events before its action
    * returns. So a marker job run after `body` starts after every event of
    * `body`: once the listener has seen the marker start, it has seen all
    * of them, and none of the marker's own. Jobs still queued from before
    * `body` are told apart by their submission time, and their tasks by
    * their stage.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, QueryProfile) = {
    val sc = spark.sparkContext
    val marker = UUID.randomUUID().toString
    val counts = new Counts(marker, System.currentTimeMillis())
    sc.addSparkListener(counts)
    try {
      val (j0, c0, g0) = (jitMs(), cpuNs(), gcMs())
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = if (c0 < 0) -1.0 else (cpuNs() - c0) / 1e9
      val gc = (gcMs() - g0) / 1e3
      val jit = if (j0 < 0) -1.0 else (jitMs() - j0) / 1e3
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(counts.markerSeen.await(30, TimeUnit.SECONDS), "the marker job's start never arrived")
      val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      (result, QueryProfile(wall, cpu, gc, jit, counts.jobs, counts.tasks, counts.runMs / 1e3,
        counts.taskFail, counts.spillMem, counts.spillDisk, counts.peakExec, storage))
    } finally sc.removeSparkListener(counts)
  }
}
