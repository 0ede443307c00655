package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object JobCount {

  private val MarkerKey = "graft.jobcount.marker"

  /** `body`'s result and the number of jobs it started. Listener events
    * arrive asynchronously but in the order they were posted, so a marker
    * job run after `body` starts after every job of `body`: once the
    * listener has seen the marker start, it has seen all of them.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) == marker)) seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(seen.await(30, TimeUnit.SECONDS), "the marker job's start never arrived")
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
