package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs an action starts, with no settle sleep.
  *
  * Listener events post asynchronously, so a count read as soon as the
  * action returns can miss its last jobs. After `f` returns, one marker
  * job runs and the call waits until the counting listener itself has
  * seen the marker end. Listeners added through `addSparkListener` share
  * one queue, delivered in order, so every job started before the marker
  * has been counted by then. The marker is not counted.
  */
object JobCount {
  private val MarkerKey = "graft.jobcount.marker"

  def during[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val markerJob = new AtomicInteger(-1)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(MarkerKey) == marker))
          markerJob.set(js.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == markerJob.get) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(flushed.await(60, TimeUnit.SECONDS),
        "the job listener never saw the marker job end")
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
