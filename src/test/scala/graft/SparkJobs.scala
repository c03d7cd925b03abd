package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. Listener events arrive
  * asynchronously, so after the block one marker job runs and the count
  * is read once the listener has seen the marker end: one listener queue
  * delivers events in order, so by then every job the block started has
  * delivered its start and its end.
  */
object SparkJobs {
  private val MarkerKey = "graft.test.jobCountMarker"

  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started, ended = new AtomicInteger
    val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markerIds.add(e.jobId)
        else started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.contains(e.jobId)) markerEnded.countDown()
        else ended.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(markerEnded.await(60, TimeUnit.SECONDS), "the marker job's end never arrived")
    } finally sc.removeSparkListener(listener)
    assert(started.get() == ended.get(), s"${started.get()} jobs started, ${ended.get()} ended")
    started.get()
  }
}
