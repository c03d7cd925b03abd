package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. Listener events arrive
  * asynchronously, and one listener queue delivers them in order, so the
  * block is bracketed by two marker jobs: events delivered before the
  * first marker's end belong to earlier work and are ignored, and the
  * count is read once the second marker's end has arrived, by when every
  * job the block started has delivered its start and its end. Only ends
  * of jobs whose start was counted are counted, so a job of earlier work
  * that is still running cannot unbalance the check. [[run]] also names
  * each counted job by its first stage (e.g. `parquet at Tables.scala:19`),
  * so a guard that fails can say which job came or went.
  */
object SparkJobs {
  private val MarkerKey = "graft.test.jobCountMarker"

  def count(spark: SparkSession)(body: => Unit): Int = run(spark)(body).size

  /** The first-stage names of the jobs `body` starts, in start order. */
  def run(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentSkipListMap[Int, String]()
    val started, ended, markersEnded = new AtomicInteger
    val startedIds, markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val firstMarkerEnded, lastMarkerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markerIds.add(e.jobId)
        else if (markersEnded.get == 1) {
          startedIds.add(e.jobId); started.incrementAndGet()
          names.put(e.jobId, e.stageInfos.sortBy(_.stageId).headOption.fold("?")(_.name))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.contains(e.jobId)) {
          if (markersEnded.incrementAndGet() == 1) firstMarkerEnded.countDown()
          else lastMarkerEnded.countDown()
        } else if (startedIds.contains(e.jobId)) ended.incrementAndGet()
    }
    def marker(ended: CountDownLatch): Unit = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(ended.await(60, TimeUnit.SECONDS), "a marker job's end never arrived")
    }
    sc.addSparkListener(listener)
    try {
      marker(firstMarkerEnded)
      body
      marker(lastMarkerEnded)
    } finally sc.removeSparkListener(listener)
    assert(started.get() == ended.get(), s"${started.get()} jobs started, ${ended.get()} ended")
    names.values.asScala.toSeq
  }
}
