package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object SparkJobs {
  private val JobTag = "graft.test.countedJobs"

  /** `body`'s result and the Spark jobs it started. Jobs are tagged with
    * a thread-local property; a marker job's end event, which the
    * listener bus delivers after every earlier event, bounds the wait. */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(JobTag)).foreach {
          case `tag` => jobs.incrementAndGet()
          case t if t == tag + "-marker" => markerJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get()) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, tag)
      val r = try body finally sc.setLocalProperty(JobTag, null)
      sc.setLocalProperty(JobTag, tag + "-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(JobTag, null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
