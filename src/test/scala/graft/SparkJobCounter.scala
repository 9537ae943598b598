package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact count of the Spark jobs `body` launches on the calling thread.
  * Jobs are tagged through a thread-local property. The listener bus is
  * asynchronous but delivers in order, so once a marker job's start
  * event arrives, every earlier job's start has been counted. */
object SparkJobCounter {
  private val Tag = "graft.test.jobTag"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(Tag)).foreach {
          case `id` => jobs.incrementAndGet()
          case t if t == id + "-end" => marker.countDown()
          case _ =>
        }
    }
    val prev = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, id)
      val out = body
      sc.setLocalProperty(Tag, id + "-end")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job start never delivered")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
