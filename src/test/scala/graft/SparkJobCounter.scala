package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Exact counts of the Spark jobs, stages, tasks and shuffle bytes
  * written that `body` launches on the calling thread. Jobs and stages
  * are tagged through a thread-local property, and a task counts when
  * its stage did. The listener bus is asynchronous but delivers in
  * order, so once a marker job's start event arrives, every earlier
  * job's, stage's and finished task's event has been counted. */
object SparkJobCounter {
  private val Tag = "graft.test.jobTag"

  final case class Counts(jobs: Int, stages: Int, tasks: Int, shuffleBytes: Long)

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, c) = counts(spark)(body)
    (out, c.jobs)
  }

  def counts[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger(0)
    val shuffleBytes = new AtomicLong(0)
    val marker = new CountDownLatch(1)
    def tagOf(props: java.util.Properties) = Option(props).flatMap(p => Option(p.getProperty(Tag)))
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tagOf(js.properties).foreach {
          case `id` => jobs.incrementAndGet()
          case t if t == id + "-end" => marker.countDown()
          case _ =>
        }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (tagOf(s.properties).contains(id)) stageIds.add(s.stageInfo.stageId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(t.stageId)) {
          tasks.incrementAndGet()
          Option(t.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
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
      (out, Counts(jobs.get(), stageIds.size, tasks.get(), shuffleBytes.get()))
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
