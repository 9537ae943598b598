package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import graft.CatalogBackend

/** One timed call: `rid` is the request it belongs to (-1: set-up),
  * `parent` the span that caused it (0: none). `probe` marks a call the
  * benchmark makes to time a layer that the program calls internally;
  * it is charged to its parent instead of adding to the request's time.
  * `counts` carries what the layer did (files kept, rows, bytes). */
final case class Span(id: Long, parent: Long, rid: Long, name: String,
                      startNs: Long, endNs: Long, probe: Boolean,
                      counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; spans are written out when the run ends.
  * `onEnter(rid, spanId)` runs whenever a thread's current span changes,
  * so work the thread hands to Spark can be tagged with it. */
final class Tracer(onEnter: (Long, Long) => Unit = (_, _) => ()) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (rid, span id)
    override def initialValue(): (Long, Long) = (-1L, 0L)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `f` as span `name` under the thread's current span (or as the
    * root of request `rid` when given). `counts` is computed from the
    * result once the call returns. */
  def span[A](name: String, rid: Long = Long.MinValue, probe: Boolean = false)
             (f: => A)(counts: A => Map[String, Long] = (_: A) => Map.empty[String, Long]): A = {
    val (curRid, parent) = current.get
    val r = if (rid == Long.MinValue) curRid else rid
    val id = ids.incrementAndGet()
    current.set((r, id))
    onEnter(r, id)
    val t0 = System.nanoTime()
    try {
      val out = f
      spans.add(Span(id, if (rid == Long.MinValue) parent else 0L, r, name, t0,
        System.nanoTime(), probe, counts(out)))
      out
    } finally { current.set((curRid, parent)); onEnter(curRid, parent) }
  }

  /** Record a span timed elsewhere, or a zero-length one carrying counts. */
  def record(parent: Long, rid: Long, name: String, startNs: Long, endNs: Long,
             counts: Map[String, Long]): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, rid, name, startNs, endNs, false, counts))
}

/** The catalog as the engine sees it, with a span around every call. The
  * file lists it hands out are kept per thread until `takeWalked`. */
final class TracedCatalog(val underlying: CatalogBackend, tracer: Tracer) extends CatalogBackend {
  private val walked = new ThreadLocal[Vector[(String, String, Seq[String])]] {
    override def initialValue() = Vector.empty
  }

  /** (db, table, paths) of every `prunedPaths` call on this thread since the last take. */
  def takeWalked(): Vector[(String, String, Seq[String])] = {
    val w = walked.get
    walked.set(Vector.empty)
    w
  }

  def databases: Seq[String] = tracer.span("catalog.list")(underlying.databases)()
  def tables(db: String): Seq[String] = tracer.span("catalog.list")(underlying.tables(db))()
  def tableExists(db: String, table: String): Boolean =
    tracer.span("catalog.list")(underlying.tableExists(db, table))()
  def prunedPaths(db: String, table: String, range: Option[(Long, Long)]): Seq[String] =
    tracer.span("catalog.walk")(underlying.prunedPaths(db, table, range)) { ps =>
      walked.set(walked.get :+ ((db, table, ps)))
      Map("files_kept" -> ps.size.toLong)
    }
  override def metadataStats(db: String, table: String): (Option[Long], Option[(Long, Long)]) =
    tracer.span("catalog.meta")(underlying.metadataStats(db, table))()
  override def metadataRangeCount(db: String, table: String, range: (Long, Long)): Option[Long] =
    tracer.span("catalog.meta")(underlying.metadataRangeCount(db, table, range))()
}

/** Spark work per job, from a listener the benchmark registers. Jobs
  * are attributed to a request by the `perfbench.rid` local property the
  * submitting thread carries (in-process calls), or, for one client over
  * HTTP, by the request interval the job started in. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Job
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val j = Job(e.jobId, prop(SparkCounters.RidKey).map(_.toLong).getOrElse(-1L),
      prop(SparkCounters.SpanKey).map(_.toLong).getOrElse(0L), e.time, -1L)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  def all: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
}

object SparkCounters {
  /** One job: the request and span that submitted it, its wall interval
    * (epoch ms) and what its tasks did. */
  final case class Job(id: Int, rid: Long, span: Long, startMs: Long, var endMs: Long,
                       var tasks: Long = 0, var cpuNs: Long = 0,
                       var inputBytes: Long = 0, var shuffleBytes: Long = 0)

  val RidKey = "perfbench.rid"
  val SpanKey = "perfbench.span"
}
