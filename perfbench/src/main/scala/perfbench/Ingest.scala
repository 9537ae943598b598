package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The writer of a live table: appends `Lake.liveSlices` one quarter
  * hour at a time through `append`, runs `compact` after every completed
  * hour, and tells readers what has been acknowledged. Appends and
  * compactions run on the writer's thread only, so they never race each
  * other; readers race both, as they would in a deployment. */
final class Ingest(append: Int => Unit, compact: () => Unit) extends Live {
  private val acked = new CopyOnWriteArrayList[Slice]()
  private val counted = new AtomicInteger(0)
  @volatile private var settled = Lake.EventsEnd
  /** Wall intervals (epoch ms) of the compactions. */
  val compactions = new ConcurrentLinkedQueue[(Long, Long)]()

  def settledEnd: Long = settled

  def takeSlice(): Option[Slice] = {
    val i = counted.get
    if (i >= acked.size) None
    else if (counted.compareAndSet(i, i + 1)) Some(acked.get(i))
    else takeSlice()
  }

  def slices: Seq[Slice] = acked.asScala.toSeq

  /** Appends slices until `stop()` holds before the next one. */
  def run(stop: () => Boolean): Unit = {
    var k = 0
    while (!stop()) {
      append(k)
      val start = Lake.EventsEnd + k * Lake.SliceNs
      acked.add(Slice(k, start, start + Lake.SliceNs, Lake.SliceRows, System.nanoTime()))
      k += 1
      if (k % Lake.SlicesPerHour == 0) {
        settled = Lake.EventsEnd + (k / Lake.SlicesPerHour) * Lake.HourNs
        val t0 = System.currentTimeMillis()
        compact()
        compactions.add((t0, System.currentTimeMillis()))
      }
    }
  }

  /** Whether the epoch-ms interval [from, to] overlaps a compaction. */
  def duringCompaction(from: Long, to: Long): Boolean =
    compactions.asScala.exists { case (a, b) => from <= b && a <= to }
}
