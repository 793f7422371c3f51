package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One round of a workload's fixed, seeded work, as measured.
  *
  * @param setupS    set-up paid again every round (pre-load, query start)
  * @param workS     wall time of the measured part
  * @param items     messages or rows the measured part moved
  * @param opNs      latencies of the workload's unit operation, in ns
  * @param attempted operations sent to the program
  * @param failed    operations the program answered with an error
  * @param coveredS  time inside top-level spans within the measured part
  *                  (traced rounds only)
  */
final case class RoundResult(
    setupS: Double,
    workS: Double,
    items: Long,
    opNs: Seq[Double],
    attempted: Long,
    failed: Long,
    coveredS: Double = 0.0)

/** A workload runs rounds; traced rounds feed its per-layer figures. */
trait Workload {
  /** One-time set-up: engine or session start. */
  def boot(): Unit = ()
  def round(r: Int, trace: Trace): RoundResult
  /** Drops every reference to what the last round left in the program
    * (its stream, group, query), so a full GC can free it. */
  def release(): Unit
  /** Runs after the rounds of a traced run. */
  def afterTracedRounds(): Unit = ()
  /** Per-layer figures from the traced rounds: name -> (value, unit). */
  def layers(): Map[String, (Double, String)]
  /** Problems the checks found; empty when every output was right. */
  def errors: Seq[String]
  def close(): Unit = ()
}

object Workload {
  /** Live heap in MB: what the heap pools held right after a full GC.
    * Read from the pools' collection usage, so objects allocated after
    * the collection (by Spark's own threads, say) do not count. */
  def liveHeapMb(): Double = {
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Least live heap over repeated full GCs, taken once a GC frees less
    * than 16 KB more than the ones before: Spark's cleaner threads drop
    * references between collections, so a single reading can run high. */
  def settledLiveHeapMb(): Double = {
    var least = liveHeapMb()
    var freeing = true
    var k = 0
    while (freeing && k < 10) {
      Thread.sleep(20)
      val mb = liveHeapMb()
      freeing = mb < least - 0.016
      least = math.min(least, mb)
      k += 1
    }
    least
  }

  /** MB the program retains for the last round: live heap with that
    * round's state held, less live heap once `wl` has released it. */
  def retainedMb(wl: Workload): Double = {
    val held = settledLiveHeapMb()
    wl.release()
    held - settledLiveHeapMb()
  }

  /** Per-round layer samples: a percentile pools every sample of the
    * traced rounds; a per-round figure is the median over those rounds. */
  final class Samples {
    private val pooled = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    private val perRound = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(name: String, xs: Iterable[Double]): Unit =
      pooled.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= xs
    def round(name: String, x: Double): Unit =
      perRound.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += x
    def pool(name: String): Seq[Double] = pooled.get(name).map(_.toSeq).getOrElse(Nil)

    /** q-quantile of a pooled sample scaled by `scale`; a tail quantile
      * without ten samples beyond it, or an empty sample, reads 0. */
    def q(name: String, p: Double, scale: Double): Double = {
      val xs = pool(name)
      val v = if (p <= 0.5) (if (xs.isEmpty) None else Some(Stats.quantile(xs, p))) else Stats.tail(xs, p)
      v.map(_ * scale).getOrElse(0.0)
    }
    def med(name: String): Double =
      perRound.get(name).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
  }
}
