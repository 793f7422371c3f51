package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is (name, start ns, end ns, parent span id); id is the index
  * in the buffers, parent -1 marks a top-level span. Spans are recorded
  * only while `on` is set, so a round run with tracing off pays one
  * branch per call site. Single-threaded: every workload drives the
  * program from one thread, and the TCP replay times calls on the
  * client thread only.
  */
final class Trace {
  var on = false

  private val names = mutable.ArrayBuffer.empty[String]
  private val nameIds = mutable.HashMap.empty[String, Int]
  private var nameOf = new Array[Int](1 << 16)
  private var start = new Array[Long](1 << 16)
  private var end = new Array[Long](1 << 16)
  private var parent = new Array[Int](1 << 16)
  private var n = 0
  private var current = -1

  def size: Int = n

  private def grow(): Unit = {
    val cap = nameOf.length * 2
    nameOf = java.util.Arrays.copyOf(nameOf, cap)
    start = java.util.Arrays.copyOf(start, cap)
    end = java.util.Arrays.copyOf(end, cap)
    parent = java.util.Arrays.copyOf(parent, cap)
  }

  private def idOf(name: String): Int =
    nameIds.getOrElseUpdate(name, { names += name; names.length - 1 })

  @inline def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      if (n == nameOf.length) grow()
      val id = n
      n += 1
      nameOf(id) = idOf(name)
      parent(id) = current
      current = id
      start(id) = System.nanoTime()
      try body
      finally {
        end(id) = System.nanoTime()
        current = parent(id)
      }
    }

  /** Durations in ns of the spans called `name` recorded since `from`. */
  def durations(name: String, from: Int = 0): Seq[Double] = {
    val id = nameIds.getOrElse(name, -1)
    (from until n).filter(i => nameOf(i) == id).map(i => (end(i) - start(i)).toDouble)
  }

  /** Sum in ns of the spans whose name starts with `prefix`, since `from`;
    * with `topOnly`, only spans that have no parent. */
  def busyNs(prefix: String, from: Int = 0, topOnly: Boolean = false): Long = {
    var s = 0L
    var i = from
    while (i < n) {
      if ((!topOnly || parent(i) < 0) && names(nameOf(i)).startsWith(prefix)) s += end(i) - start(i)
      i += 1
    }
    s
  }

  def count(prefix: String, from: Int = 0): Int =
    (from until n).count(i => names(nameOf(i)).startsWith(prefix))

  /** Writes the first `maxSpans` spans, one JSON object per line. */
  def writeJsonl(path: Path, maxSpans: Int): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try {
      var i = 0
      while (i < math.min(n, maxSpans)) {
        w.write(s"""{"id":$i,"name":"${names(nameOf(i))}","start_ns":${start(i)},"end_ns":${end(i)},"parent":${parent(i)}}""")
        w.newLine()
        i += 1
      }
    } finally w.close()
  }
}
