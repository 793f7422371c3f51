package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload for a fixed time in whole rounds and prints one
  * JSON result line.
  *
  * Round 0 is the cold round: it pays class loading, JIT and first-use
  * costs and is reported alone, as `jvm.first_round_s` in a traced run;
  * the steady figures are medians over the second half of the rounds.
  * With `--trace 1`, odd rounds record spans and feed the per-layer
  * figures, even rounds stay untraced, and the ratio of their median
  * work times is the tracing overhead.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work-dir <dir> [--spans <file.jsonl>]
  */
object Main {

  def workload(name: String, seed: Long, opts: Map[String, String]): Workload = name match {
    case "catchup-backlog" => new Catchup(seed)
    case "ops-loop"        => new OpsLoop(seed, opts("work-dir"))
    case other             => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(argv: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val wl = workload(opts("workload"), opts("seed").toLong, opts)
    val trace = new Trace

    val b0 = System.nanoTime()
    wl.boot()
    val bootS = (System.nanoTime() - b0) / 1e9

    val (gc0, gcn0) = gcTotals()
    val jit0 = jitMs()
    val rounds = mutable.ArrayBuffer.empty[(RoundResult, Boolean)]
    val minRounds = if (traced) 5 else 4
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (rounds.length < minRounds || System.nanoTime() < deadline) {
      val r = rounds.length
      trace.on = traced && r % 2 == 1
      rounds += (wl.round(r, trace) -> trace.on)
      trace.on = false
    }
    val (gc1, gcn1) = gcTotals()
    val jit1 = jitMs()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    // Rounds in the first half of the run still warm the JIT and
    // Spark's generated code; the steady figures come from the rest.
    val steady = rounds.drop(math.max(1, rounds.length / 2))
    if (!traced) {
      val plain = steady.map(_._1)
      metrics("setup_s") = (bootS + Stats.median(rounds.map(_._1.setupS).toSeq), "s")
      metrics("items_per_s") = (Stats.median(plain.map(r => r.items / r.workS).toSeq), "1/s")
      val ops = plain.flatMap(_.opNs).toSeq
      metrics("op_p50_ms") = (if (ops.isEmpty) 0.0 else Stats.median(ops) / 1e6, "ms")
      metrics("retained_heap_mb") = (Workload.retainedMb(wl), "MB")
    } else {
      wl.afterTracedRounds()
      metrics ++= wl.layers()
      val n = rounds.length.toDouble
      metrics("jvm.gc_ms") = ((gc1 - gc0) / n, "ms")
      metrics("jvm.gc_count") = ((gcn1 - gcn0) / n, "count")
      metrics("jvm.jit_ms") = ((jit1 - jit0) / n, "ms")
      metrics("jvm.first_round_s") = (rounds.head._1.workS, "s")
      val on = steady.filter(_._2).map(_._1)
      val off = steady.filterNot(_._2).map(_._1)
      metrics("trace.overhead_pct") =
        ((Stats.median(on.map(_.workS).toSeq) / Stats.median(off.map(_.workS).toSeq) - 1.0) * 100.0, "%")
      metrics("trace.coverage_pct") = (Stats.median(on.map(r => r.coveredS / r.workS * 100.0).toSeq), "%")
      opts.get("spans").foreach(p => trace.writeJsonl(Paths.get(p), maxSpans = 20000))
    }
    wl.close()

    wl.errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    val attempted = rounds.map(_._1.attempted).sum
    val failed = rounds.map(_._1.failed).sum
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.4f").mkString(",")
    System.err.println(s"[perfbench] ${rounds.length} rounds, ${steady.count(_._2)} traced; jvm_start_s=${fmt(Seq(jvmStartS))} " +
      s"boot_s=${fmt(Seq(bootS))} round_setup_s=${fmt(rounds.map(_._1.setupS))} round_work_s=${fmt(rounds.map(_._1.workS))}")
    println(s"""{"correct": ${wl.errors.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
  }
}
