package perfbench

import scala.collection.mutable

import graft.streaming._
import graft.streaming.RespCodec._

/** catchup-backlog: four consumers drain a pre-loaded backlog through
  * `RespLoopback.execute` (no codec, no socket) with `XREADGROUP >`
  * COUNT 10 and one `XACK` per batch. One consumer stops acking
  * part-way; every few cycles the engine [[Monitor]] (autoCleanup)
  * claims its pending entries onto a healthy consumer, which re-reads
  * them with `XREADGROUP 0`, and a [[Scaler]] decision is checked beside
  * each sweep. A manual clock makes the command sequence identical in
  * every round. Work per read grows with stream length, so the backlog
  * size is fixed.
  *
  * From the reference example (`ProtocolDemo`): the message shape, one
  * add per 25 ms of clock, `COUNT 10`, and the monitor's thresholds
  * (pending above 5, idle above 60 s, no minimum idle for a claim). The
  * backlog size, the number of consumers, when the faulty consumer
  * stops, the sweep cadence and 1 ms of clock per consumer cycle are
  * the benchmark's own.
  */
final class Catchup(seed: Long, n: Int = 10000) extends Workload {
  private val S = "backlog"
  private val G = "workers"
  private val gen = new Gen(seed)
  private val consumers = Vector("c0", "c1", "c2", "c3")
  private val faulty = "c3"
  // The shape of the work is fixed; the seed only makes the messages, so
  // every seed costs the program the same.
  private val addEveryMs = 25  // clock ms between adds while pre-loading
  private val stopAfter = 20   // batches the faulty consumer acks before it stops
  private val sweepEvery = 4   // consumer cycles between monitor sweeps
  private val adds = Array.tabulate(n)(i => StreamCommands.xadd(S, gen.fields(i)))

  private val samples = new Workload.Samples
  private val errs = mutable.ArrayBuffer.empty[String]
  private var held: RespLoopback = null

  def errors: Seq[String] = errs.toSeq

  def round(r: Int, trace: Trace): RoundResult = {
    release()
    val ledger = new Ledger(gen)
    val clock = new ManualClock(1700000000000L)
    val lb = new RespLoopback(clock)
    var attempted = 0L
    var failed = 0L
    def exec(span: String, args: Seq[String]): Reply = {
      attempted += 1
      val rep = trace.span(span)(lb.execute(args))
      rep match {
        case ErrorReply(m) => failed += 1; ledger.fail(s"${args.head}: $m")
        case _ => ()
      }
      rep
    }
    def entries(rep: Reply): Seq[StreamMessage] =
      parseXRead(rep).headOption.map(_._2).getOrElse(Nil)
    val traceFrom = trace.size

    val t0 = System.nanoTime()
    exec("loopback.xgroup", StreamCommands.xgroupCreate(S, G))
    var i = 0
    while (i < n) {
      ledger.onProduced(i, exec("loopback.xadd", adds(i)).text)
      i += 1
      clock.advance(addEveryMs)
    }
    val group = lb.consumerGroup(S, G).get
    val monitor = new Monitor(Seq(group), batchSize = 5, idleTimeThresholdMs = 60000L, minWaitTimeMs = 0L)
    val scaler = new Scaler(lb.streamLog(S), G, clock)
    val setupS = (System.nanoTime() - t0) / 1e9

    val turnNs = mutable.ArrayBuffer.empty[Double]
    val live = mutable.LinkedHashSet.empty[String]
    var faultyBatches = 0
    var batches = 0
    var claimed, redelivered, lost = 0

    def timed[T](f: => T): (T, Long) = { val s = System.nanoTime(); val v = f; (v, System.nanoTime() - s) }
    def ack(ids: Seq[String]): Long = {
      val (rep, ns) = timed(exec("loopback.xack", StreamCommands.xack(S, G, ids)))
      ledger.onAck(ids, rep match { case IntReply(v) => v; case _ => 0L })
      ns
    }

    /** Re-read everything the sweep moved, owner by owner, in COUNT 10
      * pages; the page count is bounded by what XPENDING listed. */
    def reReadClaimed(): Unit = {
      val owners = exec("loopback.xpending", StreamCommands.xpendingRange(S, G, count = n)) match {
        case ArrayReply(Some(rows)) => rows.collect { case ArrayReply(Some(row)) => row(1).text }
        case _ => Vector.empty
      }
      owners.groupBy(identity).foreach { case (owner, owned) =>
        var pages = owned.length / 10 + 1
        while (pages > 0) {
          val msgs = entries(exec("loopback.xreadgroup0",
            StreamCommands.xreadgroup(G, owner, S, 10, 0, newOnly = false)))
          if (msgs.isEmpty) pages = 0
          else {
            ledger.onOwned(msgs)
            redelivered += msgs.length
            batches += 1
            ack(msgs.map(_.msgid))
            pages -= 1
          }
        }
      }
    }

    def sweep(): Unit = {
      val want = (ledger.backlog, ledger.pending)
      val (metrics, decision) = trace.span("control.scaler_decision") {
        (scaler.collectMetrics(), scaler.getScaleDecision())
      }
      ledger.checkScaler("Scaler", metrics, want)
      ledger.checkDecision("Scaler", decision, want._1, want._2, live.size)
      trace.span("control.monitor_sweep")(monitor.collectMonitoringData(autoCleanup = true))
      var moved = 0
      monitor.lastCleanup.foreach { case (dead, c, l) => moved += c; lost += l; live -= dead }
      claimed += moved
      if (moved > 0) reReadClaimed()
    }

    val drainFrom = trace.size
    val d0 = System.nanoTime()
    val maxCycles = n / 10 + 100
    var cycle = 0
    while ((ledger.backlog > 0 || ledger.pending > 0) && cycle < maxCycles) {
      consumers.foreach { c =>
        val (rep, readNs) = timed(exec("loopback.xreadgroup",
          StreamCommands.xreadgroup(G, c, S, 10, 0, newOnly = true)))
        live += c
        val msgs = entries(rep)
        ledger.onNew(msgs)
        if (msgs.nonEmpty) {
          batches += 1
          val ackNs =
            if (c == faulty && faultyBatches >= stopAfter) 0L
            else { if (c == faulty) faultyBatches += 1; ack(msgs.map(_.msgid)) }
          turnNs += (readNs + ackNs).toDouble
        }
      }
      cycle += 1
      clock.advance(1)
      if (cycle % sweepEvery == 0 || ledger.backlog == 0) sweep()
    }
    val workS = (System.nanoTime() - d0) / 1e9
    if (cycle == maxCycles) ledger.fail(s"drain did not finish within $maxCycles cycles")
    val coveredS = trace.busyNs("", drainFrom, topOnly = true) / 1e9

    val (pelRows, infoPending) = Protocol.pendingAtEnd(
      args => exec(if (args.head == "XPENDING") "loopback.xpending" else "loopback.xinfo", args), S, G, n)
    ledger.finish(pelRows, infoPending, lost)
    errs ++= ledger.errors.take(10 - errs.length)
    held = lb

    if (trace.on)
      Protocol.sample(samples, trace, traceFrom, drainFrom, ledger.newDeliveries, batches, claimed, redelivered, lost)
    RoundResult(setupS, workS, n.toLong, turnNs.toSeq, attempted, failed, coveredS)
  }

  /** `ConsumerGroup`'s global registry pins every group and its log
    * until the group is destroyed, so the group goes first. */
  def release(): Unit = if (held != null) {
    held.execute(StreamCommands.xgroupDestroy(S, G))
    held = null
  }

  def layers(): Map[String, (Double, String)] = Protocol.layers(samples)
}
