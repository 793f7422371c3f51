package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.streaming._
import graft.streaming.RespCodec._

/** Result of one pass of the ops loop over some transport. */
private final case class Pass(setupS: Double, workS: Double, getItemsNs: Seq[Double],
    attempted: Long, failed: Long, bytesIn: Long, bytesOut: Long, batches: Int, drainFrom: Int,
    newDeliveries: Int)

/** ops-loop: the reference client loop on wire bytes, one thread.
  *
  * A round starts with the reference example's burst: 40 adds, 25 ms of
  * clock apart. Then two [[WireConsumer]]s (batch 10) take turns: each
  * calls `getItems` and acks every item with its own `XACK`, and every
  * few turns [[WireMonitor]] sweeps and [[WireScaler]] decides. The
  * [[WireProducer]] adds with `MAXLEN ~` and keeps the example's pace,
  * one message per 25 ms of clock: it runs on the clock's sleep hook, so
  * the messages that fall due while a consumer polls are added during
  * that poll, as a producer process would add them. Every call goes
  * through `RespLoopback.call`, so `RespCodec` encodes and decodes both
  * ways. MAXLEN bounds the stream, so the engine's work per read does
  * not grow with run length.
  *
  * From the reference example (`ProtocolDemo`): the message shape, MAXLEN
  * 64, the 40-message burst, one add per 25 ms, batch 10, max wait
  * 2000 ms, poll 250 ms, and the monitor's thresholds (pending above 5,
  * idle above 60 s, no minimum idle for a claim). The messages per round
  * and the sweep cadence are the benchmark's own.
  *
  * A traced run also replays the loop over TCP and the micro-batch query
  * of [[MicroBatch]] (in `workDir`) after its rounds, for the transport
  * and streaming layers' figures; neither is gated.
  */
final class OpsLoop(seed: Long, workDir: String = "", total: Int = 6000) extends Workload {
  private val S = "ops"
  private val G = "svc"
  private val maxlen = 64
  private val trimSlack = 16 // StreamLog's approximate-trim macro node
  private val burst = 40
  private val addEveryMs = 25L
  private val monitorEvery = 5
  private val gen = new Gen(seed)
  private val payloads = Array.tabulate(total)(gen.fields)

  private val samples = new Workload.Samples
  private val errs = mutable.ArrayBuffer.empty[String]
  private var held: RespLoopback = null

  def errors: Seq[String] = errs.toSeq

  private def loopbackSpan(args: Seq[String]): String = args.head match {
    case "XREADGROUP" => if (args.last == ">") "loopback.xreadgroup" else "loopback.xreadgroup0"
    case cmd => "loopback." + cmd.toLowerCase
  }

  private def newIds(rep: Reply): Seq[String] = rep match {
    case ArrayReply(Some(Vector(ArrayReply(Some(Vector(_, ArrayReply(Some(es)))))))) =>
      es.collect { case ArrayReply(Some(e)) => e.head.text }
    case _ => Nil
  }

  /** Runs the loop once; `raw` carries one command to `lb` and back. */
  private def pass(trace: Trace, clock: ManualClock, raw: (Seq[String], Array[Long]) => Reply): Pass = {
    val ledger = new Ledger(gen)
    var attempted = 0L
    var failed = 0L
    val bytes = Array(0L, 0L)
    val call: Seq[String] => Reply = { args =>
      attempted += 1
      val rep = raw(args, bytes)
      args.head match {
        case _ if rep.isInstanceOf[ErrorReply] =>
          failed += 1; ledger.fail(s"${args.head}: ${rep.asInstanceOf[ErrorReply].msg}")
        case "XADD" => ledger.onProduced(ledger.produced, rep.text)
        case "XREADGROUP" if args.last == ">" => ledger.onNewIds(newIds(rep).iterator)
        case "XACK" => ledger.onAck(args.drop(3), rep match { case IntReply(v) => v; case _ => 0L })
        case _ => ()
      }
      rep
    }

    val t0 = System.nanoTime()
    val start = clock.nowMs
    val producer = new WireProducer(call, S, Some(maxlen.toLong))
    val consumers = Seq("a", "b").map(id => new WireConsumer(call, S, G, id, batchSize = 10,
      maxWaitTimeMs = 2000L, pollTimeMs = 250L, clock = clock))
    val monitor = new WireMonitor(call, S, G, batchSize = 5, minWaitTimeMs = 0L, idleTimeThresholdMs = 60000L)
    val scaler = new WireScaler(call, S, G)
    var next = 0
    while (next < burst) {
      producer.add(payloads(next)); next += 1
      clock.advance(addEveryMs)
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    // The producer: every message due by the clock, added when a
    // consumer's poll moves the clock on. The clock outlives the pass
    // (the loopback holds it), so the hook reaches the producer through
    // a slot that is emptied at the end, and keeps nothing of the pass.
    var produceNs = 0L
    val hook = Array[Long => Unit] { now =>
      val due = math.min(total.toLong, (now - start) / addEveryMs).toInt
      if (next < due) {
        val s = System.nanoTime()
        trace.span("control.produce") {
          while (next < due) { producer.add(payloads(next)); next += 1 }
        }
        produceNs += System.nanoTime() - s
      }
    }
    clock.onSleep(now => if (hook(0) != null) hook(0)(now))

    val getItemsNs = mutable.ArrayBuffer.empty[Double]
    var batches = 0
    var lost = 0
    val drainFrom = trace.size
    val d0 = System.nanoTime()
    var step = 0
    val maxSteps = total
    while ((next < total || ledger.backlog > 0 || ledger.pending > 0) && step < maxSteps) {
      val got = consumers.map { c =>
        val p0 = produceNs
        val s = System.nanoTime()
        val items = trace.span("control.get_items")(c.getItems())
        getItemsNs += (System.nanoTime() - s - (produceNs - p0)).toDouble
        if (items.nonEmpty) batches += 1
        ledger.onOwned(items)
        (c, items)
      }
      if (step % monitorEvery == 0) {
        val trueBacklog = ledger.backlog
        // The reference's len(XRANGE last-delivered last-generated) - 1:
        // exact while the last-delivered entry is still in the stream,
        // one short when the cursor is still 0-0.
        val wireBacklog =
          if (trueBacklog == 0) 0 else if (ledger.newDeliveries == 0) trueBacklog - 1 else trueBacklog
        val want = (wireBacklog, ledger.pending)
        val (metrics, decision) = trace.span("control.scaler_decision") {
          (scaler.collectMetrics(), scaler.getScaleDecision())
        }
        ledger.checkScaler("WireScaler", metrics, want)
        ledger.checkDecision("WireScaler", decision, want._1, want._2, consumers = consumers.length)
        trace.span("control.monitor_sweep")(monitor.collectMonitoringData(autoCleanup = true))
        lost += monitor.lastCleanup.map(_._3).sum
        if (next >= maxlen) {
          val len = call(StreamCommands.xlen(S)) match { case IntReply(v) => v; case _ => -1L }
          if (len < maxlen || len >= maxlen + trimSlack)
            ledger.fail(s"XLEN $len outside [$maxlen, ${maxlen + trimSlack}) after ${ledger.produced} adds")
        }
      }
      trace.span("control.ack")(got.foreach { case (c, items) => items.foreach(m => c.removeItemFromConsumerGroup(m.msgid)) })
      step += 1
    }
    val workS = (System.nanoTime() - d0) / 1e9
    hook(0) = null
    if (step == maxSteps) ledger.fail(s"loop did not finish within $maxSteps steps")

    val (pelRows, infoPending) = Protocol.pendingAtEnd(call, S, G, total)
    ledger.finish(pelRows, infoPending, lost)
    if (ledger.produced != total) ledger.fail(s"produced ${ledger.produced} of $total")
    errs ++= ledger.errors.take(10 - errs.length)
    Pass(setupS, workS, getItemsNs.toSeq, attempted, failed, bytes(0), bytes(1), batches, drainFrom,
      ledger.newDeliveries)
  }

  def round(r: Int, trace: Trace): RoundResult = {
    val t0 = System.nanoTime()
    val clock = new ManualClock(1700000000000L)
    val lb = new RespLoopback(clock)
    val lbS = (System.nanoTime() - t0) / 1e9
    val traceFrom = trace.size
    val raw: (Seq[String], Array[Long]) => Reply = { (args, bytes) =>
      if (!trace.on) {
        val req = encodeStrings(args)
        val out = lb.call(req)
        bytes(0) += req.length; bytes(1) += out.length
        decode(out).get._1
      } else {
        // RespLoopback.call split at its three steps, so each is timed.
        val req = trace.span("codec.client_encode")(encodeStrings(args))
        val parsed = trace.span("codec.server_decode")(decode(req))
        val rep = parsed match {
          case Some((ArrayReply(Some(parts)), _)) => trace.span(loopbackSpan(args))(lb.execute(parts.map(_.text)))
          case _ => ErrorReply("ERR malformed command")
        }
        val out = trace.span("codec.server_encode")(encodeReply(rep))
        bytes(0) += req.length; bytes(1) += out.length
        trace.span("codec.client_decode")(decode(out).get._1)
      }
    }
    release()
    val p = pass(trace, clock, raw)
    held = lb
    val coveredS = trace.busyNs("", p.drainFrom, topOnly = true) / 1e9
    if (trace.on) {
      Protocol.sample(samples, trace, traceFrom, p.drainFrom, p.newDeliveries, p.batches, 0, 0, 0)
      for (c <- Seq("client_encode", "server_decode", "server_encode", "client_decode"))
        samples.add(s"codec.$c", trace.durations(s"codec.$c", traceFrom))
      samples.add("control.get_items", trace.durations("control.get_items", traceFrom))
      samples.round("codec.busy_s", trace.busyNs("codec.", traceFrom) / 1e9)
      samples.round("codec.bytes_in_per_msg", p.bytesIn.toDouble / total)
      samples.round("codec.bytes_out_per_msg", p.bytesOut.toDouble / total)
    }
    RoundResult(lbS + p.setupS, p.workS, total.toLong, p.getItemsNs, p.attempted, p.failed, coveredS)
  }

  private var streamLayers = Map.empty[String, (Double, String)]

  /** The same loop over one TCP connection to [[RespServer]]; timed on
    * the client thread, CPU counted for the whole process. Then the
    * micro-batch query, traced on its odd rounds. */
  override def afterTracedRounds(): Unit = {
    tcpReplay()
    val mb = new MicroBatch(seed, workDir)
    try {
      mb.boot()
      val trace = new Trace
      for (r <- 0 until MicroBatch.tracedRounds) {
        trace.on = r % 2 == 1
        mb.round(r, trace)
      }
      streamLayers = mb.layers()
    } finally mb.close()
    errs ++= mb.errors.take(10 - errs.length)
  }

  private def tcpReplay(): Unit = {
    val clock = new ManualClock(1700000000000L)
    val server = new RespServer(new RespLoopback(clock))
    val client = new RespClient(server.host, server.port)
    try {
      val rtt = mutable.ArrayBuffer.empty[Double]
      val raw: (Seq[String], Array[Long]) => Reply = { (args, _) =>
        val s = System.nanoTime()
        val rep = client.call(args)
        rtt += (System.nanoTime() - s).toDouble
        rep
      }
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val cpu0 = os.getProcessCpuTime
      val p = pass(new Trace, clock, raw)
      val cpuNs = os.getProcessCpuTime - cpu0
      samples.add("transport.rtt", rtt)
      samples.round("transport.tcp_msgs_s", total / p.workS)
      samples.round("transport.cpu_us_per_msg", cpuNs / 1e3 / total)
    } finally { client.close(); server.close() }
  }

  /** `ConsumerGroup`'s global registry pins every group and its log
    * until the group is destroyed, so the group goes first. */
  def release(): Unit = if (held != null) {
    held.execute(StreamCommands.xgroupDestroy(S, G))
    held = null
  }

  def layers(): Map[String, (Double, String)] = {
    val s = samples
    Protocol.layers(s) ++ streamLayers ++ ListMap(
      "codec.server_decode_p50_ns" -> (s.q("codec.server_decode", 0.5, 1.0), "ns"),
      "codec.server_encode_p50_ns" -> (s.q("codec.server_encode", 0.5, 1.0), "ns"),
      "codec.client_encode_p50_ns" -> (s.q("codec.client_encode", 0.5, 1.0), "ns"),
      "codec.client_decode_p50_ns" -> (s.q("codec.client_decode", 0.5, 1.0), "ns"),
      "codec.busy_s" -> (s.med("codec.busy_s"), "s"),
      "codec.bytes_in_per_msg" -> (s.med("codec.bytes_in_per_msg"), "B/msg"),
      "codec.bytes_out_per_msg" -> (s.med("codec.bytes_out_per_msg"), "B/msg"),
      "control.get_items_p99_us" -> (s.q("control.get_items", 0.99, 1e-3), "us"),
      "transport.rtt_p50_us" -> (s.q("transport.rtt", 0.5, 1e-3), "us"),
      "transport.rtt_p99_us" -> (s.q("transport.rtt", 0.99, 1e-3), "us"),
      "transport.tcp_msgs_s" -> (s.med("transport.tcp_msgs_s"), "msg/s"),
      "transport.cpu_us_per_msg" -> (s.med("transport.cpu_us_per_msg"), "us"))
  }
}
