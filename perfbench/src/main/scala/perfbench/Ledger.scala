package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.streaming.{MsgId, Scale, StreamCommands, StreamMessage}
import graft.streaming.RespCodec._

/** Seeded message generator: message `i`'s fields are a pure function
  * of (seed, i), so a checker can recompute any delivered message from
  * its sequence number alone.
  *
  * The message shape is the reference example's (`ProtocolDemo`, after
  * the reference's example_implementation/producer.py): `iteration` = i
  * and `payload` = `item-i`. The seed makes the two fields the
  * micro-batch aggregate needs: `key`, one of `keys` keys, and `val`,
  * 0 to 65535. */
final class Gen(seed: Long, val keys: Int = 64) {

  private def mix(i: Long): Long = {
    // SplitMix64 finalizer over (seed, i)
    var z = seed * 0x9E3779B97F4A7C15L + (i + 1) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def key(i: Int): String = s"k${java.lang.Long.remainderUnsigned(mix(i), keys)}"
  def value(i: Int): Long = (mix(i) >>> 44) & 0xFFFF

  /** Field order is fixed: the producer writes these pairs in order. */
  def fields(i: Int): Seq[(String, String)] =
    Seq("iteration" -> i.toString, "payload" -> s"item-$i", "key" -> key(i), "val" -> value(i).toString)
}

/** The scaler's decision table recomputed from the reference's written
  * rules (scaler.py:74-97), independently of the program's copy. */
object RefScaler {
  def rate(backlog: Int, pending: Int): Double =
    if (backlog == 0 || pending == 0) 0.0
    else {
      val r = math.min(100.0, math.max(1.0, backlog.toDouble / pending * 100.0))
      BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  def suggestion(rate: Double, backlog: Int, consumers: Int, out: Int = 50, in: Int = 10): String =
    if (rate == 0.0) { if (backlog == 0) Scale.NoScale else Scale.Out }
    else if (rate < in && consumers > 1) Scale.In
    else if (rate >= out) Scale.Out
    else Scale.NoScale
}

/** The benchmark's own record of what was produced, delivered and
  * acked, and the protocol checks made against it. Errors are kept as
  * text; the first few are printed when a run is not correct. */
final class Ledger(gen: Gen) {
  private val errs = mutable.ArrayBuffer.empty[String]
  var errorCount = 0
  def fail(msg: String): Unit = { errorCount += 1; if (errs.length < 10) errs += msg }
  def errors: Seq[String] = errs.toSeq
  def ok: Boolean = errorCount == 0

  private val seqOf = mutable.HashMap.empty[String, Int]
  private val expected = mutable.HashMap.empty[Int, Map[String, String]]
  private val deliveredNew = mutable.HashSet.empty[String]
  private val acked = mutable.HashSet.empty[String]
  private var lastId = MsgId.Zero
  private var lastNew = MsgId.Zero

  var produced = 0
  var newDeliveries = 0
  var ownDeliveries = 0
  var ackReplySum = 0L

  /** The group's pending count as the ledger sees it. */
  def pending: Int = newDeliveries - ackReplySum.toInt
  def backlog: Int = produced - newDeliveries

  def onProduced(i: Int, id: String): Unit = {
    if (!MsgId.lt(lastId, id)) fail(s"XADD id $id not after $lastId")
    lastId = id
    seqOf(id) = i
    produced += 1
  }

  private def expectedOf(i: Int) = expected.getOrElseUpdate(i, gen.fields(i).toMap)

  private def checkContent(m: StreamMessage): Unit = seqOf.get(m.msgid) match {
    case None => fail(s"delivered id ${m.msgid} was never produced")
    case Some(i) => if (m.content != expectedOf(i)) fail(s"message $i (${m.msgid}) fields ${m.content} differ from the generator's")
  }

  /** XREADGROUP `>`: ids strictly increase across all consumers, no id
    * twice. [[onNew]] checks the fields too. */
  def onNewIds(ids: Iterator[String]): Unit = ids.foreach { id =>
    if (!MsgId.lt(lastNew, id)) fail(s"'>' delivered $id after $lastNew")
    if (!deliveredNew.add(id)) fail(s"'>' delivered $id twice")
    lastNew = id
    newDeliveries += 1
  }

  def onNew(msgs: Seq[StreamMessage]): Unit = {
    onNewIds(msgs.iterator.map(_.msgid))
    msgs.foreach(checkContent)
  }

  /** A re-read or a batch handed to a consumer: every message must be
    * delivered before, not yet acked, and carry the generator's fields. */
  def onOwned(msgs: Seq[StreamMessage]): Unit = msgs.foreach { m =>
    if (!deliveredNew.contains(m.msgid)) fail(s"re-read ${m.msgid} that '>' never delivered")
    if (acked.contains(m.msgid)) fail(s"re-read ${m.msgid} after it was acked")
    checkContent(m)
    ownDeliveries += 1
  }

  def onAck(ids: Seq[String], reply: Long): Unit = {
    ids.foreach(acked += _)
    ackReplySum += reply
  }

  /** A scaler's view of (backlog, pending) against the ledger's. */
  def checkScaler(who: String, got: (Int, Int), want: (Int, Int)): Unit =
    if (got != want) fail(s"$who (backlog, pending) = $got, ledger says $want")

  def checkDecision(who: String, got: (Double, String), backlog: Int, pending: Int, consumers: Int): Unit = {
    val r = RefScaler.rate(backlog, pending)
    val s = RefScaler.suggestion(r, backlog, consumers)
    if (math.abs(got._1 - r) > 1e-9 || got._2 != s)
      fail(s"$who decision $got, reference table gives ($r, $s) at backlog=$backlog pending=$pending consumers=$consumers")
  }

  /** End-of-round checks: every produced id acked exactly once by the
    * XACK replies' count, and the group's pending list empty. */
  def finish(xpendingRows: Int, infoPending: Long, lost: Int): Unit = {
    if (ackReplySum != produced) fail(s"XACK replies sum to $ackReplySum, $produced produced")
    val unacked = seqOf.keysIterator.filterNot(acked.contains).size
    if (unacked != 0) fail(s"$unacked produced ids never acked")
    if (deliveredNew.size != produced) fail(s"'>' delivered ${deliveredNew.size} of $produced")
    if (xpendingRows != 0) fail(s"XPENDING lists $xpendingRows entries at the end")
    if (infoPending != 0) fail(s"XINFO GROUPS pending = $infoPending at the end")
    if (lost != 0) fail(s"monitor reported $lost lost messages")
  }
}

/** What the two protocol workloads share. */
object Protocol {

  /** The group's pending list at the end of a round as `XPENDING` rows and
    * as the `pending` of `XINFO GROUPS`. */
  def pendingAtEnd(call: Seq[String] => Reply, stream: String, group: String, count: Int): (Int, Long) = {
    val rows = call(StreamCommands.xpendingRange(stream, group, count = count)) match {
      case ArrayReply(Some(rs)) => rs.length
      case _ => -1
    }
    val info = call(StreamCommands.xinfoGroups(stream)) match {
      case ArrayReply(Some(gs)) => gs.collect { case ArrayReply(Some(kv)) =>
        kv.grouped(2).collect { case Vector(k, v: IntReply) if k.text == "pending" => v.v }.sum }.sum
      case _ => -1L
    }
    (rows, info)
  }

  /** Loopback and control-plane samples of one traced round. */
  def sample(s: Workload.Samples, trace: Trace, traceFrom: Int, drainFrom: Int,
      newDeliveries: Int, batches: Int, claimed: Int, redelivered: Int, lost: Int): Unit = {
    for (cmd <- Seq("xadd", "xreadgroup", "xreadgroup0", "xack", "xpending", "xinfo"))
      s.add(s"loopback.$cmd", trace.durations(s"loopback.$cmd", traceFrom))
    s.add("control.monitor_sweep", trace.durations("control.monitor_sweep", traceFrom))
    s.add("control.scaler_decision", trace.durations("control.scaler_decision", traceFrom))
    s.round("loopback.busy_s", trace.busyNs("loopback.", traceFrom) / 1e9)
    s.round("loopback.calls", trace.count("loopback.", traceFrom).toDouble)
    val reads = trace.count("loopback.xreadgroup", traceFrom) - trace.count("loopback.xreadgroup0", traceFrom)
    s.round("loopback.msgs_per_read", newDeliveries.toDouble / reads)
    s.round("control.commands_per_batch", trace.count("loopback.", drainFrom).toDouble / batches)
    s.round("control.claimed", claimed.toDouble)
    s.round("control.redelivered", redelivered.toDouble)
    s.round("control.lost", lost.toDouble)
  }

  def layers(s: Workload.Samples): ListMap[String, (Double, String)] = ListMap(
    "loopback.xadd_p50_us" -> (s.q("loopback.xadd", 0.5, 1e-3), "us"),
    "loopback.xreadgroup_p50_us" -> (s.q("loopback.xreadgroup", 0.5, 1e-3), "us"),
    "loopback.xreadgroup_p99_us" -> (s.q("loopback.xreadgroup", 0.99, 1e-3), "us"),
    "loopback.xreadgroup0_p50_us" -> (s.q("loopback.xreadgroup0", 0.5, 1e-3), "us"),
    "loopback.xack_p50_us" -> (s.q("loopback.xack", 0.5, 1e-3), "us"),
    "loopback.xpending_p50_us" -> (s.q("loopback.xpending", 0.5, 1e-3), "us"),
    "loopback.xinfo_p50_us" -> (s.q("loopback.xinfo", 0.5, 1e-3), "us"),
    "loopback.busy_s" -> (s.med("loopback.busy_s"), "s"),
    "loopback.calls" -> (s.med("loopback.calls"), "count"),
    "loopback.msgs_per_read" -> (s.med("loopback.msgs_per_read"), "count"),
    "control.commands_per_batch" -> (s.med("control.commands_per_batch"), "count"),
    "control.monitor_sweep_p50_ms" -> (s.q("control.monitor_sweep", 0.5, 1e-6), "ms"),
    "control.scaler_decision_p50_ms" -> (s.q("control.scaler_decision", 0.5, 1e-6), "ms"),
    "control.claimed" -> (s.med("control.claimed"), "count"),
    "control.redelivered" -> (s.med("control.redelivered"), "count"),
    "control.lost" -> (s.med("control.lost"), "count"))
}
