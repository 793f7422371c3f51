package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamMessage

/** Every checker passes clean input and fails on one seeded fault. */
class CheckerSpec extends AnyFunSuite {

  private val gen = new Gen(7)
  private val n = 30
  private val ids = (0 until n).map(i => s"1700000000000-$i")
  private def msg(i: Int) = StreamMessage(ids(i), gen.fields(i).toMap)

  /** A ledger that saw every id produced and delivered once by `>`,
    * with `deliver` applied to the messages on their way. */
  private def delivered(deliver: StreamMessage => StreamMessage = identity): Ledger = {
    val l = new Ledger(gen)
    ids.zipWithIndex.foreach { case (id, i) => l.onProduced(i, id) }
    (0 until n).grouped(10).foreach(b => l.onNew(b.map(i => deliver(msg(i)))))
    l
  }

  test("ledger: clean deliveries and acks pass every check") {
    val l = delivered()
    l.onAck(ids, n.toLong)
    l.finish(xpendingRows = 0, infoPending = 0, lost = 0)
    assert(l.errors.isEmpty, l.errors)
  }

  test("ledger: one ack withheld fails the check") {
    val l = delivered()
    l.onAck(ids.filterNot(_ == ids(11)), n - 1L)
    l.finish(xpendingRows = 1, infoPending = 1, lost = 0)
    assert(l.errors.exists(_.contains(s"XACK replies sum to ${n - 1}, $n produced")), l.errors)
    assert(l.errors.exists(_.contains("1 produced ids never acked")), l.errors)
    assert(l.errors.exists(_.contains("XPENDING lists 1 entries")), l.errors)
  }

  test("ledger: one altered field fails the check") {
    val l = delivered(m => if (m.msgid == ids(11)) m.copy(content = m.content.updated("val", "-1")) else m)
    assert(l.errors.exists(e => e.contains("message 11 ") && e.contains("differ from the generator's")), l.errors)
  }

  test("ledger: a '>' delivery out of order or twice fails the check") {
    val l = new Ledger(gen)
    ids.zipWithIndex.foreach { case (id, i) => l.onProduced(i, id) }
    l.onNew(Seq(msg(1), msg(0), msg(1)))
    assert(l.errors.exists(_.contains(s"'>' delivered ${ids(0)} after ${ids(1)}")), l.errors)
    assert(l.errors.exists(_.contains(s"'>' delivered ${ids(1)} twice")), l.errors)
  }

  test("catchup-backlog: a clean round passes every protocol check") {
    val w = new Catchup(seed = 7, n = 400)
    w.round(0, new Trace)
    assert(w.errors.isEmpty, w.errors)
  }

  test("ops-loop: a clean round passes, traced or not") {
    val w = new OpsLoop(seed = 8, total = 1200)
    w.round(0, new Trace)
    val t = new Trace
    t.on = true
    w.round(1, t)
    assert(w.errors.isEmpty, w.errors)
    assert(t.count("codec.") > 0 && t.count("loopback.") > 0)
  }

  test("micro-batch: one dropped trigger fails the check") {
    val want = MicroBatchCheck.expected(gen, 4000)
    val rows = Seq(1000L, 1000L, 1000L, 1000L)
    assert(MicroBatchCheck(rows, 4000, 1000, want, want).isEmpty)
    val errs = MicroBatchCheck(rows.drop(1), 4000, 1000, want, want)
    assert(errs.exists(_.contains("3 data triggers, expected 4")), errs)
    assert(errs.exists(_.contains("sum of numInputRows 3000")), errs)
    val (k, (c, s)) = want.head
    assert(MicroBatchCheck(rows, 4000, 1000, want.updated(k, (c, s + 1)), want).nonEmpty)
  }

  test("the scaler reference table matches the reference's decision cases") {
    // (backlog, pending, consumers) -> suggestion, from the reference's scaler tests
    assert(RefScaler.suggestion(RefScaler.rate(0, 2), 0, 1) == "NO_SCALE")
    assert(RefScaler.rate(1, 2) == 50.0)
    assert(RefScaler.suggestion(50.0, 1, 1) == "OUT")
    assert(RefScaler.suggestion(RefScaler.rate(1, 20), 1, 2) == "IN")
    assert(RefScaler.suggestion(RefScaler.rate(3, 0), 3, 2) == "OUT")
  }
}
