package perfbench

import java.nio.file.Files
import java.sql.Timestamp

import graft.cdc.AmqpQueue
import graft.sources.ChangefeedLog
import graft.streaming._

/** The benchmark's own tests: every output check passes on clean
  * output and fails on a seeded defect (a dropped row, a changed byte,
  * a stale cursor, a duplicate, a wrong estimate or verdict). Prints
  * one line per case and exits non-zero if any case goes the wrong way. */
object SelfTest {
  private var failures = 0

  private def expect(label: String, checks: Seq[Check], shouldPass: Boolean): Unit = {
    val ok = checks.forall(_.ok)
    val good = ok == shouldPass
    if (!good) failures += 1
    val why = checks.filterNot(_.ok).map(c => s"${c.name}: ${c.detail}").mkString("; ")
    println(s"${if (good) "ok  " else "FAIL"} $label: checks ${if (ok) "pass" else s"fail ($why)"}")
  }

  private def flipByte(s: String, i: Int): String =
    s.updated(i, if (s.charAt(i) == 'x') 'y' else 'x')

  def relay(): Unit = {
    val gen = new RelayGen(7L, RelayMix(large = 0.05))
    val recs = gen.segment(400, 50)
    val changes = recs.filterNot(_.isResolved)
    val last = recs.last.sortUs

    def viaBroker(publish: Seq[String]): Seq[Check] = {
      val b = new LoopbackBroker()
      val q = new AmqpQueue(s"amqp://127.0.0.1:${b.port}/selftest")
      try {
        b.expect(changes.map(Relay.body))
        publish.foreach(p => q.publish(p.getBytes("UTF-8")))
        q.close()
        val deadline = System.nanoTime() + 10000000000L
        while (b.received.get < publish.size && System.nanoTime() < deadline) Thread.sleep(5)
        Relay.brokerChecks(b, Some(last), last)
      } finally { q.close(); b.close() }
    }
    val bodies = changes.map(Relay.body)
    val big = bodies.indexWhere(_.length > RelayMix.FrameMax)
    require(big >= 0, "the generator made no body above the frame-max")
    expect("broker: every body, once, in order", viaBroker(bodies), shouldPass = true)
    expect("broker: a dropped row", viaBroker(bodies.patch(3, Nil, 1)), shouldPass = false)
    expect("broker: a changed envelope byte", viaBroker(bodies.updated(5, flipByte(bodies(5), 3))),
      shouldPass = false)
    expect("broker: a changed byte past the first frame of a large body",
      viaBroker(bodies.updated(big, flipByte(bodies(big), RelayMix.FrameMax + 100))), shouldPass = false)
    expect("broker: a duplicate", viaBroker(bodies :+ bodies(7)), shouldPass = false)
    expect("broker: a published resolved row",
      viaBroker(bodies :+ s"""{"table":null,"key":null,"value":${recs.find(_.isResolved).get.value}}"""),
      shouldPass = false)
    expect("cursor: the last resolved sort_us", Seq(Relay.cursorCheck(Some(last), last)), shouldPass = true)
    expect("cursor: a stale cursor", Seq(Relay.cursorCheck(Some(recs.filter(_.isResolved).init.last.sortUs), last)),
      shouldPass = false)

    // the benchmark's parser reads the program's writer byte for byte,
    // tabs, newlines and backslashes included
    val dir = Files.createTempDirectory("perfbench-selftest")
    try {
      val p = ChangefeedLog.writeSegmentAs(dir.toString, recs.map(r =>
        ChangefeedLog.Record(r.sortUs, Option(r.tbl), Option(r.key), r.value)), "t1")
      val back = Tsv.read(p)
      expect("log: the program's segment read by the benchmark's parser",
        Seq(Check("tsv.round_trip", back == recs, "records differ")), shouldPass = true)
    } finally Files2.deleteTree(dir)

    expect("log: every change row once", Relay.logChecks(changes, changes.reverse), shouldPass = true)
    expect("log: a dropped row", Relay.logChecks(changes, changes.tail), shouldPass = false)
    expect("log: a changed byte", Relay.logChecks(changes,
      changes.updated(2, changes(2).copy(value = flipByte(changes(2).value, 4)))), shouldPass = false)
    expect("log: a duplicate", Relay.logChecks(changes, changes :+ changes(9)), shouldPass = false)
    expect("log: a resolved row", Relay.logChecks(changes, changes :+ recs.find(_.isResolved).get),
      shouldPass = false)
  }

  def stream(): Unit = {
    val r = new java.util.SplittableRandom(11L)
    val tomb = """{"after": null}"""
    val rows = (1 to 3000).map { i =>
      ChangeRow(s"k${r.nextInt(200)}", i.toLong - (if (i % 17 == 0) 500 else 0),
        if (i % 13 == 0) tomb else s"""{"after": {"v": $i}}""")
    }
    // a correct materialization: per key, the latest-wins version
    val view = rows.groupBy(_.key).map { case (k, rs) =>
      val w = rs.maxBy(r => (r.sort_us, r.value))
      Materialized(k, w.sort_us, w.value, if (w.value == tomb) "delete" else "upsert")
    }.toSeq
    expect("cdc_apply: the latest-wins view", Seq(StreamChecks.cdcApply(rows, view)), shouldPass = true)
    val live = view.indexWhere(_.op == "upsert")
    expect("cdc_apply: a stale version kept", Seq(StreamChecks.cdcApply(rows,
      view.updated(live, view(live).copy(sort_us = view(live).sort_us - 1)))), shouldPass = false)
    val dead = view.indexWhere(_.op == "delete")
    expect("cdc_apply: a deleted key resurrected", Seq(StreamChecks.cdcApply(rows,
      view.updated(dead, view(dead).copy(op = "upsert")))), shouldPass = false)
    expect("cdc_apply: a dropped key", Seq(StreamChecks.cdcApply(rows, view.tail)), shouldPass = false)

    val items = (1 to 5000).map(i => ItemEvent(s"g${i % 3}", if (i % 2 == 0) (i % 7).toLong else i.toLong))
    val exact = items.groupBy(e => (e.group, e.item)).map { case ((g, it), v) => TopItem(g, it, v.size, 0) }
      .toSeq.groupBy(_.group).values.flatMap(_.sortBy(-_.count).take(5)).toSeq
    expect("topk: exact counts", Seq(StreamChecks.topk(items, exact)), shouldPass = true)
    expect("topk: estimates widened by their error", Seq(StreamChecks.topk(items,
      exact.map(t => t.copy(count = t.count + 3, err = 3)))), shouldPass = true)
    expect("topk: an undercount", Seq(StreamChecks.topk(items,
      exact.updated(0, exact.head.copy(count = exact.head.count - 1)))), shouldPass = false)
    expect("topk: an overcount beyond its error", Seq(StreamChecks.topk(items,
      exact.updated(0, exact.head.copy(count = exact.head.count + 2, err = 1)))), shouldPass = false)

    val ts = new Timestamp(0L)
    def doc(id: Long, bands: Long*) = bands.map(b => NearDupBand(b, id, ts, "web", "en", 40L, 4))
    val batches = Seq(
      doc(0, 1, 2, 3, 4) ++ doc(1, 5, 6, 7, 8) ++ doc(2, 1, 9, 10, 11),
      doc(3, 12, 13, 14, 15) ++ doc(4, 9, 16, 17, 18) ++ doc(5, 19, 20, 21, 22))
    val admits = Seq(
      IngestAdmit(0, "web", "en", 40, admitted = true, 0), IngestAdmit(1, "web", "en", 40, admitted = true, 0),
      IngestAdmit(2, "web", "en", 40, admitted = false, 1), IngestAdmit(3, "web", "en", 40, admitted = true, 0),
      // doc 4 collides only with a band doc 2 claimed though doc 2 was dropped
      IngestAdmit(4, "web", "en", 40, admitted = false, 1), IngestAdmit(5, "web", "en", 40, admitted = true, 0))
    expect("neardup: the band rule", Seq(StreamChecks.nearDup(batches, admits)), shouldPass = true)
    expect("neardup: a near-dup admitted", Seq(StreamChecks.nearDup(batches,
      admits.updated(2, admits(2).copy(admitted = true, hit_bands = 0)))), shouldPass = false)
    expect("neardup: a doc missing", Seq(StreamChecks.nearDup(batches, admits.init)), shouldPass = false)
    expect("neardup: a doc emitted twice", Seq(StreamChecks.nearDup(batches, admits :+ admits(1))),
      shouldPass = false)
  }

  def main(args: Array[String]): Unit = {
    relay()
    stream()
    println(if (failures == 0) "selftest: all cases behaved" else s"selftest: $failures cases misbehaved")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
