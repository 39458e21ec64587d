package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** State-machine semantics of the pairing operators against hand-built
  * event tables (SURVEY.md §2.5 / §7.4-3). */
class PairingJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("fifo: nth send pairs with nth receive per key, either arrival order") {
    val sends = Seq(("k", 10L, "s1"), ("k", 20L, "s2"), ("k", 30L, "s3"))
      .toDF("key", "send_ts", "send_id")
    val recvs = Seq(("k", 5L, "r1"), ("k", 25L, "r2"))
      .toDF("key", "recv_ts", "recv_id")
    val out = PairingJoin.fifo(sends, recvs, Seq("key"), Seq("send_ts"), Seq("recv_ts"))
      .orderBy("pair_seq")
      .select("send_id", "recv_id").as[(String, String)].collect()
    // FIFO: s1↔r1 (receive BEFORE send still pairs — J3 order-insensitivity),
    // s2↔r2; s3 unmatched drops on inner join.
    assert(out.toSeq == Seq(("s1", "r1"), ("s2", "r2")))
  }

  test("fifo full_outer keeps unmatched leftovers (J4 end-of-input flush)") {
    val sends = Seq(("k", 10L, "s1"), ("k", 20L, "s2")).toDF("key", "send_ts", "send_id")
    val recvs = Seq(("k", 15L, "r1")).toDF("key", "recv_ts", "recv_id")
    val out = PairingJoin.fifo(sends, recvs, Seq("key"), Seq("send_ts"), Seq("recv_ts"), "full_outer")
    assert(out.count() == 2)
    assert(out.filter($"recv_id".isNull).select("send_id").as[String].collect().toSeq == Seq("s2"))
  }

  test("lastSendFirstReceive: a later send clobbers the pending one (J1 quirk)") {
    // vote-latency/processor.go:52-53 — the send overwrites unconditionally,
    // so only the LAST send can confirm, and only in send-before-receive order.
    val sends = Seq(("k", 10L, "sA"), ("k", 40L, "sB")).toDF("key", "sent_ns", "sid")
    val recvs = Seq(("k", 50L, "rX"), ("k", 60L, "rY")).toDF("key", "recv_ns", "rid")
    val out = PairingJoin.lastSendFirstReceive(
      sends, recvs, Seq("key"), "sent_ns", "recv_ns", Seq("sid"), Seq("rid"))
      .select("sid", "rid").as[(String, String)].collect()
    assert(out.toSeq == Seq(("sB", "rX")))
  }

  test("lastSendFirstReceive: receive-before-send does NOT confirm") {
    val sends = Seq(("k", 100L, "s")).toDF("key", "sent_ns", "sid")
    val recvs = Seq(("k", 90L, "r")).toDF("key", "recv_ns", "rid")
    val out = PairingJoin.lastSendFirstReceive(
      sends, recvs, Seq("key"), "sent_ns", "recv_ns", Seq("sid"), Seq("rid"))
    assert(out.count() == 0)
  }

  test("sessionize: dual-predicate break (time gap AND height delta, A10)") {
    val df = Seq(
      ("n", 1L, 0L), ("n", 2L, 10L), ("n", 3L, 20L),   // cluster 1
      ("n", 20L, 25L),                                  // height jump > 5 → new session
      ("n", 21L, 100L), ("n", 22L, 110L)                // gap > 40 from 25 → new session
    ).toDF("node", "height", "ts")
    val tagged = Sessionize.assign(df, Seq("node"), Seq("ts"),
      prev => (col("ts") - prev("ts") > 40L) || (col("height") - prev("height") > 5L))
    val sessions = tagged.groupBy("session_id").count()
      .orderBy("session_id").as[(Long, Long)].collect()
    assert(sessions.toSeq == Seq((1L, 3L), (2L, 1L), (3L, 2L)))
    val rolled = Sessionize.rollup(tagged, Seq("node"), "ts", minEvents = 2L)
    assert(rolled.count() == 2) // the singleton session is dropped
  }

  /** `sends` and `recvs` as one frame tagged with `side` — the shape the
    * confirm machines read. */
  private def sides(sends: org.apache.spark.sql.DataFrame, recvs: org.apache.spark.sql.DataFrame) =
    sends.withColumn("side", lit("send")).unionByName(recvs.withColumn("side", lit("recv")))

  test("confirmOnReceive reproduces the reference overwrite machine exactly") {
    def run(sends: Seq[(String, Long)], recvs: Seq[(String, Long)]) =
      PairingJoin.confirmOnReceive(
          sides(sends.toDF("key", "ts_ns"), recvs.toDF("key", "ts_ns")), Seq("key"))
        .orderBy("received_ns")
        .select("sent_ns", "received_ns")
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toSeq

    // S R -> one confirmation
    assert(run(Seq(("k", 10L)), Seq(("k", 20L))) == Seq((Some(10L), 20L)))
    // S R R -> BOTH receives confirm against the same send, and the
    // pointer aliasing (processor.go:43-45) makes both appended rows carry
    // the LAST receive's ts: two identical (10, 30) rows
    assert(run(Seq(("k", 10L)), Seq(("k", 20L), ("k", 30L))) ==
      Seq((Some(10L), 30L), (Some(10L), 30L)))
    // S S R -> last send wins (overwrite, processor.go:52-53)
    assert(run(Seq(("k", 10L), ("k", 15L)), Seq(("k", 20L))) == Seq((Some(15L), 20L)))
    // R R -> first receive creates the entry silently; second confirms with
    // no sent time (reference: Go zero time; rationalized to NULL)
    assert(run(Seq.empty, Seq(("k", 20L), ("k", 30L))) == Seq((None, 30L)))
    // R S R -> send overwrites the receive-created entry; later receive
    // confirms against it
    assert(run(Seq(("k", 25L)), Seq(("k", 20L), ("k", 30L))) == Seq((Some(25L), 30L)))
    // lone R -> nothing
    assert(run(Seq.empty, Seq(("k", 20L))).isEmpty)
    // equal timestamps: send processes first, so the receive confirms
    assert(run(Seq(("k", 20L)), Seq(("k", 20L))) == Seq((Some(20L), 20L)))
  }

  test("confirmOnReceive carries the entry-creating event's payload (vl.Vote semantics)") {
    // processor.go:37,52 — entry payload is set at creation (send overwrite
    // or first receive) and a confirming receive never replaces it.
    def run(sends: Seq[(String, Long, String)], recvs: Seq[(String, Long, String)]) =
      PairingJoin.confirmOnReceive(
          sides(sends.toDF("key", "ts_ns", "payload"), recvs.toDF("key", "ts_ns", "payload")),
          Seq("key"), Seq("payload"))
        .orderBy("received_ns")
        .select("payload", "received_ns").as[(String, Long)].collect().toSeq

    // S(vB) R(vX) -> confirmation carries the send's payload
    assert(run(Seq(("k", 10L, "vB")), Seq(("k", 20L, "vX"))) == Seq(("vB", 20L)))
    // R(vA) R(vB) -> entry created by FIRST receive; second confirms with vA
    assert(run(Seq.empty, Seq(("k", 20L, "vA"), ("k", 30L, "vB"))) == Seq(("vA", 30L)))
    // R(vA) S(vC) R(vB) -> send overwrites the entry; confirmation carries vC
    assert(run(Seq(("k", 25L, "vC")), Seq(("k", 20L, "vA"), ("k", 30L, "vB"))) ==
      Seq(("vC", 30L)))
    // R(vA) R(vB) R(vC) -> entry still the first receive's: vA both times,
    // and aliasing gives both rows the final receive's ts (40)
    assert(run(Seq.empty, Seq(("k", 20L, "vA"), ("k", 30L, "vB"), ("k", 40L, "vC"))) ==
      Seq(("vA", 40L), ("vA", 40L)))
  }

  test("confirmEitherOrder reproduces the p2p per-key entry machine") {
    def run(sends: Seq[(String, Long)], recvs: Seq[(String, Long)]) =
      PairingJoin.confirmEitherOrder(
          sides(sends.toDF("key", "ts_ns"), recvs.toDF("key", "ts_ns")), Seq("key"))
        .select("sent_ns", "received_ns")
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
        .sortBy(p => (p._2, p._1.getOrElse(Long.MinValue))).toSeq

    // S R -> receive confirms
    assert(run(Seq(("k", 10L)), Seq(("k", 20L))) == Seq((Some(10L), 20L)))
    // R S -> SEND confirms against the pending first receive (negative latency)
    assert(run(Seq(("k", 30L)), Seq(("k", 20L))) == Seq((Some(30L), 20L)))
    // S S R -> overwrite: last send wins, one confirmation
    assert(run(Seq(("k", 10L), ("k", 15L)), Seq(("k", 20L))) == Seq((Some(15L), 20L)))
    // S R R -> repeat receive re-confirms against the same send
    assert(run(Seq(("k", 10L)), Seq(("k", 20L), ("k", 30L))) ==
      Seq((Some(10L), 20L), (Some(10L), 30L)))
    // R S R -> send-confirm (S,R1) then receive-confirm (S,R2)
    assert(run(Seq(("k", 25L)), Seq(("k", 20L), ("k", 30L))) ==
      Seq((Some(25L), 20L), (Some(25L), 30L)))
    // S R S R -> two cycles: (S1,R1), (S2,R2); S2 only overwrites
    assert(run(Seq(("k", 10L), ("k", 25L)), Seq(("k", 20L), ("k", 30L))) ==
      Seq((Some(10L), 20L), (Some(25L), 30L)))
    // R R -> reference panics on the nil SentTime assertion; rationalized
    // to a NULL-sent confirmation for the second receive
    assert(run(Seq.empty, Seq(("k", 20L), ("k", 30L))) == Seq((None, 30L)))
  }

  test("confirm machines match a sequential simulation on random event streams") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      // random interleaving of sends/receives over a few keys, distinct ts;
      // guarantee no double-receive-before-send per key (the reference
      // panics there; the rationalized NULL path is specced separately)
      val keys = Seq("a", "b", "c")
      var ts = 0L
      val events = scala.collection.mutable.ArrayBuffer[(String, Long, Boolean)]() // (key, ts, isSend)
      val state = scala.collection.mutable.Map[String, Int]() // pending receives per key
      for (_ <- 1 to 40) {
        val k = keys(rnd.nextInt(keys.size))
        ts += 1 + rnd.nextInt(5)
        val canRecv = state.getOrElse(k, 0) == 0
        val isSend = rnd.nextBoolean() || !canRecv
        if (isSend) state(k) = 0 else state(k) = state.getOrElse(k, 0) + 1
        events += ((k, ts, isSend))
      }
      val sends = events.filter(_._3).map(e => (e._1, e._2))
      val recvs = events.filterNot(_._3).map(e => (e._1, e._2))

      val (want1, want2) = simulate(events.toSeq)
      val (got1, got2) = machines(sends.toSeq, recvs.toSeq)
      assert(got1 == want1, s"trial $trial confirmOnReceive")
      assert(got2 == want2, s"trial $trial confirmEitherOrder")
      assert(want1.nonEmpty && want2.nonEmpty)
    }
  }

  test("confirm machines process a send before a receive at the same timestamp") {
    // Each stream has a send and a receive tied at one timestamp on one
    // key, where processing the receive first would change the output.
    def run(events: Seq[(String, Long, Boolean)]) = {
      val got = machines(events.filter(_._3).map(e => (e._1, e._2)),
        events.filterNot(_._3).map(e => (e._1, e._2)))
      assert(got == simulate(events))
      got
    }
    // S@20 R@20: the receive confirms the send. Receive-first would create
    // the entry with the receive and let the send overwrite it silently.
    val (on1, either1) = run(Seq(("k", 20L, true), ("k", 20L, false)))
    assert(on1 == Seq((Some(20L), 20L, "p20")))
    assert(either1 == Seq((Some(20L), 20L)))
    // R@10 S@20 R@20: the send confirms the pending receive, then the tied
    // receive confirms the send. Receive-first would find only receives
    // before it (a NULL-sent confirmation).
    val (on2, either2) = run(Seq(("k", 10L, false), ("k", 20L, true), ("k", 20L, false)))
    assert(on2 == Seq((Some(20L), 20L, "p20")))
    assert(either2 == Seq((Some(20L), 10L), (Some(20L), 20L)))
  }

  /** Both confirm machines over (key, ts) sends and receives; each event's
    * payload is "p<ts>". Rows sorted by (received, sent). */
  private def machines(sends: Seq[(String, Long)], recvs: Seq[(String, Long)]) = {
    def withPayload(es: Seq[(String, Long)]) =
      es.map(e => (e._1, e._2, s"p${e._2}")).toDF("key", "ts_ns", "payload")
    val df = sides(withPayload(sends), withPayload(recvs))
    val got1 = PairingJoin.confirmOnReceive(df, Seq("key"), Seq("payload"))
      .select("sent_ns", "received_ns", "payload").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1), r.getString(2)))
      .sortBy(p => (p._2, p._1.getOrElse(Long.MinValue))).toSeq
    val got2 = PairingJoin.confirmEitherOrder(df.drop("payload"), Seq("key"))
      .select("sent_ns", "received_ns").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
      .sortBy(p => (p._2, p._1.getOrElse(Long.MinValue))).toSeq
    (got1, got2)
  }

  /** The reference machines replayed sequentially over (key, ts, isSend)
    * events in time order, sends first at one timestamp: the vote-latency
    * (confirm-on-receive) rows with the payload of the entry-creating
    * event, and the p2p (either-order) rows. Sorted like [[machines]]. */
  private def simulate(events: Seq[(String, Long, Boolean)]) = {
    // sequential simulation of vote-latency (confirm-on-receive) machine,
    // payload = entry-creating event's tag (vl.Vote semantics). The
    // appended REFERENCE is kept (processor.go:43-45 pointer aliasing):
    // rows materialize only after the stream ends, from the entry's
    // final mutated state.
    class Entry(var sent: Option[Long], val payload: String) { var recvFinal = 0L }
    val m1 = scala.collection.mutable.Map[String, Entry]()
    val appended1 = scala.collection.mutable.ArrayBuffer[Entry]()
    // sequential simulation of p2p (either-order) machine
    sealed trait St
    case class Sent(ts: Long) extends St
    case class Received(ts: Long) extends St
    case class Confirmed(sent: Long) extends St
    val m2 = scala.collection.mutable.Map[String, St]()
    val want2 = scala.collection.mutable.ArrayBuffer[(Option[Long], Long)]()
    events.sortBy(e => (e._2, if (e._3) 0 else 1)).foreach { case (k, t, isSend) =>
      if (isSend) {
        m1(k) = new Entry(Some(t), s"p$t")
        m2.get(k) match {
          case Some(Received(rts)) => want2 += ((Some(t), rts)); m2(k) = Confirmed(t)
          case _                   => m2(k) = Sent(t)
        }
      } else {
        m1.get(k) match {
          case None    => m1(k) = new Entry(None, s"p$t")
          case Some(e) => e.recvFinal = t; appended1 += e
        }
        m2.get(k) match {
          case None               => m2(k) = Received(t)
          case Some(Sent(sts))    => want2 += ((Some(sts), t)); m2(k) = Confirmed(sts)
          case Some(Confirmed(s)) => want2 += ((Some(s), t))
          case Some(Received(_))  => fail("double pending receive should not be generated")
        }
      }
    }
    val want1 = appended1.map(e => (e.sent, e.recvFinal, e.payload))
    (want1.sortBy(p => (p._2, p._1.getOrElse(Long.MinValue))).toSeq,
      want2.sortBy(p => (p._2, p._1.getOrElse(Long.MinValue))).toSeq)
  }
}
