package graft.cometbft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PairingJoin

/** J4 parity: a sequential mini-port of the reference network-latency
  * matcher (`ossplugins/network-latency/processor.go:122-328,449-476`)
  * replays random event streams and must agree with the relational two-pass
  * formulation on measurements ([[Analytics.NetworkLatency.fifoMatch]]) AND
  * on each node's unmatched accounting, which the node-stats table derives
  * from the measurements ([[Analytics.NetworkLatency.nodeStats]]) — the
  * same pattern that guards the J1/J3 machines in PairingJoinSpec.
  *
  * Generator guards (documented rationalizations stay out of the random
  * runs, mirroring PairingJoinSpec):
  *  - never lets a composite-key send arrive while >=2 receives are pending
  *    at its key (the reference panics there, `:166`);
  *  - TrySend raw hashes are disjoint from composite-send raw hashes (a
  *    shared hash can double-count one receive in the reference — see the
  *    fifoMatch scaladoc).
  */
class NetworkLatencySimSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("fifoAtArrival: one-directional queue with discard-at-empty") {
    import spark.implicits._
    def run(sends: Seq[(String, Long)], recvs: Seq[(String, Long)]) =
      PairingJoin.fifoAtArrival(
          sends.toDF("k", "sent_ns"), recvs.toDF("k", "recv_ns"),
          Seq("k"), "sent_ns", "recv_ns")
        .select("sent_ns", "recv_ns")
        .collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sortBy(p => (p._1.getOrElse(Long.MaxValue), p._2.getOrElse(Long.MaxValue)))
        .toSeq

    // receive before any send is DISCARDED — a later send cannot claim it
    assert(run(Seq(("k", 10L)), Seq(("k", 5L))) ==
      Seq((Some(10L), None), (None, Some(5L))))
    // plain FIFO in order
    assert(run(Seq(("k", 10L), ("k", 20L)), Seq(("k", 15L), ("k", 25L))) ==
      Seq((Some(10L), Some(15L)), (Some(20L), Some(25L))))
    // two pending sends drain FIFO; third receive finds an empty queue
    assert(run(Seq(("k", 10L), ("k", 12L)), Seq(("k", 15L), ("k", 16L), ("k", 17L))) ==
      Seq((Some(10L), Some(15L)), (Some(12L), Some(16L)), (None, Some(17L))))
    // early discarded receive does NOT shift later pairing
    assert(run(Seq(("k", 10L), ("k", 20L)), Seq(("k", 5L), ("k", 15L), ("k", 25L))) ==
      Seq((Some(10L), Some(15L)), (Some(20L), Some(25L)), (None, Some(5L))))
    // tie: send processes first, so the same-ts receive matches it
    assert(run(Seq(("k", 10L)), Seq(("k", 10L))) == Seq((Some(10L), Some(10L))))
  }

  test("fifoMatch matches the sequential reference machine on random streams") {
    val rnd = new scala.util.Random(13)
    var fallbackMatches = 0
    for (trial <- 1 to 5) {
      val nodes = Seq("n1", "n2", "n3")
      val hd = (1 to 5).map(i => s"hd$i")
      val hf = (1 to 3).map(i => s"hf$i")

      // ---- generate a guarded random stream, strictly increasing ts
      sealed trait Ev { def ts: Long }
      case class DSend(s: String, r: String, h: String, ts: Long) extends Ev
      case class DRecv(s: String, r: String, h: String, ts: Long) extends Ev
      case class TSend(s: String, h: String, ts: Long) extends Ev
      case class FRecv(s: String, r: String, h: String, ts: Long) extends Ev
      var ts = 0L
      val events = scala.collection.mutable.ArrayBuffer.empty[Ev]
      val pendS = scala.collection.mutable.Map.empty[(String, String, String), Int]
      val pendR = scala.collection.mutable.Map.empty[(String, String, String), Int]
      def pair(): (String, String) = {
        val s = nodes(rnd.nextInt(nodes.size))
        val r = (nodes.filterNot(_ == s))(rnd.nextInt(nodes.size - 1))
        (s, r)
      }
      for (_ <- 1 to 60) {
        ts += 1 + rnd.nextInt(4)
        rnd.nextInt(10) match {
          case k if k < 4 => // composite send (guarded against the panic path)
            val (s, r) = pair(); val h = hd(rnd.nextInt(hd.size)); val key = (s, r, h)
            if (pendR.getOrElse(key, 0) >= 2) {
              events += DRecv(s, r, h, ts) // converting keeps the key panic-free
              if (pendS.getOrElse(key, 0) > 0) pendS(key) -= 1 else pendR(key) = pendR.getOrElse(key, 0) + 1
            } else {
              events += DSend(s, r, h, ts)
              if (pendR.getOrElse(key, 0) > 0) pendR(key) -= 1 else pendS(key) = pendS.getOrElse(key, 0) + 1
            }
          case k if k < 8 => // composite receive
            val (s, r) = pair(); val h = hd(rnd.nextInt(hd.size)); val key = (s, r, h)
            events += DRecv(s, r, h, ts)
            if (pendS.getOrElse(key, 0) > 0) pendS(key) -= 1 else pendR(key) = pendR.getOrElse(key, 0) + 1
          case 8 => // TrySend: no peer, fallback-pool hash
            events += TSend(nodes(rnd.nextInt(nodes.size)), hf(rnd.nextInt(hf.size)), ts)
          case _ => // receive on a fallback-pool hash (never directly sent)
            val (s, r) = pair()
            events += FRecv(s, r, hf(rnd.nextInt(hf.size)), ts)
        }
      }

      // ---- sequential mini-port of the reference machine
      type Key = (String, String, String)
      val pendingSends = scala.collection.mutable.Map.empty[Key, scala.collection.mutable.Queue[Long]]
      val pendingRecvs = scala.collection.mutable.Map.empty[Key, scala.collection.mutable.Queue[Long]]
      val rawPool = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Queue[(Long, String)]]
      val meas = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long, Long, String)]
      val unmatchedRecvKeys = scala.collection.mutable.ArrayBuffer.empty[(Key, Long)]
      events.foreach {
        case DSend(s, r, h, t) =>
          val key = (s, r, h)
          val pr = pendingRecvs.getOrElse(key, scala.collection.mutable.Queue.empty)
          if (pr.nonEmpty) {
            assert(pr.size == 1, "generator let a panic path through")
            val rt = pr.dequeue()
            pendingRecvs.remove(key)
            meas += ((s, r, h, t, rt, "exact")) // out-of-order: send pops the receive
          } else {
            pendingSends.getOrElseUpdate(key, scala.collection.mutable.Queue.empty) += t
          }
        case DRecv(s, r, h, t) =>
          val key = (s, r, h)
          val ps = pendingSends.getOrElse(key, scala.collection.mutable.Queue.empty)
          if (ps.nonEmpty) {
            val st = ps.dequeue()
            meas += ((s, r, h, st, t, "exact"))
          } else {
            pendingRecvs.getOrElseUpdate(key, scala.collection.mutable.Queue.empty) += t
            // at-arrival raw fallback (hd hashes are never in the pool)
            rawPool.get(h).filter(_.nonEmpty).foreach { q =>
              val (st, sender) = q.dequeue()
              meas += ((sender, r, h, st, t, "hash_fallback"))
            }
          }
        case FRecv(s, r, h, t) =>
          val key = (s, r, h)
          pendingRecvs.getOrElseUpdate(key, scala.collection.mutable.Queue.empty) += t
          rawPool.get(h).filter(_.nonEmpty).foreach { q =>
            val (st, sender) = q.dequeue()
            meas += ((sender, r, h, st, t, "hash_fallback"))
          }
        case TSend(s, h, t) =>
          rawPool.getOrElseUpdate(h, scala.collection.mutable.Queue.empty) += ((t, s))
      }
      // finalizeStats: EVERY leftover pending receive counts as unmatched —
      // including fallback-matched ones (never removed from the map)
      def perNode(nodes: Seq[String]) = nodes.groupBy(identity).map { case (n, ns) => n -> ns.size.toLong }
      val wantUnmatchedRecvs = perNode(pendingRecvs.toSeq
        .flatMap { case ((_, r, _), q) => q.map(_ => r) })
      val wantUnmatchedSends = perNode(pendingSends.toSeq.flatMap { case ((s, _, _), q) => q.map(_ => s) } ++
        rawPool.toSeq.flatMap { case (_, q) => q.map(_._2) })
      val wantMeas = meas.sortBy(m => (m._4, m._5, m._1)).toSeq

      // ---- relational formulation
      import spark.implicits._
      // one tagged frame, the shape of NetworkLatency.sides
      val sides = events.map {
        case DSend(s, r, h, t) => (s, Option(r), "send", h, "vote", t)
        case TSend(s, h, t)    => (s, Option.empty[String], "send", h, "vote", t)
        case DRecv(s, r, h, t) => (s, Option(r), "recv", h, "vote", t)
        case FRecv(s, r, h, t) => (s, Option(r), "recv", h, "vote", t)
      }.toSeq.toDF("sender", "receiver", "side", "raw_hash", "msg_type", "ts_ns")
      val mdf = Analytics.NetworkLatency.fifoMatch(sides)

      val gotMeas = mdf.select("sender", "receiver", "raw_hash", "sent_ns", "received_ns", "match_type")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4), r.getString(5)))
        .sortBy(m => (m._4, m._5, m._1)).toSeq
      val stats = Analytics.NetworkLatency.nodeStats(sides, mdf)
        .select("node_id", "unmatched_sends", "unmatched_receives").collect()
      def got(i: Int) = stats.map(r => r.getString(0) -> r.getLong(i)).toMap.filter(_._2 != 0)
      val (gotUnmatchedSends, gotUnmatchedRecvs) = (got(1), got(2))

      assert(gotMeas == wantMeas, s"trial $trial measurements")
      assert(gotUnmatchedSends == wantUnmatchedSends, s"trial $trial unmatched sends per node")
      assert(gotUnmatchedRecvs == wantUnmatchedRecvs, s"trial $trial unmatched receives per node")
      assert(wantMeas.nonEmpty && wantUnmatchedRecvs.nonEmpty)
      fallbackMatches += wantMeas.count(_._6 == "hash_fallback")
    }
    assert(fallbackMatches > 0, "no trial exercised the raw-hash fallback pool")
  }
}
