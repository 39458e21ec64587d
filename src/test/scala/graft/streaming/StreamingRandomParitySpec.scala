package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch random-stream parity for the streaming machines whose
  * emissions are per-event (J3 either-order, J4 two-pass matcher): with
  * arrival order equal to time order, ANY micro-batch slicing of the input
  * must produce exactly the batch operator's output — keyed state carries
  * the machine across batch boundaries. (J1 is excluded by design: its
  * epoch-buffered aliasing flushes open epochs at batch end, a documented
  * per-batch approximation tested on single-batch closed inputs instead.)
  */
// The event columns the streaming operators reference (nested structs carry
// only the fields the family projections read). Top-level: Spark cannot
// generate encoders for case classes nested inside a test class instance.
object StreamingRandomParitySpec {
  case class VoteS(height: Long, round: Long, voteType: String, validatorIndex: Long)
  case class PropS(height: Long, round: Long, blockHash: String)
  case class DecS(height: Long, round: Long, step: String, index: Long,
                  blockIdHash: String, partBytesHex: String, proposalPolRound: Long)
  case class Ev(event_type: String, node_id: String, source_peer_id: String,
                recipient_peer_id: String, msg_bytes: Array[Byte], ts_ns: Long,
                vote: VoteS, proposal: PropS, decoded: DecS)
}

class StreamingRandomParitySpec extends AnyFunSuite {
  import StreamingRandomParitySpec._

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def mkEv(et: String, node: String, src: String, rcpt: String,
                   bytes: String, ts: Long, h: Long, step: String): Ev =
    Ev(et, node, src, rcpt, bytes.getBytes("UTF-8"), ts,
      VoteS(h, 0L, "prevote", 0L), PropS(h, 0L, "bh"),
      DecS(h, 0L, step, 0L, "bih", "pb", 0L))

  private def runChunks(events: Seq[Ev], chunks: Int)(
      start: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = start(mem.toDF()).start()
    try {
      val size = math.max(1, (events.size + chunks - 1) / chunks)
      events.grouped(size).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  test("J4 stream over random guarded traffic equals batch fifoMatch for any batch slicing") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 2) {
      // guarded generator (same invariants as NetworkLatencySimSpec):
      // no >=2 pending receives at a composite key; fallback hashes
      // disjoint from composite hashes
      val nodes = Seq("n1", "n2", "n3")
      val hd = (1 to 4).map(i => s"hd$i"); val hf = (1 to 2).map(i => s"hf$i")
      var ts = 0L
      val evs = scala.collection.mutable.ArrayBuffer.empty[Ev]
      val pendR = scala.collection.mutable.Map.empty[(String, String, String), Int]
      val pendS = scala.collection.mutable.Map.empty[(String, String, String), Int]
      def pair() = { val s = nodes(rnd.nextInt(3)); (s, nodes.filterNot(_ == s)(rnd.nextInt(2))) }
      for (_ <- 1 to 50) {
        ts += 1000000L * (1 + rnd.nextInt(3))
        rnd.nextInt(10) match {
          case k if k < 4 =>
            val (s, r) = pair(); val h = hd(rnd.nextInt(hd.size)); val key = (s, r, h)
            if (pendR.getOrElse(key, 0) >= 2) {
              evs += mkEv("receive_packet_vote", r, s, "", h, ts, 1L, "")
              if (pendS.getOrElse(key, 0) > 0) pendS(key) -= 1 else pendR(key) = pendR.getOrElse(key, 0) + 1
            } else {
              evs += mkEv("send_vote", s, "", r, h, ts, 1L, "")
              if (pendR.getOrElse(key, 0) > 0) pendR(key) -= 1 else pendS(key) = pendS.getOrElse(key, 0) + 1
            }
          case k if k < 8 =>
            val (s, r) = pair(); val h = hd(rnd.nextInt(hd.size)); val key = (s, r, h)
            evs += mkEv("receive_packet_vote", r, s, "", h, ts, 1L, "")
            if (pendS.getOrElse(key, 0) > 0) pendS(key) -= 1 else pendR(key) = pendR.getOrElse(key, 0) + 1
          case 8 =>
            evs += mkEv("send_vote", nodes(rnd.nextInt(3)), "", "", hf(rnd.nextInt(hf.size)), ts, 1L, "")
          case _ =>
            val (s, r) = pair()
            evs += mkEv("receive_packet_vote", r, s, "", hf(rnd.nextInt(hf.size)), ts, 1L, "")
        }
      }

      val name = s"nl_rand_$trial"
      runChunks(evs.toSeq, chunks = 4) { df =>
        StreamingPipeline.networkLatencyStream(spark, df)
          .writeStream.outputMode("append").format("memory").queryName(name)
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4), r.getString(5))
      val streamed = spark.sql(
        s"select rawHash, sender, receiver, sentNs, receivedNs, matchType from $name")
        .collect().map(key).sorted.toSeq

      val evDf = evs.toSeq.toDF()
      val sends = evDf.filter($"event_type" === "send_vote")
        .select($"node_id".as("sender"), $"recipient_peer_id".as("receiver"),
          org.apache.spark.sql.functions.sha2($"msg_bytes", 256).as("raw_hash"),
          org.apache.spark.sql.functions.lit("vote").as("msg_type"), $"ts_ns".as("sent_ns"))
      val recvs = evDf.filter($"event_type" === "receive_packet_vote")
        .select($"source_peer_id".as("sender"), $"node_id".as("receiver"),
          org.apache.spark.sql.functions.sha2($"msg_bytes", 256).as("raw_hash"),
          org.apache.spark.sql.functions.lit("vote").as("msg_type"), $"ts_ns".as("received_ns"))
      val meas = graft.cometbft.Analytics.NetworkLatency.fifoMatch(sends, recvs)
      val batch = meas.select("raw_hash", "sender", "receiver", "sent_ns", "received_ns", "match_type")
        .collect().map(key).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch, s"trial $trial")
    }
  }

  test("J3 stream over random traffic equals batch confirmEitherOrder for any batch slicing") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // random sends/receives on (height, step) keys between a fixed pair,
    // time-ordered; new_round_step family only
    var ts = 0L
    val evs = (1 to 60).map { _ =>
      ts += 1000000L * (1 + rnd.nextInt(3))
      val h = 1L + rnd.nextInt(3); val step = s"s${rnd.nextInt(2)}"
      if (rnd.nextBoolean())
        mkEv("send_new_round_step", "na", "", "nb", "x", ts, h, step)
      else
        mkEv("receive_packet_new_round_step", "nb", "na", "", "x", ts, h, step)
    }

    runChunks(evs, chunks = 5) { df =>
      StreamingPipeline.p2pConfirmStream(spark, df)
        .writeStream.outputMode("append").format("memory").queryName("p2p_rand")
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))
    val streamed = spark.sql("select height, sentNs, receivedNs from p2p_rand")
      .collect().map(key).sorted.toSeq

    val evDf = evs.toDF()
    val sends = evDf.filter($"event_type" === "send_new_round_step")
      .select($"decoded.height".as("height"), $"decoded.round".as("round"),
        $"decoded.step".as("step"), $"node_id".as("sender"),
        $"recipient_peer_id".as("receiver"), $"ts_ns".as("sent_ns"))
    val recvs = evDf.filter($"event_type" === "receive_packet_new_round_step")
      .select($"decoded.height".as("height"), $"decoded.round".as("round"),
        $"decoded.step".as("step"), $"source_peer_id".as("sender"),
        $"node_id".as("receiver"), $"ts_ns".as("received_ns"))
    val batch = graft.operators.PairingJoin.confirmEitherOrder(
        sends, recvs, Seq("height", "round", "step", "sender", "receiver"),
        "sent_ns", "received_ns")
      .select("height", "sent_ns", "received_ns")
      .collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("curation stream over random corpora equals the batch table for any batch slicing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    for (seed <- Seq(51L, 52L, 53L)) {
      val rnd = new scala.util.Random(seed)
      val filler = Seq("alpha", "beta", "gamma", "delta", "epsilon")
      val langs = Seq("en" -> Seq("the", "a", "of"), "de" -> Seq("der", "die", "und"))
      val docs = (0L until 60L).map { i =>
        val (lang, sw) = langs(rnd.nextInt(2))
        val label = if (rnd.nextInt(4) == 0) langs((langs.indexWhere(_._1 == lang) + 1) % 2)._1 else lang
        val body =
          if (rnd.nextInt(8) == 0) s"11 22 33 44 55 66 u$i"
          else (sw ++ (0 until 3 + rnd.nextInt(6)).map(_ => filler(rnd.nextInt(filler.size))))
            .mkString(" ") + s" u$i"
        (i, body, label)
      }
      val all = docs.toDF("doc_id", "text", "lang")
      val index = StreamingPipeline.benchShingleIndex(
        all.filter($"doc_id" % 10 === 0), "text", n = 3)
      val dfIdx = StreamingPipeline.bigramDfIndex(all, "doc_id", "text")
      val corpus = docs.filter(_._1 % 10 != 0)
        .map { case (i, t, l) => (i, java.sql.Timestamp.valueOf(f"2025-01-01 00:00:${i % 60}%02d"), t, l) }
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, String)]
      val out = StreamingPipeline.curationStream(
        mem.toDF().toDF("doc_id", "ts", "text", "lang"), index, dfIdx,
        "doc_id", "text", "ts", "lang", n = 3, watermark = "10 seconds",
        minFamiliarityPpm = 300000L)
      val qn = s"curation_rand_$seed"
      val q = out.writeStream.outputMode("complete").format("memory").queryName(qn).start()
      try {
        val nChunks = 1 + rnd.nextInt(5)
        val size = math.max(1, (corpus.size + nChunks - 1) / nChunks)
        corpus.grouped(size).foreach { c => mem.addData(c); q.processAllAvailable() }
        def key(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
            r.getLong(4), r.getBoolean(5), r.getString(6))
        val streamed = spark.sql(
          s"""select doc_id, quality_ok, lang_ok, contaminated, familiarity_ppm,
             |keep, reason from $qn""".stripMargin)
          .collect().map(key).sortBy(_._1).toSeq
        val batch = graft.operators.CorpusOps.curationDecisions(all, "doc_id", "text",
            declaredLang = $"lang", isBenchmark = $"doc_id" % 10 === 0,
            n = 3, minFamiliarityPpm = 300000L)
          .filter($"doc_id" % 10 =!= 0)
          .select($"doc_id", $"quality_ok", $"lang_ok", $"contaminated",
            $"familiarity_ppm", $"keep", $"reason")
          .collect().map(key).sortBy(_._1).toSeq
        assert(streamed.nonEmpty && streamed == batch, s"seed $seed chunks $nChunks")
      } finally q.stop()
    }
  }
}
