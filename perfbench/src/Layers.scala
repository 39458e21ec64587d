package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.cometbft.{LogIngest, Normalize, Parsers, ProtoWire}
import graft.streaming.StreamingPipeline

/** Layer probes of a traced run: each calls one module's public entry
  * point on the workload's own generated input. */
object Layers {

  /** Drain a frame through the `noop` sink (every row computed, nothing
    * kept). */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def ingest(spark: SparkSession, dir: String): Unit = drain(LogIngest.read(spark, dir))

  def normalize(spark: SparkSession, dir: String): Unit =
    drain(Normalize.normalize(LogIngest.read(spark, dir)))

  // ---------------------------------------------------------------- decode

  /** The decode kernels' inputs, taken from the workload's own lines:
    * channel messages (hex on sends, base64 on receives), Go-pretty block
    * strings and proposal strings. The generator writes votes only as
    * channel bytes, so `parseVoteString` has no input here. */
  final case class Payloads(channel: Seq[(Long, Array[Byte])], blocks: Seq[String],
                            proposals: Seq[String])

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def payloads(spark: SparkSession, dir: String): Payloads = {
    val rows = LogIngest.readRaw(spark, dir)
      .select(col("msg_lc"), col("r.msgBytes"), col("r.channel"), col("ch_id"),
        col("r.block"), col("r.proposal"))
      .collect()
    val channel = rows.flatMap { r =>
      val bytes = Option(r.getString(1))
      r.getString(0) match {
        case "send" | "trysend" if bytes.isDefined && !r.isNullAt(2) =>
          Some(r.getLong(2) -> unhex(bytes.get))
        case "received bytes" if bytes.isDefined && !r.isNullAt(3) =>
          Some(r.getLong(3) -> java.util.Base64.getDecoder.decode(bytes.get))
        case _ => None
      }
    }
    Payloads(channel.toSeq, rows.flatMap(r => Option(r.getString(4))).toSeq,
      rows.flatMap(r => Option(r.getString(5))).toSeq)
  }

  /** Single-thread nanoseconds per call of `f` over `n` inputs: a timed
    * pass calls every input enough times to make 5,000 calls; one
    * warm-up pass, then the median of `reps` timed passes. Every result
    * feeds a checksum so no call can be optimised away. */
  def nsPerCall(n: Int, reps: Int = 7)(f: Int => AnyRef): (Double, Long) = {
    val rounds = math.max(1, (5000 + n - 1) / n)
    var sink = 0L
    def pass(): Long = {
      val t0 = System.nanoTime()
      var r = 0
      while (r < rounds) {
        var i = 0
        while (i < n) { sink += f(i).hashCode; i += 1 }
        r += 1
      }
      System.nanoTime() - t0
    }
    pass()
    val times = Seq.fill(reps)(pass()).sorted
    (times(reps / 2).toDouble / (n.toLong * rounds), sink)
  }

  /** ns per message for each decode kernel; checks each payload decodes. */
  def decode(p: Payloads): Map[String, Double] = {
    val ch = p.channel.toArray
    val bl = p.blocks.toArray
    val pr = p.proposals.toArray
    val undecodable = Seq(
      "block" -> bl.count(Parsers.parseBlockString(_).isEmpty),
      "proposal" -> pr.count(Parsers.parseProposalString(_).isEmpty)).filter(_._2 > 0)
    require(undecodable.isEmpty, s"undecodable payloads: $undecodable")
    Map(
      "protowire" -> nsPerCall(ch.length)(i => ProtoWire.decodeChannelMessage(ch(i)._1, ch(i)._2))._1,
      "block" -> nsPerCall(bl.length)(i => Parsers.parseBlockString(bl(i)))._1,
      "proposal" -> nsPerCall(pr.length)(i => Parsers.parseProposalString(pr(i)))._1)
  }

  // ------------------------------------------------------------- streaming

  /** The three stateful confirmation machines of [[StreamingPipeline]]. */
  val machines: Seq[String] = Seq("vote", "p2p", "network")

  /** The batch table each machine's confirmations must match in count. */
  val machineTable: Map[String, String] = Map(
    "vote" -> "vote_latencies", "p2p" -> "p2p_messages",
    "network" -> "network_latency_measurements")

  final case class Drain(rows: Long, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  /** Drain a chunk directory through one machine, 4 files per trigger,
    * closed loop (`Trigger.AvailableNow`: all files exist before the
    * start and each batch starts when the previous one ends). */
  def stream(spark: SparkSession, dir: String, machine: String, checkpoint: String): Drain = {
    val ev = StreamingPipeline.events(spark, dir, Some(4))
    val ds: DataFrame = machine match {
      case "vote"    => StreamingPipeline.voteLatencyStream(spark, ev).toDF()
      case "p2p"     => StreamingPipeline.p2pConfirmStream(spark, ev).toDF()
      case "network" => StreamingPipeline.networkLatencyStream(spark, ev).toDF()
    }
    val sinkName = s"perfbench_$machine"
    val q = ds.writeStream.outputMode("append").format("memory").queryName(sinkName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    val rows = spark.table(sinkName).count()
    spark.catalog.dropTempView(sinkName)
    Drain(rows, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }
}
