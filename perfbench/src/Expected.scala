package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.CometbftGolden

/** The correctness gate: every output count as a function of the
  * generated height count `h` (4 nodes; node0 times out every height, the
  * others every third; the proposer rotates every 4 heights), measured at
  * h = 4..27, 240 and 251 and written down here; and for the 4-height
  * fixture the full golden values. */
object Expected {

  def tableRows(h: Long): Map[String, Long] = Map(
    "events"                           -> (127 * h + 9 * (h / 3)),
    "consensus_steps"                  -> (33 * h + 9 * (h / 3)),
    "consensus_timing"                 -> 4 * h,
    "validator_participation"          -> 4 * h,
    "vote_latencies"                   -> 18 * h,
    "p2p_messages"                     -> 45 * h,
    "block_part_latencies"             -> (5 * (h / 4) + Seq(0, 1, 3, 5)((h % 4).toInt)),
    "network_latency_measurements"     -> (46 * h - h / 4),
    "network_latency_nodepair_summary" -> 57L,
    "network_latency_node_stats"       -> 4L,
    "network_latency_global_stats"     -> 1L,
    "network_latency_duplicates_debug" -> 0L,
    "timeout_analysis"                 -> 4L,
    "timeout_events"                   -> (h + 3 * (h / 3)),
    "timeout_clusters"                 -> (if (h < 9) 1L else 4L),
    "tracer_events"                    -> (78 * h + 9 * (h / 3)))

  /** The analytic that writes each table (the 16 `Pipeline.run` sinks). */
  val analyticOf: Map[String, String] = Map(
    "events" -> "events",
    "consensus_steps" -> "consensus_steps",
    "vote_latencies" -> "vote_latency",
    "block_part_latencies" -> "block_parts",
    "p2p_messages" -> "p2p_messages",
    "consensus_timing" -> "consensus_timing",
    "validator_participation" -> "validator_participation",
    "timeout_analysis" -> "timeout_analysis",
    "timeout_events" -> "timeout_analysis",
    "timeout_clusters" -> "timeout_analysis",
    "tracer_events" -> "tracer_events") ++
    Seq("measurements", "nodepair_summary", "node_stats", "global_stats", "duplicates_debug")
      .map(t => s"network_latency_$t" -> "network_latency")

  /** Mismatches between a pipeline run's reported counts, the rows read
    * back from its warehouse, and [[tableRows]]; empty when all agree. */
  def checkPipeline(spark: SparkSession, warehouse: String, h: Long,
                    reported: Map[String, Long]): Seq[String] = {
    val want = tableRows(h)
    val missing = (want.keySet -- reported.keySet).toSeq.map(t => s"$t: not written")
    val extra = (reported.keySet -- want.keySet).toSeq.map(t => s"$t: unexpected table")
    val wrong = want.toSeq.sorted.flatMap { case (t, n) =>
      reported.get(t).toSeq.flatMap { got =>
        val stored = storedRows(spark, s"$warehouse/$t")
        if (got == n && stored == n) Nil
        else Seq(s"$t: expected $n, reported $got, stored $stored")
      }
    }
    missing ++ extra ++ wrong
  }

  /** Rows in a stored parquet table, summed from its file footers (no
    * Spark job, so the check adds nothing to the job counts). */
  def storedRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = root.getFileSystem(conf).listFiles(root, true)
    var n = 0L
    while (files.hasNext) {
      val f = files.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  /** The stored tables projected the way the golden values were pinned. */
  private def goldenShape(spark: SparkSession, wh: String): Map[String, DataFrame] = {
    def t(n: String) = spark.read.parquet(s"$wh/$n")
    Map(
      "q40_cometbft_consensus_timing" ->
        t("consensus_timing").select("node_id", "height", "round", "total_round_time_ms"),
      "q41_cometbft_vote_latencies" -> t("vote_latencies").select("height", "round", "val_idx",
        "sender", "receiver", "sent_ns", "received_ns", "latency_ms"),
      "q42_cometbft_network_latency" -> t("network_latency_nodepair_summary"),
      "q45_cometbft_p2p_messages" -> t("p2p_messages").select(col("msg_family"), col("sender"),
        col("receiver"), col("height").cast("long").as("height"), col("sent_ns"),
        col("received_ns"), col("latency_ms")),
      "q46_cometbft_timeout_analysis" -> t("timeout_analysis"),
      "q47_cometbft_validator_participation" -> t("validator_participation").select(
        col("height"), col("round"), col("validator_address"), col("node_id"),
        col("prevote_count"), col("precommit_count"),
        size(col("prevote_latency_ms")).cast("long").as("n_prevote_lat"),
        aggregate(col("prevote_latency_ms"), lit(0L), _ + _).as("sum_prevote_lat_ms"),
        size(col("precommit_latency_ms")).cast("long").as("n_precommit_lat"),
        aggregate(col("precommit_latency_ms"), lit(0L), _ + _).as("sum_precommit_lat_ms"),
        col("participated_prevote"), col("participated_precommit"),
        col("avg_prevote_time_ms"), col("avg_precommit_time_ms"),
        col("on_time_prevote"), col("on_time_precommit")),
      "q48_cometbft_block_parts" -> t("block_part_latencies"),
      "q49_cometbft_node_stats" -> t("network_latency_node_stats").drop("connected_peers"),
      "q50_cometbft_timeout_clusters" -> t("timeout_clusters").select(col("node_id"),
        col("session_id"), col("start_height"), col("end_height"), col("timeout_count"),
        col("start_ns"), col("end_ns"), size(col("steps")).cast("long").as("n_steps"),
        concat_ws(",", col("steps")).as("steps_str"), col("duration_ms")),
      "q51_cometbft_tracer_summary" -> t("tracer_events").groupBy(col("stream"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("ts_ns")).as("min_ts_ns"), max(col("ts_ns")).as("max_ts_ns")),
      "q52_cometbft_measurements" -> t("network_latency_measurements"),
      "q53_cometbft_global_stats" -> t("network_latency_global_stats"))
  }

  /** Golden entries whose stored rows differ from the pinned values of
    * the 4-height fixture; empty when all match. The stored side is cast
    * to the golden schema; both sides are compared as sorted row lists. */
  def checkGolden(spark: SparkSession, warehouse: String): Seq[String] = {
    val shaped = goldenShape(spark, warehouse)
    CometbftGolden.sql.toSeq.sortBy(_._1).flatMap { case (q, sql) =>
      val want = spark.sql(sql)
      shaped.get(q) match {
        case None => Seq(s"$q: no stored table to compare")
        case Some(df) =>
          val got = df.select(want.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
          def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
          if (rows(got) == rows(want)) Nil
          else Seq(s"$q: stored rows differ from the golden values")
      }
    }
  }
}
