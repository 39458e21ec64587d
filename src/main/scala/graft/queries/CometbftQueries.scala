package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cometbft.{Fixtures, Pipeline}

/** CometBFT pipeline exposure for the driver's Verify harness.
  *
  * The log-ETL surface (ingest -> normalize -> 9 analytics) takes NDJSON
  * logs with protobuf payloads as input — not the sf parquet tables — so
  * its oracles cannot recompute from shared inputs. Instead the fixture
  * scenario is DETERMINISTIC (verified hash-identical across JVM runs),
  * and each analytic output is checked against golden VALUES SQL
  * generated by `tools/gen_golden.py` from a verified dump
  * ([[CometbftGolden]]). ScalaTest (ParsersSpec + PipelineSpec, incl. the
  * slow-node acceptance scenario) covers the semantics; the goldens pin
  * them.
  */
object CometbftQueries {

  /** One fixture warehouse per scenario per JVM, built on first access and
    * shared by every entry that reads it (Verify calls each query once). */
  private val lock = new Object
  private val built = scala.collection.mutable.Map.empty[String, String]

  private def warehouse(spark: SparkSession, scenario: String)(
      writeFixture: String => Unit): String = lock.synchronized {
    built.getOrElseUpdate(scenario, {
      val logDir = java.nio.file.Files.createTempDirectory(s"graft-cometbft-$scenario-logs").toString
      val wh     = java.nio.file.Files.createTempDirectory(s"graft-cometbft-$scenario-wh").toString
      writeFixture(logDir)
      Pipeline.run(spark, logDir, wh)
      wh
    })
  }

  private def builtWarehouse(spark: SparkSession): String =
    warehouse(spark, "main")(Fixtures.writeScenario(_, heights = 4))

  /** Separate warehouse for the adversarial J1 scenario (q55). */
  private def advWarehouse(spark: SparkSession): String =
    warehouse(spark, "adv")(Fixtures.writeAdversarialVoteScenario)

  /** INDEPENDENT oracle (unlike the gen_golden pins): the expected rows in
    * [[oracleSql]] were derived BY HAND from the reference machine
    * (`vote-latency/processor.go:26-65`) for the adversarial scenario of
    * [[Fixtures.writeAdversarialVoteScenario]] — every J1 edge order, plus
    * the entry-payload carry (vote_type comes from the entry-creating
    * event). Do NOT add q55 to tools/gen_golden.py's GOLDEN list: its
    * whole point is that a semantic regression here fails verification
    * instead of being re-pinned. */
  def q55VoteLatencyAdversarial(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advWarehouse(spark)}/vote_latencies")
      .select("height", "round", "val_idx", "sender", "receiver",
        "sent_ns", "received_ns", "latency_ms", "vote.voteType")
      .withColumnRenamed("voteType", "vote_type")

  /** Separate warehouse for the adversarial J3 scenario (q56). */
  private def advP2pWarehouse(spark: SparkSession): String =
    warehouse(spark, "advp2p")(Fixtures.writeAdversarialP2pScenario)

  /** INDEPENDENT hand-derived oracle for the J3 either-order machine
    * (`p2p-messages/processor.go:39-341`) on
    * [[Fixtures.writeAdversarialP2pScenario]] — the q55 pattern applied to
    * the p2p machine's edges. Do NOT add q56 to tools/gen_golden.py's
    * GOLDEN list (same rationale as q55). */
  def q56P2pAdversarial(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${advP2pWarehouse(spark)}/p2p_messages")
      .select(col("msg_family"), col("sender"), col("receiver"),
        col("height").cast("long").as("height"), col("sent_ns"), col("received_ns"),
        col("latency_ms"))
  }

  /** Separate warehouse for the adversarial J2 scenario (q61). */
  private def advBpWarehouse(spark: SparkSession): String =
    warehouse(spark, "advbp")(Fixtures.writeAdversarialBlockPartScenario)

  /** INDEPENDENT hand-derived oracle for the J2 block-part machine
    * (`block-parts/processor.go:43-90`) on
    * [[Fixtures.writeAdversarialBlockPartScenario]] — the q55 pattern for
    * the part-keyed twin of the vote machine, covering the pointer
    * aliasing and part-index key isolation. Do NOT add q61 to
    * tools/gen_golden.py's GOLDEN list (same rationale as q55/q56). */
  def q61BlockPartAdversarial(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advBpWarehouse(spark)}/block_part_latencies")
      .select("height", "round", "part_index", "sender", "receiver",
        "sent_ns", "received_ns", "latency_ms")

  /** Separate warehouse for the adversarial J4 scenario (q67/q69/q70). */
  private def advNlWarehouse(spark: SparkSession): String =
    warehouse(spark, "advnl")(Fixtures.writeAdversarialNetLatScenario)

  /** INDEPENDENT hand-derived oracle for the J4 two-pass FIFO+fallback
    * matcher (`network-latency/processor.go:122-328`) on
    * [[Fixtures.writeAdversarialNetLatScenario]] — the q55 pattern for the
    * last machine whose other rows are pipeline-pinned goldens. raw_hash
    * is projected out (a sha256 of wire bytes is not hand-derivable); the
    * remaining columns pin every match decision. Do NOT add q67 to
    * tools/gen_golden.py's GOLDEN list (same rationale as q55/q56/q61). */
  def q67NetLatAdversarial(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advNlWarehouse(spark)}/network_latency_measurements")
      .select("msg_type", "sender", "receiver", "sent_ns", "received_ns",
        "latency_ms", "match_type")

  /** Hand-derived per-node unmatched attribution for the J4 scenario
    * (`finalizeStats`, processor.go:449-476 + updateNodeStatsUnmatched):
    * pins that a fallback-matched receive still ticks unmatched_receives
    * on ITS node, and that the self-comm receive counts nowhere. */
  def q69NetLatAdvNodes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advNlWarehouse(spark)}/network_latency_node_stats")
      .select("node_id", "total_sends", "total_receives",
        "unmatched_sends", "unmatched_receives", "connected_peer_count")

  /** Hand-derived global unmatched totals for the J4 scenario — the
    * finalize-time accounting quirk in one row: 6 measurements but 3
    * unmatched receives (two of which ALSO produced measurements). */
  def q70NetLatAdvGlobal(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advNlWarehouse(spark)}/network_latency_global_stats")

  /** Separate warehouse for the adversarial consensus-timing scenario (q73). */
  private def advCtWarehouse(spark: SparkSession): String =
    warehouse(spark, "advct")(Fixtures.writeAdversarialTimingScenario)

  /** INDEPENDENT hand-derived oracle for the A1/J5 round-timing machine
    * (`consensus-timing/processor.go:33-160`) on
    * [[Fixtures.writeAdversarialTimingScenario]]: skip-missing durations,
    * step-created rounds, end-of-input flush, last-observation repeats,
    * the max-round commit lookup, and key isolation. The duration map
    * collapses to its lexicographic key list + value sum (hash-stable
    * scalars); transitions to their count. Do NOT add q73 to
    * tools/gen_golden.py's GOLDEN list (same rationale as q55). */
  def q73ConsensusTimingAdversarial(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${advCtWarehouse(spark)}/consensus_timing")
      .select(col("node_id"), col("height"), col("round"),
        col("start_ns"), col("end_ns"), col("total_round_time_ms"),
        size(col("step_transitions_ns")).cast("long").as("n_steps"),
        concat_ws(",", map_keys(col("step_durations_ms"))).as("dur_keys"),
        aggregate(map_values(col("step_durations_ms")), lit(0L), _ + _).as("dur_sum_ms"))
  }

  /** Separate warehouse for the adversarial timeout scenario (q74-q76). */
  private def advToWarehouse(spark: SparkSession): String =
    warehouse(spark, "advto")(Fixtures.writeAdversarialTimeoutScenario)

  /** INDEPENDENT hand-derived oracles for the timeout machine on
    * [[Fixtures.writeAdversarialTimeoutScenario]] (J6 join + A9 recovery:
    * q74; A10 dual-predicate clusters: q75; A8 per-node aggregate: q76).
    * Do NOT add q74/q75/q76 to tools/gen_golden.py's GOLDEN list. */
  def q74TimeoutEventsAdversarial(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advToWarehouse(spark)}/timeout_events")

  def q75TimeoutClustersAdversarial(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${advToWarehouse(spark)}/timeout_clusters")
      .select(col("node_id"), col("session_id"), col("start_height"), col("end_height"),
        col("timeout_count"), col("start_ns"), col("end_ns"),
        size(col("steps")).cast("long").as("n_steps"),
        concat_ws(",", col("steps")).as("steps_str"), col("duration_ms"))
  }

  def q76TimeoutAnalysisAdversarial(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${advToWarehouse(spark)}/timeout_analysis")

  /** Separate warehouse for the adversarial participation scenario (q77). */
  private def advVpWarehouse(spark: SparkSession): String =
    warehouse(spark, "advvp")(Fixtures.writeAdversarialParticipationScenario)

  /** INDEPENDENT hand-derived oracle for the A2+J7 participation machine
    * (`validator-participation/processor.go:10-180`) on
    * [[Fixtures.writeAdversarialParticipationScenario]] — q47's scalar
    * projection over the adversarial warehouse. Do NOT add q77 to
    * tools/gen_golden.py's GOLDEN list. */
  def q77ParticipationAdversarial(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${advVpWarehouse(spark)}/validator_participation")
      .select(col("height"), col("round"), col("validator_address"), col("node_id"),
        col("prevote_count"), col("precommit_count"),
        size(col("prevote_latency_ms")).cast("long").as("n_prevote_lat"),
        aggregate(col("prevote_latency_ms"), lit(0L), _ + _).as("sum_prevote_lat_ms"),
        size(col("precommit_latency_ms")).cast("long").as("n_precommit_lat"),
        aggregate(col("precommit_latency_ms"), lit(0L), _ + _).as("sum_precommit_lat_ms"),
        col("participated_prevote"), col("participated_precommit"),
        col("avg_prevote_time_ms"), col("avg_precommit_time_ms"),
        col("on_time_prevote"), col("on_time_precommit"))
  }

  def q40ConsensusTiming(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/consensus_timing")
      .select("node_id", "height", "round", "total_round_time_ms")

  def q41VoteLatencies(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/vote_latencies")
      .select("height", "round", "val_idx", "sender", "receiver",
        "sent_ns", "received_ns", "latency_ms")

  def q42NetworkLatency(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/network_latency_nodepair_summary")

  /** Multimodal plumbing over the documents table (stubbed codec; the
    * Spark-side schema/partition/batch shape is the thing under test). */
  def q43MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // Scalar exact-integer projection: the float features are inverted
    // back to their exact integer sources (byte sum and histogram-band
    // counts; the inversion error is far below 0.5 for any document
    // length here), so the mapPartitions feature extractor gets a full
    // DuckDB value oracle — and the output stays pandas-sortable (the raw
    // embedding array crashed the round-1 rows-only compare).
    graft.operators.Multimodal
      .extractFeatures(spark, graft.operators.Multimodal.assetsFromDocuments(docs))
      .toDF()
      .select(
        col("assetId").as("asset_id"), col("kind"),
        col("byteLen").as("byte_len"), col("contentHash").as("content_hash"),
        round(col("meanByte") * col("byteLen")).cast("long").as("sum_bytes"),
        round(element_at(col("embedding"), 2).cast("double") * col("byteLen")).cast("long").as("band1_n"),
        round(element_at(col("embedding"), 4).cast("double") * col("byteLen")).cast("long").as("band3_n"))
  }

  /** The remaining analytic outputs, scalar-projected (array columns
    * reduced to size/sum/joined-string) so the driver can sort and hash
    * them. Oracles are golden VALUES SQL generated from a verified dump
    * by `tools/gen_golden.py` (the fixture scenario is deterministic). */
  def q45P2pMessages(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${builtWarehouse(spark)}/p2p_messages")
      .select(col("msg_family"), col("sender"), col("receiver"),
        col("height").cast("long").as("height"), col("sent_ns"), col("received_ns"),
        col("latency_ms"))
  }

  def q46TimeoutAnalysis(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/timeout_analysis")

  def q47ValidatorParticipation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${builtWarehouse(spark)}/validator_participation")
      .select(col("height"), col("round"), col("validator_address"), col("node_id"),
        col("prevote_count"), col("precommit_count"),
        size(col("prevote_latency_ms")).cast("long").as("n_prevote_lat"),
        aggregate(col("prevote_latency_ms"), lit(0L), _ + _).as("sum_prevote_lat_ms"),
        size(col("precommit_latency_ms")).cast("long").as("n_precommit_lat"),
        aggregate(col("precommit_latency_ms"), lit(0L), _ + _).as("sum_precommit_lat_ms"),
        col("participated_prevote"), col("participated_precommit"),
        col("avg_prevote_time_ms"), col("avg_precommit_time_ms"),
        col("on_time_prevote"), col("on_time_precommit"))
  }

  def q48BlockParts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/block_part_latencies")

  def q49NodeStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/network_latency_node_stats")
      .drop("connected_peers")

  def q50TimeoutClusters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${builtWarehouse(spark)}/timeout_clusters")
      .select(col("node_id"), col("session_id"), col("start_height"), col("end_height"),
        col("timeout_count"), col("start_ns"), col("end_ns"),
        size(col("steps")).cast("long").as("n_steps"),
        concat_ws(",", col("steps")).as("steps_str"), col("duration_ms"))
  }

  def q51TracerSummary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${builtWarehouse(spark)}/tracer_events")
      .groupBy(col("stream"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("ts_ns")).as("min_ts_ns"),
        max(col("ts_ns")).as("max_ts_ns"))
  }

  def q52Measurements(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/network_latency_measurements")

  def q53GlobalStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${builtWarehouse(spark)}/network_latency_global_stats")

  /** Multimodal transform plumbing with a full value oracle: the resize
    * stub is deterministic byte slicing, and the documents corpus is pure
    * ASCII (verified octet_length == length for every row), so byte math
    * and md5 line up exactly with DuckDB's varchar functions. */
  def q44MultimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val assets = graft.operators.Multimodal.assetsFromDocuments(docs)
    graft.operators.Multimodal.resizeStub(assets, maxBytes = 100)
      .select(
        col("assetId").as("asset_id"),
        col("kind"),
        length(col("bytes")).cast("long").as("byte_len"),
        md5(col("bytes")).as("content_hash"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.format").as("format"))
  }

  /** Frame sampling over the asset table (q44's sibling): 32-byte frames
    * every 16 bytes, up to 4 per asset — the per-frame fingerprint chain
    * collapses to one scalar for the oracle (ASCII corpus, exact). */
  def q54MultimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val assets = graft.operators.Multimodal.assetsFromDocuments(docs)
    graft.operators.Multimodal.frameSampleStub(assets, frameLen = 32, stride = 16, maxFrames = 4)
      .select(
        col("assetId").as("asset_id"), col("kind"), col("n_frames"),
        md5(concat_ws("", expr("transform(frames, f -> md5(f))"))).as("frames_digest"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_cometbft_vote_latency_adversarial" -> q55VoteLatencyAdversarial _,
    "q56_cometbft_p2p_adversarial"  -> q56P2pAdversarial _,
    "q61_cometbft_block_part_adversarial" -> q61BlockPartAdversarial _,
    "q67_cometbft_netlat_adversarial" -> q67NetLatAdversarial _,
    "q73_cometbft_timing_adversarial" -> q73ConsensusTimingAdversarial _,
    "q74_cometbft_timeout_events_adversarial"   -> q74TimeoutEventsAdversarial _,
    "q77_cometbft_participation_adversarial"    -> q77ParticipationAdversarial _,
    "q75_cometbft_timeout_clusters_adversarial" -> q75TimeoutClustersAdversarial _,
    "q76_cometbft_timeout_analysis_adversarial" -> q76TimeoutAnalysisAdversarial _,
    "q69_cometbft_netlat_adv_nodes"   -> q69NetLatAdvNodes _,
    "q70_cometbft_netlat_adv_global"  -> q70NetLatAdvGlobal _,
    "q54_multimodal_frames"         -> q54MultimodalFrames _,
    "q40_cometbft_consensus_timing" -> q40ConsensusTiming _,
    "q41_cometbft_vote_latencies"   -> q41VoteLatencies _,
    "q42_cometbft_network_latency"  -> q42NetworkLatency _,
    "q43_multimodal_features"       -> q43MultimodalFeatures _,
    "q44_multimodal_resize"         -> q44MultimodalResize _,
    "q45_cometbft_p2p_messages"     -> q45P2pMessages _,
    "q46_cometbft_timeout_analysis" -> q46TimeoutAnalysis _,
    "q47_cometbft_validator_participation" -> q47ValidatorParticipation _,
    "q48_cometbft_block_parts"      -> q48BlockParts _,
    "q49_cometbft_node_stats"       -> q49NodeStats _,
    "q50_cometbft_timeout_clusters" -> q50TimeoutClusters _,
    "q51_cometbft_tracer_summary"   -> q51TracerSummary _,
    "q52_cometbft_measurements"     -> q52Measurements _,
    "q53_cometbft_global_stats"     -> q53GlobalStats _
  )

  val oracleSql: Map[String, String] = CometbftGolden.sql ++ Map(
    // HAND-DERIVED from block-parts/processor.go:43-90 (see
    // q61BlockPartAdversarial scaladoc). Per scenario case:
    //   h=201 plain:        sent T+10ms, recv T+15ms
    //   h=202 overwrite:    second send (T+22ms) wins
    //   h=203 aliasing:     both receives confirm the one send; the entry
    //                       pointer stays in the map and mutates in place
    //                       => two identical (36ms, 6) rows
    //   h=204 recv-only:    NULL sent (Go zero time, rationalized)
    //   h=205 key isolation: index 0 and index 1 are SEPARATE entries —
    //                       the idx-1 receive cannot confirm the idx-0
    //                       send; it creates its own entry and the second
    //                       idx-1 receive confirms NULL-sent
    //   h=206 R-S-R:        send overwrites the receive-created entry;
    //                       the second receive confirms 62->65
    // T = 2025-06-08T01:00:08Z = 1749344408e9 ns.
    "q61_cometbft_block_part_adversarial" ->
      """SELECT CAST(height AS BIGINT) AS height, CAST(round AS BIGINT) AS round,
        |  CAST(part_index AS BIGINT) AS part_index, sender, receiver,
        |  CAST(sent_ns AS BIGINT) AS sent_ns, CAST(received_ns AS BIGINT) AS received_ns,
        |  CAST(latency_ms AS BIGINT) AS latency_ms
        |FROM (VALUES
        |  (201, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344408010000000, 1749344408015000000, 5),
        |  (202, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344408022000000, 1749344408025000000, 3),
        |  (203, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344408030000000, 1749344408036000000, 6),
        |  (203, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344408030000000, 1749344408036000000, 6),
        |  (204, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', NULL, 1749344408043000000, NULL),
        |  (205, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344408050000000, 1749344408054000000, 4),
        |  (205, 0, 1, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', NULL, 1749344408056000000, NULL),
        |  (206, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344408062000000, 1749344408065000000, 3)
        |) AS t(height, round, part_index, sender, receiver, sent_ns, received_ns, latency_ms)""".stripMargin,
    // HAND-DERIVED from vote-latency/processor.go:26-65 (see
    // q55VoteLatencyAdversarial scaladoc). Per scenario case:
    //   h=101 plain:       sent T+10ms, recv T+15ms
    //   h=102 overwrite:   second send (T+22ms) wins
    //   h=103 repeat recv: BOTH receives confirm against the one send, and
    //                      the reference's pointer aliasing
    //                      (processor.go:43-45: the confirmed entry stays
    //                      in the map and each confirmation appends the
    //                      SAME pointer, mutated in place) makes both rows
    //                      carry the LAST receive's ts => two identical
    //                      (36ms, 6) rows
    //   h=104 recv-only:   NULL sent (Go zero time, rationalized), payload
    //                      from the FIRST receive => vote_type 'prevote'
    //   h=105 type-clobber: precommit send (T+52ms) clobbers the prevote
    //                      entry (VoteKey has no type field) => vote_type
    //                      'precommit' on a prevote receive
    //   h=106 R-S-R:       send overwrites the receive-created entry; the
    //                      second receive confirms against it
    // T = 2025-06-08T01:00:05Z = 1749344405e9 ns.
    "q55_cometbft_vote_latency_adversarial" ->
      """SELECT CAST(height AS BIGINT) AS height, CAST(round AS BIGINT) AS round,
        |  CAST(val_idx AS BIGINT) AS val_idx, sender, receiver,
        |  CAST(sent_ns AS BIGINT) AS sent_ns, CAST(received_ns AS BIGINT) AS received_ns,
        |  CAST(latency_ms AS BIGINT) AS latency_ms, vote_type
        |FROM (VALUES
        |  (101, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344405010000000, 1749344405015000000, 5, 'prevote'),
        |  (102, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344405022000000, 1749344405025000000, 3, 'prevote'),
        |  (103, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344405030000000, 1749344405036000000, 6, 'prevote'),
        |  (103, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344405030000000, 1749344405036000000, 6, 'prevote'),
        |  (104, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', NULL, 1749344405043000000, NULL, 'prevote'),
        |  (105, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344405052000000, 1749344405055000000, 3, 'precommit'),
        |  (106, 0, 0, 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344405062000000, 1749344405065000000, 3, 'prevote')
        |) AS t(height, round, val_idx, sender, receiver, sent_ns, received_ns, latency_ms, vote_type)""".stripMargin,
    // HAND-DERIVED from p2p-messages/processor.go:39-341 (see
    // q56P2pAdversarial scaladoc). Per scenario case, T = t0 + 6 s:
    //   h=201 recv(15) send(20): processSend sees a Received entry and
    //         confirms against it => NEGATIVE latency (20,15,-5)
    //   h=202 recv(25) recv(28): second receive hits the nil-SentTime
    //         assertion (reference panics; rationalized to NULL sent)
    //         => (NULL,28,NULL); then send(30) is the FIRST send with a
    //         pending first receive => (30,25,-5)
    //   h=203 send(35) recv(40) recv(43): a Confirmed entry re-confirms on
    //         every receive, each a FRESH snapshot struct (no J1-style
    //         aliasing) => (35,40,5) AND (35,43,8), distinct
    //   h=204 send(50) send(52) recv(55): overwrite => (52,55,3)
    //   h=205 send(60) recv(62) send(64) recv(66): second send sees a
    //         Confirmed (not Received) entry so it only overwrites
    //         => (60,62,2), (64,66,2)
    //   h=206 has_vote send(70) never received; new_round_step recv(72)
    //         send(75) => (75,72,-3) — same height, different family map,
    //         no cross-talk
    //   h=207 send idx=2, recv idx=3: different HasVote key => nothing
    "q56_cometbft_p2p_adversarial" ->
      """SELECT msg_family, sender, receiver, CAST(height AS BIGINT) AS height,
        |  CAST(sent_ns AS BIGINT) AS sent_ns, CAST(received_ns AS BIGINT) AS received_ns,
        |  CAST(latency_ms AS BIGINT) AS latency_ms
        |FROM (VALUES
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 201, 1749344406020000000, 1749344406015000000, -5),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 202, NULL, 1749344406028000000, NULL),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 202, 1749344406030000000, 1749344406025000000, -5),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 203, 1749344406035000000, 1749344406040000000, 5),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 203, 1749344406035000000, 1749344406043000000, 8),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 204, 1749344406052000000, 1749344406055000000, 3),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 205, 1749344406060000000, 1749344406062000000, 2),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 205, 1749344406064000000, 1749344406066000000, 2),
        |  ('new_round_step', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 206, 1749344406075000000, 1749344406072000000, -3)
        |) AS t(msg_family, sender, receiver, height, sent_ns, received_ns, latency_ms)""".stripMargin,
    // HAND-DERIVED from network-latency/processor.go:122-328 (see
    // q67NetLatAdversarial / Fixtures.writeAdversarialNetLatScenario).
    // Per scenario case, T = t0 + 9 s = 1749344409e9 ns:
    //   h=301 plain:        (10, 15, 5, exact)
    //   h=302 FIFO:         first receive pops the OLDEST send =>
    //                       (20, 25, 5) and (22, 28, 6), both exact
    //   h=303 recv-first:   matched ON THE SEND side (:151-177), latency
    //                       = send - receive => (34, 30, 4, exact)
    //   h=304 fallback:     TrySend popped at the receive's arrival
    //                       (:272-328) => (40, 44, 4, hash_fallback)
    //   h=305 at-empty:     receive found an empty pool; the later
    //                       TrySend never looks back => no row
    //   h=306 pool FIFO:    oldest TrySend pops => (60, 66, 6,
    //                       hash_fallback); the second stays unmatched
    //   h=307/308:          never-received sends => no rows
    "q67_cometbft_netlat_adversarial" ->
      """SELECT msg_type, sender, receiver, CAST(sent_ns AS BIGINT) AS sent_ns,
        |  CAST(received_ns AS BIGINT) AS received_ns,
        |  CAST(latency_ms AS BIGINT) AS latency_ms, match_type
        |FROM (VALUES
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344409010000000, 1749344409015000000, 5, 'exact'),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344409020000000, 1749344409025000000, 5, 'exact'),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344409022000000, 1749344409028000000, 6, 'exact'),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344409034000000, 1749344409030000000, 4, 'exact'),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344409040000000, 1749344409044000000, 4, 'hash_fallback'),
        |  ('has_vote', 'aaaa000000000000000000000000000000000001', 'bbbb000000000000000000000000000000000002', 1749344409060000000, 1749344409066000000, 6, 'hash_fallback')
        |) AS t(msg_type, sender, receiver, sent_ns, received_ns, latency_ms, match_type)""".stripMargin,
    // HAND-DERIVED from consensus-timing/processor.go:33-160 (see
    // q73ConsensusTimingAdversarial / writeAdversarialTimingScenario).
    // T = t0 + 11 s = 1749344411e9 ns; durations in ms:
    //   h=401 full chain: nr(10) pr(12) pv(15) pc(19) cm(24) cb(30) =>
    //         durs 2,3,4,5,6 (sum 20), 6 steps, total 20
    //   h=402 skip-missing: nr(40) pv(43) cm(47) cb(52) => nr->pv 3,
    //         pv->cm 4, cm->cb 5 (sum 12), 4 steps
    //   h=403 step-created, never committed: pr(60) pv(63) pc(67),
    //         start=60 end=67 total 7
    //   h=404 two open rounds: commit(95) closes round 1 (max-round,
    //         documented deterministic pick); round 0 flushes at its own
    //         max (82)
    //   h=405 repeat propose (102,104): last wins => nr->pr 4, pr->pv 3
    //   h=406 on node B: key isolation
    "q73_cometbft_timing_adversarial" ->
      """SELECT node_id, CAST(height AS BIGINT) AS height, CAST(round AS BIGINT) AS round,
        |  CAST(start_ns AS BIGINT) AS start_ns, CAST(end_ns AS BIGINT) AS end_ns,
        |  CAST(total_round_time_ms AS BIGINT) AS total_round_time_ms,
        |  CAST(n_steps AS BIGINT) AS n_steps, dur_keys, CAST(dur_sum_ms AS BIGINT) AS dur_sum_ms
        |FROM (VALUES
        |  ('aaaa000000000000000000000000000000000001', 401, 0, 1749344411010000000, 1749344411030000000, 20, 6, 'entering_commit_to_committed_block,entering_precommit_to_entering_commit,entering_prevote_to_entering_precommit,new_round_to_propose,propose_to_entering_prevote', 20),
        |  ('aaaa000000000000000000000000000000000001', 402, 0, 1749344411040000000, 1749344411052000000, 12, 4, 'entering_commit_to_committed_block,entering_prevote_to_entering_commit,new_round_to_entering_prevote', 12),
        |  ('aaaa000000000000000000000000000000000001', 403, 0, 1749344411060000000, 1749344411067000000, 7, 3, 'entering_prevote_to_entering_precommit,propose_to_entering_prevote', 7),
        |  ('aaaa000000000000000000000000000000000001', 404, 0, 1749344411080000000, 1749344411082000000, 2, 2, 'new_round_to_entering_prevote', 2),
        |  ('aaaa000000000000000000000000000000000001', 404, 1, 1749344411085000000, 1749344411095000000, 10, 3, 'entering_prevote_to_committed_block,new_round_to_entering_prevote', 10),
        |  ('aaaa000000000000000000000000000000000001', 405, 0, 1749344411100000000, 1749344411112000000, 12, 4, 'entering_prevote_to_committed_block,new_round_to_propose,propose_to_entering_prevote', 12),
        |  ('bbbb000000000000000000000000000000000002', 406, 0, 1749344411120000000, 1749344411130000000, 10, 3, 'entering_prevote_to_committed_block,new_round_to_entering_prevote', 10)
        |) AS t(node_id, height, round, start_ns, end_ns, total_round_time_ms, n_steps, dur_keys, dur_sum_ms)""".stripMargin,
    // HAND-DERIVED from validator-participation/processor.go:10-180 (see
    // writeAdversarialParticipationScenario). T = t0 + 15 s. Latencies vs
    // the SENDING node's own step start: A's 601 prevotes @12/@16 vs @10
    // => [2,6] avg 4; B's @26 vs ITS start @20 => 6 (per-node starts, the
    // documented rationalization); 603 latencies [1000,1005] => avg 1002,
    // on-time FALSE because the LAST vote is late; 604 r1 keyed to the r1
    // start; 602/604-r0 votes have no start (no latency, on-time false);
    // 605's precommit sits in a prevote-only round.
    "q77_cometbft_participation_adversarial" ->
      """SELECT CAST(height AS BIGINT) AS height, CAST(round AS BIGINT) AS round,
        |  validator_address, node_id,
        |  CAST(prevote_count AS BIGINT) AS prevote_count,
        |  CAST(precommit_count AS BIGINT) AS precommit_count,
        |  CAST(n_prevote_lat AS BIGINT) AS n_prevote_lat,
        |  CAST(sum_prevote_lat_ms AS BIGINT) AS sum_prevote_lat_ms,
        |  CAST(n_precommit_lat AS BIGINT) AS n_precommit_lat,
        |  CAST(sum_precommit_lat_ms AS BIGINT) AS sum_precommit_lat_ms,
        |  participated_prevote, participated_precommit,
        |  CAST(avg_prevote_time_ms AS BIGINT) AS avg_prevote_time_ms,
        |  CAST(avg_precommit_time_ms AS BIGINT) AS avg_precommit_time_ms,
        |  on_time_prevote, on_time_precommit
        |FROM (VALUES
        |  (601, 0, '1111111111111111111111111111111111111111', 'aaaa000000000000000000000000000000000001', 2, 1, 2, 8, 1, 4, true, true, 4, 4, true, true),
        |  (601, 0, '2222222222222222222222222222222222222222', 'bbbb000000000000000000000000000000000002', 1, 0, 1, 6, 0, 0, true, false, 6, NULL, true, false),
        |  (602, 0, '1111111111111111111111111111111111111111', 'aaaa000000000000000000000000000000000001', 1, 0, 0, 0, 0, 0, true, false, NULL, NULL, false, false),
        |  (603, 0, '1111111111111111111111111111111111111111', 'aaaa000000000000000000000000000000000001', 2, 0, 2, 2005, 0, 0, true, false, 1002, NULL, false, false),
        |  (604, 1, '1111111111111111111111111111111111111111', 'aaaa000000000000000000000000000000000001', 1, 0, 1, 3, 0, 0, true, false, 3, NULL, true, false),
        |  (604, 0, '1111111111111111111111111111111111111111', 'aaaa000000000000000000000000000000000001', 1, 0, 0, 0, 0, 0, true, false, NULL, NULL, false, false),
        |  (605, 0, '1111111111111111111111111111111111111111', 'aaaa000000000000000000000000000000000001', 0, 1, 0, 0, 0, 0, false, true, NULL, NULL, false, false)
        |) AS t(height, round, validator_address, node_id, prevote_count, precommit_count, n_prevote_lat, sum_prevote_lat_ms, n_precommit_lat, sum_precommit_lat_ms, participated_prevote, participated_precommit, avg_prevote_time_ms, avg_precommit_time_ms, on_time_prevote, on_time_precommit)""".stripMargin,
    // HAND-DERIVED from timeout-analysis/processor.go:101-208 (see
    // writeAdversarialTimeoutScenario). T = t0 + 13 s = 1749344413e9 ns.
    // J6: only (500,0,prevote)@14 and (501,1,prevote)@42 step starts
    // exist => 6 ms / 2 ms TimeInStep, everything else NULL. A9: recovery
    // iff >= 2 strictly-earlier timeouts in rounds [r-2, r] of the same
    // height/node — true only for (501,2)@48 and (501,3)@52.
    "q74_cometbft_timeout_events_adversarial" ->
      """SELECT node_id, validator_address, CAST(height AS BIGINT) AS height,
        |  CAST(round AS BIGINT) AS round, step, CAST(duration_ms AS BIGINT) AS duration_ms,
        |  CAST(ts_ns AS BIGINT) AS ts_ns, CAST(step_start_ns AS BIGINT) AS step_start_ns,
        |  CAST(time_in_step_ms AS BIGINT) AS time_in_step_ms,
        |  CAST(prior_timeouts AS BIGINT) AS prior_timeouts, is_recovery_timeout
        |FROM (VALUES
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 500, 0, 'prevote', 1000, 1749344413020000000, 1749344413014000000, 6, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 500, 0, 'precommit', 500, 1749344413022000000, NULL, NULL, 1, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 501, 0, 'prevote', 1000, 1749344413040000000, NULL, NULL, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 501, 1, 'prevote', 2000, 1749344413044000000, 1749344413042000000, 2, 1, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 501, 2, 'prevote', 1000, 1749344413048000000, NULL, NULL, 2, true),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 501, 3, 'precommit', 3000, 1749344413052000000, NULL, NULL, 2, true),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 501, 6, 'propose', 1000, 1749344413056000000, NULL, NULL, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 502, 0, 'prevote', 1000, 1749344413080000000, NULL, NULL, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 510, 0, 'prevote', 1000, 1749344413085000000, NULL, NULL, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 511, 0, 'precommit', 2000, 1749344413087000000, NULL, NULL, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 512, 0, 'prevote', 1000, 1749344413089000000, NULL, NULL, 0, false),
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 512, 1, 'propose', 4000, 1749344448000000000, NULL, NULL, 1, false),
        |  ('bbbb000000000000000000000000000000000002', '2222222222222222222222222222222222222222', 500, 0, 'prevote', 1500, 1749344413100000000, NULL, NULL, 0, false)
        |) AS t(node_id, validator_address, height, round, step, duration_ms, ts_ns, step_start_ns, time_in_step_ms, prior_timeouts, is_recovery_timeout)""".stripMargin,
    // HAND-DERIVED A10 clusters: one chain over heights 500-502 (8 events,
    // 60 ms), broken by the height-8 jump; a second 3-event chain 510-512;
    // the post-35 s singleton discarded (< 3). Node B's lone timeout never
    // clusters.
    "q75_cometbft_timeout_clusters_adversarial" ->
      """SELECT node_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(start_height AS BIGINT) AS start_height, CAST(end_height AS BIGINT) AS end_height,
        |  CAST(timeout_count AS BIGINT) AS timeout_count, CAST(start_ns AS BIGINT) AS start_ns,
        |  CAST(end_ns AS BIGINT) AS end_ns, CAST(n_steps AS BIGINT) AS n_steps,
        |  steps_str, CAST(duration_ms AS BIGINT) AS duration_ms
        |FROM (VALUES
        |  ('aaaa000000000000000000000000000000000001', 1, 500, 502, 8, 1749344413020000000, 1749344413080000000, 8, 'prevote,precommit,prevote,prevote,prevote,precommit,propose,prevote', 60),
        |  ('aaaa000000000000000000000000000000000001', 2, 510, 512, 3, 1749344413085000000, 1749344413089000000, 3, 'prevote,precommit,prevote', 4)
        |) AS t(node_id, session_id, start_height, end_height, timeout_count, start_ns, end_ns, n_steps, steps_str, duration_ms)""".stripMargin,
    // HAND-DERIVED A8 per-node aggregate: A = 12 timeouts / 18500 ms total
    // (integer-div avg 1541), 2 recovery, 11 distinct rounds, 2 new-round
    // events => avg 6.0/round exact; B = one timeout, 0 rounds => NULL avg.
    "q76_cometbft_timeout_analysis_adversarial" ->
      """SELECT node_id, validator_address, CAST(total_timeouts AS BIGINT) AS total_timeouts,
        |  CAST(duration_sum_ms AS BIGINT) AS duration_sum_ms,
        |  CAST(min_timeout_duration_ms AS BIGINT) AS min_timeout_duration_ms,
        |  CAST(max_timeout_duration_ms AS BIGINT) AS max_timeout_duration_ms,
        |  CAST(recovery_timeouts AS BIGINT) AS recovery_timeouts,
        |  CAST(propose_timeouts AS BIGINT) AS propose_timeouts,
        |  CAST(prevote_timeouts AS BIGINT) AS prevote_timeouts,
        |  CAST(precommit_timeouts AS BIGINT) AS precommit_timeouts,
        |  CAST(rounds_with_timeouts AS BIGINT) AS rounds_with_timeouts,
        |  CAST(min_height AS BIGINT) AS min_height, CAST(max_height AS BIGINT) AS max_height,
        |  CAST(first_timeout_ns AS BIGINT) AS first_timeout_ns,
        |  CAST(last_timeout_ns AS BIGINT) AS last_timeout_ns,
        |  CAST(total_rounds AS BIGINT) AS total_rounds,
        |  CAST(avg_timeout_duration_ms AS BIGINT) AS avg_timeout_duration_ms,
        |  CAST(avg_timeouts_per_round AS DOUBLE) AS avg_timeouts_per_round, height_range
        |FROM (VALUES
        |  ('aaaa000000000000000000000000000000000001', '1111111111111111111111111111111111111111', 12, 18500, 500, 4000, 2, 2, 7, 3, 11, 500, 512, 1749344413020000000, 1749344448000000000, 2, 1541, 6.0, '500-512'),
        |  ('bbbb000000000000000000000000000000000002', '2222222222222222222222222222222222222222', 1, 1500, 1500, 1500, 0, 0, 1, 0, 1, 500, 500, 1749344413100000000, 1749344413100000000, 0, 1500, NULL, '500-500')
        |) AS t(node_id, validator_address, total_timeouts, duration_sum_ms, min_timeout_duration_ms, max_timeout_duration_ms, recovery_timeouts, propose_timeouts, prevote_timeouts, precommit_timeouts, rounds_with_timeouts, min_height, max_height, first_timeout_ns, last_timeout_ns, total_rounds, avg_timeout_duration_ms, avg_timeouts_per_round, height_range)""".stripMargin,
    // HAND-DERIVED finalize-time per-node attribution (processor.go:449-476):
    //   node A: 10 sends (incl. 4 TrySends), 4 unmatched (305+306b raw,
    //           307+308 composite); peers {'', b} => count 2 (the reference
    //           adds the empty TrySend peer to ConnectedPeers too)
    //   node B: 7 receives (308's self-comm receive dropped by :222-225,
    //           counted NOWHERE), 3 unmatched receives — 304 and 306 DID
    //           produce measurements but were never removed from
    //           pendingReceives, so they still tick unmatched
    "q69_cometbft_netlat_adv_nodes" ->
      """SELECT node_id, CAST(total_sends AS BIGINT) AS total_sends,
        |  CAST(total_receives AS BIGINT) AS total_receives,
        |  CAST(unmatched_sends AS BIGINT) AS unmatched_sends,
        |  CAST(unmatched_receives AS BIGINT) AS unmatched_receives,
        |  CAST(connected_peer_count AS BIGINT) AS connected_peer_count
        |FROM (VALUES
        |  ('aaaa000000000000000000000000000000000001', 10, 0, 4, 0, 2),
        |  ('bbbb000000000000000000000000000000000002', 0, 7, 0, 3, 1)
        |) AS t(node_id, total_sends, total_receives, unmatched_sends, unmatched_receives, connected_peer_count)""".stripMargin,
    // HAND-DERIVED global totals: 6 measurements, 4 unmatched sends,
    // 3 unmatched receives (two of which also measured — the fallback
    // accounting quirk in one row).
    "q70_cometbft_netlat_adv_global" ->
      """SELECT CAST(total_matched AS BIGINT) AS total_matched,
        |  CAST(total_unmatched_sends AS BIGINT) AS total_unmatched_sends,
        |  CAST(total_unmatched_receives AS BIGINT) AS total_unmatched_receives
        |FROM (VALUES (6, 4, 3)
        |) AS t(total_matched, total_unmatched_sends, total_unmatched_receives)""".stripMargin,
    "q43_multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |  length(text) AS byte_len,
        |  md5(text) AS content_hash,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1)))) AS BIGINT) AS sum_bytes,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)), i -> CASE WHEN ord(substr(text, i, 1)) // 32 = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS band1_n,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)), i -> CASE WHEN ord(substr(text, i, 1)) // 32 = 3 THEN 1 ELSE 0 END)) AS BIGINT) AS band3_n
        |FROM documents""".stripMargin,
    "q54_multimodal_frames" ->
      """SELECT doc_id AS asset_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |  CAST(greatest(least((length(text) - 32) // 16, 3), 0) + 1 AS BIGINT) AS n_frames,
        |  md5(array_to_string(list_transform(
        |    generate_series(0, CAST(greatest(least((length(text) - 32) // 16, 3), 0) AS INTEGER)),
        |    i -> md5(substr(text, 1 + i * 16, 32))), '')) AS frames_digest
        |FROM documents""".stripMargin,
    "q44_multimodal_resize" ->
      """SELECT doc_id AS asset_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |  LEAST(length(text), 100) AS byte_len,
        |  md5(substr(text, 1, 100)) AS content_hash,
        |  LEAST(n_chars % 640, 100) AS width,
        |  LEAST(n_chars % 480, 100) AS height,
        |  'stub-resized' AS format
        |FROM documents""".stripMargin
  )
}
