package graft.cometbft

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: fixture logs → ingest → normalize → all 9 analytics.
  * The acceptance scenario mirrors the reference's example-logs: node0 is
  * configured slow (10x step latencies) and the consensus_timing output
  * must expose it. */
class PipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val logs5: String = {
    val logDir = java.nio.file.Files.createTempDirectory("graft-logs").toString
    Fixtures.writeScenario(logDir, heights = 5)
    logDir
  }

  private lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    Pipeline.run(spark, logs5, wh)
    wh
  }

  private def t(name: String) = spark.read.parquet(s"$warehouse/$name")

  test("Pipeline.run returns the written row counts (observe-counted sinks)") {
    // fresh small run so the returned map is in hand; every count must
    // equal the actual stored table - the counts ride the WRITE jobs via
    // observe(), and a silently-unpopulated metric would read as zero
    val logDir = java.nio.file.Files.createTempDirectory("graft-cnt-logs").toString
    val wh     = java.nio.file.Files.createTempDirectory("graft-cnt-wh").toString
    Fixtures.writeScenario(logDir, heights = 2)
    val counts = Pipeline.run(spark, logDir, wh)
    assert(counts("events") > 0L, "events count must be populated, not zero")
    counts.foreach { case (tbl, n) =>
      val stored = spark.read.parquet(s"$wh/$tbl").count()
      assert(n == stored, s"$tbl: returned $n, stored $stored")
    }
  }

  // The `events` table as Normalize builds it from the 5-height fixture:
  // its exact schema (names, order, types, nullability) and an
  // order-independent fingerprint of every row and column, so a change to
  // how the table is built cannot drift a column that no other test reads.
  // `src_file` enters the hash by file name, not by its temp-dir path.
  private val eventsDdl = Seq(
    "event_type STRING", "ts TIMESTAMP", "ts_ns BIGINT", "node_id STRING",
    "validator_address STRING", "src_file STRING NOT NULL", "height BIGINT", "round BIGINT",
    "proposer STRING", "prev_height BIGINT", "prev_round BIGINT", "prev_step STRING",
    "step STRING", "is_our_turn BOOLEAN",
    "proposal STRUCT<height: BIGINT NOT NULL, round: BIGINT NOT NULL, " +
      "polRound: BIGINT NOT NULL, blockHash: STRING, psTotal: BIGINT NOT NULL, " +
      "psHash: STRING, signature: STRING, tsNs: BIGINT NOT NULL>",
    "hash STRING",
    "block STRUCT<chainId: STRING, height: BIGINT NOT NULL, timeNs: BIGINT NOT NULL, " +
      "versionBlock: BIGINT NOT NULL, versionApp: BIGINT NOT NULL, lastBlockIdHash: STRING, " +
      "lastCommitHash: STRING, dataHash: STRING, validatorsHash: STRING, " +
      "nextValidatorsHash: STRING, consensusHash: STRING, appHash: STRING, " +
      "lastResultsHash: STRING, evidenceHash: STRING, proposerAddress: STRING, " +
      "txsHex: ARRAY<STRING>, commitHeight: BIGINT NOT NULL, commitRound: BIGINT NOT NULL, " +
      "commitBlockIdHash: STRING, signatures: ARRAY<STRUCT<flag: STRING, " +
      "validatorAddress: STRING, signature: STRING, tsNs: BIGINT NOT NULL>>, blockHash: STRING>",
    "timeout_step STRING", "duration_ms BIGINT", "channel BIGINT", "channel_name STRING",
    "msg_bytes BINARY",
    "decoded STRUCT<msgType: STRING, height: BIGINT, round: BIGINT, step: STRING, " +
      "index: BIGINT, secondsSinceStartTime: BIGINT, lastCommitRound: BIGINT, " +
      "isCommit: BOOLEAN, proposalPolRound: BIGINT, blockIdHash: STRING, psTotal: BIGINT, " +
      "psHash: STRING, bitsTotal: BIGINT, bitsElems: ARRAY<BIGINT>, partIndex: BIGINT, " +
      "partBytesHex: STRING, vote: STRUCT<voteType: STRING, height: BIGINT NOT NULL, " +
      "round: BIGINT NOT NULL, blockHash: STRING, psHash: STRING, psTotal: BIGINT NOT NULL, " +
      "tsNs: BIGINT NOT NULL, validatorAddress: STRING, validatorIndex: BIGINT NOT NULL, " +
      "signature: STRING, extension: STRING>, proposal: STRUCT<height: BIGINT NOT NULL, " +
      "round: BIGINT NOT NULL, polRound: BIGINT NOT NULL, blockHash: STRING, " +
      "psTotal: BIGINT NOT NULL, psHash: STRING, signature: STRING, tsNs: BIGINT NOT NULL>>",
    "recipient_peer STRING", "recipient_peer_id STRING",
    "vote STRUCT<voteType: STRING, height: BIGINT NOT NULL, round: BIGINT NOT NULL, " +
      "blockHash: STRING, psHash: STRING, psTotal: BIGINT NOT NULL, tsNs: BIGINT NOT NULL, " +
      "validatorAddress: STRING, validatorIndex: BIGINT NOT NULL, signature: STRING, " +
      "extension: STRING>",
    "source_peer STRING", "source_peer_id STRING").mkString(",")

  test("events schema and content are pinned on the 5-height fixture") {
    val events = Normalize.normalize(LogIngest.read(spark, logs5))
    assert(events.schema.toDDL == eventsDdl)
    val hashed = events.columns.map {
      case "src_file" => regexp_extract(col("src_file"), "[^/]+$", 0)
      case c          => col(c)
    }
    val fp = events.agg(count(lit(1)), sum(xxhash64(hashed: _*).cast("decimal(38,0)")))
      .collect().head
    assert((fp.getLong(0), fp.getDecimal(1).toString) == ((644L, "-49671817533489366522")))
  }

  test("normalize scans the log text twice: once for rows, once for the P7 metadata") {
    val plan = Normalize.normalize(LogIngest.read(spark, logs5)).queryExecution.executedPlan
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 2)
  }

  test("p2p_messages confirms all 8 families in one machine pass") {
    val events = Normalize.normalize(LogIngest.read(spark, logs5))
    val plan = Analytics.P2pMessages.run(events).head._2.queryExecution.executedPlan
    // one machine per family planned 48 Window operators
    assert(collect(plan) { case w: WindowExec => w }.size <= 6)
  }

  test("each pairing table reads its one tagged projection: one scan of events") {
    // a send frame and a receive frame scanned events once each
    val events = t("events")
    Seq(Analytics.VoteLatency, Analytics.BlockParts, Analytics.P2pMessages, Analytics.NetworkLatency)
      .flatMap(_.run(events))
      .filter { case (name, _) => Set("vote_latencies", "block_part_latencies", "p2p_messages",
        "network_latency_duplicates_debug")(name) }
      .foreach { case (name, df) =>
        val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
        assert(scans.size == 1, s"$name scans events ${scans.size} times")
      }
  }

  test("malformed round-info strings drop their line; the run and the valid lines go on") {
    def ts(i: Int) = f"2025-06-09T00:00:00.$i%09dZ"
    def newRound(i: Int, previous: String) =
      s"""{"_msg":"Entering new round","ts":"${ts(i)}","current":"3/0/RoundStepNewHeight","previous":"$previous","proposer":"P","height":3,"round":0}"""
    def prevote(i: Int, current: String) =
      s"""{"_msg":"Entering prevote step","ts":"${ts(i)}","current":"$current","height":3,"round":0}"""
    val malformed = Seq(
      newRound(1, "x/0/RoundStepCommit"), newRound(2, "2/0"),
      newRound(3, "2/0/RoundStepCommit/z"), newRound(4, "-2/0/RoundStepCommit"),
      prevote(5, "3/x/RoundStepPrevote"), prevote(6, "3"))
    Seq("x/0/RoundStepCommit", "2/0", "2/0/RoundStepCommit/z", "-2/0/RoundStepCommit",
      "3/x/RoundStepPrevote", "3").foreach(s => assert(Parsers.parseRoundInfo(s).isEmpty, s))
    val valid = Seq(newRound(7, "2/0/RoundStepCommit"), prevote(8, "3/0/RoundStepPrevote"))
    val logs = tmp("graft-roundinfo-logs")
    Fixtures.writeScenario(logs, heights = 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$logs/node1_cometbft.log"),
      ("\n" + (malformed ++ valid).mkString("\n")).getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val wh = tmp("graft-roundinfo-wh")
    Pipeline.run(spark, logs, wh)
    val added = spark.read.parquet(s"$wh/events")
      .filter(col("ts") >= lit("2025-06-09").cast("timestamp"))
      .select("ts_ns", "event_type", "height", "round", "prev_height", "prev_round",
        "prev_step", "step")
      .collect().map(r => (0 until r.length).map(r.get)).sortBy(_.head.asInstanceOf[Long]).toSeq
    val day = java.time.Instant.parse("2025-06-09T00:00:00Z").getEpochSecond * 1000000000L
    assert(added == Seq(
      Seq(day + 7, "entering_new_round", 3L, 0L, 2L, 0L, "commit", null),
      Seq(day + 8, "entering_prevote_step", 3L, 0L, null, null, null, "prevote")))
  }

  test("events are produced for every family") {
    val byType = t("events").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.keySet.contains("entering_new_round"))
    assert(byType.keySet.contains("entering_prevote_step"))
    assert(byType.keySet.contains("propose_step"))
    assert(byType.keySet.contains("send_vote"))
    assert(byType.keySet.contains("receive_packet_vote"))
    assert(byType.keySet.contains("receive_packet_block_part"))
    assert(byType.keySet.contains("send_proposal"))
    assert(byType.keySet.contains("committed_block"))
    assert(byType.keySet.contains("scheduled_timeout"))
    assert(byType.keySet.contains("received_proposal"))
    // 4 nodes x 5 heights
    assert(byType("entering_new_round") == 20L)
    assert(byType("committed_block") == 20L)
    // each node sends prevote+precommit to 3 peers per height
    assert(byType("send_vote") == 4L * 5 * 6)
  }

  test("non-consensus channel traffic decodes but never surfaces as events") {
    // the fixture gossips mempool/blocksync/pex/statesync/evidence lines
    // every proposer turn; the reference decodes the first four then
    // rejects all of them at channel-validity (convereter.go:46-58)
    val types = t("events").select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    val leaked = types.filter(t => t.contains("mempool") || t.contains("blocksync") ||
      t.contains("pex") || t.contains("statesync") || t.contains("evidence"))
    assert(leaked.isEmpty, s"non-consensus events leaked: $leaked")
  }

  test("metadata attach: every event carries node_id and validator_address") {
    assert(t("events").filter(col("node_id").isNull || col("validator_address").isNull).count() == 0L)
  }

  test("vote latency pairing produces confirmed pairs with positive latency") {
    val vl = t("vote_latencies")
    assert(vl.count() > 0)
    assert(vl.filter(col("latency_ms") < 0).count() == 0L)
  }

  test("p2p message confirmation covers votes") {
    val p2p = t("p2p_messages")
    assert(p2p.filter(col("msg_family") === "vote").count() > 0)
  }

  test("consensus timing exposes the slow node (acceptance scenario)") {
    val avgByNode = t("consensus_timing")
      .groupBy("node_id").agg(avg(col("total_round_time_ms")).as("avg_ms"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val slow   = avgByNode.keys.find(_.startsWith("aaaa")).get
    val others = avgByNode.filter(!_._1.startsWith("aaaa")).values
    assert(avgByNode(slow) > others.max * 3,
      s"slow node not detected: $avgByNode")
  }

  test("consensus timing has step durations in canonical order") {
    val row = t("consensus_timing").filter(col("height") === 2L).limit(1).collect().head
    val durs = row.getMap[String, Long](row.fieldIndex("step_durations_ms"))
    assert(durs.nonEmpty)
    assert(durs.keys.exists(_.contains("_to_")))
  }

  test("timeout analysis: node0 has timeouts every height and clusters") {
    val ta = t("timeout_analysis")
    val node0 = ta.filter(col("node_id").startsWith("aaaa")).collect().head
    assert(node0.getLong(node0.fieldIndex("total_timeouts")) == 5L)
    assert(t("timeout_clusters").count() >= 1)
  }

  test("network latency: measurements and five tables exist") {
    assert(t("network_latency_measurements").count() > 0)
    assert(t("network_latency_node_stats").count() == 4L)
    assert(t("network_latency_global_stats").count() == 1L)
    val hist = t("network_latency_nodepair_summary")
    assert(hist.filter(col("msg_type") === "overall").count() > 0)
  }

  test("validator participation: all four validators participate") {
    val vp = t("validator_participation")
    assert(vp.select(countDistinct(col("validator_address"))).collect().head.getLong(0) == 4L)
    assert(vp.filter(col("participated_prevote") && col("participated_precommit")).count() > 0)
  }

  test("tracer events: union of consensus + p2p, time-ordered") {
    val te = t("tracer_events")
    assert(te.filter(col("stream") === "consensus").count() > 0)
    assert(te.filter(col("stream") === "p2p").count() > 0)
  }

  test("block parser results flow into committed_block events") {
    val cb = t("events").filter(col("event_type") === "committed_block")
      .select(col("block.chainId"), col("block.txsHex"))
    assert(cb.filter(col("chainId") === "graft-test").count() == 20L)
  }

  test("analytics selection by name mirrors the reference plugin list") {
    assert(graft.cometbft.Analytics.byNames(Nil).size == 9)
    assert(graft.cometbft.Analytics.byNames(Seq("vote_latency", "tracer_events")).map(_.name) ==
      Seq("vote_latency", "tracer_events"))
    intercept[IllegalArgumentException] {
      graft.cometbft.Analytics.byNames(Seq("nope"))
    }
  }

  test("a repeated analytic is rejected before anything is read or written") {
    val wh = tmp("graft-dup-wh")
    val ex = intercept[IllegalArgumentException](
      Pipeline.run(spark, smallLogs, wh, Seq(Analytics.ConsensusSteps, Analytics.ConsensusSteps)))
    assert(ex.getMessage.contains("consensus_steps"), ex.getMessage)
    assert(new java.io.File(wh).list().isEmpty)
  }

  test("Pipeline.main without <logDir> <warehouseDir> fails with its usage") {
    val ex = intercept[IllegalArgumentException](Pipeline.main(Array("only-logs")))
    assert(ex.getMessage.contains("usage: graft.cometbft.Pipeline"), ex.getMessage)
  }

  test("P7 fail-fast: a file without metadata lines fails with its name (app.go:97-99)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nometa").toString
    // valid consensus line, but neither "P2P Node ID" nor validator line
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/orphan_cometbft.log"),
      """{"_msg":"Entering prevote step","ts":"2025-06-08T01:00:00.000000001Z","current":"3/0/RoundStepPropose","height":3,"round":0}"""
        .getBytes("UTF-8"))
    val ex = intercept[Throwable] {
      graft.cometbft.LogIngest.read(spark, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m =>
      m.contains("node ID or validator address not found") && m.contains("orphan_cometbft")),
      s"unexpected failure: $ex")
  }

  test("P7 fail-fast: a ZERO-line .log file fails with its name (app.go:97-99)") {
    // an empty file yields no text-source rows, so the metadata aggregate
    // alone cannot see it — the driver-side listing check must catch it
    val dir = java.nio.file.Files.createTempDirectory("graft-zeroline").toString
    val meta = graft.cometbft.Fixtures.nodeLog(1, 1) // one fully valid file
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/good_cometbft.log"),
      meta.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/empty_cometbft.log"),
      Array.empty[Byte])
    val ex = intercept[IllegalArgumentException] {
      graft.cometbft.LogIngest.read(spark, dir).count()
    }
    assert(ex.getMessage.contains("node ID or validator address not found") &&
      ex.getMessage.contains("empty_cometbft"), s"unexpected failure: $ex")
  }

  test("S5 first-match inference: wait-step lines collapse into prevote/precommit (parsers.go:94-128)") {
    // The reference scans [propose, prevote, prevote_wait, precommit,
    // precommit_wait, commit] and breaks on the first substring hit, so
    // "entering prevote wait step" => targetStep "prevote" and
    // "entering precommit wait step" => "precommit"; the wait cases in
    // ConvertToSpecificStepEvent (convereter.go:179-190) are dead code.
    val dir = java.nio.file.Files.createTempDirectory("graft-wait").toString
    val meta = graft.cometbft.Fixtures.nodeLog(1, 1).take(2) // node-id + validator lines
    val lines = meta ++ Seq(
      """{"_msg":"Entering prevote wait step","ts":"2025-06-08T01:00:00.000000001Z","current":"7/0/RoundStepPrevote","height":7,"round":0}""",
      """{"_msg":"Entering precommit wait step","ts":"2025-06-08T01:00:00.000000002Z","current":"7/0/RoundStepPrecommit","height":7,"round":0}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/node1_cometbft.log"),
      lines.mkString("\n").getBytes("UTF-8"))
    val events = graft.cometbft.Normalize.normalize(
      graft.cometbft.LogIngest.read(spark, dir))
    val byType = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.get("entering_prevote_step").contains(1L), s"got $byType")
    assert(byType.get("entering_precommit_step").contains(1L), s"got $byType")
    assert(!byType.keySet.exists(_.contains("wait")), s"wait event leaked: $byType")
    // curr_step still reflects the line's own round-info, as in the reference
    val steps = events.orderBy("ts_ns").select("step").collect().map(_.getString(0))
    assert(steps.toSeq == Seq("prevote", "precommit"))
  }

  test("malformed lines drop silently like the reference dispatcher") {
    val dir = java.nio.file.Files.createTempDirectory("graft-malformed").toString
    val good = graft.cometbft.Fixtures.nodeLog(0, 1)
    val garbage = Seq(
      "not json at all {{{",
      """{"no_msg_field": 1}""",
      """{"_msg":"Totally Unknown Message","ts":"2025-06-08T01:00:00.000000001Z"}""",
      """{"_msg":"Entering prevote step with invalid args","ts":"2025-06-08T01:00:00.000000001Z","current":"9/0/RoundStepPropose","height":9,"round":0}""",
      """{"_msg":"Received bytes","ts":"2025-06-08T01:00:00.000000001Z","chID":34,"msgBytes":"AAAA////","peer":"bbbb000000000000000000000000000000000002@10.0.0.1:26656"}""")
    // interleave garbage into a copy of a valid node log
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/node0_cometbft.log"),
      (good.take(5) ++ garbage ++ good.drop(5)).mkString("\n").getBytes("UTF-8"))
    val events = graft.cometbft.Normalize.normalize(
      graft.cometbft.LogIngest.read(spark, dir))
    val withGarbage = events.count()
    // the same log without garbage yields the same event count
    val dir2 = java.nio.file.Files.createTempDirectory("graft-clean").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir2/node0_cometbft.log"),
      good.mkString("\n").getBytes("UTF-8"))
    val clean = graft.cometbft.Normalize.normalize(
      graft.cometbft.LogIngest.read(spark, dir2)).count()
    assert(withGarbage == clean, "garbage lines must drop silently without affecting valid events")
  }

  // Negative test of the sink-count mechanism: each sink's row count rides
  // the write job via an Observation; if it never completes (broken
  // observe plumbing) the pipeline must throw within its bound, naming the
  // table — not report 0 rows.
  test("a sink-count metric that never arrives fails loudly, never reads as 0 rows") {
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      Pipeline.rowCount("never_written", Observation(), 200.millis)
    }
    assert((System.nanoTime() - t0).nanos < 10.seconds, "the count step overran its bound")
    assert(ex.getMessage.contains("never_written"))
    // and the happy path reads the count of an observed write
    val obs = Observation()
    spark.range(42).observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(tmp("graft-obs"))
    assert(Pipeline.rowCount("observed", obs) == 42L)
  }

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val smallLogs: String = {
    val dir = tmp("graft-stub-logs")
    Fixtures.writeScenario(dir, heights = 2)
    dir
  }

  /** A stub analytic declaring the given tables. */
  private def stub(n: String)(ts: Table*): Analytic = new Analytic {
    val name = n
    val tables = ts
  }

  test("a failing sink is rethrown after every started write ends; its dependents never run") {
    val wh = tmp("graft-fail-wh")
    val slowRow = udf((id: Long) => { Thread.sleep(2000); id })
    val slow = stub("slow")(Table("slow_out")((_, _) => spark.range(1).select(slowRow(col("id")).as("id"))))
    val bad = stub("bad")(Table("bad_out")((_, _) => spark.range(3)
      .select(col("id"), assert_true(col("id") < 0, lit("sink boom")).isNull.as("ok"))))
    val ranReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val after = stub("after_bad")(Table("after_out", "bad_out") { (_, read) =>
      ranReader.set(true); read("bad_out")
    })
    val ex = intercept[Throwable](Pipeline.run(spark, smallLogs, wh, Seq(slow, bad, after)))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("sink boom")), s"unexpected failure: $ex")
    assert(new java.io.File(s"$wh/slow_out/_SUCCESS").exists,
      "Pipeline.run returned while the slow sink was still writing")
    assert(!ranReader.get, "a table was built although a table it reads failed")
  }

  test("a reading table receives its input's stored table") {
    val wh = tmp("graft-dep-wh")
    var seen: DataFrame = null
    val first = stub("first")(Table("first_out")((_, _) => spark.range(5).toDF("id")))
    val second = stub("second")(Table("second_out", "first_out") { (_, read) =>
      seen = read("first_out")
      seen.withColumn("twice", col("id") * 2)
    })
    val counts = Pipeline.run(spark, smallLogs, wh, Seq(second, first))
    assert(seen.inputFiles.nonEmpty && seen.inputFiles.forall(_.contains(s"$wh/first_out/")),
      s"read a frame that is not the stored table: ${seen.inputFiles.mkString(", ")}")
    assert(counts("first_out") == 5L && counts("second_out") == 5L)
  }

  test("a read cycle fails loudly, naming the tables on it") {
    val wh = tmp("graft-cycle-wh")
    val loop = stub("loop")(
      Table("a_out", "b_out")((_, read) => read("b_out")),
      Table("b_out", "a_out")((_, read) => read("a_out")))
    val ex = intercept[IllegalArgumentException](Pipeline.run(spark, smallLogs, wh, Seq(loop)))
    assert(ex.getMessage.contains("cycle") && ex.getMessage.contains("a_out") &&
      ex.getMessage.contains("b_out"), ex.getMessage)
    assert(!new java.io.File(s"$wh/a_out").exists && !new java.io.File(s"$wh/b_out").exists)
  }

  test("a run with only TracerEvents enabled writes the full run's tracer_events rows") {
    val wh = tmp("graft-tracer-wh")
    val counts = Pipeline.run(spark, logs5, wh, Seq(Analytics.TracerEvents))
    assert(counts.keySet == Set("events", "tracer_events"))
    val alone = spark.read.parquet(s"$wh/tracer_events")
    val full = t("tracer_events")
    assert(alone.schema.toDDL == full.schema.toDDL)
    assert(alone.count() > 0 && alone.exceptAll(full).isEmpty && full.exceptAll(alone).isEmpty)
  }

  test("no analytic table's plan reads a cached frame, and building them caches nothing") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val events = Normalize.normalize(LogIngest.read(spark, logs5))
    val tables = Analytics.all.flatMap(_.run(events))
    assert(tables.size == 15)
    tables.foreach { case (name, df) =>
      val cached = df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty, s"$name reads ${cached.size} cached frame(s)")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "building the tables left frames cached")
  }

  test("Pipeline.run's only jobs outside a SQL execution are its read-backs") {
    // each read-back infers its schema from the footers in a job of its
    // own: `events`, plus every table that some table reads
    val readBacks = 1 + Analytics.all.flatMap(_.tables).flatMap(_.reads).distinct.size
    val loose = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        if (j.properties == null || j.properties.getProperty("spark.sql.execution.id") == null)
          loose.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.run(spark, smallLogs, tmp("graft-loose-wh"))
      // listener events are posted asynchronously: poll until quiet
      var last = -1
      while (started.get != last) { last = started.get; Thread.sleep(500) }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.get > readBacks, "the listener saw no pipeline jobs")
    assert(loose.get <= readBacks, s"${loose.get} jobs ran outside a SQL execution; $readBacks read-backs")
  }

  test("two concurrent Pipeline.runs in one session each count their own tables") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = Seq(2, 3).map { h =>
      val logs = tmp(s"graft-conc-logs-$h")
      Fixtures.writeScenario(logs, heights = h)
      val wh = tmp(s"graft-conc-wh-$h")
      wh -> Future(Pipeline.run(spark, logs, wh))
    }
    val results = runs.map { case (wh, f) => wh -> Await.result(f, 10.minutes) }
    results.foreach { case (wh, counts) =>
      assert(counts.size == 16)
      counts.foreach { case (tbl, n) =>
        val stored = spark.read.parquet(s"$wh/$tbl").count()
        assert(n == stored, s"$wh/$tbl: returned $n, stored $stored")
      }
    }
    assert(results(0)._2("events") < results(1)._2("events"))
  }
}
