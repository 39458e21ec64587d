package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cometbft.Fixtures

/** Streaming mode parity: the streaming pipeline over a closed fixture set
  * must confirm vote pairs like the batch pipeline does (SURVEY §2.9 —
  * parity on final results for a closed input set). */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming vote latency matches the batch machine on a closed input set") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-stream-logs").toString
    Fixtures.writeScenario(logDir, heights = 3)
    // one batch: the confirm machine sorts within a micro-batch, so a
    // single batch reproduces the batch pipeline's global time order
    val ev = StreamingPipeline.events(spark, logDir, maxFilesPerTrigger = None)
    assert(ev.isStreaming)
    val q = StreamingPipeline.voteLatencyStream(spark, ev)
      .writeStream.outputMode("append")
      .format("memory").queryName("confirmed_votes")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4),
          Option(r.get(5)).map(_.asInstanceOf[Long]), r.getLong(6))
      val streamed = spark.sql(
        "select height, round, valIdx, sender, receiver, sentNs, receivedNs from confirmed_votes")
        .collect().map(key).sorted
      assert(streamed.nonEmpty, "no confirmed vote pairs from the stream")
      // closed-input parity: identical confirmation multiset to the batch
      // analytic over the same logs
      val batchEvents = graft.cometbft.Normalize.normalize(
        graft.cometbft.LogIngest.read(spark, logDir))
      val batch = graft.cometbft.Analytics.VoteLatency.run(batchEvents).head._2
        .select("height", "round", "val_idx", "sender", "receiver", "sent_ns", "received_ns")
        .collect().map(key).sorted
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming exact dedup keeps first occurrence per content hash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    val lines = Seq(
      """{"ts":"2025-01-01T00:00:01Z","text":"alpha"}""",
      """{"ts":"2025-01-01T00:00:02Z","text":"beta"}""",
      """{"ts":"2025-01-01T00:00:03Z","text":"alpha"}""",
      """{"ts":"2025-01-01T00:00:04Z","text":"gamma"}""",
      """{"ts":"2025-01-01T00:00:05Z","text":"beta"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.json"),
      lines.mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val q = StreamingPipeline.dedupStream(stream, "ts", "text", "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      val texts = spark.sql("select text from deduped").collect().map(_.getString(0)).sorted
      assert(texts.toSeq == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("streaming n-gram counts equal the batch boilerplate counts on closed input") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ngram-stream").toString
    val lines = Seq(
      """{"doc_id":1,"text":"x y x y x"}""",
      """{"doc_id":2,"text":"x y z"}""",
      """{"doc_id":3,"text":"a b"}""")
    // two files -> two micro-batches merging into the same keyed state
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d1.json"),
      lines.take(2).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d2.json"),
      lines.drop(2).mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)
    val q = StreamingPipeline.ngramCountStream(stream, "text", n = 2)
      .writeStream.outputMode("complete").format("memory").queryName("ngram_counts").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select gram, occurrences from ngram_counts")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted
      assert(streamed.toSeq == Seq(("a b", 1L), ("x y", 3L), ("y x", 2L), ("y z", 1L)))
    } finally q.stop()
  }

  test("streaming p2p confirmation matches the batch either-order machine on all 8 families") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-p2p-stream-logs").toString
    Fixtures.writeScenario(logDir, heights = 3)
    val ev = StreamingPipeline.events(spark, logDir, maxFilesPerTrigger = None)
    val q = StreamingPipeline.p2pConfirmStream(spark, ev)
      .writeStream.outputMode("append")
      .format("memory").queryName("p2p_confirmed")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5),
          Option(r.get(6)).map(_.asInstanceOf[Long]))
      val streamed = spark.sql(
        """select msgFamily, sender, receiver, height, sentNs, receivedNs, latencyMs
          |from p2p_confirmed""".stripMargin)
        .collect().map(key).sorted
      assert(streamed.nonEmpty, "no p2p confirmations from the stream")
      assert(streamed.map(_._1).distinct.size == 8, "expected all 8 families confirmed")
      // one tagged projection, not a branch per family: the source reads
      // each log line once
      val lines = new java.io.File(logDir).listFiles.filter(_.getName.endsWith(".log"))
        .map(f => java.nio.file.Files.readAllLines(f.toPath).size.toLong).sum
      assert(q.recentProgress.map(_.numInputRows).sum == lines)
      val batchEvents = graft.cometbft.Normalize.normalize(
        graft.cometbft.LogIngest.read(spark, logDir))
      val batch = graft.cometbft.Analytics.P2pMessages.run(batchEvents).head._2
        .select(col("msg_family"), col("sender"), col("receiver"),
          col("height").cast("long"), // batch stringifies its key columns
          col("sent_ns"), col("received_ns"), col("latency_ms"))
        .collect().map(key).sorted
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming network latency matches the batch two-pass matcher on a closed input set") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-nl-stream-logs").toString
    Fixtures.writeScenario(logDir, heights = 3)
    val ev = StreamingPipeline.events(spark, logDir, maxFilesPerTrigger = None)
    val q = StreamingPipeline.networkLatencyStream(spark, ev)
      .writeStream.outputMode("append")
      .format("memory").queryName("nl_measurements")
      .start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
          r.getString(5), r.getLong(6))
      val streamed = spark.sql(
        """select rawHash, sender, receiver, sentNs, receivedNs, matchType, latencyMs
          |from nl_measurements""".stripMargin)
        .collect().map(key).sorted
      assert(streamed.nonEmpty, "no measurements from the stream")
      assert(streamed.exists(_._6 == "hash_fallback"),
        "fixture TrySends should exercise the raw-hash fallback")
      val batchEvents = graft.cometbft.Normalize.normalize(
        graft.cometbft.LogIngest.read(spark, logDir))
      val batch = graft.cometbft.Analytics.NetworkLatency.run(batchEvents)
        .find(_._1 == "network_latency_measurements").get._2
        .select("raw_hash", "sender", "receiver", "sent_ns", "received_ns",
          "match_type", "latency_ms")
        .collect().map(key).sorted
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming decontamination equals the batch operator on a closed corpus") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // random corpus with heavy bench overlap + a short zero-shingle doc
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    def mkText() = (0 until 5 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0L until 60L).map(i => (i, if (i == 7L) "too short" else mkText()))
    val benchDf = docs.filter(_._1 % 10 == 0).toDF("doc_id", "text")
    val index = StreamingPipeline.benchShingleIndex(benchDf, "text", n = 3)
    val corpus = docs.filter(_._1 % 10 != 0)
      .map { case (i, t) => (i, java.sql.Timestamp.valueOf(f"2025-01-01 00:00:${i % 60}%02d"), t) }
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingPipeline.decontaminateStream(stream, index,
      "doc_id", "text", "ts", n = 3, watermark = "10 seconds")
    // complete mode: closed-input parity needs every doc's row, not just
    // the ones the watermark has finalized
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("decon_stream").start()
    try {
      // three micro-batches: the stream-static broadcast join is stateless
      // per batch; the per-doc rollup carries across batches in keyed state
      corpus.grouped(20).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      val streamed = spark.sql(
        "select doc_id, n_ngrams, n_contaminated, contam_ppm, contaminated from decon_stream")
        .collect().map(key).sorted
      val batch = graft.operators.CorpusOps.decontaminate(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        isBenchmark = $"doc_id" % 10 === 0, n = 3)
        .collect().map(key).sorted
      assert(streamed.nonEmpty && streamed.exists(_._5), "fixture must exercise real contamination")
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming curation equals the batch decision table on a closed corpus") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // texts mix language-stopword prefixes with random filler + a unique
    // tail token (no exact dups -> the batch canonical gate never fires,
    // so reasons are comparable); labels sometimes lie -> lang_mismatch;
    // digit docs -> low_quality; small vocab -> real bench contamination
    val rnd = new scala.util.Random(23)
    val filler = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val langs = Seq("en" -> Seq("the", "a", "of"), "de" -> Seq("der", "die", "und"))
    val docs = (0L until 80L).map { i =>
      val (lang, sw) = langs(rnd.nextInt(2))
      val label = if (rnd.nextInt(5) == 0) langs((langs.indexWhere(_._1 == lang) + 1) % 2)._1 else lang
      val body =
        if (rnd.nextInt(10) == 0) s"11 22 33 44 55 66 u$i"
        else (sw ++ (0 until 4 + rnd.nextInt(5)).map(_ => filler(rnd.nextInt(filler.size))))
          .mkString(" ") + s" u$i"
      (i, body, label)
    }
    val all = docs.toDF("doc_id", "text", "lang")
    val bench = all.filter($"doc_id" % 10 === 0)
    val index = StreamingPipeline.benchShingleIndex(bench, "text", n = 3)
    // the familiarity LM trains on the FULL closed corpus, so streamed
    // scores must equal the batch operator's corpus-relative df exactly
    val dfIdx = StreamingPipeline.bigramDfIndex(all, "doc_id", "text")
    val minFam = 300000L
    val corpus = docs.filter(_._1 % 10 != 0)
      .map { case (i, t, l) => (i, java.sql.Timestamp.valueOf(f"2025-01-01 00:00:${i % 60}%02d"), t, l) }
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text", "lang")
    val out = StreamingPipeline.curationStream(stream, index, dfIdx,
      "doc_id", "text", "ts", "lang", n = 3, watermark = "10 seconds",
      minFamiliarityPpm = minFam)
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("curation_stream").start()
    try {
      corpus.grouped(30).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          r.getLong(4), r.getBoolean(5), r.getString(6))
      val streamed = spark.sql(
        """select doc_id, quality_ok, lang_ok, contaminated, familiarity_ppm,
          |keep, reason from curation_stream""".stripMargin)
        .collect().map(key).sortBy(_._1)
      val batch = graft.operators.CorpusOps.curationDecisions(all, "doc_id", "text",
          declaredLang = $"lang", isBenchmark = $"doc_id" % 10 === 0,
          n = 3, minFamiliarityPpm = minFam)
        .filter($"doc_id" % 10 =!= 0)
        .select($"doc_id", $"quality_ok", $"lang_ok", $"contaminated",
          $"familiarity_ppm", $"keep", $"reason")
        .collect().map(key).sortBy(_._1)
      assert(streamed.map(_._7).toSet.size >= 3,
        "fixture must exercise several distinct reasons")
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming incremental dedup equals the batch matcher against the stored sketch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "a completely different sentence with nothing shared at all here",
      "pack my box with five dozen liquor jugs right now please")
    val docs = (0L until 40L).map { i =>
      val t = base(rnd.nextInt(3))
      (i, if (rnd.nextBoolean()) t else t + s" tail${rnd.nextInt(2)}")
    }
    val corpusDocs = docs.filter(_._1 % 5 != 0).toDF("doc_id", "text")
    val newDocs = docs.filter(_._1 % 5 == 0)
    // the stored corpus sketch, parquet-materialized as in production
    val sigPath = java.nio.file.Files.createTempDirectory("inc-dedup-sig").resolve("sigs").toString
    graft.operators.Dedup.minhashSigTable(corpusDocs, "doc_id", "text", n = 3, k = 16)
      .write.mode("overwrite").parquet(sigPath)
    val storedSig = spark.read.parquet(sigPath)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingPipeline.incrementalDedupStream(stream, storedSig,
      "doc_id", "text", "ts", n = 3, k = 16, bandSize = 4,
      minJaccardPpm = 500000L, watermark = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("inc_dedup").start()
    try {
      val batches = newDocs.map { case (i, t) =>
        (i, java.sql.Timestamp.valueOf(f"2025-01-01 00:00:${i % 60}%02d"), t)
      }
      batches.grouped(3).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.sql("select d_new, d_old, jaccard_ppm from inc_dedup")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Dedup.minhashMatchesAgainst(
          graft.operators.Dedup.minhashSigTable(
            newDocs.toDF("doc_id", "text"), "doc_id", "text", n = 3, k = 16),
          storedSig, k = 16, bandSize = 4, minJaccardPpm = 500000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      assert(batch.nonEmpty, "fixture must produce cross-set matches")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("chunkWindows is stream-compatible: stateless narrow ops chunk a document stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunk-stream").toString
    val lines = Seq(
      """{"doc_id":1,"text":"a b c d e f g h i j"}""",
      """{"doc_id":2,"text":"x y"}""",
      """{"doc_id":3,"text":""}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.json"),
      lines.mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val q = graft.operators.CorpusOps.chunkWindows(stream, "doc_id", "text",
        window = 8, stride = 4)
      .writeStream.outputMode("append").format("memory").queryName("chunks").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select doc_id, chunk_idx, chunk_len, chunk_text from chunks")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq(
        (1L, 0L, 8L, "a b c d e f g h"),
        (1L, 1L, 6L, "e f g h i j"),
        (2L, 0L, 2L, "x y")))
    } finally q.stop()
  }

  test("benchShingleIndex: oversized benchmark sides fail loudly before broadcast") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      StreamingPipeline.benchShingleIndex(docs, "text", n = 3, maxBenchDocs = 10)
    }
    assert(ex.getMessage.contains("maxBenchDocs"))
  }

  test("streaming session_window closes sessions at the gap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-session-stream").toString
    // user u1: two sessions (3 events, then 1 after a >30s gap); the late
    // z-event only advances the watermark so both sessions finalize.
    val lines = Seq(
      """{"ts":"2025-01-01T00:00:01Z","user":"u1"}""",
      """{"ts":"2025-01-01T00:00:05Z","user":"u1"}""",
      """{"ts":"2025-01-01T00:00:09Z","user":"u1"}""",
      """{"ts":"2025-01-01T00:01:00Z","user":"u1"}""",
      """{"ts":"2025-01-01T01:00:00Z","user":"zz"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/s.json"),
      lines.mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val q = StreamingPipeline.sessionStream(stream, "ts", "user", "10 seconds", "30 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select user, n_events from sessions where user = 'u1' order by session_start")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("u1", 3L), ("u1", 1L)))
    } finally q.stop()
  }

  test("watermarked windowed aggregation runs") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-stream-logs2").toString
    Fixtures.writeScenario(logDir, heights = 2)
    val ev = StreamingPipeline.events(spark, logDir)
    val q = StreamingPipeline.eventRateStream(ev)
      .writeStream.outputMode("append")
      .format("memory").queryName("event_rates")
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; with a closed input set the
      // final watermark closes all but the last window
      assert(spark.sql("select * from event_rates").columns.contains("n_events"))
    } finally q.stop()
  }
}
