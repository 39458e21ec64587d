package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.operators.HeavyHitters

/** The exact per-closed-window heavy-hitter sink: closed windows must
  * carry the TRUE counts of [[HeavyHitters.exact]] run on exactly the
  * window's rows — for any batch slicing — with replay-idempotent writes
  * and watermark-dropped late rows. */
class StreamingExactHhSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val phiPpm = 30000L
  private val k      = 63

  /** Two 1-minute windows of skewed draws + a pusher that closes both. */
  private def fixture(seed: Int): (Seq[(java.sql.Timestamp, String)], java.sql.Timestamp) = {
    val rnd = new Random(seed)
    def draw() = if (rnd.nextDouble() < 0.55) s"hot${rnd.nextInt(3)}" else s"cold${rnd.nextInt(500)}"
    val rows = (1 to 2400).map { i =>
      val win = if (i % 2 == 0) "2025-01-01 00:00" else "2025-01-01 00:01"
      (java.sql.Timestamp.valueOf(f"$win%s:${rnd.nextInt(60)}%02d"), draw())
    }
    (rows, java.sql.Timestamp.valueOf("2025-01-01 01:00:00"))
  }

  private def truthFor(rows: Seq[(java.sql.Timestamp, String)], winPrefix: String): Set[(String, Long, Long)] = {
    import spark.implicits._
    HeavyHitters.exact(
      rows.filter(_._1.toString.startsWith(winPrefix)).map(_._2).toDF("item"),
      $"item", phiPpm, k)
      .select($"item", $"cnt", $"ppm").as[(String, Long, Long)].collect().toSet
  }

  private def results(path: String): Map[Long, Set[(String, Long, Long)]] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select($"win_us".cast("long"), $"item", $"cnt", $"ppm")
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
  }

  private def winUs(s: String): Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000L

  test("closed windows carry exact batch counts for any batch slicing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val (rows, pusher) = fixture(42)
    val truth0 = truthFor(rows, "2025-01-01 00:00")
    val truth1 = truthFor(rows, "2025-01-01 00:01")
    assert(truth0.nonEmpty && truth1.nonEmpty)

    for (nChunks <- Seq(1, 4, 8)) {
      val (spill, res, ckpt) = (tmp("hh-spill"), tmp("hh-res"), tmp("hh-ckpt"))
      val mem = MemoryStream[(java.sql.Timestamp, String)]
      val q = StreamingPipeline.exactHeavyHitterSink(
        mem.toDF().toDF("ts", "item"), "ts", "item",
        windowDur = "1 minute", watermark = "10 minutes",
        phiPpm, k, spill, res, ckpt)
      try {
        val fixed = rows :+ ((pusher, "pusher"))
        val size = math.max(1, (fixed.size + nChunks - 1) / nChunks)
        fixed.grouped(size).foreach { c => mem.addData(c); q.processAllAvailable() }
        val got = results(res)
        assert(got.keySet == Set(winUs("2025-01-01 00:00:00"), winUs("2025-01-01 00:01:00")),
          s"slicing $nChunks: unexpected closed windows ${got.keySet}")
        assert(got(winUs("2025-01-01 00:00:00")) == truth0, s"slicing $nChunks: window 0 diverged")
        assert(got(winUs("2025-01-01 00:01:00")) == truth1, s"slicing $nChunks: window 1 diverged")
        // closed windows' spill is reclaimed; only the pusher's own
        // still-open window may remain
        val remaining = spark.read.parquet(spill).select($"win_us".cast("long"))
          .distinct().as[Long].collect().toSet
        assert(remaining == Set(winUs("2025-01-01 01:00:00")),
          s"slicing $nChunks: spill not reclaimed: $remaining")
      } finally q.stop()
    }
  }

  test("replaying a batch leaves spill, progress, and results unchanged") {
    import spark.implicits._
    val (spill, res) = (tmp("hh-rp-spill"), tmp("hh-rp-res"))
    val (rows, pusher) = fixture(7)
    val delay = StreamingPipeline.delayMicros("10 minutes")
    val b0 = rows.take(1200).toDF("ts", "item")
    val b1 = (rows.drop(1200) :+ ((pusher, "pusher"))).toDF("ts", "item")
    StreamingPipeline.processExactHhBatch(b0, 0L, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    StreamingPipeline.processExactHhBatch(b1, 1L, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    val wantRes   = results(res)
    val wantSpill = spark.read.parquet(spill).count()
    // the engine's replay contract: only the LAST batch can replay (a
    // crash before its checkpoint commit) — the probes must no-op the
    // appends and the closed windows must stay byte-stable
    StreamingPipeline.processExactHhBatch(b1, 1L, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    assert(results(res) == wantRes)
    assert(spark.read.parquet(spill).count() == wantSpill)
    // crash-after-results-before-reclaim: the closed window's FULL spill
    // (deletion is the final step, so all batches' appends are present)
    // is still on disk when the last batch replays; the verify must
    // recompute identical partitions (dynamic overwrite), then reclaim
    val win0 = winUs("2025-01-01 00:00:00")
    rows.zipWithIndex.map { case ((ts, item), i) => (ts, item, if (i < 1200) 0L else 1L) }
      .toDF("ts", "item", "batch_id")
      .select(unix_micros(window(col("ts"), "1 minute").getField("start")).as("win_us"),
        unix_micros(window(col("ts"), "1 minute").getField("end")).as("win_end_us"),
        col("item"), unix_micros(col("ts")).as("ts_us"), col("batch_id"))
      .filter(col("win_us") === win0)
      .write.partitionBy("win_us").mode("append").parquet(spill)
    StreamingPipeline.processExactHhBatch(b1, 1L, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    assert(results(res) == wantRes, "re-verified window diverged from its first exact result")
    val spilledWins = spark.read.parquet(spill).select(col("win_us").cast("long"))
      .distinct().as[Long].collect().toSet
    assert(!spilledWins.contains(win0), "closed window's spill not reclaimed after replay")
  }

  test("grouped form: exact per-(window, group) counts, groups isolated") {
    import spark.implicits._
    val (spill, res) = (tmp("hh-grp-spill"), tmp("hh-grp-res"))
    val delay = StreamingPipeline.delayMicros("10 minutes")
    val t = java.sql.Timestamp.valueOf("2025-01-01 00:00:30")
    val rows = Seq.fill(30)((t, "sA", "hot-a")) ++ Seq.fill(25)((t, "sB", "hot-b")) ++
      (1 to 10).map(i => (t, "sA", s"cold$i")) :+
      ((java.sql.Timestamp.valueOf("2025-01-01 01:00:00"), "sA", "pusher"))
    StreamingPipeline.processExactHhBatch(rows.toDF("ts", "src", "item"),
      0L, "ts", "item", "1 minute", delay, phiPpm = 500000L, k = 63,
      spill, res, groupCols = Seq("src"))
    val got = spark.read.parquet(res)
      .select($"src", $"item", $"cnt", $"ppm").as[(String, String, Long, Long)]
      .collect().toSet
    // within sA: hot-a is 30/40 = 750000 ppm; within sB: hot-b is 25/25
    assert(got == Set(("sA", "hot-a", 30L, 750000L), ("sB", "hot-b", 25L, 1000000L)))
  }

  test("progress table stays bounded across many batches, watermark behavior unchanged") {
    import spark.implicits._
    val (spill, res) = (tmp("hh-prog-spill"), tmp("hh-prog-res"))
    val delay = StreamingPipeline.delayMicros("10 minutes")
    // 100 single-row batches marching through time; windows close as the
    // watermark passes them
    for (b <- 0 until 100) {
      val t = java.sql.Timestamp.valueOf(f"2025-01-01 ${b / 60}%02d:${b % 60}%02d:30")
      StreamingPipeline.processExactHhBatch(
        Seq((t, s"item${b % 3}")).toDF("ts", "item"),
        b.toLong, "ts", "item", "1 minute", delay, phiPpm = 500000L, k = 63, spill, res)
    }
    // no progress table: the watermark rides the spill's commit log,
    // which compacts itself like every append-once sink's log
    assert(!new java.io.File(spill + ".progress").exists, "a .progress table was created")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val logEntries = fs.listStatus(new org.apache.hadoop.fs.Path(s"$spill.batches")).length
    assert(logEntries <= 2 * 64 + 2, s"commit log grew to $logEntries entries")
    // watermark still advances correctly: windows ended before
    // (last ts - 10 min) are closed and exact
    val closedWins = spark.read.parquet(res).select($"win_us".cast("long")).distinct().count()
    assert(closedWins >= 85, s"too few closed windows: $closedWins")
    spark.read.parquet(res).select($"item", $"cnt").as[(String, Long)].collect()
      .foreach { case (_, cnt) => assert(cnt == 1L) }
  }

  test("a torn spill append is redone whole: its partial rows never read as a replay") {
    import spark.implicits._
    val delay = StreamingPipeline.delayMicros("10 minutes")
    val (rows, _) = fixture(5)
    val batches = Seq(rows.take(1200).toDF("ts", "item"), rows.drop(1200).toDF("ts", "item"))
    def run(spill: String, res: String, b: Int): Unit =
      StreamingPipeline.processExactHhBatch(batches(b), b.toLong, "ts", "item", "1 minute",
        delay, phiPpm, k, spill, res)
    def spilled(spill: String): Seq[String] = spark.read.parquet(spill)
      .select($"win_us".cast("long"), $"win_end_us", $"item", $"ts_us", $"batch_id")
      .collect().map(_.toString).sorted.toSeq
    val (cleanSpill, cleanRes) = (tmp("hh-torn-clean-spill"), tmp("hh-torn-clean-res"))
    val (tornSpill, tornRes) = (tmp("hh-torn-spill"), tmp("hh-torn-res"))
    run(cleanSpill, cleanRes, 0); run(cleanSpill, cleanRes, 1)
    // no window closes in this fixture, so the spill keeps every row
    run(tornSpill, tornRes, 0)
    // batch 1 crashed after renaming its first file into one window's
    // partition, before its commit record: some of its rows are on disk
    val win1 = winUs("2025-01-01 00:01:00")
    val partDir = tmp("hh-torn-part")
    spark.read.parquet(cleanSpill).filter($"batch_id" === 1L && $"win_us" === win1)
      .orderBy($"ts_us", $"item").limit(10).drop("win_us")
      .coalesce(1).write.mode("overwrite").parquet(partDir)
    val part = new java.io.File(partDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$tornSpill/win_us=$win1/b1-0.parquet"))
    run(tornSpill, tornRes, 1)
    assert(spilled(tornSpill) == spilled(cleanSpill),
      "the redo of a torn append must leave exactly one clean run's rows")
  }

  test("a steady-state batch in which no window closes runs at most 1 Spark job") {
    import spark.implicits._
    val (spill, res) = (tmp("hh-jobs-spill"), tmp("hh-jobs-res"))
    val delay = StreamingPipeline.delayMicros("10 minutes")
    def run(b: Int): Unit = StreamingPipeline.processExactHhBatch(
      Seq((java.sql.Timestamp.valueOf(f"2025-01-01 00:0$b%d:30"), s"item$b")).toDF("ts", "item"),
      b.toLong, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    (0 until 3).foreach(run)
    val group = "exact-hh-steady-state"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group) { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "one steady-state exact-HH batch")
    try {
      run(3)
      // listener events are posted asynchronously: poll until quiet
      var last = -1
      var waited = 0
      while (jobs.get != last && waited < 5000) {
        last = jobs.get; Thread.sleep(200); waited += 200
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(!new java.io.File(res).list().exists(_.startsWith("win_us=")),
      "the fixture must close no window")
    assert(jobs.get >= 1, "the listener did not see the spill write")
    assert(jobs.get <= 1, s"a steady-state batch ran ${jobs.get} jobs")
  }

  test("window-closing batches free their staged candidates: cached RDDs do not grow") {
    import spark.implicits._
    val (spill, res) = (tmp("hh-free-spill"), tmp("hh-free-res"))
    val delay = StreamingPipeline.delayMicros("0 seconds")
    // batch b's rows sit in minute b, so from batch 1 on each batch's own
    // event time closes the previous batch's window
    def run(b: Int): Unit = StreamingPipeline.processExactHhBatch(
      Seq((java.sql.Timestamp.valueOf(f"2025-01-01 00:0$b%d:30"), s"item$b")).toDF("ts", "item"),
      b.toLong, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    def closed = new java.io.File(res).list().count(_.startsWith("win_us="))
    run(0)
    run(1)
    assert(closed == 1, "the first closing batch closed no window")
    val cachedAfterFirst = spark.sparkContext.getPersistentRDDs.size
    (2 to 5).foreach(run)
    assert(closed == 5, "every batch must close one window")
    val cached = spark.sparkContext.getPersistentRDDs.size
    assert(cached <= cachedAfterFirst,
      s"cached RDDs grew from $cachedAfterFirst to $cached over 4 window-closing batches")
  }

  test("late rows into a closed window are dropped, not re-opened") {
    import spark.implicits._
    val (spill, res) = (tmp("hh-late-spill"), tmp("hh-late-res"))
    val (rows, pusher) = fixture(11)
    val delay = StreamingPipeline.delayMicros("10 minutes")
    StreamingPipeline.processExactHhBatch(
      (rows :+ ((pusher, "pusher"))).toDF("ts", "item"),
      0L, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    val want = results(res)
    assert(want.size == 2)
    // a straggler for closed window 0, plus a fresh row keeping the
    // stream alive — window 0 must neither reopen nor change
    StreamingPipeline.processExactHhBatch(
      Seq((java.sql.Timestamp.valueOf("2025-01-01 00:00:30"), "hot0"),
          (java.sql.Timestamp.valueOf("2025-01-01 01:00:05"), "alive")).toDF("ts", "item"),
      1L, "ts", "item", "1 minute", delay, phiPpm, k, spill, res)
    assert(results(res) == want, "late row altered a closed window's exact counts")
    val spilledWins = spark.read.parquet(spill).select($"win_us".cast("long"))
      .distinct().as[Long].collect().toSet
    assert(!spilledWins.contains(winUs("2025-01-01 00:00:00")), "late row re-spilled a closed window")
  }
}
