package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The self-maintaining near-dup index
  * ([[StreamingPipeline.selfMaintainingDedupSink]]): the sketch table is
  * bootstrapped by the stream itself, serves every later batch, and the
  * decisions match the batch pipeline on closed bridge-free input.
  */
class StreamingSelfIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val base = (1 to 20).map(i => s"w$i").mkString(" ")
  private val distinctText = (c: String) => (1 to 20).map(i => s"$c$i").mkString(" ")
  // f1: three singletons; f2: cross-batch dup of 1, within-batch pair 6/7,
  // a too-short doc; f3: a dup of the DROPPED 7 (chain through the index)
  // and one fresh doc. No late bridges: every cluster's min id arrives
  // before any other member.
  private val f1 = Seq(1L -> base, 2L -> distinctText("a"), 3L -> distinctText("b"))
  private val f2 = Seq(4L -> (base + " extra"), 5L -> distinctText("c"),
    6L -> distinctText("d"), 7L -> (distinctText("d") + " tail"), 8L -> "a b")
  private val f3 = Seq(9L -> (distinctText("d") + " tail more"), 10L -> distinctText("e"))
  private val all = f1 ++ f2 ++ f3

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  private def writeFile(dir: String, name: String, part: Seq[(Long, String)], mtime: Long): Unit = {
    val p = java.nio.file.Paths.get(s"$dir/$name")
    java.nio.file.Files.write(p,
      part.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
        .mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  private def runStream(in: String, sketch: String, decisions: String, cp: String): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    val q = StreamingPipeline.selfMaintainingDedupSink(stream, "doc_id", "text",
      n = 3, k = 16, bandSize = 4, minJaccardPpm = 600000L,
      sketchPath = sketch, decisionsPath = decisions, checkpointLocation = cp)
    try q.processAllAvailable() finally q.stop()
  }

  private def readDecisions(decisions: String): Map[Long, (Boolean, String)] =
    spark.read.parquet(decisions).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("kept"), r.getAs[String]("reason")))).toMap

  test("index bootstraps, serves later batches, and chains through dropped docs") {
    val in = tmp("sidx-in"); val sketch = s"${tmp("sidx")}/sketch"
    val decisions = s"${tmp("sidx")}/decisions"
    writeFile(in, "f1.json", f1, 1700000000000L)
    writeFile(in, "f2.json", f2, 1700000001000L)
    writeFile(in, "f3.json", f3, 1700000002000L)
    runStream(in, sketch, decisions, tmp("sidx-cp"))
    val got = readDecisions(decisions)
    assert(got(1L) == ((true, "kept")) && got(2L) == ((true, "kept")) && got(3L) == ((true, "kept")))
    assert(got(4L) == ((false, "stored_dup")), "cross-batch near-dup must hit the grown index")
    assert(got(6L) == ((true, "kept")) && got(7L) == ((false, "batch_dup")),
      "within-batch pair: min id canonical")
    assert(got(8L) == ((true, "too_short")))
    assert(got(9L) == ((false, "stored_dup")),
      "doc 9 dups the DROPPED doc 7 - dropped docs must still be indexed")
    assert(got(10L) == ((true, "kept")))
    // the sketch indexes every shingled doc, batch-stamped
    val sk = spark.read.parquet(sketch)
      .select(col("doc"), col("batch_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L, 10L), "8 has no shingles")
    assert(sk(1L) < sk(4L) && sk(4L) < sk(9L), "batch stamps must follow arrival")
  }

  test("survivors equal the batch pipeline's canonical set on bridge-free input") {
    import spark.implicits._
    val in = tmp("sidx-par-in"); val sketch = s"${tmp("sidx-par")}/sketch"
    val decisions = s"${tmp("sidx-par")}/decisions"
    writeFile(in, "f1.json", f1, 1700000000000L)
    writeFile(in, "f2.json", f2, 1700000001000L)
    writeFile(in, "f3.json", f3, 1700000002000L)
    runStream(in, sketch, decisions, tmp("sidx-par-cp"))
    val streamKept = readDecisions(decisions).filter(_._2._1).keySet
    val docs = all.toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 16, bandSize = 4, minJaccardPpm = 600000L)
    val labels = graft.operators.Dedup.connectedComponents(pairs, "d1", "d2")
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
    val batchKept = graft.operators.CorpusOps.dedupApply(docs, "doc_id", labels)
      .filter($"kept").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept)
  }

  test("restart mid-stream and batch replay are idempotent") {
    val in = tmp("sidx-r-in"); val root = tmp("sidx-r")
    val sketch = s"$root/sketch"; val decisions = s"$root/decisions"
    val cp = tmp("sidx-r-cp")
    writeFile(in, "f1.json", f1, 1700000000000L)
    writeFile(in, "f2.json", f2, 1700000001000L)
    runStream(in, sketch, decisions, cp)
    // stop, then new files arrive; restart from the same checkpoint
    writeFile(in, "f3.json", f3, 1700000002000L)
    runStream(in, sketch, decisions, cp)
    val got = readDecisions(decisions)
    assert(got(4L) == ((false, "stored_dup")) && got(9L) == ((false, "stored_dup")))
    assert(got.size == all.size)
    // replay the LAST batch verbatim (the crash-before-commit case): same
    // decisions, and the sketch must not grow duplicate rows
    val lastBatchId = spark.read.parquet(sketch).agg(max(col("batch_id"))).collect()(0).getLong(0)
    val nBefore = spark.read.parquet(sketch).count()
    StreamingPipeline.processDedupIndexBatch(
      spark.createDataFrame(spark.sparkContext.parallelize(
        f3.map(d => org.apache.spark.sql.Row(d._1, d._2))), schema),
      lastBatchId, "doc_id", "text", n = 3, k = 16, bandSize = 4,
      minJaccardPpm = 600000L, sketchPath = sketch, decisionsPath = decisions)
    assert(spark.read.parquet(sketch).count() == nBefore, "replayed batch must not re-append")
    assert(readDecisions(decisions) == got, "replayed decisions must be identical")
  }

  test("a torn sketch append is redone whole: its partial rows never read as a replay") {
    def run(root: String, b: Int, part: Seq[(Long, String)]): Unit =
      StreamingPipeline.processDedupIndexBatch(
        spark.createDataFrame(spark.sparkContext.parallelize(
          part.map(d => org.apache.spark.sql.Row(d._1, d._2))), schema),
        b.toLong, "doc_id", "text", n = 3, k = 16, bandSize = 4,
        minJaccardPpm = 600000L, sketchPath = s"$root/sketch", decisionsPath = s"$root/decisions")
    def sketchRows(root: String): Seq[String] =
      spark.read.parquet(s"$root/sketch").collect().map(_.toString).sorted.toSeq
    val (clean, torn) = (tmp("sidx-torn-clean"), tmp("sidx-torn"))
    Seq(f1, f2, f3).zipWithIndex.foreach { case (p, b) => run(clean, b, p) }
    run(torn, 0, f1)
    // batch 1 crashed after renaming its first file into the sketch,
    // before its commit record: one of its signatures is on disk
    val partDir = tmp("sidx-torn-part")
    spark.read.parquet(s"$clean/sketch").filter(col("batch_id") === 1L)
      .orderBy(col("doc")).limit(1).coalesce(1).write.mode("overwrite").parquet(partDir)
    val part = new java.io.File(partDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$torn/sketch/b1-0.parquet"))
    run(torn, 1, f2)
    run(torn, 2, f3)
    assert(sketchRows(torn) == sketchRows(clean),
      "the redo of a torn append must leave exactly one clean run's rows")
    assert(readDecisions(s"$torn/decisions") == readDecisions(s"$clean/decisions"))
  }

  test("survivor set is slicing-invariant on bridge-free random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    for (seed <- Seq(31L, 32L)) {
      val rnd = new scala.util.Random(seed)
      // clusters with fully disjoint vocabularies: members are mutual
      // near-dups (J >= 0.9), cross-cluster similarity is exactly zero,
      // so no late bridge can make arrival-order semantics diverge from
      // global batch CC
      val docs = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        var id = 0L
        for (c <- 0 until 12) {
          val base = (1 to 20).map(j => s"c${c}t$j")
          for (m <- 0 until 1 + rnd.nextInt(3)) {
            buf += ((id, (base ++ (if (m == 0) Nil else Seq(s"m$m"))).mkString(" ")))
            id += 1
          }
        }
        buf.toSeq
      }
      val ddf = docs.toDF("doc_id", "text")
      val pairs = graft.operators.Dedup.minhashLshPairs(ddf, "doc_id", "text",
        n = 3, k = 16, bandSize = 4, minJaccardPpm = 600000L)
      val labels = graft.operators.Dedup.connectedComponents(pairs, "d1", "d2")
      val batchKept = docs.map(_._1).toSet --
        labels.filter(col("id") =!= col("comp")).collect().map(_.getLong(0)).toSet
      val root = tmp(s"sidx-rand-$seed")
      val mem = MemoryStream[(Long, String)]
      val q = StreamingPipeline.selfMaintainingDedupSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        n = 3, k = 16, bandSize = 4, minJaccardPpm = 600000L,
        sketchPath = s"$root/sketch", decisionsPath = s"$root/decisions",
        checkpointLocation = tmp(s"sidx-rand-cp-$seed"))
      try {
        val nChunks = 1 + rnd.nextInt(5)
        val size = math.max(1, (docs.size + nChunks - 1) / nChunks)
        docs.grouped(size).foreach { c => mem.addData(c); q.processAllAvailable() }
      } finally q.stop()
      val streamKept = readDecisions(s"$root/decisions").filter(_._2._1).keySet
      assert(streamKept == batchKept, s"seed $seed")
    }
  }

  test("online compaction cadence bounds the file count without changing decisions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tmp("sidx-online")
    val sketch = s"$root/sketch"; val decisions = s"$root/decisions"
    val mem = MemoryStream[(Long, String)]
    // compact every 2 batches into 1 file: after batch 1 and 3 the dir
    // must be back at (1 + files-of-one-append) or fewer files
    val q = StreamingPipeline.selfMaintainingDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      n = 3, k = 16, bandSize = 4, minJaccardPpm = 600000L,
      sketchPath = sketch, decisionsPath = decisions,
      checkpointLocation = tmp("sidx-online-cp"),
      compactEveryBatches = Some(2), compactTargetFiles = 1)
    def dataFiles() = new java.io.File(sketch).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    try {
      mem.addData(f1); q.processAllAvailable()
      mem.addData(f2); q.processAllAvailable() // batch 1: compacts to 1 file
      val afterCompact = dataFiles()
      assert(afterCompact == 1, s"batch 1 should compact to 1 file, saw $afterCompact")
      mem.addData(f3); q.processAllAvailable() // batch 2: appends, no compact
      assert(dataFiles() > 1, "batch 2 must append without compacting")
    } finally q.stop()
    val got = readDecisions(decisions)
    assert(got(4L) == ((false, "stored_dup")) && got(9L) == ((false, "stored_dup")) &&
      got(10L) == ((true, "kept")), "decisions must be unchanged by online compaction")
  }

  test("recoverSketch heals every crash state of an interrupted swap") {
    val in = tmp("sidx-rec-in"); val root = tmp("sidx-rec")
    val sketch = s"$root/sketch"; val decisions = s"$root/decisions"
    writeFile(in, "f1.json", f1, 1700000000000L)
    writeFile(in, "f2.json", f2, 1700000001000L)
    runStream(in, sketch, decisions, tmp("sidx-rec-cp"))
    val rows = spark.read.parquet(sketch).collect().map(_.toString).sorted.toSeq
    def copyDir(from: String, to: String): Unit =
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(from), new java.io.File(to))
    def assertHealed(): Unit = {
      StreamingPipeline.recoverSketch(spark, sketch)
      assert(!new java.io.File(sketch + ".compact-tmp").exists)
      assert(!new java.io.File(sketch + ".compact-backup").exists)
      assert(spark.read.parquet(sketch).collect().map(_.toString).sorted.toSeq == rows)
    }
    // state 1: crash mid-tmp-write (partial tmp, live intact)
    copyDir(sketch, sketch + ".compact-tmp")
    assertHealed()
    // state 2: crash between the renames (live moved aside, tmp complete)
    copyDir(sketch, sketch + ".compact-tmp")
    assert(new java.io.File(sketch).renameTo(new java.io.File(sketch + ".compact-backup")))
    assertHealed()
    // state 3: crash after promote (live complete, backup left behind)
    copyDir(sketch, sketch + ".compact-backup")
    assertHealed()
    // and the healed sketch still serves through the normal batch path
    writeFile(in, "f3.json", f3, 1700000002000L)
    runStream(in, sketch, decisions, tmp("sidx-rec-cp2"))
    val got = readDecisions(decisions)
    assert(got(9L) == ((false, "stored_dup")) && got(10L) == ((true, "kept")))
  }

  test("compaction shrinks the sketch's file count without changing any decision") {
    val in = tmp("sidx-c-in"); val root = tmp("sidx-c")
    val sketch = s"$root/sketch"; val decisions = s"$root/decisions"
    val cp = tmp("sidx-c-cp")
    writeFile(in, "f1.json", f1, 1700000000000L)
    writeFile(in, "f2.json", f2, 1700000001000L)
    runStream(in, sketch, decisions, cp)
    def dataFiles() = new java.io.File(sketch).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(sketch).collect().map(_.toString).sorted.toSeq
    assert(dataFiles() > 1, "fixture must produce a multi-file sketch")
    StreamingPipeline.compactSketch(spark, sketch, targetFiles = 1)
    assert(dataFiles() == 1, "compaction must rewrite to the target file count")
    assert(spark.read.parquet(sketch).collect().map(_.toString).sorted.toSeq == before,
      "compaction must preserve every row")
    assert(!new java.io.File(sketch + ".compact-backup").exists, "backup must be cleaned")
    // the compacted index still serves: f3's dups are caught on restart
    writeFile(in, "f3.json", f3, 1700000002000L)
    runStream(in, sketch, decisions, cp)
    val got = readDecisions(decisions)
    assert(got(9L) == ((false, "stored_dup")) && got(10L) == ((true, "kept")))
  }
}
