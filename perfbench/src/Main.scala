package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.cometbft.Pipeline

/** One benchmark run: `perfbench.Main --workload W --seed N --trace 0|1
  * --cores C --work DIR --out FILE`. Writes the result JSON, with the
  * spans when traced; `run.py` is the front end. */
object Main {

  /** A workload is one `Pipeline.run` over generated 4-node logs whose
    * height count the seed draws from `[lo, hi]`; at 4 heights every
    * output value is pinned (CometbftGolden) and checked too. */
  final case class Workload(name: String, lo: Int, hi: Int)

  val workloads: Seq[Workload] = Seq(
    Workload("pipeline_small", 4, 4),
    Workload("pipeline_large", 120, 131))

  /** Stream probe: this many heights, cut into 2 chunks per node. */
  val streamHeights: (Int, Int) = (8, 10)

  private def secs(ns: Long): Double = ns / 1e9
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(System.nanoTime() - t0))
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private val t0 = System.nanoTime()
  /** Phase marks in the JVM log (kept by run.py when a run fails). */
  private def mark(what: String): Unit =
    System.err.println(f"perfbench ${secs(System.nanoTime() - t0)}%8.1fs $what")

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
    def json: String = Json.obj(values.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = workloads.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}; known: ${workloads.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val out = opt("out")
    val rnd = new Random(seed)
    val h = w.lo + rnd.nextInt(w.hi - w.lo + 1)
    val streamH = streamHeights._1 + rnd.nextInt(streamHeights._2 - streamHeights._1 + 1)
    val cuts = Seq(2 + rnd.nextInt(streamH - 3))
    val failures = mutable.ArrayBuffer.empty[String]

    // ---------------------------------------------------------- set-up
    val (spark, sessionS) = timed {
      val s = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val logs = s"$work/logs"
    // generation is repeated and its median kept; every pass writes the
    // same files (same seed)
    val gens = (0 until 3).map { _ =>
      Inputs.delete(logs)
      timed(Inputs.writeLogs(logs, h, new Random(seed)))
    }
    val lines = gens.head._1
    val setupS = sessionS + median(gens.map(_._2))
    mark(f"set-up done (h=$h, $lines lines)")

    // ------------------------------------------------------- the op
    // One Pipeline.run, the first in this JVM: what the pipeline's
    // command-line entry point does for each log directory.
    val wh = s"$work/warehouse"
    val tracer = if (trace) Some(new Tracer(spark, s"${w.name}-seed$seed-${System.currentTimeMillis()}")) else None
    tracer.foreach(_.start())
    val gc0 = gcSeconds()
    val (res, wall) = timed(Try(tracer match {
      case Some(t) => t.span("pipeline.run")(Pipeline.run(spark, logs, wh))
      case None => Pipeline.run(spark, logs, wh)
    }))
    val gcS = gcSeconds() - gc0
    val rssMb = vmHwmMb()
    val opProblems = res match {
      case Success(c) =>
        Expected.checkPipeline(spark, wh, h, c) ++
          (if (h == 4) Expected.checkGolden(spark, wh).map(p => s"golden: $p") else Nil)
      case Failure(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    failures ++= opProblems.map(p => s"pipeline: $p")
    var attempted = 1
    var failed = if (opProblems.isEmpty) 0 else 1
    mark(f"pipeline.run: $wall%.2fs, ${opProblems.size} problems")

    val metrics = new Metrics
    tracer match {
      case None =>
        metrics.put("wall_s", wall, "s")
        metrics.put("lines_per_s", lines / wall, "1/s")
        metrics.put("setup_s", setupS, "s")
      case Some(t) =>
        val counts = res.getOrElse(Map.empty[String, Long])
        layerProbes(spark, t, work, logs, lines, streamH, cuts, metrics, failures,
          n => attempted += n, n => failed += n)
        t.stop()
        pipelineMetrics(t, cores, lines, counts, metrics)
        metrics.put("jvm.gc_s", gcS, "s")
        metrics.put("jvm.rss_peak_mb", rssMb, "MB")
    }

    val result = Json.obj(
      "correct" -> (failures.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metrics.json,
      "workload" -> Json.str(w.name),
      "heights" -> h.toString,
      "input_lines" -> lines.toString,
      "wall_s" -> Json.num(wall),
      "setup_parts_s" -> Json.obj("session" -> Json.num(sessionS),
        "generate" -> Json.num(median(gens.map(_._2)))),
      "spark_version" -> Json.str(spark.version),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "spans" -> tracer.map(_.toJson).getOrElse("[]"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out), result.getBytes("UTF-8"))
    spark.stop()
  }

  /** Pipeline, sink and analytic numbers from the traced op's spans. */
  private def pipelineMetrics(tracer: Tracer, cores: Int, lines: Long,
                              counts: Map[String, Long], m: Metrics): Unit = {
    val root = tracer.find("pipeline.run").get
    val under = tracer.descendants(root)
    val jobs = under.filter(_.kind == "job")
    val stages = under.filter(_.kind == "stage")
    val sinks = under.filter(_.kind == "sink").map(s => s.name.stripPrefix("sink:") -> s).toMap
    m.put("pipeline.s", root.durMs / 1e3, "s")
    m.put("pipeline.jobs", jobs.size, "count")
    m.put("pipeline.stages", stages.size, "count")
    m.put("pipeline.tasks", stages.map(_.counts.getOrElse("tasks", 0.0)).sum, "count")
    m.put("pipeline.unattributed_jobs", jobs.count(_.counts.contains("unattributed")), "count")
    m.put("pipeline.busy_frac",
      stages.map(_.counts.getOrElse("run_ms", 0.0)).sum / (cores * root.durMs.toDouble), "ratio")
    m.put("pipeline.plan_s", under.filter(_.kind == "action")
      .map(_.counts.collect { case (k, v) if k.endsWith("_ms") => v }.sum).sum / 1e3, "s")
    m.put("pipeline.shuffle_bytes", stages.map(_.counts.getOrElse("shuffle_write_bytes", 0.0)).sum, "bytes")
    sinks.get("events").foreach { s =>
      m.put("events_write.s", s.durMs / 1e3, "s")
      m.put("events_write.bytes", s.counts.getOrElse("output_bytes", Double.NaN), "bytes")
      m.put("events_write.files", s.counts.getOrElse("files_written", Double.NaN), "count")
      // the events write is the job that scans the logs inside the pipeline
      m.put("events_write.scan_amplification", s.counts.getOrElse("records_read", 0.0) / lines, "ratio")
    }
    for ((a, tables) <- Expected.analyticOf.toSeq.groupBy(_._2).toSeq.sortBy(_._1) if a != "events") {
      val ss = tables.flatMap(t => sinks.get(t._1))
      if (ss.nonEmpty) {
        m.put(s"analytic.$a.s", (ss.map(_.endMs).max - ss.map(_.startMs).min) / 1e3, "s")
        m.put(s"analytic.$a.jobs", ss.map(_.counts.getOrElse("jobs", 0.0)).sum, "count")
      }
    }
    m.put("normalize.events", counts.get("events").map(_.toDouble).getOrElse(0.0), "count")
    // the duplicates table is empty on generated logs: no signal in it
    for ((t, n) <- counts.toSeq.sorted if t != "events" && t != "network_latency_duplicates_debug")
      m.put(s"sink.$t.rows", n, "count")
  }

  /** The traced layer probes over the workload's own input: ingest,
    * normalize, the decode kernels, and the three streaming machines. */
  private def layerProbes(spark: SparkSession, tracer: Tracer, work: String, logs: String,
                          lines: Long, streamH: Int, cuts: Seq[Int], m: Metrics,
                          failures: mutable.ArrayBuffer[String],
                          attempt: Int => Unit, fail: Int => Unit): Unit = {
    def spanS(name: String) = tracer.find(name).map(_.durMs / 1e3).getOrElse(Double.NaN)
    mark("layer probes")
    tracer.span("ingest")(Layers.ingest(spark, logs))
    tracer.span("normalize")(Layers.normalize(spark, logs))
    val ingest = tracer.find("ingest").get
    m.put("ingest.s", spanS("ingest"), "s")
    m.put("ingest.scan_amplification", tracer.descendants(ingest).filter(_.kind == "stage")
      .map(_.counts.getOrElse("records_read", 0.0)).sum / lines, "ratio")
    m.put("normalize.s", spanS("normalize") - spanS("ingest"), "s")

    val p = tracer.span("decode.payloads")(Layers.payloads(spark, logs))
    val ns = tracer.span("decode")(Layers.decode(p))
    val sizes = Map("protowire" -> p.channel.size, "block" -> p.blocks.size, "proposal" -> p.proposals.size)
    for (k <- Seq("protowire", "block", "proposal")) {
      m.put(s"decode.ns_per_msg.$k", ns(k), "ns")
      m.put(s"decode.msgs.$k", sizes(k), "count")
    }
    m.put("decode.msgs", sizes.values.sum, "count")

    mark("stream probes")
    val chunks = s"$work/chunks"
    val chunkLines = Inputs.writeChunks(chunks, streamH, cuts)
    val want = Expected.tableRows(streamH)
    for (machine <- Layers.machines) {
      val d = tracer.span(s"stream.$machine") {
        Try(Layers.stream(spark, chunks, machine, s"$work/ckpt_$machine"))
      }
      mark(s"stream $machine done")
      d match {
        case Failure(e) =>
          attempt(1); fail(1)
          failures += s"stream $machine: ${e.getClass.getSimpleName}: ${e.getMessage}"
        case Success(Layers.Drain(rows, progress)) =>
          attempt(progress.size)
          val expect = want(Layers.machineTable(machine))
          if (rows != expect) {
            fail(progress.size)
            failures += s"stream $machine: $rows confirmed rows, expected $expect"
          }
          def dur(k: String) = median(progress.map(_.durationMs.asScala.get(k).map(_.toDouble / 1e3).getOrElse(0.0)))
          val parent = tracer.find(s"stream.$machine").get.id
          for (b <- progress) {
            val start = java.time.Instant.parse(b.timestamp).toEpochMilli
            val ms = b.durationMs.asScala.get("triggerExecution").map(_.toLong).getOrElse(0L)
            tracer.batch(s"stream.$machine.batch#${b.batchId}", parent, start, start + ms,
              "input_rows" -> b.numInputRows.toDouble)
          }
          val last = progress.last.stateOperators
          m.put(s"stream.$machine.batches", progress.size, "count")
          m.put(s"stream.$machine.batch_s", dur("triggerExecution"), "s")
          m.put(s"stream.$machine.planning_s", dur("queryPlanning"), "s")
          m.put(s"stream.$machine.add_batch_s", dur("addBatch"), "s")
          m.put(s"stream.$machine.input_rows_per_line",
            progress.map(_.numInputRows).sum.toDouble / chunkLines, "ratio")
          m.put(s"stream.$machine.state_rows", last.map(_.numRowsTotal).sum, "count")
          m.put(s"stream.$machine.state_mem_bytes", last.map(_.memoryUsedBytes).sum, "bytes")
          m.put(s"stream.$machine.confirmed_rows", rows, "count")
      }
    }
  }
}
