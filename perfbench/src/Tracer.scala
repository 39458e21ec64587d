package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of a traced run. `kind` is bench (a benchmark step), sql or
  * sink (a SQL execution; a sink writes files), job, stage, action or
  * batch (a stream micro-batch). Times are epoch milliseconds (Spark's
  * listener clock); `parent` is -1 for a root. */
final case class Span(id: Int, var name: String, var kind: String, parent: Int,
                      startMs: Long, var endMs: Long,
                      counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def durMs: Long = endMs - startMs
}

/** In-memory span recorder fed by one `SparkListener` and one
  * `QueryExecutionListener`, both registered only while tracing is on.
  *
  *  - benchmark spans come from [[span]], opened on the benchmark thread;
  *  - a SQL execution is a span; one that writes files is a sink, named
  *    after the directory it wrote;
  *  - a job's parent is the SQL execution that ran it, or, for jobs
  *    outside any SQL execution (persist, checkpoint), the benchmark span
  *    open when it started;
  *  - a stage's parent is its job; task metrics are summed onto the stage
  *    and rolled up to the job and its execution;
  *  - each action (the query-execution callback) is a span carrying its
  *    planning phases' times.
  *
  * Spans stay in memory; [[toJson]] writes them when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var benchStack: List[Span] = Nil
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val execSpan = mutable.Map.empty[Long, Span]

  private def open(name: String, kind: String, parent: Int, startMs: Long): Span = synchronized {
    val s = Span(spans.size, name, kind, parent, startMs, startMs)
    spans += s
    s
  }

  private def currentBench: Int = benchStack.headOption.map(_.id).getOrElse(-1)

  /** Time `body` as a benchmark span nested in the current one. */
  def span[A](name: String)(body: => A): A = {
    val s = open(name, "bench", currentBench, System.currentTimeMillis())
    benchStack = s :: benchStack
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      benchStack = benchStack.tail
    }
  }

  /** Record a stream micro-batch from its progress event. */
  def batch(name: String, parent: Int, startMs: Long, endMs: Long,
            counts: (String, Double)*): Span = {
    val s = open(name, "batch", parent, startMs)
    s.endMs = endMs
    counts.foreach { case (k, v) => s.add(k, v) }
    s
  }

  /** A SQL execution: its jobs hang under it. A nested execution hangs
    * under its root; a root under the benchmark span open when it began. */
  private def execFor(id: Long, startMs: Long, root: Option[Long] = None): Span = synchronized {
    execSpan.getOrElseUpdate(id, {
      val parent = root.filter(_ != id).flatMap(execSpan.get).map(_.id).getOrElse(currentBench)
      open(s"sql#$id", "sql", parent, startMs)
    })
  }

  /** A file write names its execution span after the table directory it
    * wrote, and adds the write's own metrics. */
  private def onExecutionEnd(e: SparkListenerSQLExecutionEnd): Unit = synchronized {
    val s = execFor(e.executionId, e.time)
    s.endMs = e.time
    if (e.errorMessage.exists(_.nonEmpty)) s.add("failed", 1)
    // the execution's QueryExecution rides the event (Spark-private field)
    Option(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]).foreach { qe =>
      qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c }.foreach { c =>
        s.name = s"sink:${c.outputPath.getName}"; s.kind = "sink"
      }
      planHelper.collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
        Seq("numFiles" -> "files_written", "numOutputBytes" -> "output_bytes",
          "numOutputRows" -> "output_rows").foreach { case (k, name) =>
          w.metrics.get(k).foreach(m => s.add(name, m.value.toDouble))
        }
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        execFor(st.executionId, st.time, st.rootExecutionId); ()
      case end: SparkListenerSQLExecutionEnd => onExecutionEnd(end)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val parent = execId.map(id => execFor(id.toLong, e.time).id).getOrElse(currentBench)
      val s = open(s"job#${e.jobId}", "job", parent, e.time)
      if (execId.isEmpty) s.add("unattributed", 1)
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).map(_.id).getOrElse(currentBench)
      stageSpan(info.stageId) = open(s"stage#${info.stageId}", "stage", parent,
        info.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach { s =>
        s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          s.add("run_ms", m.executorRunTime.toDouble)
          s.add("records_read", m.inputMetrics.recordsRead.toDouble)
          s.add("bytes_read", m.inputMetrics.bytesRead.toDouble)
          s.add("shuffle_read_bytes",
            (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead).toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  /** Each action's planning phases (analysis, optimization, planning), as
    * a span ending when the action returned. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onAction(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onAction(funcName, qe, 0L, ok = false)
  }

  private def onAction(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = synchronized {
    val end = System.currentTimeMillis()
    val s = open(s"action:$funcName", "action", currentBench, end - durationNs / 1000000L)
    s.endMs = end
    if (!ok) s.add("failed", 1)
    qe.tracker.phases.foreach { case (phase, t) => s.add(s"${phase}_ms", t.durationMs.toDouble) }
  }

  /** Plan traversal that descends into adaptive plans' final stages. */
  private val planHelper = new AdaptiveSparkPlanHelper {}

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Unregister both listeners once the listener bus has drained, so every
    * event of the traced work has been seen. */
  def stop(): Unit = {
    waitForBus()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  private def waitForBus(): Unit = {
    // the query-execution callbacks ride the same bus as the job events
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def all: Seq[Span] = synchronized { rollUp(); spans.toSeq }

  /** Spans nested (transitively) under `root`, root excluded. */
  def descendants(root: Span): Seq[Span] = {
    val s = all
    val kids = s.groupBy(_.parent)
    def walk(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: walk(c.id))
    walk(root.id)
  }

  def find(name: String): Option[Span] = all.find(_.name == name)

  private var rolled = Set.empty[Int]
  /** Stage counts roll up into their job; a job's counts and a nested
    * execution's roll up into the execution that ran them. */
  private def rollUp(): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    def isExec(s: Span) = s.kind == "sql" || s.kind == "sink"
    for (kind <- Seq("stage", "job", "sql"); c <- spans.reverseIterator
         if c.kind == kind && !rolled(c.id); p <- byId.get(c.parent)
         if kind == "stage" || isExec(p)) {
      c.counts.foreach { case (k, v) => p.add(k, v) }
      if (kind == "job") p.add("jobs", 1)
      rolled += c.id
    }
  }

  /** Duration minus the part of the interval its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.durMs - covered
  }

  def toJson: String = {
    val s = all
    val kids = s.groupBy(_.parent)
    Json.arr(s.map { sp =>
      Json.obj(
        "run_id" -> Json.str(runId), "id" -> sp.id.toString, "name" -> Json.str(sp.name),
        "kind" -> Json.str(sp.kind), "parent" -> sp.parent.toString,
        "start_ms" -> sp.startMs.toString, "end_ms" -> sp.endMs.toString,
        "self_ms" -> selfMs(sp, kids.getOrElse(sp.id, Nil)).toString,
        "counts" -> Json.obj(sp.counts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    })
  }
}
