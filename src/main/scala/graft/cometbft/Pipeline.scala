package graft.cometbft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.DriverPool

/** End-to-end CometBFT ETL pipeline — the Spark-native equivalent of the
  * reference's `main()` (§3.1): read log dir → normalize → write `events` →
  * run enabled analytics → write each result table under the simulation's
  * warehouse prefix (the reference's db-per-simulation, S9,
  * `internal/storage/mongo.go:40-50`).
  *
  * The events table is materialized ONCE (parquet) and each analytic reads
  * from it — mirroring the reference's "store events, then dispatch to
  * plugins" boundary while letting each analytic job prune columns and push
  * filters into its own scan.
  */
object Pipeline {

  /** Spark writes in flight at once: every sink write is one task on a
    * single driver pool of this width. */
  private val Width = 8

  /** How long a sink's row count may take to arrive after its write. */
  private val CountBound = 30.seconds

  def run(spark: SparkSession, logDir: String, warehouse: String,
          analytics: Seq[Analytic] = Analytics.all): Map[String, Long] = {
    // Two copies of one analytic would race two overwrites of its tables.
    val names = analytics.map(_.name)
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty, s"Pipeline: analytics named more than once: ${repeated.mkString(", ")}")
    val raw    = LogIngest.read(spark, logDir)
    val events = Normalize.normalize(raw)

    // Row counts ride the WRITE job itself (an Observation on the written
    // frame) instead of a read-back count() per sink, which would add a
    // pure-counting job per table. A failed write throws before its count
    // is ever read (its Observation would complete with 0 rows).
    val observed = new ConcurrentLinkedQueue[(String, Observation)]()
    def write(df: DataFrame, table: String, partitionCols: String*): Unit = {
      val obs = Observation()
      val w = df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$warehouse/$table")
      observed.add(table -> obs)
      ()
    }

    write(events
      // O1: event-time order within each partition; partitioning by
      // event_type turns every analytic's type filter into partition
      // pruning (each job scans only its event families).
      .repartition(col("event_type"))
      .sortWithinPartitions(col("ts_ns")),
      "events", "event_type")
    val stored = spark.read.parquet(s"$warehouse/events")

    // Later analytics may read the tables earlier ones wrote (runFrom):
    // the tracer unions the stored consensus + p2p tables instead of
    // re-running both machines. An analytic starts once every enabled
    // sibling it `dependsOn` has written all its tables; a dependency
    // that is not enabled is absent from `written`, and runFrom computes
    // it instead. The read-back is lazy (schema from the footer, no job).
    val written = new ConcurrentHashMap[String, DataFrame]()
    val enabled = analytics.map(_.name).toSet
    val waiting = analytics.map(a => a.name -> new AtomicInteger(a.dependsOn.count(enabled))).toMap
    val dependents = analytics.flatMap(a => a.dependsOn.filter(enabled).map(_ -> a))
      .groupMap(_._1)(_._2)
    def sink(table: String, df: DataFrame): Unit = {
      write(df, table)
      written.put(table, spark.read.parquet(s"$warehouse/$table"))
      ()
    }
    DriverPool(Width) { pool =>
      // An analytic writes its first sink, which materializes the frames
      // it persists on its tracker; its other sinks then reuse them as
      // separate tasks. The tracker is released once all have ended.
      def start(a: Analytic): Unit = pool.submit {
        val tracker = new FrameTracker
        val rest = try {
          val inputs = if (a.dependsOn.isEmpty) Map.empty[String, DataFrame] else written.asScala.toMap
          val tables = a.runFrom(stored, inputs, tracker)
          tables.headOption.foreach((sink _).tupled)
          tables.drop(1)
        } catch { case t: Throwable => tracker.release(); throw t }
        pool.submitAll(rest.map { case (t, df) => () => sink(t, df) }) { ok =>
          tracker.release()
          if (ok) dependents.getOrElse(a.name, Nil)
            .foreach(d => if (waiting(d.name).decrementAndGet() == 0) start(d))
        }
      }
      analytics.filter(a => waiting(a.name).get == 0).foreach(start)
    }
    val stuck = analytics.filter(a => waiting(a.name).get > 0).map(_.name)
    require(stuck.isEmpty, s"Pipeline: ${stuck.mkString(", ")} never started: their dependsOn forms a cycle")
    observed.asScala.map { case (table, obs) => table -> rowCount(table, obs) }.toMap
  }

  /** A sink's row count from its write's Observation. A count that never
    * arrives (the observe plumbing broke) must FAIL LOUDLY, never read as
    * 0 rows as if the sink were empty (negative-tested in PipelineSpec). */
  private[cometbft] def rowCount(table: String, obs: Observation,
                                 bound: FiniteDuration = CountBound): Long =
    try Await.result(obs.future, bound).getLong(0)
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"Pipeline: row count of $table not delivered within $bound of its write")
    }

  /** CLI: graft.cometbft.Pipeline <logDir> <warehouseDir> [analytics-csv]
    * — the optional third arg mirrors the reference's YAML plugin list
    * (omitted = all analytics enabled). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.cometbft.Pipeline <logDir> <warehouseDir> [analytics-csv]")
    val Array(logDir, out) = args.take(2)
    val enabled = Analytics.byNames(
      args.drop(2).headOption.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
    val spark = graft.GraftSession.get()
    val counts = Pipeline.run(spark, logDir, out, enabled)
    counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"$t: $n rows") }
    spark.stop()
  }
}
