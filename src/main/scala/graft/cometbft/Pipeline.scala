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
  * filters into its own scan. A table that reads another table (see
  * [[Table]]) reads it the same way, from the warehouse.
  */
object Pipeline {

  /** Spark writes in flight at once: every sink write is one task on a
    * single driver pool of this width. */
  private val Width = 8

  /** How long a sink's row count may take to arrive after its write. */
  private val CountBound = 30.seconds

  def run(spark: SparkSession, logDir: String, warehouse: String,
          analytics: Seq[Analytic] = Analytics.all): Map[String, Long] = {
    // Two writers of one table would race two overwrites of it.
    val tables = analytics.flatMap(_.tables)
    val names = tables.map(_.name)
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty, s"Pipeline: tables written more than once: ${repeated.mkString(", ")}")
    // The tables of this run that a table waits for: its reads, where a
    // read no table of this run writes is built inline from its
    // producer's declaration, so that producer's reads count instead.
    // Resolved before anything is read, so an undeclared read fails fast.
    val inRun = names.toSet
    def waitsFor(t: Table): Set[String] =
      t.reads.toSet.flatMap((r: String) => if (inRun(r)) Set(r) else waitsFor(Analytics.producer(r)))
    val waits = tables.map(t => t.name -> waitsFor(t)).toMap
    val readers = tables.flatMap(t => waits(t.name).map(_ -> t)).groupMap(_._1)(_._2)
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

    // A table starts once every table it waits for is written, and its
    // build reads those back from the warehouse. Only a table that some
    // table waits for is read back (lazily: one footer-schema job each).
    val readBack = new ConcurrentHashMap[String, DataFrame]()
    def read(table: String): DataFrame =
      Option(readBack.get(table)).getOrElse(Analytics.producer(table).build(stored, read))
    val waiting = tables.map(t => t.name -> new AtomicInteger(waits(t.name).size)).toMap
    DriverPool(Width) { pool =>
      def start(t: Table): Unit = pool.submit {
        write(t.build(stored, read), t.name)
        readers.get(t.name).foreach { rs =>
          readBack.put(t.name, spark.read.parquet(s"$warehouse/${t.name}"))
          rs.foreach(r => if (waiting(r.name).decrementAndGet() == 0) start(r))
        }
      }
      tables.filter(t => waits(t.name).isEmpty).foreach(start)
    }
    val stuck = tables.filter(t => waiting(t.name).get > 0).map(_.name)
    require(stuck.isEmpty, s"Pipeline: ${stuck.mkString(", ")} never started: their reads form a cycle")
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
