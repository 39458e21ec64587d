package graft.cometbft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CometBFT NDJSON log ingestion (SURVEY.md §2.1 S1-S6, §2.2 P1-P3, P7).
  *
  * `spark.read.text` over the dir's `.log` glob replaces the per-file scanner
  * loop (`internal/app/app.go:25-66`) — the text source has no 64 MB line
  * limit and parallelizes by file split. The `_msg` peek + case-insensitive
  * dispatch (`internal/parser/dispatcher.go:69-97`) becomes a
  * `get_json_object` + `lower()` + one permissive `from_json` over the
  * union schema of all 22 raw message shapes (`types/raws.go`) — Catalyst
  * prunes unused fields per downstream query.
  */
object LogIngest {

  /** Union schema of the raw typed structs (`types/raws.go:7-283`).
    * `chID` (ReceivedBytes) is fetched via case-sensitive
    * `get_json_object` because it collides case-insensitively with
    * `chId` (Receive). */
  val rawUnionSchema: StructType = StructType(Seq(
    StructField("ts", StringType),
    StructField("module", StringType),
    StructField("level", StringType),
    StructField("addr", StringType),
    StructField("pubKey", StringType),
    StructField("current", StringType),
    StructField("previous", StringType),
    StructField("proposer", StringType),
    StructField("height", LongType),
    StructField("round", LongType),
    StructField("hash", StringType),
    StructField("cs_height", LongType),
    StructField("extLen", LongType),
    StructField("extSigLen", LongType),
    StructField("val_index", LongType),
    StructField("vote_height", LongType),
    StructField("vote_type", StringType),
    StructField("vote", StringType),
    StructField("prevotes", StringType),
    StructField("data", StringType),
    StructField("validator", StringType),
    StructField("vote_timestamp", StringType),
    StructField("last_commit", StringType),
    StructField("src", StringType),
    StructField("msgBytes", StringType),
    StructField("peer", StringType),
    StructField("conn", StringType),
    StructField("packet", StructType(Seq(
      StructField("channel_id", LongType),
      StructField("eof", BooleanType),
      StructField("data", StringType)))),
    StructField("channel", LongType),
    StructField("count", LongType),
    StructField("from", StringType),
    StructField("index", LongType),
    StructField("total", LongType),
    StructField("dur", StringType),
    StructField("step", StringType),
    StructField("proposal", StringType),
    StructField("num_txs", LongType),
    StructField("root", StringType),
    StructField("block", StringType)
  ))

  /** All lines of the dir's `.log` files, tagged with their source file.
    *
    * pathGlobFilter instead of a glob-in-path: same non-recursive
    * *.log selection (S1), but avoids the FileStreamSink metadata probe
    * that logs a FileNotFoundException stack trace for glob paths. */
  def readLines(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("pathGlobFilter", "*.log")
      .textFile(dir)
      .select(
        input_file_name().as("src_file"),
        col("value")
      )

  /** The dispatcher's line filters + union-schema parse over any
    * `(src_file, value)` frame (batch or streaming):
    *   P1 drop lines without `_msg` (`dispatcher.go:71-77`)
    *   P2 drop "with invalid args" (`dispatcher.go:80-83`)
    * plus `msg_lc`, `ch_id` and the `node_id_raw`/`validator_addr_raw`
    * metadata side-channels. */
  def dispatch(lines: DataFrame): DataFrame =
    lines
      .withColumn("msg_raw", get_json_object(col("value"), "$._msg"))
      .filter(col("msg_raw").isNotNull)
      .withColumn("msg_lc", lower(col("msg_raw")))
      .filter(!col("msg_lc").contains("with invalid args"))
      .withColumn("r", from_json(col("value"), rawUnionSchema))
      .withColumn("ch_id", get_json_object(col("value"), "$.chID").cast("long"))
      .withColumn("node_id_raw",
        when(col("msg_lc") === "p2p node id", get_json_object(col("value"), "$.ID")))
      .withColumn("validator_addr_raw",
        when(col("msg_lc") === "this node is a validator",
          get_json_object(col("value"), "$.addr")))

  /** Raw parsed lines: one row per dispatchable log line. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    dispatch(readLines(spark, dir))

  /** P7 per-file metadata (`app.go:77-86,103-108`) of the dir's `.log`
    * files: one row per file with its nodeID and validatorAddress; any
    * file missing either value fails with the file name (the reference
    * aborts the whole run, `app.go:97-99`). The one helper both the batch
    * ([[read]]) and the streaming path attach metadata through, so both
    * fail fast the same way, by two checks:
    *
    *  - A driver-side listing check, at call time, for ZERO-LINE files: an
    *    empty `.log` file yields no text-source rows, so the aggregate
    *    below never sees it — but the reference still aborts on it (the
    *    missing-ID check after scanning zero lines). File statuses come
    *    from the same listing the scan uses (O(#files) driver metadata, no
    *    data scan), so this adds no job and keeps the frame fully lazy. A
    *    zero-line file is exactly a zero-byte file: any file with content,
    *    even a lone newline, yields at least one row.
    *  - A `filter` on the tiny per-file aggregate for every other file, not
    *    a projected column on the joined output — Catalyst's ColumnPruning
    *    removes unread projections (a `raise_error` hidden in `withColumn`
    *    silently disappears under `count()`), but a filter condition must
    *    evaluate for every build-side row of the inner broadcast join,
    *    whatever columns the consumer reads. The aggregate runs over ALL
    *    lines (metadata extraction is a cheap `when` per row and partial-agg
    *    state is one entry per file), so a file whose every line fails the
    *    P1/P2 drops still shows up here with null metadata and aborts,
    *    exactly like the reference. */
  def metadata(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empties = fs.listStatus(path)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".log") && s.getLen == 0)
    require(empties.isEmpty,
      s"node ID or validator address not found in ${empties.map(_.getPath.getName).mkString(", ")}")
    val msgLc = lower(get_json_object(col("value"), "$._msg"))
    readLines(spark, dir)
      .groupBy(col("src_file"))
      .agg(
        min(when(msgLc === "p2p node id",
          get_json_object(col("value"), "$.ID"))).as("node_id"),
        min(when(msgLc === "this node is a validator",
          get_json_object(col("value"), "$.addr"))).as("validator_address")
      )
      .filter(
        when(col("node_id").isNull || col("validator_address").isNull,
          raise_error(concat(lit("node ID or validator address not found in "),
            col("src_file"))).cast("boolean"))
          .otherwise(lit(true)))
  }

  /** Ingest with P7 metadata attach: per-file nodeID/validatorAddress
    * broadcast-joined onto every row of that file. Inner join — every file
    * is present in [[metadata]] or the job has already failed. */
  def read(spark: SparkSession, dir: String): DataFrame =
    dispatch(readLines(spark, dir)).join(broadcast(metadata(spark, dir)), Seq("src_file"))
}
