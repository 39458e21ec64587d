package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ZOrderExprs
import graft.operators.DirSwap

/** Multi-dimensional data LAYOUT clustering (Z-order / Morton curve) —
  * the physical-design lever for 100 TB scans that partitioning alone
  * can't provide: a table partitioned by date still reads every file of
  * the matched dates for a `user_id` filter. Rewriting each partition in
  * Z-order over the frequently-filtered columns tightens EVERY clustered
  * column's per-file min/max envelope, so parquet footer stats (and any
  * engine's file-level skipping index) prune files for filters on ANY
  * clustered dimension — a lexicographic sort serves only its leading
  * column.
  *
  * Mechanics: each clustered column is normalized to a `bits`-wide cell
  * coordinate (`bits = 63 / n`) — by LINEAR min/max scaling (one cheap
  * 1-row statistics job, the medianSpanWidth pattern) or by QUANTILE
  * (rank) scaling (`scaling = "quantile"`: one `approxQuantile` pass
  * gives equi-POPULATED cells, recovering skipping power on zipf-skewed
  * columns where linear scaling collapses most rows into a few cells) —
  * then the coordinates are bit-interleaved ([[ZOrderExprs.ZInterleave]],
  * native codegen; quantile cells via [[ZOrderExprs.BucketIndex]], also
  * codegen) and the table is range-repartitioned + sorted on the z-value.
  * One shuffle total, sized by `numPartitions` to the target file size;
  * the z column itself is dropped before write (it is layout, not data).
  *
  * Affects COST only, never results: the rewrite is row-preserving by
  * construction (spec-pinned and oracle-checked — q137/q138 query the
  * clustered copy against oracles over the original). Skew in a column
  * concentrates its cells but cannot break correctness; under the
  * default linear scaling heavily skewed dimensions get fewer effective
  * distinct cells — the honest trade for a single-pass min/max
  * statistic — and `scaling = "quantile"` is the measured fix
  * (LayoutSpec pins the skip-fraction recovery on a zipfian column).
  *
  * NULL ordering: nulls map to cell 0 (they sort first within their
  * dimension), so all-null and mostly-null columns degrade to no-op
  * dimensions rather than errors.
  */
object Layout {

  private val ZCol = "__z"

  /** Cap on TOTAL pending deletion-vector positions after a
    * merge-on-read mutation (sum over the sidecar). Every snapshot read
    * builds the sidecar ONCE on the driver as a per-file
    * sorted-positions map and broadcasts it for the codegen'd
    * binary-search probe ([[Manifest.applyDv]] / [[DvDeleted]]), so
    * this bounds the read-side memory at 8 BYTES PER POSITION: ~80 MB
    * of primitive longs at the 10M default plus one map entry per DV'd
    * file — comfortable on any executor. A mutation that would exceed
    * it declines loudly naming copy mode / reify as the remedy: DVs are
    * the TRICKLE-mutation tool, not a bulk-rewrite replacement. */
  val DvMaxPositionsConf = "spark.graft.dv.maxPositions"
  val DvMaxPositionsDefault = 10000000L

  /** Per-FILE auto-materialize threshold for merge-on-read mutations
    * (fraction in (0, 1]; 0 = off, the default): after a DV commit, any
    * file whose PENDING deleted fraction (sidecar positions / footer
    * row count) exceeds the threshold is immediately rewritten
    * DV-FILTERED — a targeted reify of exactly that file, clearing its
    * sidecar entries — so heavily-deleted files converge to compact
    * physical form without waiting for compaction, and per-file DV
    * growth stays bounded. Probing a mostly-deleted file per row is the
    * worst DV economics; past the threshold the one-time rewrite is
    * cheaper than every future read. The extra rewrites are reported
    * honestly in the verb's [[MutationStats.rewrittenFiles]]. */
  val DvMaterializeThresholdConf = "spark.graft.dv.materializeThreshold"

  /** Minimum CLEAN (vector-free) file count for the deletion-vector
    * read's scan SPLIT ([[Manifest.applyDv]]): with at least this many
    * clean files the read plans two disjoint scans — clean files plain,
    * only DV'd files probed — so the per-row probe cost tracks the
    * PENDING set, not the table (the 100 TB shape: vectors on 0.1% of
    * files leave 99.9% of the scan untouched). Below it the single
    * probe-everywhere scan is cheaper: the split's extra scan node is a
    * fixed per-job cost that dominates exactly when the clean side is
    * small enough for the probe to be cheap anyway. */
  val DvSplitMinCleanFilesConf = "spark.graft.dv.splitMinCleanFiles"
  val DvSplitMinCleanFilesDefault = 32

  /** Bounded OPTIMISTIC RETRY for the mutation verbs (Delta-style): a
    * CAS loser — either conflict window, both of which abort having
    * moved nothing (or healed back to nothing) — RE-PINS the new
    * snapshot, RE-CLASSIFIES, and re-runs, up to this many retries
    * (default 3; 0 restores fail-fast). Two concurrent trickle writers
    * therefore serialize into two commits instead of one commit and one
    * ConcurrentModificationException. Safe for every verb: retry
    * re-reads the table as the winner left it, so semantics equal
    * running the verbs back-to-back; when retries exhaust, the last
    * conflict is rethrown. */
  val MutationMaxRetriesConf = "spark.graft.mutation.maxRetries"
  val MutationMaxRetriesDefault = 3

  /** Salt-group count for the string-key bloom refinement's per-file
    * batch probe ([[stringKeyStab]]): each (file, salt) aggregation
    * buffer holds ~|file's stabbed keys| / salts keys, bounding the
    * batch that the one-deserialization probe builds in memory (the
    * unsalted batch was O(|keys|) per file in the full-candidate worst
    * case). Raise it for merges whose key sets are huge relative to
    * executor memory; the sketch parses at most `salts` times per file
    * either way. */
  val BloomProbeBatchesConf = "spark.graft.bloom.probeBatches"

  /** Raw long/double view of a column for range scaling. Monotone in the
    * column's natural order per type; strings use a 7-BYTE UTF-8 prefix
    * read as a 56-bit integer — monotone in Spark's binary string order
    * for ANY script, because UTF-8 byte order equals code-point order
    * (an ASCII-clamped per-character prefix would collapse every
    * non-ASCII character to one value, flattening the cells of a
    * multilingual corpus to nothing; layout-quality only either way,
    * never correctness). All codegen'd builtins: encode → hex → 14 hex
    * digits zero-padded → conv base-16. */
  private def rawNumeric(df: DataFrame, c: String): Column = {
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => col(c).cast("double")
      case _: DecimalType    => col(c).cast("double")
      case TimestampType     => unix_micros(col(c)).cast("double")
      case TimestampNTZType  => unix_micros(col(c).cast(TimestampType)).cast("double")
      case DateType          => col(c).cast("int").cast("double")
      case StringType =>
        conv(rpad(substring(hex(encode(col(c), "UTF-8")), 1, 14), 14, "0"),
          16, 10).cast("double")
      case other => throw new IllegalArgumentException(
        s"Layout: cannot z-order column '$c' of type ${other.sql}")
    }
  }

  private def checkCols(df: DataFrame, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.size <= 8,
      s"z-order over 1..8 columns (63 shared bits), got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate z-order columns in $cols")
    cols.foreach(c => require(df.columns.contains(c), s"no column '$c' to z-order by"))
    require(!df.isStreaming, "Layout is a batch table-maintenance primitive (OPTIMIZE-style); " +
      "compact streaming sinks with DirSwap-based maintenance instead")
  }

  /** The z-value column for `df` over `cols` with LINEAR min/max cell
    * scaling. Runs ONE 1-row min/max statistics job over the clustered
    * columns (cost-only, like the interval width statistic); the
    * returned column is then pure codegen'd arithmetic per row. */
  def zValue(df: DataFrame, cols: Seq[String]): Column = {
    checkCols(df, cols)
    val n = cols.size
    val bits = 63 / n
    val maxCell = (1L << bits) - 1
    val raws = cols.map(c => rawNumeric(df, c))
    val aggs = raws.flatMap(r => Seq(min(r), max(r)))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val cells = raws.zipWithIndex.map { case (r, i) =>
      val (mnIdx, mxIdx) = (2 * i, 2 * i + 1)
      if (stats.isNullAt(mnIdx) || stats.isNullAt(mxIdx)) lit(0L)
      else {
        val mn = stats.getDouble(mnIdx); val mx = stats.getDouble(mxIdx)
        val span = mx - mn
        if (!(span > 0) || !java.lang.Double.isFinite(span)) lit(0L)
        else {
          val scaled = floor((r - lit(mn)) / lit(span) * lit(maxCell.toDouble)).cast("long")
          coalesce(least(lit(maxCell), greatest(lit(0L), scaled)), lit(0L))
        }
      }
    }
    ZOrderExprs.zInterleave(array(cells: _*), bits, n)
  }

  /** The z-value column with QUANTILE (rank) cell scaling: one
    * `approxQuantile` pass (relative error 1e-3) picks up to 255
    * per-column bounds, and each row's cell is its rank among them
    * ([[ZOrderExprs.BucketIndex]], codegen'd binary search) — so a
    * zipf-skewed column still spreads over ~256 equi-populated cells
    * where linear min/max scaling would collapse it. 256 cells per
    * dimension is deliberate: layout clustering targets FILE-level
    * (16..1024 files) envelopes, which 256 distinct cell values
    * saturate; finer cells would only grow the quantile statistic.
    * All-null columns degrade to constant cell 0, like linear. */
  def zValueQuantile(df: DataFrame, cols: Seq[String]): Column = {
    checkCols(df, cols)
    val n = cols.size
    val bits = 63 / n
    val maxCell = (1L << bits) - 1
    val nBounds = math.min(255L, maxCell).toInt
    val probs = (1 to nBounds).map(_.toDouble / (nBounds + 1)).toArray
    val raws = cols.map(c => rawNumeric(df, c))
    val qNames = cols.indices.map(i => s"__graft_q$i")
    val rawDf = df.select(raws.zip(qNames).map { case (r, nm) => r.as(nm) }: _*)
    val bounds = rawDf.stat.approxQuantile(qNames.toArray, probs, 1e-3)
    val cells = raws.zip(bounds).map { case (r, bs) =>
      val distinct = bs.distinct.sorted
      if (distinct.isEmpty) lit(0L) // all-null dimension
      else coalesce(ZOrderExprs.bucketIndex(r, distinct), lit(0L))
    }
    ZOrderExprs.zInterleave(array(cells: _*), bits, n)
  }

  private def zValueFor(df: DataFrame, cols: Seq[String], scaling: String): Column =
    scaling match {
      case "linear"   => zValue(df, cols)
      case "quantile" => zValueQuantile(df, cols)
      case other => throw new IllegalArgumentException(
        s"Layout scaling must be linear|quantile, got '$other'")
    }

  /** Rewrite `df` into global Z-order over `cols`: range-repartition on
    * the z-value (one shuffle; each output partition covers a tight,
    * disjoint z-range) and sort within partitions. `numPartitions` is
    * the output file count — size it to the target file size, NOT to
    * cluster parallelism (at 100 TB run this per table-partition, e.g.
    * per date — [[clusterPartitions]] — exactly like an OPTIMIZE job).
    * `scaling`: `linear` (default) or `quantile` (skew-resistant cells;
    * see [[zValueQuantile]]). */
  def cluster(df: DataFrame, cols: Seq[String], numPartitions: Int,
              scaling: String = "linear"): DataFrame = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    require(!df.columns.contains(ZCol), s"column name $ZCol is reserved by Layout")
    df.withColumn(ZCol, zValueFor(df, cols, scaling))
      .repartitionByRange(numPartitions, col(ZCol))
      .sortWithinPartitions(ZCol)
      .drop(ZCol)
  }

  /** [[cluster]] then write parquet (one file per range partition), then
    * refresh the `<dir>.envelopes` skipping index over the same columns
    * ([[writeEnvelopes]]) so [[prunedRead]] — and the
    * [[graft.plans.EnvelopePruneRule]] auto-pruning of plain
    * `read.filter` scans — work out of the box.
    *
    * `indexCols`/`bloomCols` widen the index beyond the clustering
    * columns IN THE SAME build (callers that need key-column stats used
    * to follow this with a second full [[writeEnvelopes]] over the wider
    * set, discarding the one just written — a repeated full scan of the
    * fresh table for an index the first pass could have produced). */
  def clusterWrite(df: DataFrame, cols: Seq[String], numPartitions: Int, dir: String,
                   scaling: String = "linear", indexCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Unit = {
    cluster(df, cols, numPartitions, scaling).write.mode("overwrite").parquet(dir)
    writeEnvelopes(df.sparkSession, dir,
      (cols ++ indexCols).distinct, bloomCols = bloomCols)
  }

  /** Per-leaf-partition OPTIMIZE: rewrite EVERY leaf directory of a
    * (possibly hive-partitioned) parquet table into Z-order over `cols`
    * independently — cell bounds are computed per partition, so each
    * date's files get tight local envelopes — then refresh ONE
    * table-level `.envelopes` index over `cols ++ indexCols` (pass the
    * partition columns in `indexCols` to let [[prunedRead]] prune whole
    * partitions through the same index). Each leaf is rewritten through
    * the crash-safe [[DirSwap]] (write tmp → swap), so an interruption
    * leaves every partition complete under its live or backup name —
    * heal with [[readHealed]]. WRITER-EXCLUSIVE contract: one
    * maintenance process at a time, but cross-process READERS are fine
    * as long as they go through [[readSnapshot]] — every run commits a
    * [[Manifest]] of the finished layout, and (from the second run on)
    * retires the replaced generation instead of deleting it, so a
    * snapshot reader racing the rewrite sees only the old or the new
    * complete file set, never a half-swapped mix. Plain listing-based
    * readers (`spark.read.parquet`) remain same-process-only: they can
    * observe the in-flight `<leaf>.compact-*` siblings.
    *
    * At 100 TB this is the nightly layout job: the per-leaf loop is
    * embarrassingly parallel across partitions — `parallelism` > 1 runs
    * that many leaves' rewrite JOBS concurrently from a driver-side
    * thread pool (each swap touches only its own directory, and a
    * single leaf's small job rarely fills the cluster; the scheduler
    * interleaves them). `filesPerPartition` sizes files per partition
    * rather than per table. A failing leaf fails the call after the
    * in-flight leaves finish — every completed leaf is already swapped
    * and consistent, the failed one is healed by [[readHealed]]. */
  def clusterPartitions(spark: SparkSession, dir: String, cols: Seq[String],
                        filesPerPartition: Int, scaling: String = "linear",
                        indexCols: Seq[String] = Nil, parallelism: Int = 1): Unit = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    // pending merge-on-read deletes MATERIALIZE first: the per-leaf
    // rewrite below reads plain listings, which cannot see deletion
    // vectors — rewriting without reifying would resurrect deleted rows
    if (Manifest.latestSeq(spark, dir).nonEmpty &&
        Manifest.info(spark, dir).dv.nonEmpty) { reifyDeletes(spark, dir); () }
    val (fs, work, retireTarget) = tableLeaves(spark, dir)
    def rewriteLeaf(leaf: org.apache.hadoop.fs.Path): Unit =
      if (fs.listStatus(leaf).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        DirSwap.swapRewrite(spark, leaf.toString, retireTarget(leaf))(
          cluster(_, cols, filesPerPartition, scaling))(
          (d, out) => d.write.mode("overwrite").parquet(out))
    // a failed leaf propagates only after every started leaf resolved —
    // no leaf is left mid-swap by a sibling's error
    graft.DriverPool.map(parallelism, work)(rewriteLeaf)
    writeEnvelopes(spark, dir, (cols ++ indexCols).distinct)
    // commit the finished layout as a manifest snapshot: cross-process
    // readers resolve this (or the previous, still-resolvable) complete
    // file set through readSnapshot, never a half-swapped listing
    Manifest.write(spark, dir)
    ()
  }

  /** Small-file COMPACTION — the cheap nightly maintenance op, distinct
    * from the full [[clusterPartitions]] OPTIMIZE: each leaf whose
    * parquet files outnumber `ceil(leafBytes / targetFileBytes)` is
    * rewritten into that many files with `coalesce` (NO shuffle, NO
    * re-sort — existing z-order runs are concatenated, not destroyed),
    * through the same crash-safe [[DirSwap]] + retirement machinery.
    * Already-compact leaves are NOT touched (no swap, no write — the
    * usual steady-state is most leaves skipping), which is what lets
    * this run frequently where the sorting OPTIMIZE runs nightly.
    *
    * After any rewrite the `.envelopes` index is refreshed over
    * `indexCols` — or, when empty, over the columns the EXISTING index
    * covers (so a routinely-compacted table keeps its index without the
    * caller re-stating the layout) — and a [[Manifest]] is committed.
    * A run that rewrote nothing changes nothing: no index write, no
    * manifest churn. Returns the number of leaves rewritten.
    *
    * WRITER-EXCLUSIVE like every swap maintainer; cross-process readers
    * go through [[readSnapshot]]. At 100 TB this is the streaming-sink
    * companion job: many small appended files per partition roll up
    * into scan-efficient ones, leaf-parallel via `parallelism`. */
  def compactPartitions(spark: SparkSession, dir: String, targetFileBytes: Long,
                        indexCols: Seq[String] = Nil, parallelism: Int = 1): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    // same reify-first rule as clusterPartitions: coalesce reads plain
    // listings and must not resurrect DV-deleted rows
    if (Manifest.latestSeq(spark, dir).nonEmpty &&
        Manifest.info(spark, dir).dv.nonEmpty) { reifyDeletes(spark, dir); () }
    val (fs, work, retireTarget) = tableLeaves(spark, dir)
    val rewritten = new java.util.concurrent.atomic.AtomicLong(0L)
    def compactLeaf(leaf: org.apache.hadoop.fs.Path): Unit = {
      val files = fs.listStatus(leaf)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (files.nonEmpty) {
        val bytes = files.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
        if (files.length > target) {
          DirSwap.swapRewrite(spark, leaf.toString, retireTarget(leaf))(
            _.coalesce(target.toInt))(
            (d, out) => d.write.mode("overwrite").parquet(out))
          rewritten.incrementAndGet()
          ()
        }
      }
    }
    graft.DriverPool.map(parallelism, work)(compactLeaf)
    if (rewritten.get > 0) {
      val idx = if (indexCols.nonEmpty) indexCols else indexedColumns(spark, dir)
      // bloom columns the existing index carried are preserved (derived,
      // like the stat columns — a routine compaction never narrows it)
      if (idx.nonEmpty)
        writeEnvelopes(spark, dir, idx, bloomColumns(spark, dir).filter(idx.contains))
      Manifest.write(spark, dir)
    }
    rewritten.get
  }

  /** The columns the table's existing `.envelopes` index covers (parsed
    * from its `min_<col>` field names); empty when no index exists. */
  private[graft] def indexedColumns(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(envelopesPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else spark.read.parquet(envelopesPath(dir)).schema.fieldNames.toSeq
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
  }

  /** The columns the existing index carries BLOOM filters for (parsed
    * from its `bloom_<col>` field names); empty when none. */
  private[graft] def bloomColumns(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(envelopesPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else spark.read.parquet(envelopesPath(dir)).schema.fieldNames.toSeq
      .filter(_.startsWith("bloom_")).map(_.stripPrefix("bloom_"))
  }

  /** Shared preamble of the per-leaf maintenance loops: the table's leaf
    * directories (hive partition leaves, or the root itself when flat)
    * and the per-leaf retirement target (set once the table is
    * manifest-maintained — every maintenance run commits a manifest, so
    * that's from the second run on; the first has no prior snapshot to
    * preserve). */
  private def tableLeaves(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, Seq[org.apache.hadoop.fs.Path],
         org.apache.hadoop.fs.Path => Option[String]) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no table at $dir")
    val manifested = Manifest.isManifested(spark, dir)
    val qualRoot = fs.makeQualified(root).toString
    def leafRel(leaf: org.apache.hadoop.fs.Path): String = {
      val full = fs.makeQualified(leaf).toString
      if (full == qualRoot) "" else full.stripPrefix(qualRoot + "/")
    }
    def retireTarget(leaf: org.apache.hadoop.fs.Path): Option[String] =
      if (!manifested) None
      else Some(leafRel(leaf) match {
        case ""  => Manifest.retiredPath(dir)
        case rel => Manifest.retiredPath(dir) + "/" + rel
      })
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val subDirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filterNot(d => d.getName.startsWith(".") || d.getName.startsWith("_"))
        .filterNot(d => d.getName.contains(".compact-")).toSeq
      if (subDirs.isEmpty) Seq(p) else subDirs.flatMap(leaves)
    }
    (fs, leaves(root), retireTarget)
  }

  /** Per-FILE statistics of `cols` for a written table — min/max plus a
    * null count per column (the Delta-stats triple: `nulls_c == rows`
    * proves a file can never satisfy a box predicate, since SQL
    * comparisons reject nulls). The same statistics a file-skipping
    * index (or parquet footer pruning at row-group grain) consults,
    * surfaced as a DataFrame for measurement and for PLANS.md evidence.
    * Distributed: one scan, one row per file. Partitioned dirs work —
    * partition columns are part of the scanned schema, so indexing them
    * gives per-file envelopes that prune whole partitions. */
  def fileEnvelopes(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    envelopeStats(spark.read.parquet(dir), cols)

  /** `file` is stored NORMALIZED ([[normPath]]) so incremental index
    * maintenance can remove a file's row by plain equality; every reader
    * normalizes collected values anyway, so mixed-form legacy rows still
    * serve (they just can't be removed incrementally — a full
    * [[writeEnvelopes]] heals). */
  private val normPathUdf = udf((s: String) => normPath(s))

  private def envelopeStats(df: DataFrame, cols: Seq[String],
                            bloomCols: Seq[String] = Nil,
                            bloomNumItems: Long = BloomNumItemsDefault): DataFrame =
    df.groupBy(normPathUdf(input_file_name()).as("file"))
      .agg(count(lit(1)).as("rows"),
        (cols.flatMap(envAggs(df)) ++ bloomCols.map(bloomAgg(_, bloomNumItems))): _*)

  /** Default per-file bloom capacity: sized for the distinct values ONE
    * file holds (not the table), ~3% false positives, ≈ 24 KB per file
    * per column — sound either way (a false positive only costs a read;
    * an over-full bloom just skips less). */
  val BloomNumItemsDefault = 20000L

  /** Per-file BLOOM filter over `xxhash64(c)` — the same construction
    * (and seed) Spark's own runtime row-group filtering uses, so the
    * probe side ([[graft.plans.EnvelopePruneRule]]'s equality/IN miss
    * proof) hashes identically. Null values hash to the seed constant
    * and only ever ADD a bit — the safe direction. */
  private def bloomAgg(c: String, numItems: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val hashed = new XxHash64(Seq(org.apache.spark.sql.GraftBridge.expression(col(c))))
    org.apache.spark.sql.GraftBridge.column(
      new BloomFilterAggregate(hashed, numItems).toAggregateExpression())
      .as(s"bloom_$c")
  }

  /** The per-column envelope aggregates: min/max/null-count always, plus
    * a per-file SUM for integral columns (float/double sums are
    * order-dependent and decimal sums widen their intermediate type, so
    * neither is stored). `try_sum`, not `sum`: an epoch-microsecond
    * column at production file sizes overflows a per-file long sum, and
    * under ANSI mode a plain sum would fail the whole INDEX BUILD for a
    * stat most queries never use. try_sum stores NULL for exactly the
    * overflowed files — [[graft.plans.EnvelopeAggRule]]'s soundness
    * probe then declines sum rewrites on that table (and only sum
    * rewrites) while min/max/count stay index-answerable. */
  private def envAggs(df: DataFrame)(c: String): Seq[Column] = {
    val base = Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        base :+ try_sum(col(c)).as(s"sum_$c")
      case _ => base
    }
  }

  /** Persist [[fileEnvelopes]] next to the table (`<dir>.envelopes`) —
    * the file-level skipping index [[prunedRead]] consults (the
    * Delta-stats / Iceberg-manifest role, as a plain parquet table). One
    * scan of the table; overwrite-mode (tiny output, one writer: the
    * layout job that just rewrote the table owns this too).
    *
    * `bloomCols` (each must also be in `cols`) additionally store a
    * per-file BLOOM FILTER — the point-lookup lever min/max envelopes
    * cannot provide: on a column whose values INTERLEAVE across files
    * (anything not the clustering dimension), every file's [min,max]
    * hull covers every lookup key and range skipping proves nothing,
    * while the bloom refutes `c = v` / small `c IN (…)` per file
    * exactly like Delta's bloom index. Cost: ~24 KB × files × columns
    * at the default capacity — OPT-IN per column for that reason. */
  def writeEnvelopes(spark: SparkSession, dir: String, cols: Seq[String],
                     bloomCols: Seq[String] = Nil,
                     bloomNumItems: Long = BloomNumItemsDefault): Unit = {
    require(bloomCols.forall(cols.contains),
      s"writeEnvelopes: bloomCols must be a subset of cols (stats anchor the bloom); " +
        s"missing ${bloomCols.filterNot(cols.contains).mkString(", ")}")
    envelopeStats(spark.read.parquet(dir), cols, bloomCols, bloomNumItems).coalesce(1)
      .write.mode("overwrite").parquet(envelopesPath(dir))
  }

  private[graft] def envelopesPath(dir: String): String =
    dir.stripSuffix("/") + ".envelopes"

  /** Append envelope rows for SPECIFIC files (a streaming sink's fresh
    * batch) to an existing index — incremental maintenance so
    * [[prunedRead]] can skip even files appended since the last full
    * rewrite. One bounded scan of just those files. Crash between the
    * data write and this append leaves the files unindexed →
    * [[prunedRead]] reads them unconditionally (exactness unaffected);
    * a replayed append can leave DUPLICATE index rows for a file —
    * harmless (both rows carry the same envelope, so the skip decision
    * is unchanged) and healed by the next full [[writeEnvelopes]]. */
  def appendEnvelopes(spark: SparkSession, dir: String, files: Seq[String],
                      cols: Seq[String], bloomCols: Seq[String] = Nil): Unit = {
    if (files.isEmpty) return
    envelopeStats(spark.read.parquet(files: _*), cols, bloomCols)
      .coalesce(1)
      .write.mode("append").parquet(envelopesPath(dir))
  }

  /** INCREMENTAL index maintenance for a mutation that replaced some
    * files: drop the index rows of `removed` (matched by normalized
    * path, so legacy unnormalized rows simply stay — harmless: a row
    * for a file no longer in the listing can never cause a skip, and
    * the stats-agg rule's exact-set gate just declines) and append
    * fresh stats over `added` only — O(index rows + new-file bytes),
    * never a table scan. The index dir is rewritten through the
    * crash-safe [[graft.operators.DirSwap]] like the streaming sink's
    * index compaction.
    *
    * CONCURRENCY: the optimistic-mutation model lets two writers reach
    * their refresh before either commits, and a dir swap is
    * single-writer — so refreshes serialize per table within the JVM,
    * and ANY refresh failure (a cross-process collision, an FS error)
    * degrades to a loudly-logged no-op rather than failing the verb:
    * the index is auxiliary by design — unindexed files are never
    * skipped, the prune rule re-applies the filter, the agg rule's
    * exact-file-set gate declines on mismatch, the verbs classify
    * unindexed files conservatively — so a stale index costs pruning
    * power, never answers; the next refresh or writeEnvelopes heals. */
  private val envRefreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def refreshEnvelopesIncremental(spark: SparkSession, dir: String,
      cols: Seq[String], removed: Set[String], added: Seq[String],
      basePath: String, bloomCols: Seq[String] = Nil): Unit = {
    val lock = envRefreshLocks.computeIfAbsent(normPath(dir), _ => new Object)
    lock.synchronized {
      try {
        // basePath keeps hive partition columns alive when reading the new
        // files as an explicit list, so partition-column stats stay indexed
        val newStats =
          if (added.isEmpty) None
          else Some(envelopeStats(
            spark.read.option("basePath", basePath).parquet(added: _*), cols, bloomCols))
        val removedDf = { import spark.implicits._; removed.toSeq.toDF("rfile") }
        graft.operators.DirSwap.swapRewrite(spark, envelopesPath(dir))(env => {
          val kept = env.join(removedDf,
            normPathUdf(env("file")) === removedDf("rfile"), "left_anti")
          // allowMissingColumns: an old-generation index may lack columns
          // the fresh stats carry (e.g. sum_) or vice versa — the union
          // fills NULLs, and the agg rule's soundness probe handles them
          newStats.fold(kept)(ns => kept.unionByName(ns, allowMissingColumns = true))
        })((d, out) => d.coalesce(1).write.mode("overwrite").parquet(out))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] envelope index refresh on $dir failed " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); the index is " +
              "STALE-BUT-SAFE (every consumer gates or reads unindexed files " +
              "conservatively) - the next refresh or writeEnvelopes heals it")
      }
    }
  }


  /** The per-file MISS predicate over an envelope table for a box
    * `lo_i <= col_i <= hi_i`: true when the file PROVABLY holds no
    * matching row — its range misses the box on some dimension, or
    * (when the index carries null counts; older indexes may not) every
    * value of a boxed column is null (null fails any SQL comparison).
    * Shared by [[prunedRead]], [[skippableFileFraction]], and the
    * optimizer rule ([[graft.plans.EnvelopePruneRule]] builds the same
    * shape from extracted conjuncts). */
  private[graft] def boxMiss(envColumns: Seq[String], box: Seq[(String, Any, Any)]): Column =
    box.map { case (c, lo, hi) =>
      val range = col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)
      if (envColumns.contains(s"nulls_$c")) range || (col(s"nulls_$c") === col("rows"))
      else range
    }.reduce(_ || _)

  /** Normalized path form for matching `input_file_name()` /
    * `inputFiles` spellings (file:/ vs file:///) against each other. */
  private[graft] def normPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Read `dir` with FILE-LEVEL skipping: files whose persisted envelope
    * PROVES the box predicate `lo_i <= col_i <= hi_i` cannot match are
    * never opened — not even their footers (row-group pruning still
    * applies inside the files that are read). EXACT regardless of index
    * staleness, by construction: the skip set is
    * `currentFiles ∩ {envelope proves miss}`, so a file appended after
    * the index was written (absent from it) is always read, and an
    * indexed file that was since rewritten away is simply not in the
    * listing. The caller still applies its own predicate — this prunes
    * I/O, never rows. With no index present, every file is read.
    *
    * The skip-set decision job runs once on the DRIVER over the BOUNDED
    * index table (one row per file); the read itself then keeps the
    * relation's ORIGINAL FileIndex wrapped in a delegating skipping view
    * ([[graft.plans.SkippingFileIndex]], the same class the optimizer
    * rule plants) — an O(1) driver-side relation spec at ANY file count
    * (never an explicit kept-path list, which on a million-file table
    * would mean a million-element relation spec and a fresh listing),
    * with partition discovery preserved. HIVE-PARTITIONED dirs compose:
    * partition columns come from the original index's discovery, a box
    * on an INDEXED partition column prunes through the envelope like any
    * other dimension, and a filter the caller applies on an UNINDEXED
    * partition column still partition-prunes the normal Catalyst way
    * (the wrapper passes partition filters straight through). */
  def prunedRead(spark: SparkSession, dir: String,
                 box: Seq[(String, Any, Any)]): DataFrame = {
    require(box.nonEmpty, "prunedRead needs at least one box predicate")
    val all = spark.read.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(envelopesPath(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(envelopesPath(dir)))) return all
    val env = spark.read.parquet(envelopesPath(dir))
    val needed = box.map(_._1).flatMap(c => Seq(s"min_$c", s"max_$c"))
    if (!needed.forall(env.columns.contains)) return all // index over other columns
    // driver-side: one row per file of a BOUNDED index table (file count).
    // Compare by normalized path — input_file_name() and inputFiles
    // render the scheme differently (file:/// vs file:/), and a silent
    // mismatch here would skip NOTHING, a perf bug the spec pins.
    val skip = env.filter(boxMiss(env.columns.toSeq, box))
      .select("file").collect().map(r => normPath(r.getString(0))).toSet
    if (skip.isEmpty) return all
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val pruned = all.queryExecution.analyzed.transform {
      case rel: LogicalRelation if rel.relation.isInstanceOf[HadoopFsRelation] =>
        val fsr = rel.relation.asInstanceOf[HadoopFsRelation]
        rel.copy(relation = fsr.copy(
          location = new graft.plans.SkippingFileIndex(fsr.location, skip))(fsr.sparkSession))
    }
    org.apache.spark.sql.GraftBridge.ofRows(spark, pruned)
  }

  /** SNAPSHOT read of a manifest-maintained table: resolve the latest
    * committed [[Manifest]] (or a pinned `seq`) and plan over exactly
    * that file set — the sanctioned CROSS-PROCESS reader for tables a
    * [[clusterPartitions]] loop or the streaming self-clustering sink
    * maintains. A reader racing a rewrite sees only the old or the new
    * complete set, never a half-swapped mix or a torn half-committed
    * batch, and performs no healing or mutation of any kind (healing
    * stays the writer's job). Retention: superseded snapshots stay
    * resolvable for `keep` maintenance cycles ([[Manifest.write]]'s
    * auto-vacuum, default 2). */
  def readSnapshot(spark: SparkSession, dir: String,
                   seq: Option[Long] = None): DataFrame =
    Manifest.read(spark, dir, seq)

  /** FILE-level change-data capture between two committed snapshots:
    * rows of the files present in `toSeq` (default: latest) but absent
    * from `fromSeq` — see [[Manifest.readChanges]]. The incremental
    * consumption primitive for downstream jobs (index updates, stats
    * refresh) that must not rescan the table each cycle. */
  def readChanges(spark: SparkSession, dir: String, fromSeq: Long,
                  toSeq: Option[Long] = None): DataFrame =
    Manifest.readChanges(spark, dir, fromSeq, toSeq)

  /** ROW-level change-data capture between two committed snapshots: the
    * exact multiset of rows inserted/deleted by `(fromSeq, toSeq]`,
    * labelled in `_change_type` — see [[Manifest.readChangeRows]]. A
    * [[deleteWhere]]'s delta is exactly the deleted rows; a pure
    * clustering/compaction rewrite cancels to zero rows. */
  def readChangeRows(spark: SparkSession, dir: String, fromSeq: Long,
                     toSeq: Option[Long] = None,
                     pairOn: Seq[String] = Nil): DataFrame =
    Manifest.readChangeRows(spark, dir, fromSeq, toSeq, pairOn)

  /** One-row physical-state summary of a parquet table (the DESCRIBE
    * DETAIL role): file count and bytes from one recursive listing,
    * manifest seq, the columns the `.envelopes` index covers, and
    * `n_rows` — EXACT and metadata-only when the index provably covers
    * exactly the current file set (the same gate the stats-agg rule
    * uses), NULL otherwise (never a guess, never a table scan). */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"tableStats: no table at $dir")
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") || n.startsWith("_") || n.contains(".compact-")) Nil
        else if (s.isDirectory) walk(s.getPath)
        else if (n.endsWith(".parquet")) Seq(s)
        else Nil
      }
    val files = walk(root)
    val idxCols = indexedColumns(spark, dir)
    val nRows: Option[Long] =
      if (idxCols.isEmpty) None
      else {
        val perFile = spark.read.parquet(envelopesPath(dir))
          .groupBy(col("file")).agg(min(col("rows")).as("rows"))
          .collect().map(r => normPath(r.getString(0)) -> r.getLong(1))
        val current = files.map(s => normPath(s.getPath.toString)).toSet
        if (perFile.map(_._1).toSet == current) Some(perFile.map(_._2).sum)
        else None
      }
    import spark.implicits._
    val blooms = bloomColumns(spark, dir)
    // pending merge-on-read deletes, when the latest commit names a DV
    // sidecar: files carrying positions and total deleted positions.
    // `n_rows` stays the PHYSICAL count (what a plain read serves);
    // live rows under a snapshot read = n_rows - dv_rows.
    val (dvFiles, dvRows): (Long, Long) =
      Manifest.latestSeq(spark, dir).map(_ => Manifest.info(spark, dir).dv) match {
        case Some(Some(name)) =>
          val r = spark.read.parquet(Manifest.dvsPath(dir) + "/" + name)
            .agg(count(lit(1)), sum(size(col("positions")))).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        case _ => (0L, 0L)
      }
    Seq((dir, files.size.toLong, files.map(_.getLen).sum, nRows,
      Manifest.latestSeq(spark, dir),
      if (idxCols.isEmpty) None else Some(idxCols.mkString(",")),
      if (blooms.isEmpty) None else Some(blooms.mkString(",")),
      dvFiles, dvRows))
      .toDF("path", "n_files", "size_bytes", "n_rows", "manifest_seq",
        "indexed_columns", "bloom_columns", "dv_files", "dv_rows")
  }

  /** Outcome of a [[deleteWhere]] / [[upsert]]: files dropped whole
    * (index-proven every row affected — never even read), files
    * rewritten (some rows affected), files left untouched (index-proven
    * no row affected), and — merge-on-read mode only — files that
    * gained DELETION-VECTOR positions without being rewritten. */
  final case class MutationStats(droppedFiles: Long, rewrittenFiles: Long,
                                 untouchedFiles: Long, dvFiles: Long = 0L)

  /** DELETE the rows inside a box (`lo_i <= col_i <= hi_i` on every
    * dimension; a NULL in any boxed column never matches, exactly as in
    * SQL) from a manifest-maintained parquet table (flat or hive-partitioned),
    * touching only
    * the files that need it. Work is classified per file over the
    * `.envelopes` index:
    *   - files the index PROVES disjoint from the box → untouched;
    *   - files it proves entirely inside it (bounds within the box, zero
    *     nulls on every dimension) → dropped whole, never read;
    *   - the rest → rewritten without the matching rows.
    * No usable index (or unsound stats — proofs are null-safe toward
    * "rewrite") degrades to rewriting everything: always exact, never
    * silently wrong. Commit protocol (writer-exclusive, like every
    * maintenance verb): replacements are fully WRITTEN to a temp sibling
    * first, then affected originals are RETIRED (so superseded manifest
    * snapshots keep resolving them — cross-process [[readSnapshot]]
    * readers racing the delete see only the old or the new complete
    * set), replacements move in, the envelope index refreshes over the
    * columns it already covered, and a new [[Manifest]] commits. A crash
    * mid-way is healed by RE-RUNNING the same delete: the replacement
    * write reads from the committed SNAPSHOT (retired files still
    * resolve), so no outcome of the crash loses rows — the re-run may
    * just rewrite more files than the index would have allowed. A crash
    * AFTER replacements promoted but BEFORE the commit leaves them as
    * stray files the guard reports loudly — run [[Manifest.write]] to
    * adopt them, then re-run the delete (still exact: deletion is
    * idempotent). Files a plain `write.mode(append)` added since the
    * last commit hit the same guard instead of silently surviving.
    *
    * `mode` picks the physical strategy — results are identical:
    *   - `"copy"` (default, copy-on-write): candidate files are
    *     REWRITTEN without the matching rows — the read-optimized
    *     shape, no per-row filtering afterwards;
    *   - `"dv"` (merge-on-read DELETION VECTORS): candidate files stay
    *     byte-untouched and the matching row POSITIONS are recorded in
    *     a manifest-referenced sidecar that [[readSnapshot]] filters by
    *     (`_metadata.row_index` anti-join) — a 1-row delete in a 1 GB
    *     file costs one candidate scan and a tiny sidecar write, never
    *     a file rewrite (the Delta-DV / Iceberg-positional-delete
    *     economics for trickle deletes at 100 TB). Drop-whole files are
    *     still dropped (a metadata-grain retire, no DV needed); later
    *     rewrites ([[compactPartitions]], [[clusterPartitions]], any
    *     mutation touching the file, or the explicit [[reifyDeletes]])
    *     MATERIALIZE pending positions and clear them. NOTE plain
    *     `spark.read.parquet(dir)` does not see DV deletes — snapshot
    *     readers are the sanctioned surface, as with [[addColumns]]. */
  def deleteWhere(spark: SparkSession, dir: String,
                  box: Seq[(String, Any, Any)],
                  mode: String = "copy"): MutationStats = {
    require(box.nonEmpty, "deleteWhere: empty box")
    require(mode == "copy" || mode == "dv",
      s"deleteWhere: mode must be copy|dv, got '$mode'")
    val cond = box.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val boxCols = box.map(_._1)
    def classify(env: DataFrame): (Set[String], Set[String]) = {
      val cols = env.columns.toSeq
      if (!boxCols.forall(c => cols.contains(s"min_$c") && cols.contains(s"max_$c")))
        return (Set.empty, Set.empty)
      val miss = coalesce(boxMiss(cols, box), lit(false))
      val full =
        if (!boxCols.forall(c => cols.contains(s"nulls_$c"))) lit(false)
        else coalesce(box.map { case (c, lo, hi) =>
          col(s"min_$c") >= lit(lo) && col(s"max_$c") <= lit(hi) &&
            col(s"nulls_$c") === lit(0L)
        }.reduce(_ && _), lit(false))
      (collectFiles(env.filter(miss)), collectFiles(env.filter(full)))
    }
    withMutationRetry(spark) {
      if (mode == "dv") deleteWhereDv(spark, dir, cond, classify)
      else mutateFiles(spark, dir, classify,
        rewrite = _.filter(!coalesce(cond, lit(false))), extra = None)
    }
  }

  /** The merge-on-read arm of [[deleteWhere]]. See [[mutateDv]]. */
  private def deleteWhereDv(spark: SparkSession, dir: String, cond: Column,
      classify: DataFrame => (Set[String], Set[String])): MutationStats =
    mutateDv(spark, dir, classify,
      positionsOf = _.filter(coalesce(cond, lit(false)))
        .select(col("__graft_f").as("file"), col("__graft_p").as("pos")),
      extra = None, props = Map.empty)

  /** Shared merge-on-read mutation core — the deletion-vector twin of
    * [[mutateFiles]]: affected rows are MARKED (their positions
    * recorded in an immutable sidecar the manifest names) instead of
    * rewritten away. Work per class: index-proven-miss files untouched;
    * proven-full files retired whole (metadata grain, never read);
    * candidates scanned ONCE — raw, `_metadata.row_index` alongside the
    * verb's predicate (`positionsOf` maps the annotated candidate frame
    * to (file, pos) rows) — and the positions merge with the previous
    * commit's sidecar (per-file `array_union`: re-running the same verb
    * is idempotent). `extra` rows (an upsert's replacements) stage to a
    * tmp sibling and PROMOTE as new files. Commit = stage everything,
    * re-check the pinned seq, retire full files, promote, refresh the
    * index incrementally (removed + added files only), CAS the manifest
    * naming the sidecar; a loser heals exactly like [[mutateFiles]].
    * Write cost is independent of candidate FILE SIZE — no candidate is
    * ever rewritten. */
  private def mutateDv(spark: SparkSession, dir: String,
      classify: DataFrame => (Set[String], Set[String]),
      positionsOf: DataFrame => DataFrame,
      extra: Option[DataFrame],
      props: Map[String, String],
      pinned: Option[Manifest.Info] = None): MutationStats = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no table at $dir")
    if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
    // a verb that classified or built its appended rows BEFORE calling
    // in (updateWhere's dv arm) passes its own pinned info, so the CAS
    // provably covers the snapshot it read — same contract as
    // mutateFiles
    val info = pinned.getOrElse(Manifest.info(spark, dir))
    val seq0 = info.seq
    // RAW snapshot: positions are physical row indexes, so the scan must
    // see every stored row (rows an earlier DV already deleted that also
    // match simply re-union — idempotent)
    val rawSnap = Manifest.readRaw(spark, dir, Some(seq0))
    val fileMap = rawSnap.inputFiles.map(f => normPath(f) -> f).toMap
    val files = fileMap.keySet
    val qualRootStr = normPath(fs.makeQualified(root).toString)
    val liveNow = Manifest.listLive(spark, dir).map(rel => s"$qualRootStr/$rel").toSet
    val strays = liveNow -- files
    require(strays.isEmpty,
      s"mutation: ${strays.size} file(s) under $dir are not in the committed snapshot " +
        s"(appended since the last commit, or promoted by a crashed mutation): " +
        s"${strays.take(3).mkString(", ")}${if (strays.size > 3) ", …" else ""}. " +
        "Commit them first (Manifest.write) so classification sees them, then re-run.")
    val envPath = new org.apache.hadoop.fs.Path(envelopesPath(dir))
    val (missAll, fullAll) =
      if (!fs.exists(envPath)) (Set.empty[String], Set.empty[String])
      else classify(spark.read.parquet(envelopesPath(dir)))
    val untouched = files.intersect(missAll)
    val dropped = files.intersect(fullAll) -- untouched
    val partial = files -- untouched -- dropped
    if (dropped.isEmpty && partial.isEmpty && extra.isEmpty)
      return MutationStats(0L, 0L, untouched.size.toLong)
    require(untouched.nonEmpty || partial.nonEmpty || extra.nonEmpty,
      s"mutation would remove every row of $dir; an empty table is not " +
        "representable in a manifest — keep at least one row or drop the table")
    val relC = org.apache.spark.sql.GraftBridge.column(DvRelPathOf(qualRootStr,
      org.apache.spark.sql.GraftBridge.expression(col("_metadata.file_path"))))
    // matching positions per candidate file — ONE bounded scan of the
    // candidates only (miss + full files never open)
    val newPerFile: Option[DataFrame] =
      if (partial.isEmpty) None
      else Some(positionsOf(
        minusFiles(spark, rawSnap, untouched ++ dropped)
          .withColumn("__graft_f", relC)
          .withColumn("__graft_p", col("_metadata.row_index")))
        .groupBy(col("file"))
        .agg(sort_array(collect_set(col("pos"))).as("positions")))
    val droppedRelDf = {
      import spark.implicits._
      dropped.toSeq.map(_.stripPrefix(qualRootStr + "/")).toDF("file")
    }
    // previous sidecar entries survive unless their file drops whole
    val oldKept: Option[DataFrame] = info.dv.map(n =>
      spark.read.parquet(Manifest.dvsPath(dir) + "/" + n)
        .join(droppedRelDf, Seq("file"), "left_anti"))
    // stage replacement/insert rows fully BEFORE anything moves, same
    // as mutateFiles (an aborted run deletes the invisible tmp sibling)
    val partCols = info.partSchema.fieldNames.toSeq
    val wantCols = (info.dataSchema.fieldNames ++ partCols).toSeq
    val tmp = new org.apache.hadoop.fs.Path(
      dir + ".mutate-tmp-" + java.util.UUID.randomUUID().toString)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // provable no-op (nothing to drop or mark, and the append is EMPTY
    // — an updateWhere-dv whose box missed every file): commit nothing,
    // like every other verb's no-op rule. Checked BY ROWS before
    // staging: a 0-row write can still leave an empty part file, which
    // a staged-file probe would mistake for real work
    val extraLive = extra.filterNot(e =>
      dropped.isEmpty && partial.isEmpty && e.select(wantCols.map(col): _*).isEmpty)
    if (dropped.isEmpty && partial.isEmpty && extraLive.isEmpty)
      return MutationStats(0L, 0L, untouched.size.toLong)
    extraLive.foreach { rows =>
      val w = rows.select(wantCols.map(col): _*).write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp.toString)
    }
    val (sidecar, dvTouched): (Option[String], Long) = {
      if (newPerFile.isEmpty && dropped.isEmpty) (info.dv, 0L) // carry unchanged
      else {
        val merged = (oldKept, newPerFile) match {
          case (Some(o), Some(n)) =>
            Some(o.select(col("file"), col("positions").as("__p_old"))
              .join(n.select(col("file"), col("positions").as("__p_new")), Seq("file"), "full_outer")
              .select(col("file"), sort_array(array_union(
                coalesce(col("__p_old"), array()),
                coalesce(col("__p_new"), array()))).as("positions")))
          case (o, n) => o.orElse(n)
        }
        merged match {
          case None => (None, 0L)
          case Some(m) =>
            val cached = m.cache()
            try {
              val touched = newPerFile.map(_.count()).getOrElse(0L)
              // CAPACITY guard: every snapshot read BROADCASTS the
              // exploded sidecar, so total pending positions must stay
              // bounded — merge-on-read is the TRICKLE-mutation tool; a
              // mutation marking a large fraction of the table belongs
              // on the copy path (or the table needs a reify). Checked
              // BEFORE anything moves, so the decline is clean.
              val totalRow = cached.agg(sum(size(col("positions")))).head()
              val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
              val cap = spark.conf.get(DvMaxPositionsConf,
                DvMaxPositionsDefault.toString).toLong
              if (total > cap) {
                fs.delete(tmp, true)
                throw new IllegalArgumentException(
                  s"merge-on-read mutation on $dir would leave $total pending " +
                    s"deletion-vector positions (cap $cap, $DvMaxPositionsConf): " +
                    "every snapshot read broadcasts the sidecar, so pending " +
                    "positions must stay bounded. Use mode=copy for this " +
                    "mutation, or reifyDeletes/compact first to clear the " +
                    "backlog (raise the conf only with broadcast headroom).")
              }
              if (cached.isEmpty) (None, touched)
              else {
                val name = "dv-" + java.util.UUID.randomUUID().toString
                cached.coalesce(1).write.parquet(Manifest.dvsPath(dir) + "/" + name)
                (Some(name), touched)
              }
            } finally { cached.unpersist(); () }
        }
      }
    }
    val wroteSidecar = sidecar != info.dv
    // the same pre-move re-check / retire / promote / CAS / heal
    // protocol as mutateFiles — candidates are never rewritten
    raceHooks.preRetire()
    val seqNow = Manifest.latestSeq(spark, dir)
    def deleteSidecar(): Unit = if (wroteSidecar) sidecar.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(Manifest.dvsPath(dir) + "/" + n), true))
    if (seqNow != Some(seq0)) {
      fs.delete(tmp, true)
      deleteSidecar()
      throw new java.util.ConcurrentModificationException(
        s"mutation on $dir: another writer committed m${seqNow.getOrElse(-1L)} after " +
          s"this mutation classified against m$seq0; aborted having moved NOTHING. " +
          "The table is writer-exclusive per maintenance window: re-read the " +
          "snapshot and re-run the verb.")
    }
    val retiredBase = Manifest.retiredPath(dir)
    dropped.foreach { f =>
      val src = new org.apache.hadoop.fs.Path(fileMap(f))
      if (fs.exists(src) && f.startsWith(qualRootStr + "/")) {
        val rel = f.stripPrefix(qualRootStr + "/")
        val dst = new org.apache.hadoop.fs.Path(retiredBase + "/" + rel)
        fs.mkdirs(dst.getParent)
        require(!fs.exists(dst), s"mutation: retirement collision at $dst")
        require(fs.rename(src, dst), s"mutation: could not retire $src")
      }
    }
    val movedIn = moveTmpIn(fs, root, tmp)
    val idx = indexedColumns(spark, dir)
    if (idx.nonEmpty && (dropped.nonEmpty || movedIn.nonEmpty))
      refreshEnvelopesIncremental(spark, dir, idx,
        removed = dropped, added = movedIn, basePath = dir,
        bloomCols = bloomColumns(spark, dir))
    raceHooks.preCommit()
    // intended set, not the live listing — see mutateFiles' commit note
    val intended = (files -- dropped).toSeq.map(Manifest.dvRelPath(qualRootStr, _)) ++
      movedIn.map(Manifest.dvRelPath(qualRootStr, _))
    try Manifest.writeSeq(spark, dir, seq0 + 1,
      schemas = Some((info.dataSchema, info.partSchema)), props = props,
      dv = sidecar.map(Manifest.DvSet(_)).getOrElse(Manifest.DvClear),
      filesOverride = Some(intended))
    catch {
      case e: java.util.ConcurrentModificationException =>
        movedIn.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
        dropped.foreach { f =>
          if (f.startsWith(qualRootStr + "/")) {
            val rel = f.stripPrefix(qualRootStr + "/")
            val src = new org.apache.hadoop.fs.Path(retiredBase + "/" + rel)
            val dst = new org.apache.hadoop.fs.Path(fileMap(f))
            if (fs.exists(src) && !fs.exists(dst)) {
              fs.mkdirs(dst.getParent)
              require(fs.rename(src, dst), s"mutation heal: could not un-retire $src")
            }
          }
        }
        if (idx.nonEmpty && (dropped.nonEmpty || movedIn.nonEmpty))
          refreshEnvelopesIncremental(spark, dir, idx,
            removed = movedIn.map(normPath).toSet,
            added = dropped.toSeq.map(fileMap), basePath = dir,
            bloomCols = bloomColumns(spark, dir))
        deleteSidecar()
        throw e
    }
    // per-file auto-materialize: files the committed sidecar now holds
    // past the threshold rewrite immediately (their entries clear); the
    // follow-up commit is atomic on its own — a crash between the two
    // leaves a valid DV table that any later mutation or reify converges
    val materialized = autoMaterializeDv(spark, dir)
    MutationStats(dropped.size.toLong, materialized, untouched.size.toLong, dvTouched)
  }

  /** The [[DvMaterializeThresholdConf]] pass — a targeted
    * [[reifyDeletes]] of exactly the files whose pending deleted
    * fraction exceeds the threshold. Per-file row counts come from the
    * `.envelopes` index when one exists (its `rows` column is exact and
    * already maintained incrementally — one metadata-scale read covers
    * the whole pending set); only UNINDEXED files fall back to parquet
    * footer reads, and those run in PARALLEL — a wide pending set on
    * object storage must never serialize thousands of ~50 ms footer
    * opens into the tail of every mutation. Returns the number of
    * files rewritten. */
  private def autoMaterializeDv(spark: SparkSession, dir: String): Long = {
    val thr = spark.conf.get(DvMaterializeThresholdConf, "0").toDouble
    if (thr <= 0d) return 0L
    require(thr <= 1d,
      s"$DvMaterializeThresholdConf must be in (0, 1], got $thr")
    val info = Manifest.info(spark, dir)
    info.dv match {
      case None => 0L
      case Some(name) =>
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val qualRootStr = normPath(fs.makeQualified(root).toString)
        val conf = spark.sparkContext.hadoopConfiguration
        val perFile = spark.read.parquet(Manifest.dvsPath(dir) + "/" + name)
          .select(col("file"), size(col("positions")).cast("long").as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        // files are immutable (UUID-named, moved in whole), so an
        // indexed row count can never be stale for a live file
        val indexedRows: Map[String, Long] = {
          val envPath = new org.apache.hadoop.fs.Path(envelopesPath(dir))
          if (!fs.exists(envPath)) Map.empty
          else spark.read.parquet(envelopesPath(dir))
            .groupBy(col("file")).agg(min(col("rows")).as("rows"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }
        def footerRows(rel: String): Long = {
          val p = new org.apache.hadoop.fs.Path(qualRootStr + "/" + rel)
          if (!fs.exists(p)) -1L
          else {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        }
        val unknown = perFile.collect {
          case (rel, _) if !indexedRows.contains(qualRootStr + "/" + rel) => rel
        }
        val footered: Map[String, Long] =
          unknown.toSeq.zip(graft.DriverPool.map(16, unknown.toSeq)(footerRows)).toMap
        val over = perFile.filter { case (rel, n) =>
          val rows = indexedRows.getOrElse(qualRootStr + "/" + rel, footered(rel))
          rows > 0L && n.toDouble / rows > thr
        }.map(_._1)
        if (over.isEmpty) 0L
        else {
          val overAbs = over.map(rel => qualRootStr + "/" + rel).toSet
          val allAbs = info.files.map(rel => qualRootStr + "/" + rel).toSet
          val keepAs = allAbs -- overAbs
          // this pass runs AFTER the verb's own commit, so NO failure
          // here may bubble into the verb-level retry (re-running the
          // whole verb would double-apply a non-idempotent mutation):
          // conflicts, stray-file guards, footer/FS errors — all lose
          // quietly and leave the backlog; the threshold simply
          // re-fires on the next mutation
          try mutateFiles(spark, dir, classify = _ => (keepAs, Set.empty),
            rewrite = identity, extra = None, pinned = Some(info),
            preclassified = Some((keepAs, Set.empty[String]))).rewrittenFiles
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] autoMaterializeDv on $dir: follow-up rewrite failed " +
                  s"(${e.getClass.getSimpleName}: ${e.getMessage}); the verb's own " +
                  "commit stands and the threshold re-fires on the next mutation")
              0L
          }
        }
    }
  }

  /** MATERIALIZE pending merge-on-read deletes: rewrite exactly the
    * files the latest commit's deletion-vector sidecar names — reading
    * them DV-FILTERED, so deleted rows vanish physically — and commit a
    * DV-free manifest. Every other file is untouched; a table without a
    * DV is a no-op. [[clusterPartitions]] and [[compactPartitions]] run
    * this automatically first (their leaf rewrites read plain listings,
    * which must never resurrect DV-deleted rows); call it directly when
    * DV probe overhead on the read path should be reclaimed without a
    * full OPTIMIZE. */
  def reifyDeletes(spark: SparkSession, dir: String): MutationStats = {
    if (Manifest.latestSeq(spark, dir).isEmpty)
      return MutationStats(0L, 0L, 0L)
    withMutationRetry(spark) {
    val info = Manifest.info(spark, dir)
    info.dv match {
      case None => MutationStats(0L, 0L, info.files.size.toLong)
      case Some(name) =>
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val qualRootStr = normPath(fs.makeQualified(root).toString)
        val dvAbs = spark.read.parquet(Manifest.dvsPath(dir) + "/" + name)
          .select("file").distinct().collect()
          .map(r => qualRootStr + "/" + r.getString(0)).toSet
        val allAbs = info.files.map(rel => qualRootStr + "/" + rel).toSet
        mutateFiles(spark, dir, classify = _ => (allAbs -- dvAbs, Set.empty),
          rewrite = identity, extra = None, pinned = Some(info),
          preclassified = Some((allAbs -- dvAbs, Set.empty[String])))
    }
    }
  }

  /** UPDATE the rows inside a box: every row matching `lo_i <= col_i <=
    * hi_i` (NULLs never match, as in SQL) gets `set`'s assignments
    * applied SIMULTANEOUSLY (SQL UPDATE semantics — every right-hand
    * side sees the ORIGINAL row, so `SET a = b, b = a` swaps), cast
    * back to each column's original type (store-assignment, schema
    * never drifts). File-level classification over the `.envelopes`
    * index like [[deleteWhere]]: files proven disjoint from the box are
    * never opened; there is no drop-whole class (updated rows stay).
    * Assigning a PARTITION column works — rewritten rows land under
    * their new leaves via the partitioned replacement write. Same
    * commit protocol and crash story as [[deleteWhere]] (an update is
    * NOT idempotent under re-run if its right-hand side reads the
    * column it assigns — heal a crash by re-running only when the
    * assignment is, like a constant SET, idempotent; otherwise restore
    * from the retained pre-mutation snapshot). */
  def updateWhere(spark: SparkSession, dir: String, box: Seq[(String, Any, Any)],
                  set: Seq[(String, Column)], mode: String = "copy"): MutationStats = {
    require(box.nonEmpty, "updateWhere: empty box")
    require(set.nonEmpty, "updateWhere: no assignments")
    require(set.map(_._1).distinct.size == set.size,
      s"updateWhere: duplicate assignment targets in ${set.map(_._1)}")
    require(mode == "copy" || mode == "dv",
      s"updateWhere: mode must be copy|dv, got '$mode'")
    val cond = box.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val boxCols = box.map(_._1)
    // same classification as deleteWhere's miss set; no drop-whole class
    def classify(env: DataFrame): (Set[String], Set[String]) = {
      val cols = env.columns.toSeq
      if (!boxCols.forall(c => cols.contains(s"min_$c") && cols.contains(s"max_$c")))
        return (Set.empty, Set.empty)
      val miss = coalesce(boxMiss(cols, box), lit(false))
      (collectFiles(env.filter(miss)), Set.empty)
    }
    def checkSet(df: DataFrame): Unit = {
      val unknown = set.map(_._1).toSet -- df.columns.toSet
      require(unknown.isEmpty, s"updateWhere: no such column(s) ${unknown.mkString(", ")}")
    }
    def rewrite(df: DataFrame): DataFrame = {
      checkSet(df)
      val byName = set.toMap
      val hit = coalesce(cond, lit(false))
      df.select(df.schema.fields.toSeq.map { f =>
        byName.get(f.name) match {
          case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None    => col(f.name)
        }
      }: _*)
    }
    // an UPDATE's row identity for CDC pairing: the columns it does NOT
    // assign (the update changed nothing else about the row)
    if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
    withMutationRetry(spark) {
    val info = Manifest.info(spark, dir)
    val identity = (info.dataSchema.fieldNames ++ info.partSchema.fieldNames).toSeq
      .filterNot(set.map(_._1).toSet)
    if (mode == "dv") {
      // merge-on-read UPDATE = delete + append: matched rows' positions
      // go to the sidecar and their UPDATED versions (assignments over
      // the ORIGINAL row, DV-FILTERED so already-deleted rows never
      // resurrect as updated copies) append as new files — candidates
      // stay byte-untouched. Classification runs ONCE here so the
      // appended-updates read is restricted to candidate files too.
      val rawSnap = Manifest.readRaw(spark, dir, Some(info.seq))
      val dvSnap = Manifest.applyDv(spark, dir, info.dv, rawSnap)
      val envP = new org.apache.hadoop.fs.Path(envelopesPath(dir))
      val fs = envP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val missed =
        if (!fs.exists(envP)) Set.empty[String]
        else classify(spark.read.parquet(envelopesPath(dir)))._1
      val matchedRows = minusFiles(spark, dvSnap, missed)
        .filter(coalesce(cond, lit(false)))
      checkSet(matchedRows)
      val byName = set.toMap
      val updated = matchedRows.select(matchedRows.schema.fields.toSeq.map { f =>
        byName.get(f.name) match {
          case Some(e) => e.cast(f.dataType).as(f.name)
          case None    => col(f.name)
        }
      }: _*)
      mutateDv(spark, dir, _ => (missed, Set.empty),
        positionsOf = _.filter(coalesce(cond, lit(false)))
          .select(col("__graft_f").as("file"), col("__graft_p").as("pos")),
        extra = Some(updated), props = pairKeyProps(identity),
        pinned = Some(info))
    } else
      mutateFiles(spark, dir, classify, rewrite, extra = None,
        props = pairKeyProps(identity))
    }
  }

  /** UPSERT by unique key into a manifest-maintained parquet table (flat
    * or hive-partitioned; updates carry the partition columns):
    * rows whose `keyCol` appears in `updates` are REPLACED, every
    * `updates` row is present afterwards (so unmatched keys INSERT).
    * File-level classification over the `.envelopes` index: a file whose
    * [min_key, max_key] contains no update key is untouched; candidate
    * files are rewritten without the matched keys; the updates append as
    * new files — the Delta-MERGE core, at file grain. Index rows with
    * NULL key stats classify as "rewrite" (never "untouched"), so a
    * mixed-generation index can only cost I/O. `updates` must have the
    * table's columns and UNIQUE, non-null keys (checked loudly — two
    * update rows for one key have no defined winner). Same commit
    * protocol and crash story as [[deleteWhere]].
    *
    * The classification itself is an INTERVAL STAB, not a between-join:
    * files are [min_key, max_key] intervals, update keys are points, and
    * [[graft.operators.IntervalJoin.pointInInterval]] turns the stab
    * into a bucketized equi-join — the naive
    * `key BETWEEN min_key AND max_key` anti-join is a non-equi condition
    * Spark can only plan as a broadcast-nested-loop, O(files × keys)
    * comparisons (10¹³ at a million files × 10M update keys).
    *
    * STRING keys (the common doc-id / URL-hash case) stab through the
    * MONOTONE 7-byte UTF-8 prefix long view (the z-cell machinery's
    * string scaling): `k ∈ [min, max]` in binary string order implies
    * `prefix(k) ∈ [prefix(min), prefix(max)]`, so the prefix stab is a
    * SOUND SUPERSET — prefix collisions cost candidate I/O, never rows —
    * and each stabbed (file, key) pair is then refined by the EXACT
    * string range test and, when the index carries a `bloom_<key>`
    * column, by per-file bloom membership (the point-lookup proof that
    * still refutes when every hull covers every key). FLOAT/DOUBLE/
    * DECIMAL keys stab through truncation toward zero — non-strictly
    * monotone, so a sound superset; NaN (and decimal overflow) views
    * to NULL and falls out conservatively, while float/double overflow
    * SATURATES to ±Long.MaxValue — still monotone (see the classifier)
    * — leaving NO key type on a nested-loop path (keys packed inside
    * one integer unit degrade to candidate-everything, which is the
    * full-rewrite cost, never a cross product; unsupported key types
    * like binary or boolean decline loudly). */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
             keyCol: String, mode: String = "copy"): MutationStats =
    upsertKeyed(spark, dir, updates, Seq(keyCol), mode)

  /** [[upsert]] generalized to a COMPOSITE unique key: rows are matched
    * on equality of EVERY `keyCols` column. File classification stabs
    * EACH key column independently and unions the miss proofs (a file
    * whose range on ANY key column contains no source key component
    * cannot hold a composite match) — so a low-cardinality leading key
    * (`(source, doc_id)`, `(date, id)`) still classifies at file grain
    * through its selective columns; the rewrite anti-joins on the full
    * key. */
  def upsertKeyed(spark: SparkSession, dir: String, updates: DataFrame,
                  keyCols: Seq[String], mode: String = "copy"): MutationStats = {
    require(mode == "copy" || mode == "dv",
      s"upsert: mode must be copy|dv, got '$mode'")
    val (keys, _) = cachedSourceKeys(updates, keyCols, "upsert", requireUnique = true)
    try withMutationRetry(spark) {
      val classify = keyedClassifier(updates, keys, keyCols)
      if (mode == "dv")
        // merge-on-read upsert: matched rows' POSITIONS go to the
        // deletion-vector sidecar (one left-semi keyed scan of the
        // candidates), replacements + fresh inserts append as new files
        // — NO candidate file is rewritten, the trickle-upsert
        // economics ([[mutateDv]]; same results as copy mode)
        mutateDv(spark, dir, classify,
          positionsOf = _.join(keys, keyCols, "left_semi")
            .select(col("__graft_f").as("file"), col("__graft_p").as("pos")),
          extra = Some(updates), props = pairKeyProps(keyCols))
      else
        mutateFiles(spark, dir, classify,
          rewrite = _.join(keys, keyCols, "left_anti"), extra = Some(updates),
          props = pairKeyProps(keyCols))
    } finally { keys.unpersist(); () }
  }

  /** Commit props recording a keyed mutation's row-identity columns for
    * CDC pairing — skipped when a column name itself contains the comma
    * separator (no sound encoding; pairing just stays off). */
  private def pairKeyProps(cols: Seq[String]): Map[String, String] =
    if (cols.nonEmpty && cols.forall(!_.contains(",")))
      Map(Manifest.PairKeyProp -> cols.mkString(","))
    else Map.empty

  /** Validated, cached key projection of `source`: key columns are
    * distinct, carry no NULLs, and — when `requireUnique` (any verb with
    * a matched or by-source arm: two source rows for one target row have
    * no defined winner, SQL MERGE's cardinality error) — identify each
    * source row uniquely. An INSERT-ONLY merge passes `requireUnique =
    * false`: repeated unmatched source keys legally insert row by row.
    * The caller unpersists. Returns the keys frame AND the exact source
    * row count the validation already computed — the verbs use it to
    * pick the source-side join strategy from a KNOWN count instead of
    * Spark's size estimate (which, for a filtered scan of a huge table,
    * is the unfiltered file size — so the planner would never broadcast
    * a trickle-CDC source against table-sized candidates). */
  private def cachedSourceKeys(source: DataFrame, keyCols: Seq[String],
                               verb: String, requireUnique: Boolean): (DataFrame, Long) = {
    require(keyCols.nonEmpty, s"$verb: no key columns")
    require(keyCols.distinct.size == keyCols.size,
      s"$verb: duplicate key columns in $keyCols")
    val keys = source.select(keyCols.map(col): _*).cache()
    val (n, distinctN, nullN) = {
      val r = keys.agg(count(lit(1)), countDistinct(keyCols.head, keyCols.tail: _*),
        sum(when(keyCols.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def fail(msg: String): Nothing = { keys.unpersist(); throw new IllegalArgumentException(msg) }
    if (nullN != 0L)
      fail(s"$verb: $nullN source rows have a NULL in key ${keyCols.mkString(",")}")
    if (requireUnique && n != distinctN)
      fail(s"$verb: key ${keyCols.mkString(",")} is not unique in the source " +
        s"($n rows, $distinctN keys)")
    (keys, n)
  }

  /** Row ceiling under which a merge BROADCASTS its source side into the
    * candidate-rewrite joins (explicit hint from the exact validated
    * count — guide §3.1: estimates after filters are unreliable, so a
    * trickle-CDC source filtered out of a huge table would otherwise
    * sort-merge-join, shuffling every candidate row). Size it to
    * executor broadcast headroom; 0 disables the hint. */
  val MergeBroadcastSourceRowsConf = "spark.graft.merge.broadcastSourceRows"
  val MergeBroadcastSourceRowsDefault = 2000000L

  /** Envelope-index classifier for a KEYED mutation — maps the index to
    * (missed, dropped-whole) file sets, where a "missed" file provably
    * contains NO source key. Stabs EVERY key column independently and
    * UNIONS the per-column miss proofs: a composite match needs every
    * component inside the file, so a file whose range on ANY key column
    * contains no source component of that column is proven missed — the
    * classification that keeps `(source, doc_id)` / `(date, id)` merges
    * at file grain when the leading column is near-constant (its hull
    * covers every key; the selective column's stab still prunes). The
    * interval-stab / string-prefix / bloom machinery is documented on
    * [[upsert]]. Shared by [[upsertKeyed]] and [[merge]]. */
  private def keyedClassifier(source: DataFrame, keys: DataFrame,
                              keyCols: Seq[String]): DataFrame => (Set[String], Set[String]) = {
    // MONOTONE long view per key column type: exact and total for the
    // integral/date/timestamp types; for float/double/decimal the view
    // is TRUNCATION toward zero — non-strictly monotone where defined
    // (min <= k <= max implies trunc(min) <= trunc(k) <= trunc(max), so
    // the stab is a sound SUPERSET; collisions only cost candidate
    // I/O — keys packed inside one integer unit degrade to
    // candidate-everything, still exact). NaN views to NULL and falls
    // out CONSERVATIVELY in the stab (a null point proves nothing it
    // needs to; any file that could hold a NaN has a NaN bound itself,
    // whose own null view forces it to the rewrite class). Float/double
    // values beyond ±2^63 SATURATE to Long.Max/MinValue under the
    // non-ANSI cast — still monotone, still a sound superset (only
    // DECIMAL overflow views to NULL, which is conservative the same
    // way NaN is). Strings go through [[stringKeyStab]] instead.
    def exactLongOf(c: String): Option[Column => Column] = source.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => Some(_.cast("long"))
      case DateType      => Some(c => unix_date(c).cast("long"))
      case TimestampType => Some(c => unix_micros(c))
      case FloatType | DoubleType =>
        Some(c => when(isnan(c), lit(null)).otherwise(c.cast("long")))
      case _: DecimalType => Some(_.cast("long"))
      case _ => None
    }
    // NO key type may reach a nested-loop plan: a column with neither a
    // monotone long view nor the string machinery (binary, boolean,
    // struct, …) simply contributes an EMPTY miss proof — sound, because
    // the per-column proofs are UNIONED and a composite match needs
    // every component, so skipping one column only loses pruning power.
    // Only when NO key column is stab-able (the single-column binary/
    // boolean key) does classification decline LOUDLY instead of
    // planning the silent O(files × keys) `key BETWEEN min/max`
    // broadcast-nested-loop.
    def stabbable(c: String): Boolean =
      exactLongOf(c).nonEmpty || source.schema(c).dataType.isInstanceOf[StringType]
    require(keyCols.exists(stabbable),
      s"keyed mutation: no key column of ${keyCols.mkString("(", ", ", ")")} has a " +
        "sound file-stab view (supported: byte/short/int/long, date, timestamp, " +
        "float/double, decimal, string) - classification would need an " +
        "O(files × keys) nested loop. Key the table on a string or numeric " +
        "surrogate, or add one such column to the key.")
    // the stab over a monotone long view `lv` of one key column:
    // candidate (file, key) pairs via the bucketized equi-join. Files
    // whose bounds view to NULL cannot be proven missed (they stay in
    // the rewrite class); keys whose view is NULL stab nothing — both
    // the conservative direction.
    def stabMissed(stabCol: String, valid: DataFrame, pts0: DataFrame,
                   lv: Column => Column): Set[String] = {
      val iv = valid.select(col("file"),
        lv(col(s"min_$stabCol")).as("f_start"), lv(col(s"max_$stabCol")).as("f_end"))
        .filter(col("f_start").isNotNull && col("f_end").isNotNull)
      val pts = pts0.select(lv(col(stabCol)).as("k_pt"))
        .filter(col("k_pt").isNotNull)
      val stabbed = graft.operators.IntervalJoin.pointInInterval(
        pts, iv, Nil, "k_pt", "f_start", "f_end", stabWidth(iv)).select("file")
      collectFiles(iv) -- collectFiles(stabbed)
    }
    env => {
      val cols = env.columns.toSeq
      val perColumn = keyCols.map { stabCol =>
        if (!stabbable(stabCol) ||
            !cols.contains(s"min_$stabCol") || !cols.contains(s"max_$stabCol"))
          Set.empty[String] // no stab view / no stats: prove nothing, prune nothing
        else {
          // null key stats (mixed-generation rows) must NOT classify as
          // miss: restrict the stab to rows whose proof can run
          val valid = env.filter(col(s"min_$stabCol").isNotNull &&
            col(s"max_$stabCol").isNotNull)
          // per-column distinct: a composite key's unique rows may carry
          // few distinct values in ONE column (the low-cardinality
          // leading key), and stabbing duplicates buys nothing
          val pts0 = keys.select(col(stabCol)).distinct()
          exactLongOf(stabCol) match {
            case Some(lv) => stabMissed(stabCol, valid, pts0, lv)
            case None => // StringType — the only remaining type after the gate
              val ivCols = Seq(col("file"), col(s"min_$stabCol").as("f_min"),
                col(s"max_$stabCol").as("f_max")) ++
                (if (cols.contains(s"bloom_$stabCol")) Seq(col(s"bloom_$stabCol").as("f_bloom"))
                 else Nil)
              val stabbed = stringKeyStab(valid.select(ivCols: _*),
                pts0.select(col(stabCol).as("k_val")))
              collectFiles(valid) -- collectFiles(stabbed.select("file"))
          }
        }
      }
      (perColumn.reduce(_ ++ _), Set.empty)
    }
  }

  /** An arm of a [[merge]] — WHEN MATCHED, or (update-set/delete only)
    * WHEN NOT MATCHED BY SOURCE. The optional condition is evaluated
    * per row: for matched arms over the (target row, source row) pair —
    * target columns by their plain names, source columns through the
    * `_src_` prefix (`col("_src_value")`), key columns (equal on both
    * sides) by their plain names; for by-source arms over the target
    * row alone. */
  sealed trait MergeMatched { def cond: Option[Column] }
  /** Matched pairs satisfying `cond` have their target row REPLACED by
    * the source row (`UPDATE SET *`); other matched rows are kept. */
  final case class MatchedUpdateAll(cond: Option[Column] = None) extends MergeMatched
  /** Matched pairs satisfying `cond` have the ASSIGNED columns replaced
    * by their expressions — evaluated over the matched pair (target
    * columns plain, source columns `_src_`-prefixed) — and every other
    * column kept (`UPDATE SET c = <expr>, …`). Key columns cannot be
    * assigned (re-keying a keyed rewrite has no sound classification). */
  final case class MatchedUpdateSet(set: Seq[(String, Column)],
                                    cond: Option[Column] = None) extends MergeMatched
  /** Matched pairs satisfying `cond` have their target row DELETED. */
  final case class MatchedDelete(cond: Option[Column] = None) extends MergeMatched

  /** General keyed MERGE — [[upsertKeyed]]'s semantics widened to the
    * full arm matrix real pipelines write: matched arms
    * (`WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET c =
    * <expr>, … | DELETE`, several arms FIRST-MATCH-WINS with an
    * unconditional arm only last) and an optional `[AND <cond>]`
    * unmatched-insert arm, on a composite equality key.
    *
    * Row semantics are SQL MERGE's: each matched TARGET row acts
    * independently (duplicate-key target rows update/delete row by
    * row), while duplicate SOURCE keys are rejected up front whenever a
    * matched or by-source arm exists (two source rows for one target
    * row have no defined winner — the standard MERGE cardinality
    * error); an INSERT-ONLY merge accepts them, inserting each unmatched
    * source row. Same classification and commit
    * protocol as [[upsertKeyed]]: files whose key range provably misses
    * every source key are untouched; candidates are rewritten through
    * ONE per-row left-outer join against the (renamed) source — arm
    * conditions and assignments see the target columns by name and the
    * source's through `_src_` — and unmatched inserts append. The
    * unconditional `UPDATE SET *` + insert shape is exactly
    * [[upsertKeyed]] — prefer it there (no join in the rewrite).
    *
    * `matched = None` (no WHEN MATCHED clause, insert-if-absent) keeps
    * every target row and rewrites NO file — existing files are
    * untouched outright; candidate files are read once, only to detect
    * which source keys already exist.
    *
    * `insertCond` (`WHEN NOT MATCHED AND <cond>`): unmatched source
    * rows insert only where it holds — a condition over SOURCE columns
    * by their plain names (an unmatched row has no target side).
    *
    * `notMatchedBySource` (`WHEN NOT MATCHED BY SOURCE [AND <cond>]
    * THEN UPDATE SET c = <expr>, … | DELETE`): arms over TARGET rows no
    * source key matches — conditions and assignments reference target
    * columns only. An UNCONDITIONED arm makes EVERY file a candidate (a
    * skipped file's rows would all be unmatched-by-source), so the bare
    * sync-table shape is honestly a FULL-TABLE rewrite — the cost Delta
    * pays for the same clause. When every by-source arm carries a
    * condition of provable shape (per-column comparisons against
    * literals — the retention-sync `AND t.ds = :today` pattern), files
    * whose envelopes REFUTE all the arm conditions classify on the key
    * stab alone ([[envRefutes]]). */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keyCols: Seq[String], matched: Seq[MergeMatched],
            insertUnmatched: Boolean = true,
            insertCond: Option[Column] = None,
            notMatchedBySource: Seq[MergeMatched] = Nil,
            mode: String = "copy"): MutationStats = {
    require(mode == "copy" || mode == "dv",
      s"merge: mode must be copy|dv, got '$mode'")
    require(matched.nonEmpty || insertUnmatched || notMatchedBySource.nonEmpty,
      "merge: no WHEN MATCHED arm, no BY SOURCE arm, insertUnmatched=false - a no-op")
    require(insertCond.isEmpty || insertUnmatched,
      "merge: insertCond given but insertUnmatched=false")
    // an unconditional arm ends its first-match-wins chain
    def checkReachable(arms: Seq[MergeMatched], what: String): Unit =
      arms.zipWithIndex.foreach { case (m, i) =>
        require(m.cond.nonEmpty || i == arms.size - 1,
          s"merge: $what arm ${i + 1} of ${arms.size} is unconditional - " +
            "later arms are unreachable")
      }
    checkReachable(matched, "matched")
    checkReachable(notMatchedBySource, "not-matched-by-source")
    notMatchedBySource.foreach {
      case MatchedUpdateAll(_) => throw new IllegalArgumentException(
        "merge: UPDATE SET * has no meaning for a NOT MATCHED BY SOURCE row - " +
          "there is no source row to take; use explicit assignments")
      case _ => ()
    }
    val srcPrefix = "_src_"
    val marker = "_src__matched"
    val nonKey = source.columns.filterNot(keyCols.contains).toSeq
    val clash = (nonKey.map(srcPrefix + _) :+ marker).toSet.intersect(source.columns.toSet)
    require(clash.isEmpty,
      s"merge: source column(s) ${clash.mkString(", ")} collide with the $srcPrefix " +
        "prefix the matched arms reference source columns through")
    // duplicate SOURCE keys are the MERGE cardinality error only when an
    // arm acts on matched target rows; an INSERT-ONLY merge (no matched,
    // no by-source arm) legally inserts repeated unmatched keys row by row
    val (keys, srcRows) = cachedSourceKeys(source, keyCols, "merge",
      requireUnique = matched.nonEmpty || notMatchedBySource.nonEmpty)
    try withMutationRetry(spark) {
      if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
      // PIN the snapshot seq BEFORE classification: the candidate
      // restriction and the unmatched-insert anti-join are built against
      // this snapshot, and mutateFiles CASes on exactly pinned.seq + 1 —
      // a commit interleaving anywhere after this line is a detected
      // conflict, never a silently-stale classification
      val pinned = Manifest.info(spark, dir)
      val classify = keyedClassifier(source, keys, keyCols)
      // candidate rows: the snapshot minus provably-missed files — every
      // matched (target, source) pair lives in a candidate file, so the
      // per-row merge join never scans untouched files
      // raw plan for file identity; DV-filtered plan for every row read
      // (a matched pair or an "existing key" must never be a row a
      // pending deletion vector holds deleted)
      val rawSnap = Manifest.readRaw(spark, dir, Some(pinned.seq))
      val snap = Manifest.applyDv(spark, dir, pinned.dv, rawSnap)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val snapFiles = rawSnap.inputFiles.map(normPath).toSet
      // BY SOURCE arms act on rows no source key matches — on a skipped
      // file, EVERY row. An UNCONDITIONED arm therefore makes every file
      // a candidate (the sync-table shape is honestly a full-table
      // rewrite — the cost Delta pays for the same clause). When every
      // by-source arm carries a CONDITION, though, a file whose envelope
      // REFUTES all the arm conditions cannot be changed by them
      // ([[envRefutes]] — the retention-sync `AND t.ds = :today` shape),
      // so it classifies on the key stab alone.
      val missed =
        if (!fs.exists(new org.apache.hadoop.fs.Path(envelopesPath(dir))))
          Set.empty[String]
        else {
          val env = spark.read.parquet(envelopesPath(dir))
          val keyMissed = classify(env)._1
          val bySrcRefuted: Option[Set[String]] =
            if (notMatchedBySource.isEmpty) Some(snapFiles)
            else {
              val envCols = env.columns.toSeq
              val perArm = notMatchedBySource.map(_.cond.flatMap(envRefutes(envCols, _)))
              if (perArm.exists(_.isEmpty)) None // some arm unprovable → full candidacy
              else Some(collectFiles(env.filter(perArm.flatten.reduce(_ && _))))
            }
          bySrcRefuted match {
            case None          => Set.empty[String]
            case Some(refuted) => keyMissed.intersect(refuted).intersect(snapFiles)
          }
        }
      // the verb is writer-exclusive and single-threaded between here
      // and the commit (mutateFiles re-checks the seq before moving
      // anything), so hand mutateFiles the classification it would
      // recompute — the stab runs ONCE per merge. An INSERT-ONLY merge
      // (no matched arm) never changes an existing row, so EVERY file is
      // untouched outright — candidates are read only to detect which
      // source keys already exist
      val preclass: (Set[String], Set[String]) =
        if (matched.isEmpty && notMatchedBySource.isEmpty) (snapFiles, Set.empty)
        else (missed, Set.empty)
      val cand = minusFiles(spark, snap, missed)
      val fields = cand.schema.fields.toSeq
      (matched ++ notMatchedBySource).foreach {
        case MatchedUpdateSet(set, _) =>
          require(set.map(_._1).distinct.size == set.size,
            s"merge: duplicate assignment targets in ${set.map(_._1)}")
          val assignedKeys = keyCols.filter(set.map(_._1).toSet)
          require(assignedKeys.isEmpty,
            s"merge: cannot assign key column(s) ${assignedKeys.mkString(", ")}")
          val unknown = set.map(_._1).toSet -- fields.map(_.name).toSet
          require(unknown.isEmpty, s"merge: no such column(s) ${unknown.mkString(", ")}")
        case MatchedUpdateAll(_) =>
          val missing = fields.map(_.name).toSet -- source.columns.toSet
          require(missing.isEmpty,
            s"merge: UPDATE SET * needs every table column on the source; " +
              s"missing ${missing.mkString(", ")}")
        case MatchedDelete(_) => ()
      }
      val srcR0 = nonKey.foldLeft(source)((d, c) => d.withColumnRenamed(c, srcPrefix + c))
        .withColumn(marker, lit(true))
      // source-side join strategy from the KNOWN row count (validated
      // above), not the planner's estimate: the candidate-rewrite joins
      // below put srcR on the build side, so a provably-small source
      // broadcasts and the (table-sized) candidate side is never
      // shuffled — the trickle-CDC merge shape at 100 TB. Estimates
      // can't deliver this: a filtered source of a huge table estimates
      // at the unfiltered scan size.
      val bcastCap = spark.conf.getOption(MergeBroadcastSourceRowsConf)
        .map(_.toLong).getOrElse(MergeBroadcastSourceRowsDefault)
      val srcR = if (bcastCap > 0 && srcRows <= bcastCap) broadcast(srcR0) else srcR0
      // arm FIRING gates over the joined (target row, source row) frame
      // — SQL MERGE semantics: each matched TARGET row acts
      // independently (duplicate-key targets update/delete row by row;
      // duplicate SOURCE keys were rejected up front), arms fire
      // first-match-wins per row (the gates are mutually exclusive),
      // null conditions count as false. Pure column expressions — the
      // same gates drive the copy rewrite and the dv marking.
      val isM = col(marker).isNotNull
      def gatesOf(arms: Seq[MergeMatched], side: Column): Seq[Column] = {
        val conds = arms.map(m =>
          m.cond.map(c => coalesce(c, lit(false))).getOrElse(lit(true)))
        conds.zipWithIndex.map { case (c, i) =>
          side && c && !conds.take(i).reduceOption(_ || _).getOrElse(lit(false))
        }
      }
      val armed = matched.zip(gatesOf(matched, isM)) ++
        notMatchedBySource.zip(gatesOf(notMatchedBySource, !isM))
      val deleteGate = armed
        .collect { case (MatchedDelete(_), g) => g }
        .reduceOption(_ || _).getOrElse(lit(false))
      val updateGate = armed.collect {
        case (MatchedUpdateAll(_), g)    => g
        case (MatchedUpdateSet(_, _), g) => g
      }.reduceOption(_ || _).getOrElse(lit(false))
      val anyArmGate = armed.map(_._2).reduceOption(_ || _).getOrElse(lit(false))
      // the arm-resolved image of one row (chain = first firing arm's
      // values, else the original row)
      def imageSelect(j: DataFrame): DataFrame =
        j.select(fields.map { f =>
          var chain: Column = null
          def add(g: Column, v: Column): Unit =
            chain = if (chain == null) when(g, v) else chain.when(g, v)
          armed.foreach {
            case (MatchedUpdateAll(_), g) =>
              if (!keyCols.contains(f.name))
                add(g, col(srcPrefix + f.name).cast(f.dataType))
            case (MatchedUpdateSet(set, _), g) =>
              set.toMap.get(f.name).foreach(e => add(g, e.cast(f.dataType)))
            case _ => ()
          }
          (if (chain == null) col(f.name) else chain.otherwise(col(f.name))).as(f.name)
        }: _*)
      def rewrite(old: DataFrame): DataFrame =
        imageSelect(old.join(srcR, keyCols, "left_outer").filter(!deleteGate))
      val extra =
        if (insertUnmatched)
          Some(insertCond.foldLeft(
            source.join(cand.select(keyCols.map(col): _*), keyCols, "left_anti"))(_.filter(_)))
        else None
      if (mode == "dv") {
        // merge-on-read for the FULL arm matrix — the CDC-apply trickle
        // MERGE against a huge table, the workload DVs exist for: every
        // row any arm fires on is MARKED (position → sidecar; candidates
        // stay byte-untouched), update arms' images and unmatched
        // inserts APPEND as new files. Images come from the DV-FILTERED
        // candidates (rows a pending vector already deleted never
        // resurrect as updated copies); positions from the RAW scan
        // (physical row indexes; re-marking an already-deleted row
        // re-unions — idempotent). Same results as copy mode.
        val hasUpdateArm = armed.exists {
          case (MatchedUpdateAll(_), _) | (MatchedUpdateSet(_, _), _) => true
          case _ => false
        }
        val updatedImages: Option[DataFrame] =
          if (!hasUpdateArm) None
          else Some(imageSelect(
            cand.join(srcR, keyCols, "left_outer").filter(updateGate)))
        val tableCols = fields.map(f => col(f.name))
        val extraAll = (updatedImages, extra.map(_.select(tableCols: _*))) match {
          case (Some(u), Some(e)) => Some(u.unionByName(e))
          case (u, e)             => u.orElse(e)
        }
        raceHooks.preMutate()
        mutateDv(spark, dir, _ => preclass,
          positionsOf = df => df.join(srcR, keyCols, "left_outer")
            .filter(anyArmGate)
            .select(col("__graft_f").as("file"), col("__graft_p").as("pos")),
          extra = extraAll, props = pairKeyProps(keyCols),
          pinned = Some(pinned))
      } else {
        raceHooks.preMutate()
        mutateFiles(spark, dir, _ => preclass, rewrite, extra,
          props = pairKeyProps(keyCols), pinned = Some(pinned),
          preclassified = Some(preclass))
      }
    } finally { keys.unpersist(); () }
  }

  /** Per-file envelope REFUTATION of a target-row condition — the proof
    * that lets a CONDITIONED `WHEN NOT MATCHED BY SOURCE` arm classify
    * at file grain: a file whose stats prove no stored row can satisfy
    * the arm's condition cannot be changed by that arm. Provable
    * conjunct shapes are `col <cmp> literal` comparisons (either operand
    * order, BETWEEN included) over indexed columns; refuting ANY single
    * conjunct refutes the conjunction. Returns None when no conjunct is
    * provable (the caller falls back to full candidacy — never wrong,
    * only slower). NULL stats rows and unprovable conjuncts fall out
    * conservatively (not refuted → the file stays a candidate); an
    * all-null indexed column refutes every comparison on it (SQL
    * comparisons reject NULL). Sound on a deletion-vector table too:
    * stats cover a SUPERSET of the live rows. */
  private def envRefutes(envCols: Seq[String], cond: Column): Option[Column] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def nameOf(e: ce.Expression): Option[String] = e match {
      case a: ce.AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
      case _ => None
    }
    def litOf(e: ce.Expression): Option[Column] = e match {
      case l if l.resolved && l.foldable && l.deterministic =>
        Some(org.apache.spark.sql.GraftBridge.column(l))
      case _ => None
    }
    // refutation of `c <cmp> v` from [min_c, max_c] (+ all-null proof)
    def term(c: String, mk: (Column, Column) => Column, v: Column): Option[Column] =
      if (!envCols.contains(s"min_$c") || !envCols.contains(s"max_$c")) None
      else {
        val range = mk(col(s"min_$c"), col(s"max_$c"))
        Some(if (envCols.contains(s"nulls_$c")) range || (col(s"nulls_$c") === col("rows"))
             else range)
      }
    def conjunct(e: ce.Expression): Option[Column] = e match {
      case ce.EqualTo(a, v) => (nameOf(a), litOf(v)) match {
        case (Some(c), Some(lv)) => term(c, (mn, mx) => mx < lv || mn > lv, lv)
        case _ => (nameOf(v), litOf(a)) match {
          case (Some(c), Some(lv)) => term(c, (mn, mx) => mx < lv || mn > lv, lv)
          case _ => None
        }
      }
      case ce.GreaterThan(a, v) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (_, mx) => mx <= litOf(v).get, litOf(v).get)
      case ce.GreaterThan(v, a) if nameOf(a).nonEmpty && litOf(v).nonEmpty => // v > a ≡ a < v
        term(nameOf(a).get, (mn, _) => mn >= litOf(v).get, litOf(v).get)
      case ce.GreaterThanOrEqual(a, v) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (_, mx) => mx < litOf(v).get, litOf(v).get)
      case ce.GreaterThanOrEqual(v, a) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (mn, _) => mn > litOf(v).get, litOf(v).get)
      case ce.LessThan(a, v) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (mn, _) => mn >= litOf(v).get, litOf(v).get)
      case ce.LessThan(v, a) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (_, mx) => mx <= litOf(v).get, litOf(v).get)
      case ce.LessThanOrEqual(a, v) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (mn, _) => mn > litOf(v).get, litOf(v).get)
      case ce.LessThanOrEqual(v, a) if nameOf(a).nonEmpty && litOf(v).nonEmpty =>
        term(nameOf(a).get, (_, mx) => mx < litOf(v).get, litOf(v).get)
      case b: ce.Between =>
        // refute either bound — `a BETWEEN lo AND hi` fails when
        // max < lo or min > hi
        (nameOf(b.input), litOf(b.lower), litOf(b.upper)) match {
          case (Some(c), Some(lo), Some(hi)) =>
            term(c, (mn, mx) => mx < lo || mn > hi, lo)
          case _ => None
        }
      case _ => None
    }
    def split(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // a Scala-API Column converts to analysis.UnresolvedFunction("=",…)
    // nodes, not EqualTo — normalize the comparison/conjunction shapes
    // so both the Column and the SQL-lowered (real-node) paths match
    def norm(e: ce.Expression): ce.Expression = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.size == 1 && f.arguments.size == 2 && !f.isDistinct =>
        val a = norm(f.arguments(0)); val b = norm(f.arguments(1))
        f.nameParts.head.toLowerCase match {
          case "and"      => ce.And(a, b)
          case "=" | "==" => ce.EqualTo(a, b)
          case ">"        => ce.GreaterThan(a, b)
          case ">="       => ce.GreaterThanOrEqual(a, b)
          case "<"        => ce.LessThan(a, b)
          case "<="       => ce.LessThanOrEqual(a, b)
          case _          => f
        }
      case ce.And(l, r) => ce.And(norm(l), norm(r))
      case other => other
    }
    val terms = split(norm(
      org.apache.spark.sql.GraftBridge.convertedExpression(cond))).flatMap(conjunct)
    terms.reduceOption(_ || _)
  }

  /** Bucket width for an interval stab over `iv(f_start, f_end)`: near
    * the median file span, floored so ONE unusually wide file
    * (post-compaction catch-all) stays under the interval join's
    * per-interval cell ceiling. */
  private def stabWidth(iv: DataFrame): Long = {
    val spanD = col("f_end").cast("double") - col("f_start").cast("double")
    val wRow = iv.agg(
      expr("approx_percentile(cast(f_end as double) - cast(f_start as double), 0.5)"),
      max(spanD)).head()
    val med = if (wRow.isNullAt(0)) 1.0 else wRow.getDouble(0)
    val mx = if (wRow.isNullAt(1)) 1.0 else wRow.getDouble(1)
    math.min(Long.MaxValue / 2.0,
      math.max(1.0, math.max(med, mx / (1L << 20).toDouble))).toLong
  }

  /** Candidate (file, key) pairs for STRING point keys against per-file
    * string ranges `iv(file, f_min, f_max[, f_bloom])` — the string-key
    * classification core shared by [[upsertKeyed]] (and profiled by
    * ProfMutation):
    *
    *  1. strip the LONGEST COMMON PREFIX of the global [min(f_min),
    *     max(f_max)] range — shared-prefix id schemes ("doc-000…",
    *     "https://…") otherwise collapse the 7-byte window to one value,
    *     degrading the stab to candidate-everything. Sound twice over:
    *     any key inside the global range must START with that prefix
    *     (its bytes are pinned between two equal byte prefixes), and for
    *     strings sharing a prefix, binary order of the suffixes equals
    *     binary order of the originals; keys NOT starting with it lie
    *     outside every file's range and are dropped before the join;
    *  2. stab the MONOTONE 7-byte UTF-8 prefix long of the suffix (the
    *     z-cell string scaling: UTF-8 byte order = code-point order, so
    *     the long view is non-decreasing and the stab a sound SUPERSET);
    *  3. refine each stabbed pair by the EXACT string range test (kills
    *     prefix collisions), then by the per-file bloom when present —
    *     membership refutation is exact per (file, key); false positives
    *     only keep a pair, the safe direction. */
  private[graft] def stringKeyStab(iv0: DataFrame, keys: DataFrame): DataFrame = {
    val hasBloom = iv0.columns.contains("f_bloom")
    val gRow = iv0.agg(min(col("f_min")).cast("string"),
      max(col("f_max")).cast("string")).head()
    if (gRow.isNullAt(0) || gRow.isNullAt(1)) return iv0.limit(0).withColumn("k_val", lit(""))
    val lcp = {
      val a = gRow.getString(0); val b = gRow.getString(1)
      val n = a.iterator.zip(b.iterator).takeWhile { case (x, y) => x == y }.length
      val p = a.substring(0, n)
      // never split a surrogate pair: the re-encoded suffix must stay
      // well-formed UTF-8 for the byte-order argument to hold
      if (p.nonEmpty && Character.isHighSurrogate(p.last)) p.dropRight(1) else p
    }
    def pv(c: Column) = conv(rpad(substring(hex(encode(
      substring(c, lcp.length + 1, 1 << 30), "UTF-8")), 1, 14), 14, "0"), 16, 10)
      .cast("long")
    val iv = iv0.select(Seq(col("file"), pv(col("f_min")).as("f_start"),
      pv(col("f_max")).as("f_end"), col("f_min"), col("f_max")) ++
      (if (hasBloom) Seq(col("f_bloom")) else Nil): _*)
    val pts = keys.filter(col("k_val").startsWith(lit(lcp)))
      .select(col("k_val"), pv(col("k_val")).as("k_pt"))
    val exact = graft.operators.IntervalJoin.pointInInterval(
      pts, iv, Nil, "k_pt", "f_start", "f_end", stabWidth(iv.select("file", "f_start", "f_end")))
      .filter(col("k_val") >= col("f_min") && col("k_val") <= col("f_max"))
    if (hasBloom) {
      // Probe per FILE BATCH, not per pair: the worst-case fixture (key
      // interleaves across files, every file's range covers every key)
      // yields |keys| × |files| exact pairs, and the old per-pair filter
      // re-parsed the ~24 KB serialized sketch for EVERY pair
      // (BloomFilter.readFrom walks the bit array through a
      // DataInputStream — ~60 µs per call; measured 11.5–13.2 s of the
      // string-upsert's 12–16 s total at sf0.1, ProfBuilds updstr).
      // Grouping the stabbed keys per file and deserializing each file's
      // bloom once per batch is the guide-§4.5 amortization; the pair set
      // emitted is pointwise identical (same membership test per
      // (file, key), unioned over the salt groups). The deterministic
      // key-hash SALT bounds the aggregation buffer: one unsalted group
      // held ALL of a file's stabbed keys in memory — O(|keys|) per group
      // in the full-candidate worst case, an executor OOM at scales past
      // the bench fixtures. Expected batch size is |file's keys| / salts;
      // the sketch still parses at most `salts` times per file instead of
      // once per pair.
      val salts = math.max(1, iv0.sparkSession.conf
        .getOption(BloomProbeBatchesConf).getOrElse("16").toInt)
      val probed = exact
        .groupBy(col("file"),
          pmod(xxhash64(col("k_val")), lit(salts.toLong)).as("__salt"))
        .agg(collect_list(struct(col("k_val"), xxhash64(col("k_val")).as("__k_h"))).as("__ks"))
        .join(iv.select(col("file"), col("f_bloom")), Seq("file"))
        .select(col("file"), explode(bloomKeepKeys(col("f_bloom"), col("__ks"))).as("k_val"))
      probed
    } else exact.select(col("file"), col("k_val"))
  }

  /** One-deserialization bloom probe over a file's whole candidate-key
    * batch: keys whose pre-computed xxhash64 the sketch might contain
    * survive; a NULL bloom (legacy index row, empty file) keeps every
    * key — the safe direction (a false positive only keeps a pair). */
  private[graft] val bloomKeepKeys =
    udf((bloom: Array[Byte], ks: Seq[org.apache.spark.sql.Row]) => {
      if (bloom == null) ks.map(_.getString(0))
      else {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bloom))
        ks.collect { case r if bf.mightContainLong(r.getLong(1)) => r.getString(0) }
      }
    })

  private def collectFiles(env: DataFrame): Set[String] =
    env.select("file").distinct().collect().map(r => normPath(r.getString(0))).toSet

  /** Shared core of the mutation verbs — see [[deleteWhere]] for the
    * commit protocol. `classify` maps the envelope index to (untouched,
    * dropped-whole) file sets; everything else rewrites through
    * `rewrite`; `extra` rows (an upsert's updates) append verbatim.
    * Hive-partitioned tables work end to end: the partial-file read is
    * the SNAPSHOT minus every file not being rewritten (a delegating
    * [[graft.plans.SkippingFileIndex]] — only the partial files open,
    * partition columns stay alive), replacements are written
    * `partitionBy` the manifest's partition schema, moved in under
    * their leaf paths, and retirement preserves leaf structure. */
  private def mutateFiles(spark: SparkSession, dir: String,
                          classify: DataFrame => (Set[String], Set[String]),
                          rewrite: DataFrame => DataFrame,
                          extra: Option[DataFrame],
                          props: Map[String, String] = Map.empty,
                          pinned: Option[Manifest.Info] = None,
                          preclassified: Option[(Set[String], Set[String])] = None)
      : MutationStats = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no table at $dir")
    // the manifest is the commit mechanism: bootstrap the first commit
    if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
    // PIN the snapshot seq this mutation classifies against: the final
    // commit CASes on exactly seq0+1, so ANY interleaved commit turns
    // into a detected conflict instead of a silent overwrite. A verb
    // that classified BEFORE calling in (merge) passes its own pinned
    // info, so the CAS provably covers the snapshot it classified on.
    val info = pinned.getOrElse(Manifest.info(spark, dir))
    val seq0 = info.seq
    val partCols = info.partSchema.fieldNames.toSeq
    // file identity comes from the RAW snapshot plan (a pending
    // deletion-vector filter adds the sidecar relation, which must not
    // leak into inputFiles); the REWRITE read below is DV-FILTERED, so
    // rows a DV holds deleted never resurrect in replacements — any
    // mutation touching a DV'd file MATERIALIZES its deletes
    val rawSnap = Manifest.readRaw(spark, dir, Some(seq0))
    val snap = Manifest.applyDv(spark, dir, info.dv, rawSnap)
    val fileMap = rawSnap.inputFiles.map(f => normPath(f) -> f).toMap
    val files = fileMap.keySet
    // STRAY-FILE guard: files appended to the live dir since the last
    // commit are invisible to classification — rows matching the
    // predicate in them would silently survive, yet the final
    // Manifest.write would commit them unindexed. Fail loudly instead
    // (the same loud-guard style as the other preconditions).
    val qualRootStr = normPath(fs.makeQualified(root).toString)
    val liveNow = Manifest.listLive(spark, dir).map(rel => s"$qualRootStr/$rel").toSet
    val strays = liveNow -- files
    require(strays.isEmpty,
      s"mutation: ${strays.size} file(s) under $dir are not in the committed snapshot " +
        s"(appended since the last commit, or promoted by a crashed mutation): " +
        s"${strays.take(3).mkString(", ")}${if (strays.size > 3) ", …" else ""}. " +
        "Commit them first (Manifest.write) so classification sees them, then re-run.")
    val envPath = new org.apache.hadoop.fs.Path(envelopesPath(dir))
    val (missAll, fullAll) = preclassified.getOrElse {
      if (!fs.exists(envPath)) (Set.empty[String], Set.empty[String])
      else classify(spark.read.parquet(envelopesPath(dir)))
    }
    // a re-run after a crash resolves retired paths, which no index row
    // names — they fall to "rewrite", the safe class
    val untouched = files.intersect(missAll)
    val dropped = files.intersect(fullAll) -- untouched
    val partial = files -- untouched -- dropped
    // NO-OP early return: nothing dropped, nothing rewritten, nothing
    // appended — committing a fresh manifest seq here would be pure
    // churn (advancing the vacuum window, invalidating listing-signature
    // caches), inconsistent with compactPartitions' "a run that rewrote
    // nothing changes nothing"
    if (dropped.isEmpty && partial.isEmpty && extra.isEmpty)
      return MutationStats(0L, 0L, untouched.size.toLong)
    require(untouched.nonEmpty || partial.nonEmpty || extra.nonEmpty,
      s"mutation would remove every row of $dir; an empty table is not " +
        "representable in a manifest — keep at least one row or drop the table")
    val schema = snap.schema // data + partition columns
    // 1) WRITE replacements fully, before anything moves: the read
    //    consumes the to-be-retired originals. The partial read is the
    //    snapshot MINUS every non-rewritten file — only partial files
    //    open, and partition columns survive (an explicit path list
    //    would lose them)
    // per-invocation staging dir: a FIXED name would let two racing
    // mutations clobber each other's staged replacements before either
    // reaches the seq re-check (a crash may orphan one — it sits OUTSIDE
    // the table root, invisible to readers, and any re-run stages fresh)
    val tmp = new org.apache.hadoop.fs.Path(
      dir + ".mutate-tmp-" + java.util.UUID.randomUUID().toString)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val kept = if (partial.isEmpty) None
               else Some(rewrite(minusFiles(spark, snap, untouched ++ dropped)))
    val replacement = (kept, extra.map(_.select(schema.fieldNames.map(col): _*))) match {
      case (Some(k), Some(e)) => Some(k.unionByName(e))
      case (k, e)             => k.orElse(e)
    }
    replacement.foreach { r =>
      val w = r.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp.toString)
    }
    // DELETION-VECTOR carry-forward: entries of files this mutation
    // drops or rewrites MATERIALIZE here (the rewrite read was
    // DV-filtered), so only untouched files' entries survive. Unchanged
    // entry set → reuse the old sidecar name; emptied → clear; shrunk →
    // write a filtered immutable sidecar (invisible until referenced)
    var newSidecar: Option[String] = None
    val dvCarry: Manifest.DvCarry = info.dv match {
      case None => Manifest.DvInherit
      case Some(name) =>
        val old = spark.read.parquet(Manifest.dvsPath(dir) + "/" + name)
        val touchedRelDf = {
          import spark.implicits._
          (dropped ++ partial).toSeq.map(_.stripPrefix(qualRootStr + "/")).toDF("file")
        }
        val keptDv = old.join(touchedRelDf, Seq("file"), "left_anti").cache()
        try {
          val keptN = keptDv.count()
          if (keptN == old.count()) Manifest.DvInherit
          else if (keptN == 0L) Manifest.DvClear
          else {
            val nm = "dv-" + java.util.UUID.randomUUID().toString
            keptDv.coalesce(1).write.parquet(Manifest.dvsPath(dir) + "/" + nm)
            newSidecar = Some(nm)
            Manifest.DvSet(nm)
          }
        } finally { keptDv.unpersist(); () }
    }
    // 2) RE-CHECK the pinned seq immediately before anything MOVES: a
    //    commit that landed during classification/staging means this
    //    mutation classified against a stale snapshot — abort having
    //    moved NOTHING (only the staged tmp dir is deleted)
    raceHooks.preRetire()
    val seqNow = Manifest.latestSeq(spark, dir)
    def deleteNewSidecar(): Unit = newSidecar.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(Manifest.dvsPath(dir) + "/" + n), true))
    if (seqNow != Some(seq0)) {
      fs.delete(tmp, true)
      deleteNewSidecar()
      throw new java.util.ConcurrentModificationException(
        s"mutation on $dir: another writer committed m${seqNow.getOrElse(-1L)} after " +
          s"this mutation classified against m$seq0; aborted having moved NOTHING. " +
          "The table is writer-exclusive per maintenance window: re-read the " +
          "snapshot and re-run the verb.")
    }
    //    then RETIRE affected originals (move-if-present: a re-run may
    //    find some already retired); superseded manifests keep resolving
    //    them; leaf structure is preserved under .retired
    val retiredBase = Manifest.retiredPath(dir)
    val liveRoot = normPath(fs.makeQualified(root).toString)
    (dropped ++ partial).foreach { f =>
      val src = new org.apache.hadoop.fs.Path(fileMap(f))
      if (fs.exists(src) && f.startsWith(liveRoot + "/")) {
        val rel = f.stripPrefix(liveRoot + "/")
        val dst = new org.apache.hadoop.fs.Path(retiredBase + "/" + rel)
        fs.mkdirs(dst.getParent)
        require(!fs.exists(dst), s"mutation: retirement collision at $dst")
        require(fs.rename(src, dst), s"mutation: could not retire $src")
      }
    }
    // 3) move replacements in under their (possibly leaf) paths
    val movedIn = moveTmpIn(fs, root, tmp)
    // 4) maintain the index INCREMENTALLY — drop the retired files' rows,
    //    append stats over just the new files (never a table scan) — then
    //    commit (schemas passed: no footer re-inference)
    val idx = indexedColumns(spark, dir)
    if (idx.nonEmpty)
      refreshEnvelopesIncremental(spark, dir, idx,
        removed = dropped ++ partial, added = movedIn, basePath = dir,
        bloomCols = bloomColumns(spark, dir))
    // 5) COMMIT as a CAS on exactly seq0+1, naming this mutation's
    //    INTENDED file set (pinned snapshot − retired + promoted) — the
    //    live listing is a race: a concurrent loser's in-flight
    //    promotions would be captured and then healed away, leaving the
    //    winning manifest referencing deleted files. A writer that
    //    slipped in between the re-check and here makes this throw, and
    //    the loser HEALS: promoted files deleted, originals un-retired,
    //    the incremental index refresh inverted — the table returns to
    //    the state the winning commit describes
    raceHooks.preCommit()
    val intended = untouched.toSeq.map(Manifest.dvRelPath(liveRoot, _)) ++
      movedIn.map(Manifest.dvRelPath(liveRoot, _))
    try Manifest.writeSeq(spark, dir, seq0 + 1,
      schemas = Some((info.dataSchema, info.partSchema)), props = props,
      dv = dvCarry, filesOverride = Some(intended))
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteNewSidecar()
        movedIn.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
        (dropped ++ partial).foreach { f =>
          if (f.startsWith(liveRoot + "/")) {
            val rel = f.stripPrefix(liveRoot + "/")
            val src = new org.apache.hadoop.fs.Path(retiredBase + "/" + rel)
            val dst = new org.apache.hadoop.fs.Path(fileMap(f))
            if (fs.exists(src) && !fs.exists(dst)) {
              fs.mkdirs(dst.getParent)
              require(fs.rename(src, dst), s"mutation heal: could not un-retire $src")
            }
          }
        }
        if (idx.nonEmpty)
          refreshEnvelopesIncremental(spark, dir, idx,
            removed = movedIn.map(normPath).toSet,
            added = (dropped ++ partial).toSeq.map(fileMap), basePath = dir,
            bloomCols = bloomColumns(spark, dir))
        throw e
    }
    MutationStats(dropped.size.toLong, partial.size.toLong, untouched.size.toLong)
  }

  /** The [[MutationMaxRetriesConf]] driver: run `body` (a whole verb,
    * classification included — each attempt re-pins and re-classifies
    * against the snapshot the winning commit left), retrying on the
    * detected-conflict ConcurrentModificationException. Both conflict
    * paths guarantee the table is back in the winner's committed state
    * before the exception surfaces, which is exactly what makes the
    * retry sound. */
  private def withMutationRetry[T](spark: SparkSession)(body: => T): T = {
    val max = spark.conf.get(MutationMaxRetriesConf,
      MutationMaxRetriesDefault.toString).toInt
    require(max >= 0, s"$MutationMaxRetriesConf must be >= 0, got $max")
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: java.util.ConcurrentModificationException if attempt < max =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seams for the mutation-race specs — invoked at the two points
    * a concurrent writer can interleave with a mutation: after
    * replacements are STAGED (before any file moves) and after moves
    * (before the commit). No-ops in production. */
  private[graft] object raceHooks {
    @volatile var preRetire: () => Unit = () => ()
    @volatile var preCommit: () => Unit = () => ()
    /** Fires between a verb's OWN classification and mutateFiles — the
      * window the merge seq-pinning closes (a commit here must become a
      * detected conflict, never a silently-stale classification). */
    @volatile var preMutate: () => Unit = () => ()
    def reset(): Unit = {
      preRetire = () => (); preCommit = () => (); preMutate = () => ()
    }
  }

  /** Promote a tmp write's parquet files into the table root, preserving
    * leaf (partition) structure; returns the promoted files' qualified
    * paths and removes the tmp dir. Shared by [[mutateFiles]] and
    * [[append]]. */
  private def moveTmpIn(fs: org.apache.hadoop.fs.FileSystem,
                        root: org.apache.hadoop.fs.Path,
                        tmp: org.apache.hadoop.fs.Path): Seq[String] = {
    val moved = Seq.newBuilder[String]
    def moveIn(p: org.apache.hadoop.fs.Path, relDir: String): Unit =
      fs.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_"))
          moveIn(s.getPath, if (relDir.isEmpty) n else s"$relDir/$n")
        else if (s.isFile && n.endsWith(".parquet")) {
          val targetDir =
            if (relDir.isEmpty) root else new org.apache.hadoop.fs.Path(root, relDir)
          fs.mkdirs(targetDir)
          val dst = new org.apache.hadoop.fs.Path(targetDir, n)
          require(fs.rename(s.getPath, dst), s"mutation: could not promote ${s.getPath}")
          moved += fs.makeQualified(dst).toString
        }
      }
    if (fs.exists(tmp)) { moveIn(tmp, ""); fs.delete(tmp, true); () }
    moved.result()
  }

  /** RESTORE the table to a RETAINED snapshot — the Delta `RESTORE`
    * role, the undo for a bad mutation: the target generation is
    * physically resolved back into the live directory (files the target
    * names that a later rewrite retired move back in; live files the
    * target does not name retire out), the target's SCHEMAS and
    * deletion-vector reference are re-committed, and the envelope index
    * is REBUILT over its existing columns (one table scan — restore is
    * the infrequent verb where exactness beats cleverness). History is
    * append-only: the restore commits a NEW seq, so within the
    * retention window a restore can itself be undone by restoring
    * forward again. Writer-exclusive like every maintenance verb;
    * `seq` must still be retained ([[Manifest.KeepConf]] /
    * [[Manifest.RetainMsConf]] — the loud retention-contract error
    * otherwise), and vacuum keeps every file and DV sidecar a retained
    * manifest references, which is exactly what makes the move-back
    * possible. Returns the committed seq. */
  def restore(spark: SparkSession, dir: String, seq: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"restore: no table at $dir")
    // HEAL a crashed restore FIRST: its intent marker (written before
    // any file moved) names the generation whose files may sit
    // half-moved between live and retired. COMPLETE that restore — the
    // move loops are idempotent, so finishing is always sound — then
    // serve the requested one against the healed state. Without this, a
    // crash mid-restore would leave moved-back files as strays against
    // the still-latest manifest, and a Manifest.write "adoption" would
    // commit a MIXED-generation file set with duplicate rows.
    val intent = restoreIntentPath(dir)
    if (fs.exists(intent)) {
      val recorded = {
        val in = fs.open(intent)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .toList.headOption.getOrElse("") finally in.close()
        require(line.nonEmpty && line.forall(_.isDigit),
          s"restore: $intent is not a valid restore-intent marker ('$line') - " +
            "a crashed restore left an unreadable intent; inspect the table " +
            "state manually before deleting the marker")
        line.toLong
      }
      performRestore(spark, dir, fs, recorded, healing = true)
    }
    val cur = Manifest.info(spark, dir)
    if (cur.seq == seq) return cur.seq // already there: no churn
    performRestore(spark, dir, fs, seq, healing = false)
  }

  private def restoreIntentPath(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(Manifest.manifestsPath(dir), "restore-intent")

  /** One staged, crash-recoverable restore pass. Protocol: stray guard →
    * INTENT MARKER (atomic tmp+rename; names the target seq) → moves
    * (both loops idempotent: a file already at its destination skips) →
    * index rebuild → commit → marker delete. A crash anywhere after the
    * marker is healed by [[restore]] completing THIS pass: re-running
    * the moves converges on the target file set, and the marker only
    * disappears after the commit that makes the set consistent.
    * `healing` relaxes the stray guard to the union of the two
    * generations in flight (their files ARE the half-moved state) and
    * turns the already-restored case into a marker cleanup instead of a
    * fresh commit. */
  private def performRestore(spark: SparkSession, dir: String,
                             fs: org.apache.hadoop.fs.FileSystem,
                             seq: Long, healing: Boolean): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val cur = Manifest.info(spark, dir)
    val target = Manifest.info(spark, dir, Some(seq))
    val qualRootStr = normPath(fs.makeQualified(root).toString)
    val intent = restoreIntentPath(dir)
    val curSet = cur.files.toSet
    val tgtSet = target.files.toSet
    // the state already IS the target (file set, schemas, DV) — the
    // healed-after-commit crash, or a restore to an identical
    // generation: nothing to move, nothing to commit, no churn; just
    // clear any staged marker
    if (curSet == tgtSet && cur.dataSchema == target.dataSchema &&
        cur.partSchema == target.partSchema && cur.dv == target.dv) {
      fs.delete(intent, false)
      return cur.seq
    }
    // the usual stray guard: files outside the committed snapshot would
    // silently survive the restore as un-tracked data. While healing,
    // the half-moved target files are legitimately live — allow exactly
    // the two generations in flight, nothing else.
    val liveNow = Manifest.listLive(spark, dir).map(rel => s"$qualRootStr/$rel").toSet
    val allowed = (if (healing) curSet ++ tgtSet else curSet)
      .map(rel => s"$qualRootStr/$rel")
    val strays = liveNow -- allowed
    require(strays.isEmpty,
      s"restore: ${strays.size} file(s) under $dir are not in the committed snapshot: " +
        s"${strays.take(3).mkString(", ")}${if (strays.size > 3) ", …" else ""}. " +
        "Commit them first (Manifest.write), then re-run.")
    // stage the INTENT before anything moves (atomic tmp+rename): from
    // here until the post-commit delete, a crash is healed by re-running
    // restore, which completes this pass
    if (!healing) {
      val tmp = new org.apache.hadoop.fs.Path(intent.getParent, ".restore-intent-tmp")
      val out = fs.create(tmp, true)
      try out.write(seq.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(intent, false)
      require(fs.rename(tmp, intent), s"restore: could not stage intent at $intent")
    }
    val retiredBase = Manifest.retiredPath(dir)
    // 1) move the target generation's missing files back in (they are
    //    retired — vacuum keeps every file a retained manifest names);
    //    a file already live was moved by the crashed pass: skip
    (target.files.filterNot(curSet)).foreach { rel =>
      val src = new org.apache.hadoop.fs.Path(retiredBase + "/" + rel)
      val dst = new org.apache.hadoop.fs.Path(qualRootStr + "/" + rel)
      if (!fs.exists(dst)) {
        require(fs.exists(src),
          s"restore: m$seq references $rel, which is at neither live nor retired - " +
            "the generation was vacuumed mid-restore or externally deleted")
        fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"restore: could not move $src back in")
      }
    }
    // 2) retire the files the target does not name (later generations —
    //    still resolvable by THEIR manifests while retention lasts, so
    //    the restore itself is undoable); already-retired files skip
    (cur.files.filterNot(tgtSet)).foreach { rel =>
      val src = new org.apache.hadoop.fs.Path(qualRootStr + "/" + rel)
      if (fs.exists(src)) {
        val dst = new org.apache.hadoop.fs.Path(retiredBase + "/" + rel)
        fs.mkdirs(dst.getParent)
        require(!fs.exists(dst), s"restore: retirement collision at $dst")
        require(fs.rename(src, dst), s"restore: could not retire $src")
      }
    }
    // 3) the index described a different file set — rebuild it whole
    //    over the columns (and blooms) it already covers
    val idx = indexedColumns(spark, dir)
    if (idx.nonEmpty)
      writeEnvelopes(spark, dir, idx, bloomColumns(spark, dir).filter(idx.contains))
    // 4) commit the restored state: the TARGET's schemas (a restore
    //    across an addColumns commit narrows the schema back — that is
    //    the point of a rollback), its deletion-vector reference, and
    //    its EXACT file set (never the live listing — a concurrent
    //    writer's in-flight, heal-doomed promotions must not be
    //    captured) — then clear the intent (the pass is complete)
    val committed = Manifest.writeSeq(spark, dir, cur.seq + 1,
      schemas = Some((target.dataSchema, target.partSchema)),
      dv = target.dv.map(Manifest.DvSet(_)).getOrElse(Manifest.DvClear),
      filesOverride = Some(target.files))
    fs.delete(intent, false)
    committed
  }

  /** ADDITIVE SCHEMA EVOLUTION — `ALTER TABLE ADD COLUMNS` for a
    * manifest-maintained table, as a pure METADATA COMMIT: the manifests
    * already carry the data schema, so widening is one new manifest
    * naming the same file set with `newFields` appended — no file is
    * read or rewritten. Readers ([[readSnapshot]], the streaming
    * `graft-manifest` source, the mutation verbs' snapshot reads) plan
    * with the widened schema and parquet NULL-FILLS the columns old
    * files lack; [[append]] accepts (and requires) the widened shape
    * from then on; a later mutation's rewrite materializes the column
    * into whatever files it touches. New fields must be NULLABLE (old
    * files answer null — a non-null default would need a rewrite) and
    * must not collide with existing data or partition columns
    * (case-insensitively, matching Spark's default resolution). Row-level
    * CDC across the widening commit still works — see
    * [[Manifest.readChangeRows]]'s additive contract. Plain
    * `spark.read.parquet(dir)` (listing-based, footer-inferred) does NOT
    * see metadata-committed columns until a rewrite materializes them —
    * snapshot readers are the sanctioned surface, same as for
    * time travel. Returns the committed seq. */
  def addColumns(spark: SparkSession, dir: String,
                 newFields: Seq[StructField]): Long = {
    require(newFields.nonEmpty, "addColumns: no fields to add")
    if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
    // re-pin and re-check per attempt: a CAS loss means another writer
    // committed (possibly its own widening) — the existence checks and
    // the widened schema must be recomputed against the winner's state
    withMutationRetry(spark) {
      val info = Manifest.info(spark, dir)
      val existing = (info.dataSchema.fieldNames ++ info.partSchema.fieldNames)
        .map(_.toLowerCase).toSet
      val dupNew = newFields.groupBy(_.name.toLowerCase).filter(_._2.size > 1).keys
      require(dupNew.isEmpty, s"addColumns: duplicate new column(s) ${dupNew.mkString(", ")}")
      newFields.foreach { f =>
        require(!existing.contains(f.name.toLowerCase),
          s"addColumns: column ${f.name} already exists on $dir")
        require(f.nullable,
          s"addColumns: ${f.name} must be nullable - existing files null-fill it " +
            "(a non-null default would be a table rewrite, not a metadata commit)")
      }
      val widened = StructType(info.dataSchema.fields ++ newFields)
      // a pure metadata commit names the PINNED snapshot's file set —
      // never the live listing, which can capture a concurrent writer's
      // in-flight, heal-doomed promotions
      Manifest.writeSeq(spark, dir, info.seq + 1,
        schemas = Some((widened, info.partSchema)),
        filesOverride = Some(info.files))
    }
  }

  /** [[addColumns]] that SKIPS fields the table already has
    * (case-insensitive; an existing column with a DIFFERENT type still
    * fails loudly — only additive evolution is supported). The
    * `MERGE … WITH SCHEMA EVOLUTION` lowering widens through this, so
    * re-running the same statement is idempotent. Returns the latest
    * committed seq. */
  def addColumnsIfAbsent(spark: SparkSession, dir: String,
                         newFields: Seq[StructField]): Long = {
    if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
    val info = Manifest.info(spark, dir)
    val byName = (info.dataSchema.fields ++ info.partSchema.fields)
      .map(f => f.name.toLowerCase -> f).toMap
    val (present, absent) = newFields.partition(f => byName.contains(f.name.toLowerCase))
    present.foreach { f =>
      val ex = byName(f.name.toLowerCase)
      require(ex.dataType == f.dataType,
        s"addColumnsIfAbsent: column ${f.name} exists on $dir with type " +
          s"${ex.dataType.sql}, not ${f.dataType.sql} - schema evolution is " +
          "additive only (no type changes)")
    }
    if (absent.isEmpty) info.seq else addColumns(spark, dir, absent)
  }

  /** APPEND rows to a manifest-maintained table with index + snapshot
    * kept fresh — the library-native INSERT: a plain
    * `write.mode(append)` leaves its files OUTSIDE the committed
    * snapshot (invisible to [[readSnapshot]], loudly rejected by the
    * next mutation's stray guard); this verb writes the rows as new
    * files (under the table's partition layout when hive-partitioned),
    * appends their envelope stats INCREMENTALLY (one bounded scan of
    * just the new files — never the table), and commits a manifest
    * adopting them, so snapshot readers, the stats-agg rule's exact
    * file-set gate, and the mutation verbs all stay consistent. Returns
    * the committed seq. Writer-exclusive like every maintenance verb;
    * a crash before the commit leaves tmp files (invisible: hidden
    * sibling dir) or promoted-but-uncommitted files, which the stray
    * guard reports with `Manifest.write` as the stated remedy. */
  def append(spark: SparkSession, dir: String, rows: DataFrame): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"append: no table at $dir")
    if (Manifest.latestSeq(spark, dir).isEmpty) Manifest.write(spark, dir)
    val info = Manifest.info(spark, dir)
    val partCols = info.partSchema.fieldNames.toSeq
    val want = info.dataSchema.fieldNames.toSeq ++ partCols
    val missing = want.filterNot(rows.columns.contains)
    require(missing.isEmpty, s"append: rows are missing table column(s) ${missing.mkString(", ")}")
    val extra = rows.columns.filterNot(want.contains)
    require(extra.isEmpty,
      s"append: rows carry column(s) ${extra.mkString(", ")} the table does not have - " +
        "dropping them silently would lose data; select the table's columns explicitly, " +
        "or widen the table first with Layout.addColumns (a metadata commit)")
    val tmp = new org.apache.hadoop.fs.Path(dir + ".append-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val w = rows.select(want.map(col): _*).write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp.toString)
    val moved = moveTmpIn(fs, root, tmp)
    // appending nothing (an empty partitioned frame writes no files)
    // commits nothing — the mutation verbs' no-op rule
    if (moved.isEmpty) return info.seq
    val idx = indexedColumns(spark, dir)
    if (idx.nonEmpty)
      refreshEnvelopesIncremental(spark, dir, idx,
        removed = Set.empty, added = moved, basePath = dir,
        bloomCols = bloomColumns(spark, dir))
    // commit the INTENDED file set (snapshot + promoted) — never the
    // live listing, which can capture a concurrent mutation's in-flight
    // (heal-doomed) promotions. Two concurrent appends CAS-race the
    // same seq; the loser re-reads the winner's snapshot and re-commits
    // winner's files + its own — both appends land, no re-staging. The
    // schemas re-pin with the retry too: committing the ORIGINAL pin
    // would silently un-widen a table a concurrent addColumns (or
    // schema-evolving merge) just widened — the appended files carry a
    // subset of any widened schema and null-fill, so the winner's
    // schemas are always the sound ones to carry forward.
    val qualRootStr = normPath(fs.makeQualified(root).toString)
    val movedRel = moved.map(Manifest.dvRelPath(qualRootStr, _))
    val max = spark.conf.get(MutationMaxRetriesConf,
      MutationMaxRetriesDefault.toString).toInt
    raceHooks.preCommit()
    var base = info
    var attempt = 0
    while (true) {
      try return Manifest.writeSeq(spark, dir, base.seq + 1,
        schemas = Some((base.dataSchema, base.partSchema)),
        filesOverride = Some(base.files ++ movedRel))
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= max) throw e
          attempt += 1
          base = Manifest.info(spark, dir)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The snapshot minus a file set — a delegating skip over the
    * snapshot's own FileIndex, so only the remaining files open and
    * partition columns stay alive. */
  private[sources] def minusFiles(spark: SparkSession, df: DataFrame, skip: Set[String]): DataFrame = {
    if (skip.isEmpty) return df
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val pruned = df.queryExecution.analyzed.transform {
      case rel: LogicalRelation if rel.relation.isInstanceOf[HadoopFsRelation] =>
        val fsr = rel.relation.asInstanceOf[HadoopFsRelation]
        rel.copy(relation = fsr.copy(
          location = new graft.plans.SkippingFileIndex(fsr.location, skip))(fsr.sparkSession))
    }
    org.apache.spark.sql.GraftBridge.ofRows(spark, pruned)
  }

  /** Read a swap-maintained table AFTER healing any interrupted
    * [[DirSwap]] state — the sanctioned SAME-PROCESS reader entry point
    * when reader and maintenance take turns in one process (healing
    * MUTATES swap state, so it must never race the writer; a
    * cross-process reader uses [[readSnapshot]] instead, which heals
    * nothing). Heals, in order: the table dir itself, any
    * `<leaf>.compact-*` partition swap left mid-flight, and the
    * `.envelopes` index dir — each via [[DirSwap.recover]]'s
    * deterministic state machine — then reads. On a manifest-maintained
    * table, healing COMPLETES a crashed retirement instead of deleting
    * the backup, so older snapshots stay resolvable. */
  def readHealed(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifested = Manifest.isManifested(spark, dir)
    val qualRoot = fs.makeQualified(root).toString
    def retireTarget(livePath: String): Option[String] =
      if (!manifested) None
      else {
        val full = fs.makeQualified(new org.apache.hadoop.fs.Path(livePath)).toString
        val rel = if (full == qualRoot) "" else full.stripPrefix(qualRoot + "/")
        Some(if (rel.isEmpty) Manifest.retiredPath(dir)
             else Manifest.retiredPath(dir) + "/" + rel)
      }
    DirSwap.recover(spark, dir, retireTarget(dir))
    def heal(p: org.apache.hadoop.fs.Path): Unit =
      if (fs.exists(p)) fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { d =>
        val name = d.getName
        if (name.endsWith(".compact-backup") || name.endsWith(".compact-tmp")) {
          val live = new org.apache.hadoop.fs.Path(p,
            name.stripSuffix(".compact-backup").stripSuffix(".compact-tmp")).toString
          DirSwap.recover(spark, live, retireTarget(live))
        } else heal(d)
      }
    heal(root)
    DirSwap.recover(spark, envelopesPath(dir))
    spark.read.parquet(dir)
  }

  /** Fraction of FILES a box predicate `lo_i <= col_i <= hi_i` can skip,
    * judged purely from [[fileEnvelopes]] — the scale metric that
    * justifies the rewrite (at 100 TB, skipped files are never opened).
    * Two tiny aggregate jobs over the per-file envelope table. */
  def skippableFileFraction(spark: SparkSession, dir: String,
                            box: Seq[(String, Any, Any)]): Double = {
    val env = fileEnvelopes(spark, dir, box.map(_._1))
    val misses = boxMiss(env.columns.toSeq, box)
    val row = env.agg(count(lit(1)), sum(when(misses, 1L).otherwise(0L))).head()
    val total = row.getLong(0)
    if (total == 0) 0.0 else row.getLong(1).toDouble / total
  }
}
