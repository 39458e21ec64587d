package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** MANIFEST-committed snapshots for swap-maintained tables — the
  * Delta/Iceberg core idea at file-listing scale: each maintenance or
  * streaming-batch commit writes one manifest file naming the table's
  * complete current data-file set, and [[read]] resolves the latest
  * (or a pinned) manifest and plans over EXACTLY that set. A reader
  * racing a [[Layout.clusterPartitions]] OPTIMIZE or the streaming
  * self-clustering sink therefore sees only an old-complete or
  * new-complete snapshot, never a half-swapped mix and never a torn
  * half-committed batch — cross-process, with zero reader-side
  * mutation (healing stays the writer's job; a reader must never
  * rename a live table's directories out from under the writer).
  *
  * == Commit protocol ==
  * `<dir>.manifests/m<seq>` (zero-padded, so lexical = numeric order),
  * written as a hidden tmp file then atomically renamed into place —
  * readers either see a complete manifest or not at all. Content: a
  * version header, the data and partition schemas (JSON, captured at
  * commit time, so later schema changes never re-infer), then one
  * table-relative data-file path per line. The writer is the table's
  * single maintenance owner, so seq assignment needs no coordination.
  *
  * == Why old snapshots stay readable ==
  * [[graft.operators.DirSwap]] rewrites RETIRE the replaced generation
  * (per-file rename into `<dir>.retired/<leaf>/`) instead of deleting
  * it whenever the table is manifest-maintained, and [[read]] resolves
  * each manifest path through a three-step chain — live directory,
  * `<leaf>.compact-backup` (a swap in flight), `<dir>.retired/<leaf>`
  * (a swap completed) — so the file set of a superseded manifest
  * remains addressable through the whole rewrite lifecycle. Retention
  * is bounded: every [[write]] auto-[[vacuum]]s to the newest
  * `keep` manifests, deleting retired files no kept manifest
  * references (the Delta tombstone-retention role; readers must finish
  * within `keep` maintenance cycles).
  *
  * Partition columns survive: each manifest path's `k=v` directory
  * segments are unescaped and cast to the recorded partition schema
  * (by Spark's own `Cast`), and the snapshot's
  * [[graft.plans.ManifestFileIndex]] evaluates Catalyst's partition
  * filters against those values — partition pruning works on a
  * snapshot exactly as on a live read.
  *
  * == Isolation contract, stated honestly ==
  * Snapshot reads are ATOMIC and CONSISTENT (only complete committed
  * file sets, resolved with zero reader-side mutation) but not
  * WAIT-FREE: resolution happens at plan time, and a rewrite that
  * physically RETIRES the resolved generation between an execution's
  * plan and its last task read can fail that read with a loud
  * `FileNotFoundException` — never wrong or torn rows. Such a reader
  * re-resolves and retries; long-running readers raise [[KeepConf]] so
  * their generation outlives them. (Wait-free snapshot reads require
  * never-moving data files — the pure manifest-table layout that gives
  * up plain-listing compatibility; this library keeps plain
  * `spark.read.parquet` working on the live directory and trades the
  * retirement-window retry for it.) */
object Manifest {

  // v1: header, dataSchema, partSchema, files…
  // v2: header, dataSchema, partSchema, envelope-index signature
  //     (listing string of <dir>.envelopes at commit time, or "-"),
  //     files… — so a snapshot records WHICH generation of the skipping
  //     index described it (self-describing commits; a reader can tell
  //     whether the current index postdates its snapshot)
  // v3: v2 + a writer NONCE line after the signature (the optimistic-
  //     concurrency witness: a committer re-reads its manifest and a
  //     foreign nonce proves it lost the race), and the whole body is
  //     GZIP-compressed (a million-file manifest is ~100 MB of paths as
  //     text, ~a tenth compressed — reread in full by every parse).
  //     Detection is by content (gzip magic bytes), so v1/v2 plain-text
  //     manifests keep parsing forever.
  // v4: v3 + a PROPS line after the nonce — URL-encoded `k=v&k2=v2`
  //     commit metadata ("-" when empty). First use: `cdcPairKey`, the
  //     comma-joined key columns of a KEYED mutation (upsert/merge's
  //     key, updateWhere's non-assigned columns), which lets
  //     [[readChangeRows]] pair a delete+insert into
  //     update_preimage/postimage — the Delta CDF convention.
  // v5: v4 + a DELETION-VECTOR line after the props — "-" or the name of
  //     a parquet sidecar under `<dir>.dvs/` mapping table-relative file
  //     path → sorted array of DELETED row positions (the Delta DV /
  //     Iceberg positional-delete role: a small delete marks positions
  //     instead of rewriting whole files). [[read]] filters snapshots by
  //     the commit's DV through `_metadata.row_index`; mutations carry
  //     surviving entries forward and clear entries of files they
  //     rewrite; [[vacuum]] deletes sidecars no kept manifest names.
  private val HeaderV1 = "graft-manifest-v1"
  private val HeaderV2 = "graft-manifest-v2"
  private val HeaderV3 = "graft-manifest-v3"
  private val HeaderV4 = "graft-manifest-v4"
  private val HeaderV5 = "graft-manifest-v5"

  /** How a commit's DELETION-VECTOR reference is derived from the
    * previous commit: inherited unchanged (the default — a plain
    * maintenance commit must never silently resurrect deleted rows),
    * cleared (a rewrite that materialized every deletion), or set to a
    * freshly written sidecar. */
  private[graft] sealed trait DvCarry
  private[graft] case object DvInherit extends DvCarry
  private[graft] case object DvClear extends DvCarry
  private[graft] final case class DvSet(name: String) extends DvCarry

  private[graft] def dvsPath(dir: String): String =
    dir.stripSuffix("/") + ".dvs"

  /** Table-relative spelling of a RESOLVED snapshot file path — live,
    * retired, or mid-swap backup all map to the manifest's relative
    * path, which is what DV sidecars key on (a file's deletion vector
    * must keep applying after the file is retired by a later rewrite,
    * or time travel would resurrect the deleted rows). */
  private[graft] def dvRelPath(rootNorm: String, p: String): String = {
    val n = Layout.normPath(p)
    val stripped =
      if (n.startsWith(rootNorm + "/")) n.substring(rootNorm.length + 1)
      else if (n.startsWith(rootNorm + ".retired/")) n.substring(rootNorm.length + 9)
      else if (n.startsWith(rootNorm + ".compact-backup/")) n.substring(rootNorm.length + 16)
      else n
    // a leaf swap in flight serves `<leaf>.compact-backup/<name>`, which
    // the manifest (and the DV) names `<leaf>/<name>`
    stripped.replace(".compact-backup/", "/")
  }

  /** Filter a snapshot plan by a commit's deletion-vector sidecar: the
    * sidecar loads ONCE on the driver as a per-file SORTED-positions
    * map (bounded by the mutation-side capacity cap — 8 bytes per
    * position, ~80 MB at the 10M default), broadcasts, and a codegen'd
    * binary-search filter ([[DvDeleted]]) probes
    * `_metadata.file_path` / `_metadata.row_index` per row — a plain
    * Filter over the scan: no join, no shuffle, the whole-stage codegen
    * span intact. Sound across the retire lifecycle because the probe
    * resolves scan paths to table-relative ([[dvRelPath]], cached per
    * distinct file per thread). Cleared entirely when compaction/reify
    * materializes the deletes. */
  private[graft] def applyDv(spark: SparkSession, dir: String, dvName: Option[String],
                             df: DataFrame, split: Boolean = true): DataFrame = dvName match {
    case None => df
    case Some(name) =>
      import org.apache.spark.sql.functions.{col, not}
      require(!df.columns.contains("_metadata"),
        s"Manifest: $dir carries a data column named _metadata - deletion-vector " +
          "reads need the parquet metadata struct under that name")
      val fs = fsOf(spark, new Path(dir))
      val rootNorm = Layout.normPath(fs.makeQualified(new Path(dir)).toString)
      val lookup = DvProbe.lookupFor(spark, dir, name, rootNorm)
      val deleted = org.apache.spark.sql.GraftBridge.column(DvDeleted(lookup,
        org.apache.spark.sql.GraftBridge.expression(col("_metadata.file_path")),
        org.apache.spark.sql.GraftBridge.expression(col("_metadata.row_index"))))
      if (!split) return df.filter(not(deleted))
      // SPLIT the scan on the sidecar's file set: files with no pending
      // vector read PLAIN — no metadata-column materialization, no
      // per-row probe — and only the DV'd files pay the filter. At scale
      // a trickle-mutated table has vectors on a fraction of its files,
      // so the probe cost tracks the PENDING set, not the table. Two
      // disjoint delegating skips over the same snapshot index: no extra
      // I/O, no listing, no shuffle, and any later minusFiles restriction
      // (the mutation verbs' candidate pruning) applies to both sides.
      // `split = false` callers (the CDC diffs) read BOUNDED changed-file
      // subsets that are mostly DV'd by construction — there the split's
      // extra scan node buys nothing, so they keep one-scan plans.
      val dvRel = lookup.value.relFiles.toSet
      val (dvd, clean) = df.inputFiles.map(Layout.normPath)
        .partition(f => dvRel.contains(dvRelPath(rootNorm, f)))
      val minClean = spark.conf.get(Layout.DvSplitMinCleanFilesConf,
        Layout.DvSplitMinCleanFilesDefault.toString).toInt
      if (dvd.isEmpty) df // defensive: a sidecar only names marked files
      else if (clean.isEmpty) df.filter(not(deleted))
      else if (clean.length < minClean) df.filter(not(deleted))
      else Layout.minusFiles(spark, df, dvd.toSet).unionByName(
        Layout.minusFiles(spark, df, clean.toSet).filter(not(deleted)))
  }

  /** Commit-props key naming the row-identity columns of a keyed
    * mutation (comma-joined) — the CDC pairing key. */
  private[graft] val PairKeyProp = "cdcPairKey"

  private def encodeProps(m: Map[String, String]): String =
    if (m.isEmpty) "-"
    else m.toSeq.sortBy(_._1).map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")

  private def decodeProps(line: String, at: Path): Map[String, String] =
    if (line == "-" || line.isEmpty) Map.empty
    else line.split("&").iterator.map { kv =>
      val i = kv.indexOf('=')
      // a corrupt/truncated v4 props line must fail as a diagnosable
      // manifest error, not a StringIndexOutOfBoundsException
      if (i < 0) throw new IllegalArgumentException(
        s"Manifest: $at has a malformed props segment '$kv' (no '=') - " +
          "not a valid graft manifest props line")
      java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
        java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
    }.toMap

  private[graft] def manifestsPath(dir: String): String =
    dir.stripSuffix("/") + ".manifests"
  private[graft] def retiredPath(dir: String): String =
    dir.stripSuffix("/") + ".retired"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def seqOf(name: String): Option[Long] =
    if (name.length > 1 && name.startsWith("m") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  /** Largest committed manifest seq, or None for a non-manifest table. */
  def latestSeq(spark: SparkSession, dir: String): Option[Long] = {
    val md = new Path(manifestsPath(dir))
    val fs = fsOf(spark, md)
    if (!fs.exists(md)) None
    else fs.listStatus(md).toSeq.filter(_.isFile)
      .flatMap(s => seqOf(s.getPath.getName)).maxOption
  }

  /** Whether `dir` is manifest-maintained (has at least a manifests
    * dir) — the signal for swap healing to retire rather than delete. */
  private[graft] def isManifested(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, new Path(dir)).exists(new Path(manifestsPath(dir)))

  /** The LATEST committed seq as of wall-clock `tsMillis` — commit time
    * is the manifest file's modification time, set by the atomic
    * commit rename (monotone in seq: commits serialize through the
    * CAS). `TIMESTAMP AS OF` resolution for retained history; a
    * timestamp OLDER than every retained commit fails naming the
    * earliest retained commit and both retention knobs — the same
    * retention contract as an explicitly vacuumed seq. */
  def seqAtTimestamp(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val md = new Path(manifestsPath(dir))
    val fs = fsOf(spark, md)
    val committed: Seq[(Long, Long)] =
      if (!fs.exists(md)) Nil
      else fs.listStatus(md).toSeq.filter(_.isFile)
        .flatMap(s => seqOf(s.getPath.getName).map(_ -> s.getModificationTime))
    require(committed.nonEmpty,
      s"Manifest: $dir has no committed manifest - not a snapshot-maintained table")
    val at = committed.filter(_._2 <= tsMillis)
    if (at.isEmpty) {
      val (eSeq, eMs) = committed.minBy(_._1)
      throw new IllegalArgumentException(
        s"Manifest: no commit of $dir at or before ${new java.sql.Timestamp(tsMillis)} " +
          s"is retained - the earliest retained commit is m$eSeq at " +
          s"${new java.sql.Timestamp(eMs)}. Raise $KeepConf (generation count) or " +
          s"$RetainMsConf (time floor) before committing if readers time-travel " +
          "this far back.")
    }
    at.maxBy(_._1)._1
  }

  /** [[listData]] for callers outside this object — the mutation verbs'
    * stray-file guard compares this against the committed snapshot. */
  private[sources] def listLive(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, new Path(dir))
    listData(fs, fs.makeQualified(new Path(dir)))
  }

  /** Recursive current data-file listing as table-relative paths;
    * skips hidden files/dirs and in-flight `.compact-*` swap siblings
    * (the same exclusions partition discovery applies). The walk is
    * LEVEL-PARALLEL from a 16-thread pool — the same reason [[read]]'s
    * planOver resolves leaves in parallel: on an object-store-backed FS
    * each directory is a round trip, and a daily-partitioned
    * million-file table must not pay them serially at every commit. */
  private def listData(fs: FileSystem, root: Path): Seq[String] = {
    val rootStr = root.toString
    def keep(n: String): Boolean =
      !(n.startsWith(".") || n.startsWith("_") || n.contains(".compact-"))
    def toRel(s: FileStatus): String = {
      val full = s.getPath.toString
      require(full.startsWith(rootStr + "/"),
        s"Manifest: $full not under table root $rootStr")
      full.substring(rootStr.length + 1)
    }
    val out = Seq.newBuilder[String]
    var dirs: Seq[Path] = Seq(root)
    while (dirs.nonEmpty) {
      val listed = graft.DriverPool.map(16, dirs)(fs.listStatus(_).toSeq).flatten
      val visible = listed.filter(s => keep(s.getPath.getName))
      out ++= visible.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(toRel)
      dirs = visible.filter(_.isDirectory).map(_.getPath)
    }
    out.result()
  }

  /** How many manifests (≈ generations) [[write]]'s auto-vacuum keeps
    * readable when the caller does not pass `keep` explicitly. Raise it
    * for long-running cross-process readers: a snapshot must be read to
    * completion within `keep` maintenance cycles. */
  val KeepConf = "spark.graft.manifest.keep"
  private val KeepDefault = 2

  private def confKeep(spark: SparkSession): Int = {
    val k = spark.conf.get(KeepConf, KeepDefault.toString).toInt
    require(k >= 1, s"$KeepConf must be >= 1, got $k")
    k
  }

  /** Commit a new manifest of the table's CURRENT file set, then
    * auto-vacuum to the newest `keep` manifests (bounding retired-file
    * growth to ~`keep` generations forever). `keep = 0` (the default)
    * reads [[KeepConf]]. `schemas`, when the caller already knows the
    * (data, partition) schemas — the streaming sink does — skips the
    * footer-inference read (one less job per micro-batch). Returns the
    * committed seq.
    *
    * The writer-exclusive contract is now CHECKED, not assumed: the
    * commit is optimistic-concurrency — two processes that both computed
    * `latestSeq + 1` race for the same `m<seq>` name, exactly one claims
    * it (atomic create-if-absent), and the loser throws a
    * `ConcurrentModificationException` naming the winning commit instead
    * of silently clobbering it. The loser's work is NOT committed;
    * re-read the new snapshot and re-run the maintenance verb. */
  def write(spark: SparkSession, dir: String, keep: Int = 0,
            schemas: Option[(StructType, StructType)] = None,
            props: Map[String, String] = Map.empty,
            dv: DvCarry = DvInherit): Long = {
    require(keep >= 0, s"Manifest.write: keep must be >= 0 (0 = $KeepConf), got $keep")
    val seq = latestSeq(spark, dir).getOrElse(-1L) + 1
    writeSeq(spark, dir, seq, keep, schemas, props, dv)
  }

  /** [[write]] with the target seq fixed by the caller — the CAS arm the
    * race spec drives deterministically (two writers, same seq).
    *
    * `filesOverride`: the EXACT relative file set to commit, instead of
    * the live listing. The mutation verbs pass their intended set
    * (pinned snapshot − retired + promoted) because the live listing is
    * a RACE under optimistic concurrency: a concurrent loser's
    * in-flight promotions are visible on disk at this writer's commit
    * instant but will be healed away when that loser's CAS fails — a
    * manifest that captured them would reference deleted files. */
  private[graft] def writeSeq(spark: SparkSession, dir: String, seq: Long,
                              keep: Int = 0,
                              schemas: Option[(StructType, StructType)] = None,
                              props: Map[String, String] = Map.empty,
                              dv: DvCarry = DvInherit,
                              filesOverride: Option[Seq[String]] = None): Long = {
    val k = if (keep == 0) confKeep(spark) else keep
    val fs = fsOf(spark, new Path(dir))
    val root = fs.makeQualified(new Path(dir))
    require(fs.exists(root), s"Manifest.write: no table at $dir")
    val files = filesOverride.map(_.sorted).getOrElse(listData(fs, root).sorted)
    require(files.nonEmpty, s"Manifest.write: no data files under $dir")
    // When the caller passes no schemas, footer inference decides — but a
    // table WIDENED by Layout.addColumns has old files without the new
    // column, and which footer inference picks is arbitrary: a bare
    // commit could silently NARROW the schema back. Inherit the previous
    // commit's schemas whenever the inferred fields are a (name, type)
    // subset of them; genuinely re-typed tables fall through to the
    // inferred schema as before.
    val (dataSchema, partSchema) = schemas.getOrElse {
      val inferred = schemasOf(spark, dir)
      latestSeq(spark, dir).map(s => parse(fs, dir, s)) match {
        case Some(prev)
            if inferred._2 == prev.partSchema &&
               inferred._1.fields.forall(f => prev.dataSchema.fields.exists(g =>
                 g.name == f.name && g.dataType == f.dataType)) =>
          (prev.dataSchema, prev.partSchema)
        case _ => inferred
      }
    }
    // the default DV disposition INHERITS the previous commit's sidecar
    // reference: a plain maintenance commit (append, the stray-guard
    // remedy, a streaming batch) must never silently resurrect rows a
    // deletion vector holds deleted
    val dvName: Option[String] = dv match {
      case DvSet(n)  => Some(n)
      case DvClear   => None
      case DvInherit => latestSeq(spark, dir)
        .flatMap(s => scala.util.Try(parse(fs, dir, s)).toOption).flatMap(_.dv)
    }
    val md = new Path(manifestsPath(dir))
    fs.mkdirs(md)
    val nonce = java.util.UUID.randomUUID().toString
    val tmp = new Path(md, s".tmp-m$seq-$nonce")
    val gz = new java.util.zip.GZIPOutputStream(fs.create(tmp, true), 64 * 1024)
    try gz.write((Seq(HeaderV5, dataSchema.json, partSchema.json,
      envelopeSignature(fs, dir), nonce, encodeProps(props),
      dvName.getOrElse("-")) ++ files)
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally gz.close() // closes the FS stream underneath
    val fin = new Path(md, f"m$seq%020d")
    commitAtomic(fs, dir, tmp, fin, seq, nonce)
    vacuum(spark, dir, k)
    seq
  }

  /** Claim `fin` for exactly one of possibly many racing writers. On a
    * LOCAL filesystem the claim is a hard-link — `link(2)` fails
    * atomically when the destination exists, the textbook
    * create-if-absent. Elsewhere it is a rename, which HDFS-likes
    * already fail on an existing destination; for filesystems whose
    * rename silently REPLACES, a read-back nonce check catches the
    * clobber after the fact (best-effort there, exact on local + HDFS).
    * Losers throw, with their tmp cleaned up. */
  private def commitAtomic(fs: FileSystem, dir: String, tmp: Path, fin: Path,
                           seq: Long, nonce: String): Unit = {
    def conflict(): Nothing = {
      fs.delete(tmp, false)
      val winner = scala.util.Try(parse(fs, dir, seq).nonce).getOrElse("<unreadable>")
      throw new java.util.ConcurrentModificationException(
        s"Manifest: commit conflict on m$seq of $dir - another writer (nonce " +
          s"$winner) committed it first; this writer (nonce $nonce) lost and " +
          "committed NOTHING. The table is writer-exclusive per maintenance " +
          "window: re-read the latest snapshot and re-run the verb.")
    }
    if (fs.exists(fin)) conflict()
    val qFin = fs.makeQualified(fin).toUri
    val local = qFin.getScheme == null || qFin.getScheme == "file"
    if (local) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(qFin.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        fs.delete(tmp, false)
        ()
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => conflict()
      }
    } else {
      if (!fs.rename(tmp, fin)) conflict()
      if (scala.util.Try(parse(fs, dir, seq).nonce).toOption != Some(nonce)) conflict()
    }
  }

  private def schemasOf(spark: SparkSession, dir: String): (StructType, StructType) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val fsr = spark.read.parquet(dir).queryExecution.analyzed.collectFirst {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalStateException(s"Manifest: no file relation for $dir"))
    (fsr.dataSchema, fsr.partitionSchema)
  }

  /** The `.envelopes` index dir's listing string at this instant (the
    * same signature [[graft.plans.EnvelopePruneRule]] keys its cache
    * by), or `-` when the table has no index. */
  private def envelopeSignature(fs: FileSystem, dir: String): String = {
    val env = new Path(Layout.envelopesPath(dir))
    if (!fs.exists(env)) "-"
    else fs.listStatus(env).filter(_.isFile)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",") match { case "" => "-"; case s => s }
  }

  /** One committed snapshot's metadata (the files are table-relative).
    * `nonce` is the committing writer's witness (v3+; `-` before);
    * `dv` names the commit's deletion-vector sidecar under
    * `<dir>.dvs/` (v5+; None when the snapshot has no pending
    * merge-on-read deletes). */
  final case class Info(seq: Long, dataSchema: StructType,
                        partSchema: StructType, envelopeSig: String,
                        files: Seq[String], nonce: String = "-",
                        props: Map[String, String] = Map.empty,
                        dv: Option[String] = None)

  /** Parsed metadata of a committed manifest — `seq` defaults to the
    * latest. `envelopeSig == "-"` means no index existed at commit;
    * comparing it against the current index listing tells a reader
    * whether the skipping index postdates its snapshot. */
  def info(spark: SparkSession, dir: String, seq: Option[Long] = None): Info = {
    val fs = fsOf(spark, new Path(dir))
    val target = seq.orElse(latestSeq(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"Manifest.info: $dir has no committed manifest"))
    // an EXPLICIT seq is time travel — resolve it through the retention
    // contract (a vacuumed seq fails naming the retained range + knobs,
    // never with a bare FileNotFoundException)
    if (seq.isDefined) parseRetained(fs, dir, target) else parse(fs, dir, target)
  }

  /** [[parse]] with the retention contract spelled out: a missing
    * manifest on a table that HAS manifests means `seq` was vacuumed
    * past the retention horizon — say so and name the earliest retained
    * seq and both retention knobs, instead of surfacing a bare
    * FileNotFoundException from the open. Every time-travel entry point
    * ([[info]], [[read]], [[readChanges]], [[readChangeRows]]) resolves
    * explicit seqs through this. */
  private def parseRetained(fs: FileSystem, dir: String, seq: Long): Info = {
    val p = new Path(manifestsPath(dir), f"m$seq%020d")
    if (!fs.exists(p)) {
      val retained = fs.listStatus(new Path(manifestsPath(dir))).toSeq
        .filter(_.isFile).flatMap(s => seqOf(s.getPath.getName))
      val range =
        if (retained.isEmpty) "no manifest is retained"
        else s"retained seqs are m${retained.min}..m${retained.max}"
      throw new IllegalArgumentException(
        s"Manifest: m$seq of $dir is not retained - vacuumed past the retention " +
          s"horizon ($range). Raise $KeepConf (generation count) or $RetainMsConf " +
          "(time floor) before committing if readers time-travel this far back.")
    }
    parse(fs, dir, seq)
  }

  private def parse(fs: FileSystem, dir: String, seq: Long): Info = {
    val p = new Path(manifestsPath(dir), f"m$seq%020d")
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](64 * 1024)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    // gzip magic bytes → v3+ compressed body; plain text → v1/v2
    val text =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes), 64 * 1024)
        try new String(gz.readAllBytes(), StandardCharsets.UTF_8) finally gz.close()
      } else new String(bytes, StandardCharsets.UTF_8)
    val lines = text.split("\n", -1).toSeq
    val v5 = lines.headOption.contains(HeaderV5)
    val v4 = lines.headOption.contains(HeaderV4)
    val v3 = lines.headOption.contains(HeaderV3)
    val v2 = lines.headOption.contains(HeaderV2)
    require(v5 || v4 || v3 || v2 || lines.headOption.contains(HeaderV1),
      s"Manifest: $p is not a graft manifest file")
    val dataSchema = DataType.fromJson(lines(1)).asInstanceOf[StructType]
    val partSchema = DataType.fromJson(lines(2)).asInstanceOf[StructType]
    val (sig, nonce, props, dvName, files) =
      if (v5) (lines(3), lines(4), decodeProps(lines(5), p),
        Some(lines(6)).filter(_ != "-"), lines.drop(7))
      else if (v4) (lines(3), lines(4), decodeProps(lines(5), p), None, lines.drop(6))
      else if (v3) (lines(3), lines(4), Map.empty[String, String], None, lines.drop(5))
      else if (v2) (lines(3), "-", Map.empty[String, String], None, lines.drop(4))
      else ("-", "-", Map.empty[String, String], None, lines.drop(3))
    Info(seq, dataSchema, partSchema, sig, files.filter(_.nonEmpty), nonce, props, dvName)
  }

  /** Read the snapshot a manifest pins — the latest by default, or an
    * explicit retained `seq`. Plans over EXACTLY the manifested file
    * set through a [[graft.plans.ManifestFileIndex]] (one scan node,
    * real partition pruning, O(manifest) driver state); performs no
    * healing and no mutation of any kind. Fails loudly when a
    * referenced file is at none of live/backup/retired — that means
    * the snapshot was vacuumed away, not that the table is broken. */
  def read(spark: SparkSession, dir: String, seq: Option[Long] = None): DataFrame = {
    val m = resolveInfo(spark, dir, seq)
    applyDv(spark, dir, m.dv, planOver(spark, dir, m, m.files))
  }

  /** [[read]] WITHOUT the deletion-vector filter — the physical file
    * set as stored, rows a pending DV holds deleted included. Internal:
    * the mutation verbs derive file maps and physical row positions
    * from this plan (a DV-filtered plan carries the sidecar relation,
    * which must not leak into `inputFiles`). */
  private[sources] def readRaw(spark: SparkSession, dir: String,
                               seq: Option[Long] = None): DataFrame = {
    val m = resolveInfo(spark, dir, seq)
    planOver(spark, dir, m, m.files)
  }

  private def resolveInfo(spark: SparkSession, dir: String, seq: Option[Long]): Info = {
    val fs = fsOf(spark, new Path(dir))
    val target = seq.orElse(latestSeq(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"Manifest.read: $dir has no committed manifest - not a snapshot-maintained " +
          "table (read it plainly, or run a maintenance verb that commits manifests)"))
    parseRetained(fs, dir, target)
  }

  /** Rows of the files PRESENT in snapshot `toSeq` (default: latest)
    * but ABSENT from snapshot `fromSeq` — FILE-level change-data
    * capture between two commits, the incremental-consumption
    * primitive: a downstream dedup-index update, stats refresh, or
    * export job reads only the delta, never the table. File-level by
    * design: a clustering rewrite rewrites every file, so its delta is
    * the whole table (consumers needing row-level idempotence key on
    * the streaming sink's `batch_id` column on top). Both manifests
    * must still be retained (raise [[KeepConf]] for slow consumers);
    * schemas and resolution follow the `toSeq` commit. */
  def readChanges(spark: SparkSession, dir: String, fromSeq: Long,
                  toSeq: Option[Long] = None): DataFrame = {
    val fs = fsOf(spark, new Path(dir))
    val target = toSeq.orElse(latestSeq(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"Manifest.readChanges: $dir has no committed manifest"))
    require(fromSeq <= target,
      s"Manifest.readChanges: fromSeq $fromSeq is newer than toSeq $target")
    val to = parseRetained(fs, dir, target)
    val from = parseRetained(fs, dir, fromSeq).files.toSet
    // the added files' LIVE content: positions the to-commit's deletion
    // vector already holds deleted are not "rows added by the range".
    // split=false: this is a BOUNDED changed-file read — one-scan plan
    applyDv(spark, dir, to.dv, planOver(spark, dir, to, to.files.filterNot(from)),
      split = false)
  }

  /** ROW-level change-data capture between two committed snapshots — the
    * Delta CDF role, DERIVED rather than stored: [[readChanges]] is
    * file-grain, so a mutation that rewrote a file re-delivers its
    * surviving rows too. This diffs the rows of the files ADDED by
    * `(fromSeq, toSeq]` against the rows of the files REMOVED (retired
    * generations still resolve, which is what makes the old rows
    * readable at all) with MULTISET semantics (`exceptAll`), labelling
    * each survivor `insert` / `delete` in `_change_type`. Rows a rewrite
    * merely moved between files cancel exactly; a [[Layout.deleteWhere]]
    * delta is exactly the deleted rows, a [[Layout.upsert]] delta is the
    * replaced rows (delete) plus their replacements and the fresh
    * inserts (insert). A pure-maintenance rewrite (clustering,
    * compaction) cancels to ZERO rows — the signal consumers actually
    * want from it. Cost: a shuffle over the CHANGED files only, never
    * the table. Both commits must still be retained and carry equal —
    * or ADDITIVELY WIDENED — schemas: when the range spans a
    * [[Layout.addColumns]] commit (every `fromSeq` column still present
    * with its type, new nullable columns appended), the old side is
    * planned WITH the widened schema (its files null-fill the new
    * columns, exactly what a reader of the old snapshot sees today), so
    * a pure widening commit still cancels to zero rows. Any other
    * schema change fails loudly — row diffing across removed or
    * re-typed columns has no exact meaning.
    *
    * UPDATE IMAGES (the Delta CDF convention): when the range's keyed
    * commits all recorded the same [[PairKeyProp]] (an upsert/merge's
    * key columns, an updateWhere's non-assigned columns) — or the
    * caller passes `pairOn` explicitly — a key carrying EXACTLY one
    * delete and one insert is delivered as `update_preimage` /
    * `update_postimage` instead; other rows keep `insert`/`delete`.
    * Pairing costs one per-key window pass over the changed rows only. */
  def readChangeRows(spark: SparkSession, dir: String, fromSeq: Long,
                     toSeq: Option[Long] = None,
                     pairOn: Seq[String] = Nil): DataFrame = {
    val fs = fsOf(spark, new Path(dir))
    val target = toSeq.orElse(latestSeq(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"Manifest.readChangeRows: $dir has no committed manifest"))
    require(fromSeq <= target,
      s"Manifest.readChangeRows: fromSeq $fromSeq is newer than toSeq $target")
    val to = parseRetained(fs, dir, target)
    val from0 = parseRetained(fs, dir, fromSeq)
    val additive = to.partSchema == from0.partSchema &&
      from0.dataSchema.fields.forall(f => to.dataSchema.fields.exists(g =>
        g.name == f.name && g.dataType == f.dataType))
    require(additive,
      s"Manifest.readChangeRows: schemas differ between m$fromSeq and m$target " +
        "beyond additive widening - row-level diffing needs every old column " +
        "present with its type")
    val from = if (from0.dataSchema == to.dataSchema) from0
               else from0.copy(dataSchema = to.dataSchema)
    val fromSet = from.files.toSet
    val toSet = to.files.toSet
    // DELETION-VECTOR awareness: a merge-on-read delete moves NO files —
    // the change lives in the sidecar. Files whose DV entry differs
    // between the commits join the diff on both sides (old rows minus
    // old DV vs same rows minus new DV → exactly the newly-marked
    // positions surface as deletes); each side is then filtered by ITS
    // OWN commit's DV so already-deleted rows never resurface.
    val dvChanged: Set[String] =
      if (from0.dv == to.dv) Set.empty
      else {
        import org.apache.spark.sql.functions.{coalesce, col, lit, not}
        def load(n: Option[String]): DataFrame = n match {
          case Some(nm) => spark.read.parquet(dvsPath(dir) + "/" + nm)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(
              org.apache.spark.sql.types.StructField("file", StringType),
              org.apache.spark.sql.types.StructField("positions",
                org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))))
        }
        load(from0.dv).select(col("file"), col("positions").as("__p_from"))
          .join(load(to.dv).select(col("file"), col("positions").as("__p_to")),
            Seq("file"), "full_outer")
          // sidecars store positions sorted+distinct, so array equality
          // is canonical; a side missing the file compares as unequal
          .filter(not(coalesce(col("__p_from") === col("__p_to"), lit(false))))
          .select("file").collect().map(_.getString(0)).toSet
      }
    val common = to.files.filter(f => fromSet.contains(f) && dvChanged.contains(f))
    // split=false on both sides: the diff reads BOUNDED changed-file
    // subsets (mostly DV'd by construction), where the snapshot read's
    // scan split would only add plan nodes to an already-small read
    val added = applyDv(spark, dir, to.dv,
      planOver(spark, dir, to, to.files.filterNot(fromSet) ++ common), split = false)
    val removed = applyDv(spark, dir, from0.dv,
      planOver(spark, dir, from, from.files.filterNot(toSet) ++ common), split = false)
    import org.apache.spark.sql.functions.{abs, col, lit, sum, when}
    val allCols = (to.dataSchema.fieldNames ++ to.partSchema.fieldNames).toSet
    // pairing key: the caller's, or — when every keyed commit in the
    // range recorded the SAME `cdcPairKey` — the recorded one
    val key: Option[Seq[String]] =
      if (pairOn.nonEmpty) {
        val missing = pairOn.filterNot(allCols.contains)
        require(missing.isEmpty, s"Manifest.readChangeRows: pairOn column(s) " +
          s"${missing.mkString(", ")} not in the m$target schema")
        Some(pairOn)
      } else {
        // auto-pair ONLY when EVERY commit in the range is a keyed
        // mutation recording the SAME pair key: a prop-less commit in
        // the range (deleteWhere, append, compaction) or an unreadable/
        // vacuumed mid-range manifest means the net diff mixes changes
        // that pairing would mislabel — e.g. one commit's delete and
        // another's unrelated same-key insert dressed up as an update
        val recorded = ((fromSeq + 1) to target).map(s =>
          scala.util.Try(parse(fs, dir, s)).toOption
            .flatMap(_.props.get(PairKeyProp)))
        recorded match {
          case rs if rs.nonEmpty && rs.head.isDefined && rs.forall(_ == rs.head) =>
            val k = rs.head.get.split(',').toSeq
            if (k.nonEmpty && k.forall(allCols.contains)) Some(k) else None
          case _ => None
        }
      }
    // The two-sided multiset diff in ONE aggregation pass. The previous
    // shape — `added.exceptAll(removed)` UNION `removed.exceptAll(added)`
    // — let Spark's RewriteExceptAll expand each exceptAll into its own
    // union+aggregate, so BOTH change-file scans were evaluated twice and
    // the union shuffled+aggregated twice. The signed-count aggregate
    // below is the same construction evaluated once: +1 per added row,
    // −1 per removed row, group by every column, keep non-zero nets, emit
    // |net| copies labelled by the sign (ReplicateRows — the identical
    // generator RewriteExceptAll plants — streams the copies; per-row
    // multiplicity is never materialized as an array). Row-for-row equal
    // to the old plan: exceptAll's own semantics are max(l−r, 0) copies,
    // which is exactly the positive (resp. negative) part of the net.
    val vc = "__graft_cdc_mult"
    require(!allCols.contains(vc),
      s"Manifest.readChangeRows: column name $vc is reserved by the CDC diff")
    val signed = added.withColumn(vc, lit(1L)).union(removed.withColumn(vc, lit(-1L)))
    val dataCols = added.columns.toSeq
    // backtick-quoted references throughout: a plain col(name) resolves
    // through the expression parser, so a legal parquet column name
    // containing a dot would parse as a nested-field access and break
    // (or mis-group) the diff — the old exceptAll diff was name-agnostic
    def bq(n: String) = col("`" + n.replace("`", "``") + "`")
    val labeled = org.apache.spark.sql.GraftBridge.replicateRows(
      signed.groupBy(dataCols.map(bq): _*).agg(sum(col(vc)).as(vc))
        .filter(col(vc) =!= 0L)
        .withColumn("_change_type",
          when(col(vc) > 0L, lit("insert")).otherwise(lit("delete")))
        .withColumn(vc, abs(col(vc))),
      vc)
    key match {
      case None => labeled
      case Some(k) =>
        // a key with EXACTLY one delete and one insert is an update —
        // pre/postimage; anything else (pure insert, pure delete, a
        // reused key with several rows, a NULL key) keeps its plain
        // label. Identical pre/postimages never appear — the multiset
        // diff already cancelled them. ONE pass over the labeled diff
        // (a per-key window), not per-label count joins: the diff
        // itself is the expensive part and is evaluated once per side;
        // per-key state is that key's own change rows — no hot keys
        // when the recorded key is a row identity. NULL key components
        // keep plain labels (a NULL never equals the other side's key).
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(k.map(bq): _*)
        val d = sum(when(col("_change_type") === "delete", 1).otherwise(0)).over(w)
        val i = sum(when(col("_change_type") === "insert", 1).otherwise(0)).over(w)
        val paired = d === 1 && i === 1 && k.map(bq(_).isNotNull).reduce(_ && _)
        labeled.withColumn("_change_type",
          when(paired && col("_change_type") === "delete", lit("update_preimage"))
            .when(paired && col("_change_type") === "insert", lit("update_postimage"))
            .otherwise(col("_change_type")))
    }
  }

  /** The snapshot scan plan over a SUBSET of a commit's files: group by
    * leaf (the parent dir relative to root), resolve each leaf's names
    * with one listing per location actually needed, materialize
    * partition values per leaf. */
  private def planOver(spark: SparkSession, dir: String, m: Info,
                       files: Seq[String]): DataFrame = {
    val fs = fsOf(spark, new Path(dir))
    val root = fs.makeQualified(new Path(dir))
    val byLeaf = files.groupBy { f =>
      val i = f.lastIndexOf('/')
      if (i < 0) "" else f.substring(0, i)
    }
    val tz = Option(spark.conf.get("spark.sql.session.timeZone"))
    def resolveOne(leafRel: String, relPaths: Seq[String])
        : (InternalRow, Seq[FileStatus]) = {
      val names = relPaths.map { f =>
        val i = f.lastIndexOf('/'); if (i < 0) f else f.substring(i + 1)
      }
      (partitionValues(leafRel, m.partSchema, tz),
        resolveLeaf(fs, root, dir, leafRel, names, m.seq))
    }
    // one listing per leaf actually present: parallelize past a handful
    // of leaves — a daily-partitioned year is ~365 dir listings, and on
    // an object-store-backed FS each is a round trip (the same reason
    // InMemoryFileIndex lists in parallel)
    val leafSeq = byLeaf.toSeq.sortBy(_._1)
    val partitions = graft.DriverPool.map(if (leafSeq.size <= 8) 1 else 16, leafSeq) {
      case (l, ps) => resolveOne(l, ps)
    }
    val index = new graft.plans.ManifestFileIndex(root, m.partSchema, partitions)
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.GraftBridge.parquetSnapshotPlan(
        spark, index, m.partSchema, m.dataSchema))
  }

  /** Resolve one leaf's file names through the rewrite lifecycle:
    * live dir → `<leaf>.compact-backup` (swap in flight) →
    * `<dir>.retired/<leaf>` (swap completed, generation retired). */
  private def resolveLeaf(fs: FileSystem, root: Path, dir: String, leafRel: String,
                          names: Seq[String], seq: Long): Seq[FileStatus] = {
    val liveDir = if (leafRel.isEmpty) root else new Path(root, leafRel)
    val backupDir = new Path(liveDir.toString + ".compact-backup")
    val retiredDir =
      if (leafRel.isEmpty) new Path(retiredPath(dir))
      else new Path(retiredPath(dir), leafRel)
    def listing(p: Path): Map[String, FileStatus] =
      if (!fs.exists(p)) Map.empty
      else fs.listStatus(p).filter(_.isFile).map(s => s.getPath.getName -> s).toMap
    val live = listing(liveDir)
    lazy val backup = listing(backupDir)
    lazy val retired = listing(retiredDir)
    names.map { n =>
      live.getOrElse(n, backup.getOrElse(n, retired.getOrElse(n,
        throw new java.io.FileNotFoundException(
          s"snapshot m$seq of $dir references ${if (leafRel.isEmpty) n else s"$leafRel/$n"} " +
            "at none of live/backup/retired - the snapshot was vacuumed away " +
            "(raise Manifest.write's keep, or re-resolve the latest manifest)"))))
    }
  }

  /** Partition values of a `k=v/k=v` leaf path, cast to the recorded
    * partition schema by Spark's own Cast (hive default-partition name
    * maps to null, path-escaping undone by Spark's unescape). */
  private def partitionValues(leafRel: String, partSchema: StructType,
                              tz: Option[String]): InternalRow = {
    if (partSchema.isEmpty) return InternalRow.empty
    val kv = leafRel.split('/').flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
        ExternalCatalogUtils.unescapePathName(seg.drop(i + 1)))
    }.toMap
    InternalRow.fromSeq(partSchema.fields.toSeq.map { f =>
      kv.get(f.name) match {
        case None => null
        case Some(v) if v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME => null
        case Some(v) => Cast(Literal.create(v, StringType), f.dataType, tz).eval()
      }
    })
  }

  /** The table's RETAINED commit history, newest first — the DESCRIBE
    * HISTORY role: one row per still-resolvable manifest with its seq,
    * commit time (manifest file mtime), file count, deletion-vector
    * sidecar name (pending merge-on-read deletes), recorded CDC pair
    * key, and schema width. Exactly the seqs [[read]] /
    * [[graft.sources.Layout.restore]] accept — what was vacuumed is
    * gone from the listing, not an error row. Driver-side cost: one
    * manifests-dir listing + one parse per retained manifest (retention
    * bounds both). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, new Path(dir))
    val md = new Path(manifestsPath(dir))
    val rows: Seq[(Long, java.sql.Timestamp, Long, Option[String], Option[String], Int)] =
      if (!fs.exists(md)) Nil
      else fs.listStatus(md).toSeq.filter(_.isFile)
        .flatMap(s => seqOf(s.getPath.getName).map(_ -> s.getModificationTime))
        .sortBy(-_._1)
        .map { case (seq, mtime) =>
          val m = parse(fs, dir, seq)
          (seq, new java.sql.Timestamp(mtime), m.files.size.toLong,
            m.dv, m.props.get(PairKeyProp), m.dataSchema.fields.length)
        }
    import spark.implicits._
    rows.toDF("seq", "committed_at", "n_files", "dv", "cdc_pair_key", "n_columns")
  }

  /** TIME-based retention floor (milliseconds) on top of the `keep`
    * COUNT: vacuum retains max(the newest `keep` manifests, every
    * manifest younger than this). `0` (the default) disables — count-only
    * retention. Operators reason in hours ("readers finish within 6h"),
    * not in maintenance-cycle counts whose wall-clock meaning shifts
    * with commit frequency; set this to the longest reader's runtime. */
  val RetainMsConf = "spark.graft.manifest.retainMs"

  /** Keep the newest `keep` manifests — plus every manifest younger than
    * [[RetainMsConf]] (commit-file modification time), when set — and
    * delete older manifest files and every retired file no kept manifest
    * references. Live files are untouched (the newest manifest
    * references exactly those). Safe to run any time inside the writer's
    * window; [[write]] runs it automatically. */
  def vacuum(spark: SparkSession, dir: String, keep: Int = 0): Unit = {
    require(keep >= 0, s"Manifest.vacuum: keep must be >= 0 (0 = $KeepConf), got $keep")
    val k = if (keep == 0) confKeep(spark) else keep
    val retainMs = spark.conf.get(RetainMsConf, "0").toLong
    require(retainMs >= 0, s"$RetainMsConf must be >= 0, got $retainMs")
    val fs = fsOf(spark, new Path(dir))
    val md = new Path(manifestsPath(dir))
    if (!fs.exists(md)) return
    val statuses = fs.listStatus(md).toSeq.filter(_.isFile)
    val modOf: Map[Long, Long] = statuses
      .flatMap(s => seqOf(s.getPath.getName).map(_ -> s.getModificationTime)).toMap
    val seqs = modOf.keys.toSeq.sorted.reverse
    val now = System.currentTimeMillis()
    val (keptByCount, older) = seqs.splitAt(k)
    val (youngEnough, dropped) =
      older.partition(s => retainMs > 0 && now - modOf(s) < retainMs)
    val kept = keptByCount ++ youngEnough
    val keptInfos = kept.map(s => parse(fs, dir, s))
    val referenced: Set[String] = keptInfos.flatMap(_.files).toSet
    // deletion-vector sidecars no kept manifest names go with their
    // generations (the DV twin of retired-file reclamation)
    val referencedDv: Set[String] = keptInfos.flatMap(_.dv).toSet
    val dvd = new Path(dvsPath(dir))
    if (fs.exists(dvd))
      fs.listStatus(dvd).filter(_.isDirectory).foreach { s =>
        if (!referencedDv.contains(s.getPath.getName)) fs.delete(s.getPath, true)
      }
    val rd = new Path(retiredPath(dir))
    if (fs.exists(rd)) {
      val rdStr = fs.makeQualified(rd).toString
      def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
      walk(rd).foreach { s =>
        val rel = s.getPath.toString.stripPrefix(rdStr + "/")
        if (!referenced.contains(rel)) fs.delete(s.getPath, false)
      }
    }
    dropped.foreach(s => fs.delete(new Path(md, f"m$s%020d"), false))
  }
}
