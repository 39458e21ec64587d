package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Layout, Manifest, Tables}

/** Round-12 Z-order layout queries: each reads a Z-ORDERED REWRITE of a
  * base table and runs a multi-dimensional box query against a DuckDB
  * oracle over the ORIGINAL parquet — layout must change cost only,
  * never results (the same invariance contract as the interval width
  * statistic). The rewrite itself is cached per source dir and timed
  * separately in Bench (`q137_zorder_build`, the q103_index_build
  * honesty split); file-skipping evidence lives in LayoutSpec and the
  * ProfZOrder table in PLANS.md. */
object LayoutQueries {

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  // fixed UTC box bounds, valid at every SF (domains scale with SF but
  // always cover these)
  private val EvTsLo = 1704672000000000L // 2024-01-08T00:00:00Z in µs
  private val EvTsHi = 1705276800000000L // 2024-01-15T00:00:00Z
  private val LiTsLo = 820454400000000L  // 1996-01-01T00:00:00Z
  private val LiTsHi = 852076800000000L  // 1997-01-01T00:00:00Z

  // ------------------------------------------------- cached layout builds

  /** Per-key build memo: a fixture builds at most once per (dir, name),
    * and DISTINCT fixtures build CONCURRENTLY — the old single global
    * lock serialized every builder, which made each `buildZorderNN`
    * bench entry the straight SUM of its fixtures' many small
    * sequential Spark jobs (guide §2.6: independent driver-side jobs
    * should overlap so one job's barriers back-fill with another's
    * tasks). Same-key racers block on the per-key lock and reuse the
    * winner's artifact. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  private def cached(key: String)(build: => String): String = {
    val hit = cache.get(key)
    if (hit != null) return hit
    val l = buildLocks.computeIfAbsent(key, _ => new Object)
    l.synchronized {
      val again = cache.get(key)
      if (again != null) again
      else {
        val t0 = System.nanoTime()
        val out = build
        if (sys.env.contains("SPARK_GRAFT_PROF_BUILDS"))
          System.err.println(
            f"[graft-prof] fixture $key%-60s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        cache.put(key, out)
        out
      }
    }
  }

  /** Run independent fixture builds on a small driver-side pool (the
    * guide §2.6 overlap: each build is a chain of small jobs with
    * barriers, so concurrent chains interleave on the scheduler and the
    * wall clock approaches the longest chain instead of the sum). The
    * first failure propagates after in-flight builds finish. */
  private def inParallel(tasks: Seq[() => Any]): Unit = {
    graft.DriverPool.map(6, tasks)(_.apply()); ()
  }

  // ----------------------------------------- shared clustered events base
  //
  // ~20 mutation fixtures used to START from their own
  // `clusterWrite(events → (user_id, ts_us) × 16 files)` — the identical
  // artifact rebuilt once per fixture (stats job + range-sample shuffle +
  // write + index scan ≈ 1.2 s each at bench scale, pure repeated work).
  // They now CLONE the one shared base (`events_us`, whose build is
  // already timed by the q137_zorder_build entry): a byte copy of the
  // data files plus a path-translated copy of the envelope index. The
  // fixture STATE is identical — same rows, same file grain, same stats —
  // so every downstream verb classifies and mutates exactly as before.

  /** Copy the base table's data files into a fresh fixture dir (names
    * preserved, so envelope rows translate by prefix swap). */
  private def copyDataFiles(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(d)
    val it = java.nio.file.Files.list(s)
    try {
      val e = it.iterator()
      while (e.hasNext) {
        val p = e.next()
        val name = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) &&
            !name.startsWith(".") && !name.startsWith("_")) {
          java.nio.file.Files.copy(p, d.resolve(name))
          ()
        }
      }
    } finally it.close()
  }

  /** Rewrite an envelope table's absolute `file` paths from the base dir
    * onto a clone dir — one 16-row, 1-file write instead of a full
    * per-fixture stats scan. */
  private def translateEnvelopes(spark: SparkSession, envSrc: String,
                                 baseData: String, cloneData: String): Unit = {
    val bp = new org.apache.hadoop.fs.Path(baseData).toUri.getPath
    val cp = new org.apache.hadoop.fs.Path(cloneData).toUri.getPath
    val env = spark.read.parquet(envSrc)
    env.withColumn("file",
        concat(lit(cp), expr(s"substring(file, ${bp.length + 1})")))
      .coalesce(1).write.mode("overwrite")
      .parquet(cloneData.stripSuffix("/") + ".envelopes")
  }

  /** Envelope stats of the BASE over a non-default column set, computed
    * once per base generation (keyed by the base path, so a rebuilt base
    * never serves stale stats) and path-translated per clone. */
  private def baseEnvVariant(spark: SparkSession, dir: String,
                             cols: Seq[String]): String = {
    val base = zEventsUs(spark, dir)
    cached(s"$base|env:${cols.mkString(",")}") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("env_variant").toString
      Layout.fileEnvelopes(spark, base, cols).coalesce(1).write.parquet(out)
      out
    }
  }

  /** A fresh mutable fixture dir holding a CLONE of the shared clustered
    * base with an envelope index over `envCols`. */
  private def cloneBase(spark: SparkSession, dir: String, table: String,
                        envCols: Seq[String]): String = {
    val base = zEventsUs(spark, dir)
    val out = TextQueries.newTempDir("graft-zorder").resolve(table).toString
    copyDataFiles(base, out)
    val envSrc =
      if (envCols == Seq("user_id", "ts_us"))
        base.stripSuffix("/") + ".envelopes" // clusterWrite already built it
      else baseEnvVariant(spark, dir, envCols)
    translateEnvelopes(spark, envSrc, base, out)
    out
  }

  private def materialized(spark: SparkSession, dir: String, table: String,
                           cols: Seq[String], files: Int): String = cached(s"$dir|$table") {
      val out = TextQueries.newTempDir("graft-zorder").resolve(table).toString
      Layout.clusterWrite(spark.read.parquet(s"$dir/$table.parquet"), cols, files, out)
      out
  }

  /** Events with a LONG event-time column, clustered on (user_id, ts_us)
    * — the integer-box shape `graft_pruned_read`'s SQL surface takes. */
  private def zEventsUs(spark: SparkSession, dir: String): String = cached(s"$dir|events_us") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_us").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      Layout.clusterWrite(
        raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts"),
        Seq("user_id", "ts_us"), 16, out)
      out
  }

  private def zEvents(spark: SparkSession, dir: String): String =
    materialized(spark, dir, "events", Seq("user_id", "ts"), files = 16)
  private def zLineitem(spark: SparkSession, dir: String): String =
    materialized(spark, dir, "lineitem", Seq("l_partkey", "l_shipdate"), files = 16)

  /** Lineitem clustered with QUANTILE (rank) cell scaling — l_partkey's
    * distribution is whatever the generator made it; the contract under
    * test is scaling-invariance of RESULTS (skew recovery itself is
    * pinned by LayoutSpec's zipfian case). */
  private def zLineitemQuantile(spark: SparkSession, dir: String): String = cached(s"$dir|lineitem_qnt") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("lineitem_qnt").toString
      Layout.clusterWrite(spark.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_partkey", "l_shipdate"), 16, out, scaling = "quantile")
      out
  }

  /** Events with a true TIMESTAMP event-time column, clustered on
    * (user_id, ts_t) — the shape `graft_pruned_read`'s widened SQL
    * surface takes TIMESTAMP literals against. */
  private def zEventsTs(spark: SparkSession, dir: String): String = cached(s"$dir|events_ts") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_ts").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      Layout.clusterWrite(
        raw.withColumn("ts_t", timestamp_micros(Tables.tsToMicros(raw, "ts"))).drop("ts"),
        Seq("user_id", "ts_t"), 16, out)
      out
  }

  /** Events hive-partitioned by week-of-year then per-leaf OPTIMIZEd
    * ([[Layout.clusterPartitions]]) — the production table shape:
    * partition pruning over `wk`, envelope file-skipping inside each
    * surviving partition, one table-level index covering both. (The
    * synthetic events span one month, so weeks give ~5 real leaves.) */
  private def zEventsPartitioned(spark: SparkSession, dir: String): String = cached(s"$dir|events_part") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_part").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .withColumn("wk", weekofyear(timestamp_micros(col("ts_us"))))
        .write.partitionBy("wk").parquet(out)
      Layout.clusterPartitions(spark, out, Seq("user_id", "ts_us"),
        filesPerPartition = 4, indexCols = Seq("wk"), parallelism = 3)
      out
  }

  /** Events in TWO manifest commits — even user_ids first (commit 0),
    * odd user_ids appended (commit 1) — the [[Manifest.readChanges]]
    * fixture: the delta between the commits is exactly the odd-user
    * rows, so q151 has a clean relational oracle (`user_id % 2 = 1`). */
  private def zEventsIncr(spark: SparkSession, dir: String): String = cached(s"$dir|events_incr") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_incr").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("user_id") % 2 === 0).write.parquet(out)
      Manifest.write(spark, out)
      ev.filter(col("user_id") % 2 === 1).write.mode("append").parquet(out)
      Manifest.write(spark, out)
      out
  }

  /** Bench hooks (the q103_index_build pattern): time the REWRITE as its
    * own entry; the queries below then measure serving only. */
  def buildZorder(spark: SparkSession, dir: String): Unit =
    inParallel(Seq(
      () => zEvents(spark, dir), () => zLineitem(spark, dir),
      () => zEventsUs(spark, dir)))
  /** Round-13 layout builds, timed as their own bench entry. */
  def buildZorder13(spark: SparkSession, dir: String): Unit =
    inParallel(Seq(
      () => zLineitemQuantile(spark, dir), () => zEventsTs(spark, dir),
      () => zEventsPartitioned(spark, dir)))
  private val R13Tables = Set("lineitem_qnt", "events_ts", "events_part")

  /** Events written as MANY SMALL FILES per week partition (the
    * streaming-append shape), then rolled up by
    * [[Layout.compactPartitions]] — coalesce-only maintenance, no
    * re-sort — with the envelope index refreshed in the same run. */
  private def zEventsCompacted(spark: SparkSession, dir: String): String = cached(s"$dir|events_compact") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_compact").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .withColumn("wk", weekofyear(timestamp_micros(col("ts_us"))))
        .repartition(12)
        .write.partitionBy("wk").parquet(out)
      Layout.compactPartitions(spark, out, targetFileBytes = 64L << 20,
        indexCols = Seq("user_id", "ts_us", "wk"), parallelism = 3)
      out
  }

  /** Flat clustered events copy with `user_id 3..6 × the q137 week`
    * DELETED in place by [[Layout.deleteWhere]] — file-level classified
    * over the same `.envelopes` index the box queries prune through. */
  private def zEventsDel(spark: SparkSession, dir: String): String = cached(s"$dir|events_del") {
      val out = cloneBase(spark, dir, "events_del", Seq("user_id", "ts_us"))
      Layout.deleteWhere(spark, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)))
      out
  }

  /** Flat clustered events copy UPSERTED in place by [[Layout.upsert]]:
    * every `event_id % 10 = 3` row replaced with a doubled `value` —
    * candidate files located through event_id envelopes, key-disjoint
    * files untouched. */
  private def zEventsUpd(spark: SparkSession, dir: String): String = cached(s"$dir|events_upd") {
      val out = cloneBase(spark, dir, "events_upd", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      val updates = ev.filter(col("event_id") % 10 === 3)
        .withColumn("value", col("value") * 2)
      Layout.upsert(spark, out, updates, "event_id")
      out
  }

  /** Week-PARTITIONED events copy (clusterPartitions-maintained, wk in
    * the index) with `user_id 3..6 × the q137 week` DELETED in place —
    * the partitioned-table mutation path: only the touched week's leaf
    * files rewrite, replacements land back under their leaves. */
  private def zEventsDelPart(spark: SparkSession, dir: String): String = cached(s"$dir|events_del_part") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_del_part").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .withColumn("wk", weekofyear(timestamp_micros(col("ts_us"))))
        .write.partitionBy("wk").parquet(out)
      Layout.clusterPartitions(spark, out, Seq("user_id", "ts_us"),
        filesPerPartition = 4, indexCols = Seq("wk"), parallelism = 3)
      Layout.deleteWhere(spark, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)))
      out
  }

  /** Week-PARTITIONED events copy whose envelope index covers ONLY the
    * data columns (`user_id`, `ts_us`) — `wk` deliberately NOT indexed:
    * the [[graft.plans.EnvelopeAggRule]] partition-column-synthesis
    * fixture (the grouping value comes from the `wk=<v>` path segment,
    * not the index). */
  private def zEventsPartNoWk(spark: SparkSession, dir: String): String = cached(s"$dir|events_part_nowk") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_part_nowk").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .withColumn("wk", weekofyear(timestamp_micros(col("ts_us"))))
        .write.partitionBy("wk").parquet(out)
      Layout.writeEnvelopes(spark, out, Seq("user_id", "ts_us"))
      out
  }

  /** [[zEventsDel]]'s twin mutated through the SQL surface — the same
    * delete spelled `DELETE FROM parquet.` and lowered by
    * [[graft.plans.MutationSqlRule]] onto the same file-grain verb.
    * Needs a session built with GraftExtensions (Verify/Bench are). */
  private def zEventsDelSql(spark: SparkSession, dir: String): String = cached(s"$dir|events_del_sql") {
      val out = cloneBase(spark, dir, "events_del_sql", Seq("user_id", "ts_us"))
      spark.sql(s"DELETE FROM parquet.`$out` WHERE user_id BETWEEN 3 AND 6 " +
        s"AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}").collect()
      out
  }

  /** [[zEventsUpd]]'s twin mutated through `MERGE INTO` — the same keyed
    * update lowered onto [[Layout.upsert]]. */
  private def zEventsUpdSql(spark: SparkSession, dir: String): String = cached(s"$dir|events_upd_sql") {
      val out = cloneBase(spark, dir, "events_upd_sql", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 3)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q169_updates")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q169_updates AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** Clustered events copy mutated through `UPDATE ... WHERE <box>` —
    * [[Layout.updateWhere]] via the SQL surface: `value` tripled for
    * `user_id 3..6 × the q137 week`, only box-intersecting files
    * rewritten. */
  private def zEventsUpdWhere(spark: SparkSession, dir: String): String = cached(s"$dir|events_upd_where") {
      val out = cloneBase(spark, dir, "events_upd_where", Seq("user_id", "ts_us"))
      spark.sql(s"UPDATE parquet.`$out` SET value = value * 3 " +
        s"WHERE user_id BETWEEN 3 AND 6 AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}")
        .collect()
      out
  }

  /** Clustered events copy mutated by a CONDITIONAL MATCHED-DELETE
    * merge (`WHEN MATCHED AND t.value < 40 THEN DELETE`, no not-matched
    * arm) — the general [[Layout.merge]] path: the matched-pair
    * condition is evaluated over candidate files only, hit rows drop,
    * nothing inserts. */
  private def zEventsMergeDel(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_del") {
      val out = cloneBase(spark, dir, "events_merge_del", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 3).createOrReplaceTempView("graft_q177_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q177_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND t.value < 40.0 THEN DELETE""".stripMargin).collect()
      out
  }

  /** Clustered events copy upserted on a COMPOSITE key — `MERGE` with
    * `ON t.user_id = s.user_id AND t.event_id = s.event_id`, lowered
    * onto [[Layout.upsertKeyed]] (first-key stab, full-key rewrite). */
  private def zEventsMergeMultikey(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_multikey") {
      val out = cloneBase(spark, dir, "events_merge_multikey", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 4)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q178_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q178_src AS s
           |ON t.user_id = s.user_id AND t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** Clustered events copy merged with a CONDITIONAL MATCHED-UPDATE:
    * the source proposes `value := 100 - value` for `event_id % 10 = 6`
    * rows and the merge takes it only `WHEN MATCHED AND s.value >
    * t.value` — a condition spanning BOTH sides of the matched pair
    * (re-anchored onto the joined frame's `_src_` columns). */
  private def zEventsMergeCondUpd(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_cond_upd") {
      val out = cloneBase(spark, dir, "events_merge_cond_upd", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 6)
        .withColumn("value", lit(100.0) - col("value"))
        .createOrReplaceTempView("graft_q179_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q179_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND s.value > t.value THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** Clustered events copy merged with PARTIAL SET assignments —
    * `WHEN MATCHED THEN UPDATE SET value = t.value + s.value` over a
    * source proposing a flat +1000 for `event_id % 10 = 8` rows: the
    * replacement row is built from the matched PAIR (both sides visible
    * to the assignment), every unassigned column kept. */
  private def zEventsMergeSet(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_set") {
      val out = cloneBase(spark, dir, "events_merge_set", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 8)
        .withColumn("value", lit(1000.0))
        .createOrReplaceTempView("graft_q183_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q183_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = t.value + s.value""".stripMargin).collect()
      out
  }

  /** Clustered events copy SYNCED to a source — the full Delta-style
    * statement: matched rows take the source version, target rows the
    * source no longer carries are deleted (`WHEN NOT MATCHED BY SOURCE
    * THEN DELETE`), fresh source keys insert. The table afterwards IS
    * the source (even event_ids, value doubled). */
  private def zEventsMergeSync(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_sync") {
      val out = cloneBase(spark, dir, "events_merge_sync", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 2 === 0)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q184_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q184_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()
      out
  }

  /** Events table built in TWO halves through [[Layout.append]]: even
    * event_ids written plain + indexed + committed, odd event_ids
    * APPENDED through the verb (files promoted, index appended
    * incrementally, manifest adopting them) — the snapshot must serve
    * the union. */
  private def zEventsAppend(spark: SparkSession, dir: String): String = cached(s"$dir|events_append") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_append").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 2 === 0).write.parquet(out)
      Layout.writeEnvelopes(spark, out, Seq("user_id", "ts_us"))
      Manifest.write(spark, out)
      Layout.append(spark, out, ev.filter(col("event_id") % 2 === 1))
      out
  }

  /** Events copy laid out so that `event_id` INTERLEAVES across files
    * (hash of `event_id % 16` picks the file): every file's
    * [min_event_id, max_event_id] hull spans the whole domain — range
    * skipping can prove nothing for a point lookup — and the
    * `.envelopes` index carries a per-file BLOOM on event_id, the only
    * proof that can still skip. */
  private def zEventsBloom(spark: SparkSession, dir: String): String = cached(s"$dir|events_bloom") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_bloom").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .repartition(16, pmod(col("event_id"), lit(16)))
        .write.parquet(out)
      Layout.writeEnvelopes(spark, out, Seq("event_id", "user_id", "ts_us"),
        bloomCols = Seq("event_id"))
      out
  }

  /** Events copy with a STRING unique key (`ev_key`, derived 1:1 from
    * event_id with zero-padding so string order ≠ insertion order is
    * irrelevant), clustered on (user_id, ts_us) so ev_key INTERLEAVES
    * across files — then [[Layout.upsert]]ed BY THE STRING KEY: the
    * classification must run as the 7-byte-prefix interval stab refined
    * by the per-file ev_key bloom, never the between nested-loop
    * (MutationSpec pins the plan; this fixture pins exactness). */
  private def zEventsUpdStr(spark: SparkSession, dir: String): String = cached(s"$dir|events_upd_str") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_upd_str").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .withColumn("ev_key",
          concat(lit("ev-"), lpad(col("event_id").cast("string"), 10, "0")))
      // one envelope build: the wider key-column index rides the
      // clusterWrite itself instead of a second full stats scan
      Layout.clusterWrite(ev, Seq("user_id", "ts_us"), 16, out,
        indexCols = Seq("ev_key"), bloomCols = Seq("ev_key"))
      val updates = ev.filter(col("event_id") % 10 === 3)
        .withColumn("value", col("value") * 2)
      Layout.upsert(spark, out, updates, "ev_key")
      out
  }

  /** Round-15 build (the wk-unindexed partitioned copy + the SQL-mutated
    * twins + the append and bloom fixtures), its own bench entry so
    * q167-q173 time serving only. */
  def buildZorder15(spark: SparkSession, dir: String): Unit = {
    zEventsUs(spark, dir) // shared base first, then fan out
    inParallel(Seq(
      () => zEventsPartNoWk(spark, dir), () => zEventsDelSql(spark, dir),
      () => zEventsUpdSql(spark, dir), () => zEventsUpdWhere(spark, dir),
      () => zEventsAppend(spark, dir), () => zEventsBloom(spark, dir)))
  }
  private val R15Tables = Set("events_part_nowk", "events_del_sql",
    "events_upd_sql", "events_upd_where", "events_append", "events_bloom")
  def invalidateZorder15(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R15Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  /** Events table WIDENED mid-life by [[Layout.addColumns]]: even
    * event_ids committed with the original schema, then `bonus DOUBLE`
    * added as a pure metadata commit (no file touched), then odd
    * event_ids appended CARRYING bonus = value × 10 — the snapshot must
    * serve old files with bonus null-filled and new files with real
    * values, relationally expressible for the oracle. */
  private def zEventsWidened(spark: SparkSession, dir: String): String = cached(s"$dir|events_widened") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_widened").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 2 === 0).write.parquet(out)
      Layout.writeEnvelopes(spark, out, Seq("user_id", "ts_us"))
      Manifest.write(spark, out)
      Layout.addColumns(spark, out, Seq(
        org.apache.spark.sql.types.StructField("bonus",
          org.apache.spark.sql.types.DoubleType)))
      Layout.append(spark, out, ev.filter(col("event_id") % 2 === 1)
        .withColumn("bonus", col("value") * 10))
      out
  }

  /** Flat clustered events copy with the q160 box deleted MERGE-ON-READ
    * ([[Layout.deleteWhere]] `mode = "dv"`): candidate files stay
    * byte-untouched, the matching positions live in the manifest's
    * deletion-vector sidecar, and [[Layout.readSnapshot]] filters them —
    * the trickle-delete economics at 100 TB (no file rewrite). Serves
    * q185 (snapshot box) and q186 (row-level CDC of the DV commit). */
  private def zEventsDelDv(spark: SparkSession, dir: String): String = cached(s"$dir|events_del_dv") {
      val out = cloneBase(spark, dir, "events_del_dv", Seq("user_id", "ts_us"))
      Layout.deleteWhere(spark, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)), mode = "dv")
      out
  }

  /** [[zEventsDelDv]]'s twin taken one step further: the pending
    * deletion vector MATERIALIZED by [[Layout.reifyDeletes]] (only the
    * DV'd files rewrite, the sidecar clears), so the PLAIN read agrees
    * with the snapshot again. */
  private def zEventsDelDvReified(spark: SparkSession, dir: String): String = cached(s"$dir|events_del_dv_reified") {
      val out = cloneBase(spark, dir, "events_del_dv_reified", Seq("user_id", "ts_us"))
      Layout.deleteWhere(spark, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)), mode = "dv")
      Layout.reifyDeletes(spark, out)
      out
  }

  /** Events copy clustered BY EVENT_ID (tight per-file event_id hulls)
    * and merged on the COMPOSITE key (event_type, event_id) whose
    * LEADING column is near-constant — 5 event types, every file's hull
    * covers all of them, so a head-only stab would candidate EVERY
    * file; the per-column union classification must keep the merge at
    * file grain through the selective second component (MutationSpec
    * pins the candidate count; this fixture pins exactness). */
  private def zEventsMergeLowcard(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_lowcard") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_merge_lowcard").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      // one envelope build (see zEventsUpdStr): event_type stats ride
      // the clusterWrite's index pass
      Layout.clusterWrite(ev, Seq("event_id"), 16, out,
        indexCols = Seq("event_type"))
      ev.filter(col("event_id") % 10 === 7)
        .withColumn("value", col("value") * 3)
        .createOrReplaceTempView("graft_q188_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q188_src AS s
           |ON t.event_type = s.event_type AND t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** Round-16 build (the string-keyed upsert fixture, the widened-table
    * fixture, and the three MERGE-shape fixtures — each a clusterWrite +
    * an SQL merge), its own bench entry so q175+ time serving only. */
  def buildZorder16(spark: SparkSession, dir: String): Unit = {
    zEventsUs(spark, dir) // shared base first, then fan out
    inParallel(Seq(
      () => zEventsUpdStr(spark, dir), () => zEventsWidened(spark, dir),
      () => zEventsMergeDel(spark, dir), () => zEventsMergeMultikey(spark, dir),
      () => zEventsMergeCondUpd(spark, dir), () => zEventsMergeSet(spark, dir),
      () => zEventsMergeSync(spark, dir)))
  }
  private val R16Tables = Set("events_upd_str", "events_widened",
    "events_merge_del", "events_merge_multikey", "events_merge_cond_upd",
    "events_merge_set", "events_merge_sync")
  def invalidateZorder16(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R16Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  /** Clustered events copy SYNCED with a CONDITIONED by-source arm —
    * the retention-sync shape: matched rows take the source (even
    * event_ids, value doubled), and target rows the source no longer
    * carries are deleted ONLY inside the q137 week
    * (`WHEN NOT MATCHED BY SOURCE AND t.ts_us BETWEEN … THEN DELETE`);
    * odd event_ids outside the week SURVIVE — observationally distinct
    * from q184's full sync. Classification-wise the conditioned arm
    * lets envelope-refuted files skip (MutationSpec pins the file
    * counts on a crafted fixture). */
  private def zEventsMergeSyncCond(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_sync_cond") {
      val out = cloneBase(spark, dir, "events_merge_sync_cond", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 2 === 0)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q189_src")
      spark.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q189_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE
           |  AND t.ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1} THEN DELETE""".stripMargin)
        .collect()
      out
  }

  /** Clustered events copy merged `WITH SCHEMA EVOLUTION`: the source
    * proposes `event_id % 10 = 5` rows with a doubled value AND a brand
    * new `score` column (original value × 10) — the statement widens
    * the table by `score` as a metadata commit
    * ([[Layout.addColumnsIfAbsent]]) and then merges, so matched rows
    * carry the evolved column and every untouched file null-fills it
    * under the snapshot read. */
  private def zEventsMergeEvolve(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_evolve") {
      val out = cloneBase(spark, dir, "events_merge_evolve", Seq("user_id", "ts_us", "event_id"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 5)
        .withColumn("score", col("value") * 10)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q190_src")
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO parquet.`$out` AS t
           |USING graft_q190_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** [[zEventsCompacted]]'s twin maintained ENTIRELY through SQL: the
    * small-file partitioned copy rolled up by the `graft_compact` table
    * function (the maintenance verb surface — a RunnableCommand since
    * round 18, so the side effect runs when the statement EXECUTES,
    * exactly like DML), envelope index refreshed by the verb from the
    * existing index columns. */
  private def zEventsCompactedSql(spark: SparkSession, dir: String): String = cached(s"$dir|events_compact_sql") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_compact_sql").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
        .withColumn("wk", weekofyear(timestamp_micros(col("ts_us"))))
        .repartition(12)
        .write.partitionBy("wk").parquet(out)
      Layout.writeEnvelopes(spark, out, Seq("user_id", "ts_us", "wk"))
      graft.GraftTableFunctions.ensure(spark)
      spark.sql(s"SELECT rewritten_leaves FROM graft_compact('$out', ${64L << 20}, 3)")
        .collect()
      out
  }

  /** [[zEventsUpd]]'s twin upserted MERGE-ON-READ through SQL: the same
    * keyed `MERGE INTO` with `spark.graft.merge.mode=dv` set — matched
    * rows' positions go to the deletion-vector sidecar, replacements
    * append as new files, and no candidate file is rewritten. Serves
    * q192 (snapshot box) and q193 (paired update-image CDC of the DV
    * upsert commit). */
  private def zEventsUpdDv(spark: SparkSession, dir: String): String = cached(s"$dir|events_upd_dv") {
      val out = cloneBase(spark, dir, "events_upd_dv", Seq("user_id", "ts_us", "event_id"))
      // session FORK: the builds fan out on a pool, so the dv-mode conf
      // must not leak into a concurrently-building fixture's merge
      val s = org.apache.spark.sql.GraftBridge.cloneSession(spark)
      val raw = s.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 3)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q192_updates")
      s.conf.set(graft.plans.MutationSqlRule.MergeModeConf, "dv")
      s.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q192_updates AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** Clustered events copy DELETED then RESTORED to the pre-delete
    * snapshot ([[Layout.restore]]): the delete's replacement files
    * retire back out, the original generation physically returns, and
    * the table must serve the ORIGINAL rows again — so the oracle is
    * the plain layout-invariance SQL, the strongest possible rollback
    * check. */
  private def zEventsRestored(spark: SparkSession, dir: String): String = cached(s"$dir|events_restored") {
      val out = cloneBase(spark, dir, "events_restored", Seq("user_id", "ts_us"))
      Manifest.write(spark, out)
      val seq0 = Manifest.latestSeq(spark, out).get
      Layout.deleteWhere(spark, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)))
      Layout.restore(spark, out, seq0)
      out
  }

  /** The DOCUMENTS corpus as a manifest table with a DV-deleted id
    * range — the table-format layer feeding the LLM-pipeline layer: a
    * downstream token-accounting job consumes the CDC delta instead of
    * rescanning the corpus (q195). */
  private def zDocsDelDv(spark: SparkSession, dir: String): String = cached(s"$dir|docs_del_dv") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("docs_del_dv").toString
      Layout.clusterWrite(spark.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id"), 4, out)
      Manifest.write(spark, out)
      Layout.deleteWhere(spark, out, Seq(("doc_id", 100L, 149L)), mode = "dv")
      out
  }

  /** Clustered events copy merged through the FULL ARM MATRIX in
    * MERGE-ON-READ mode (`spark.graft.merge.mode=dv`, round 18): the
    * conditional matched arms fire per row — `event_id % 10 = 1` rows
    * with `user_id` in [0,4] take the doubled source value, the rest of
    * the matched rows DELETE — while every position lands in the
    * deletion-vector sidecar and the update images append as new files;
    * no candidate file is rewritten (the CDC-apply trickle-MERGE
    * economics). Results must equal copy mode exactly, so the oracle is
    * pure relational arithmetic over the original events. */
  private def zEventsMergeDvArms(spark: SparkSession, dir: String): String = cached(s"$dir|events_merge_dv_arms") {
      val out = cloneBase(spark, dir, "events_merge_dv_arms", Seq("user_id", "ts_us", "event_id"))
      // session FORK — conf isolation under the build pool (see zEventsUpdDv)
      val s = org.apache.spark.sql.GraftBridge.cloneSession(spark)
      val raw = s.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 10 === 1)
        .withColumn("value", col("value") * 2)
        .createOrReplaceTempView("graft_q196_src")
      s.conf.set(graft.plans.MutationSqlRule.MergeModeConf, "dv")
      s.sql(
        s"""MERGE INTO parquet.`$out` AS t USING graft_q196_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND t.user_id BETWEEN 0 AND 4 THEN UPDATE SET value = s.value
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      out
  }

  /** [[zEventsDelDv]]'s twin under the per-file AUTO-MATERIALIZE
    * threshold (round 18): files whose pending deleted fraction exceeds
    * 20% rewrite DV-filtered inside the same verb call, lighter files
    * keep their sidecar entries — semantics identical either way (the
    * oracle is q185's), with per-file DV growth bounded. */
  private def zEventsDelDvThresh(spark: SparkSession, dir: String): String = cached(s"$dir|events_del_dv_thresh") {
      val out = cloneBase(spark, dir, "events_del_dv_thresh", Seq("user_id", "ts_us"))
      // session FORK — conf isolation under the build pool (see zEventsUpdDv)
      val s = org.apache.spark.sql.GraftBridge.cloneSession(spark)
      s.conf.set(Layout.DvMaterializeThresholdConf, "0.2")
      Layout.deleteWhere(s, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)), mode = "dv")
      out
  }

  /** Clustered events copy served through a [[graft.GraftCatalog]] NAME
    * (round 18): the fixture registers `graft_events_r18` → the table
    * dir, and the query is PURE SQL over the name — the resolution rule
    * binds it to a fresh manifest snapshot per query. Layout-invariant,
    * so the oracle is the plain events SQL. */
  private def zEventsNamed(spark: SparkSession, dir: String): String = cached(s"$dir|events_named") {
      val out = cloneBase(spark, dir, "events_named", Seq("user_id", "ts_us"))
      Manifest.write(spark, out)
      out
  }

  /** Clustered events copy extended through SQL `INSERT INTO <name>`
    * (round 18): the statement lowers onto [[Layout.append]] — the new
    * rows land manifest-committed and index-refreshed, visible to the
    * snapshot the name serves. The inserted rows are a derived slice of
    * the original events (`event_id % 100 = 0`, value ×10, ids shifted
    * out of range), so the oracle is a UNION ALL over the plain
    * events. */
  private def zEventsInserted(spark: SparkSession, dir: String): String = cached(s"$dir|events_inserted") {
      val out = cloneBase(spark, dir, "events_inserted", Seq("user_id", "ts_us"))
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      Manifest.write(spark, out)
      graft.GraftCatalog.register(spark, "graft_events_r199", out)
      ev.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") * 10)
        .withColumn("event_id", col("event_id") + 1000000000L)
        .createOrReplaceTempView("graft_q199_src")
      val order = spark.table("graft_events_r199").columns.map(c => s"`$c`")
      spark.sql(s"INSERT INTO graft_events_r199 " +
        s"SELECT ${order.mkString(", ")} FROM graft_q199_src").collect()
      out
  }

  /** [[zEventsWidened]]'s twin built ENTIRELY through SQL (round 19):
    * the even half written + first manifest, the table registered by
    * `CREATE TABLE … USING graft`, widened by `ALTER TABLE … ADD
    * COLUMNS (bonus DOUBLE)` (a pure metadata commit lowered onto
    * [[Layout.addColumns]] at parse time), and the odd half — bonus =
    * value×10 — appended by `INSERT INTO` the name. Serves q203. */
  private def zEventsAltered(spark: SparkSession, dir: String): String = cached(s"$dir|events_altered") {
      val out = TextQueries.newTempDir("graft-zorder").resolve("events_altered").toString
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ev = raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      ev.filter(col("event_id") % 2 === 0).write.parquet(out)
      Layout.writeEnvelopes(spark, out, Seq("user_id", "ts_us"))
      Manifest.write(spark, out)
      // DROP first: a cache-invalidated rebuild must re-bind the name to
      // the fresh directory (IF NOT EXISTS would keep the stale binding)
      spark.sql("DROP TABLE IF EXISTS graft_events_alter19")
      spark.sql(s"CREATE TABLE graft_events_alter19 USING graft LOCATION '$out'")
      spark.sql("ALTER TABLE graft_events_alter19 ADD COLUMNS (bonus DOUBLE)").collect()
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("bonus", col("value") * 10)
        .createOrReplaceTempView("graft_q203_src")
      val order = spark.table("graft_events_alter19").columns.map(c => s"`$c`")
      spark.sql(s"INSERT INTO graft_events_alter19 " +
        s"SELECT ${order.mkString(", ")} FROM graft_q203_src").collect()
      out
  }

  /** Round-17 build (the deletion-vector fixtures — delete, reified,
    * merge-on-read upsert, and the DV-deleted documents corpus — the
    * low-cardinality-leading-key composite merge, the conditioned
    * by-source sync, the schema-evolution merge, the SQL-compacted
    * copy, and the deleted-then-restored copy), its own bench entry so
    * q185+ time serving only. */
  def buildZorder17(spark: SparkSession, dir: String): Unit = {
    zEventsUs(spark, dir) // shared base first, then fan out
    inParallel(Seq(
      () => zEventsDelDv(spark, dir), () => zEventsDelDvReified(spark, dir),
      () => zEventsMergeLowcard(spark, dir), () => zEventsMergeSyncCond(spark, dir),
      () => zEventsMergeEvolve(spark, dir), () => zEventsCompactedSql(spark, dir),
      () => zEventsUpdDv(spark, dir), () => zEventsRestored(spark, dir),
      () => zDocsDelDv(spark, dir)))
  }
  private val R17Tables = Set("events_del_dv", "events_del_dv_reified",
    "events_merge_lowcard", "events_merge_sync_cond", "events_merge_evolve",
    "events_compact_sql", "events_upd_dv", "events_restored", "docs_del_dv")
  def invalidateZorder17(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R17Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  /** [[zEventsDelDv]] with the `.envelopes` index present and the
    * deletion vector GUARANTEED live (round 19): the box delete
    * drop-wholes interior files (index refreshed incrementally) and
    * leaves positions on the boundary files — the fixture asserts the
    * sidecar survived, so q200's metadata-only count provably exercises
    * the DV-aware path (physical rows − pending positions), not the
    * plain index count. */
  private def zEventsDelDvIdx(spark: SparkSession, dir: String): String = cached(s"$dir|events_del_dv_idx") {
      val out = cloneBase(spark, dir, "events_del_dv_idx", Seq("user_id", "ts_us"))
      Layout.deleteWhere(spark, out,
        Seq(("user_id", 3L, 6L), ("ts_us", EvTsLo, EvTsHi - 1)), mode = "dv")
      require(Manifest.info(spark, out).dv.isDefined,
        "zEventsDelDvIdx: the dv delete left no live sidecar - the fixture " +
          "no longer exercises the DV-aware metadata count")
      out
  }

  /** Round-18 build (the merge-on-read GENERAL-merge fixture, the
    * auto-materialize-threshold delete, and the catalog-named copy),
    * its own bench entry so q196+ time serving only. */
  def buildZorder18(spark: SparkSession, dir: String): Unit = {
    zEventsUs(spark, dir) // shared base first, then fan out
    inParallel(Seq(
      () => zEventsMergeDvArms(spark, dir), () => zEventsDelDvThresh(spark, dir),
      () => zEventsNamed(spark, dir), () => zEventsInserted(spark, dir)))
  }
  private val R18Tables = Set("events_merge_dv_arms", "events_del_dv_thresh",
    "events_named", "events_inserted")
  def invalidateZorder18(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R18Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  /** Round-19 build (the indexed live-DV fixture), its own bench entry
    * so q200+ time serving only. */
  def buildZorder19(spark: SparkSession, dir: String): Unit = {
    zEventsUs(spark, dir) // shared base first, then fan out
    inParallel(Seq(
      () => zEventsDelDvIdx(spark, dir), () => zEventsAltered(spark, dir),
      () => zTablesReg(spark, dir)))
  }
  private val R19Tables = Set("events_del_dv_idx", "events_altered", "tables_reg")
  def invalidateZorder19(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R19Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  /** Round-14 build (two-commit incremental events table + the
    * small-file compaction fixture + the delete/upsert mutation
    * fixtures, flat and partitioned), its own bench entry so
    * q151/q159-q161/q164 time serving only. */
  def buildZorder14(spark: SparkSession, dir: String): Unit = {
    zEventsUs(spark, dir) // shared base first, then fan out
    inParallel(Seq(
      () => zEventsIncr(spark, dir), () => zEventsCompacted(spark, dir),
      () => zEventsDel(spark, dir), () => zEventsUpd(spark, dir),
      () => zEventsDelPart(spark, dir)))
  }
  private val R14Tables = Set("events_incr", "events_compact", "events_del",
    "events_upd", "events_del_part")
  def invalidateZorder14(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R14Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  /** Invalidate the copies [[buildZorder]] builds — and ONLY those, so
    * timing that build twice never forces a rebuild of the round-13
    * copies mid-bench (and vice versa for [[invalidateZorder13]]). */
  def invalidateZorder(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      val suffix = k.stripPrefix(s"$dir|")
      k.startsWith(s"$dir|") && !R13Tables.contains(suffix) &&
        !R14Tables.contains(suffix) && !R15Tables.contains(suffix) &&
        !R16Tables.contains(suffix) && !R17Tables.contains(suffix) &&
        !R18Tables.contains(suffix) && !R19Tables.contains(suffix)
    }
    ()
  }
  def invalidateZorder13(dir: String): Unit = {
    cache.keySet.removeIf { k =>
      R13Tables.contains(k.stripPrefix(s"$dir|"))
    }
    ()
  }

  // ---------------------------------------------------------------- q137
  /** Two-dimensional box over the Z-ORDERED events copy: (user_id band) ×
    * (one ts week), rolled up per event type. At 100 TB the z-layout is
    * what makes this scan cheap — BOTH predicates prune files/row-groups
    * (LayoutSpec pins the either-dimension skipping property; a date-
    * partitioned, id-sorted table prunes on only one). Results must be
    * layout-invariant — the oracle runs on the ORIGINAL table. */
  def q137ZorderEventsBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEvents(spark, dir))
    val tsUs = Tables.tsToMicros(z, "ts")
    z.filter($"user_id".between(2L, 9L) && tsUs.between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q138
  /** Same contract on lineitem over (l_partkey, l_shipdate): part-band ×
    * ship-year box, per-flag rollup — the fact-table shape (selective
    * dimension id + time window) that motivates Z-order at 100 TB. */
  def q138ZorderLineitemBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zLineitem(spark, dir))
    val shipUs = Tables.tsToMicros(z, "l_shipdate")
    z.filter($"l_partkey".between(20L, 150L) && shipUs.between(LiTsLo, LiTsHi - 1))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(cents($"l_extendedprice")).as("sum_price_c"),
        countDistinct($"l_partkey").as("n_parts"))
  }

  // ---------------------------------------------------------------- q141
  /** q137's box with the LAYOUT REWRITE ITSELF in pure SQL — the
    * `graft_zorder_cluster` table function (the CTAS/INSERT-OVERWRITE
    * maintenance surface): querying straight through the clustered plan
    * must be layout-invariant, so it shares q137's oracle shape. */
  def q141SqlTfZorder(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.withColumn("ts_us", Tables.tsToMicros(raw, "ts")).drop("ts")
      .createOrReplaceTempView("g_events_z")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_zorder_cluster('g_events_z', 'user_id,ts_us', 8)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q142
  /** q137's box served through [[Layout.prunedRead]] — the persisted
    * `.envelopes` file-skipping index decides which files to OPEN (the
    * Delta-stats/Iceberg-manifest role), and the result must still be
    * exact: pruning affects I/O only, and the oracle is the same
    * original-table SQL as q137's. */
  def q142ZorderPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.prunedRead(spark, zEvents(spark, dir),
      Seq(("user_id", 2L, 9L)))
    val tsUs = Tables.tsToMicros(z, "ts")
    z.filter($"user_id".between(2L, 9L) && tsUs.between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q143
  /** The file-skipping read in PURE SQL — `graft_pruned_read` over the
    * (user_id, ts_us)-clustered events copy with a 2-D integer box: the
    * `.envelopes` index decides which files open, the WHERE re-applies
    * the exact predicate, and the oracle is the original-table SQL
    * (pruning changes I/O, never rows — q142's contract through the
    * TVF). */
  def q143SqlTfPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsUs(spark, dir)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_pruned_read('$path', 'user_id', 2, 9,
         |                       'ts_us', $EvTsLo, ${EvTsHi - 1})
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q144
  /** q137's box as a PLAIN `read.filter` — no prunedRead call, no TVF:
    * the [[graft.plans.EnvelopePruneRule]] optimizer rule (default-on via
    * GraftExtensions) routes the scan through the table's `.envelopes`
    * index automatically, the zero-API-change surface. EnvelopePruneSpec
    * pins that files are actually skipped; this oracle row pins that the
    * automatic pruning never changes results. */
  def q144EnvelopeAutoPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopePruneRule.ensure(spark)
    val z = spark.read.parquet(zEventsUs(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q145
  /** q138's box over a QUANTILE-scaled clustered copy — rank cells from
    * one approxQuantile pass instead of linear min/max. Scaling choice
    * is layout, not data: the oracle is the same original-table SQL. */
  def q145QuantileZorderBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zLineitemQuantile(spark, dir))
    val shipUs = Tables.tsToMicros(z, "l_shipdate")
    z.filter($"l_partkey".between(20L, 150L) && shipUs.between(LiTsLo, LiTsHi - 1))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(cents($"l_extendedprice")).as("sum_price_c"),
        countDistinct($"l_partkey").as("n_parts"))
  }

  // ---------------------------------------------------------------- q146
  /** q137's box over the HIVE-PARTITIONED (by week-of-year `wk`) +
    * per-leaf-OPTIMIZEd events copy, served through [[Layout.prunedRead]]:
    * the box covers (user_id, ts_us) only, so what this query pins is
    * envelope file-skipping INSIDE partitions of a partitioned table
    * (partition-column pruning through the indexed `wk` dimension is
    * LayoutSpec's clusterPartitions case). Results must be
    * partitioning-invariant. */
  def q146PartitionedPrunedBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.prunedRead(spark, zEventsPartitioned(spark, dir),
      Seq(("user_id", 2L, 9L), ("ts_us", EvTsLo, EvTsHi - 1)))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q148
  /** q146's box as a PLAIN `read.filter` over the week-partitioned +
    * per-leaf-OPTIMIZEd copy — no prunedRead call: the optimizer rule's
    * delegating [[org.apache.spark.sql.execution.datasources.FileIndex]]
    * composes envelope file-skipping with Catalyst's own partition
    * pruning automatically (EnvelopePruneSpec pins both prunes; this
    * oracle row pins exactness of the composed automatic path). */
  def q148PartitionedAutoPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopePruneRule.ensure(spark)
    val z = spark.read.parquet(zEventsPartitioned(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q147
  /** q143 with TIMESTAMP literal bounds — the widened `graft_pruned_read`
    * SQL surface (any comparable literal, not just integers) against a
    * true-timestamp clustered copy; UTC session, same oracle. */
  def q147SqlTfPrunedReadTs(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsTs(spark, dir)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_pruned_read('$path', 'user_id', 2, 9,
         |  'ts_t', TIMESTAMP '2024-01-08 00:00:00',
         |          TIMESTAMP '2024-01-14 23:59:59.999999')
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_t BETWEEN TIMESTAMP '2024-01-08 00:00:00'
         |               AND TIMESTAMP '2024-01-14 23:59:59.999999'
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q149
  /** q146's box through `graft_read_healed` — the sanctioned SQL reader
    * for swap-maintained tables (heals any interrupted DirSwap before
    * reading; a no-op heal here, so the oracle is the same
    * layout-invariance SQL). */
  def q149SqlTfReadHealed(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsPartitioned(spark, dir)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_read_healed('$path')
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q150
  /** q146's box through `graft_read_snapshot` — the MANIFEST-committed
    * snapshot reader ([[graft.sources.Manifest]]): the week-partitioned
    * table was maintained by [[Layout.clusterPartitions]], which commits
    * a manifest per run, and the query plans over exactly that committed
    * file set (the cross-process reader a rewrite race cannot tear).
    * Snapshot resolution is layout-and-concurrency machinery only, so
    * the oracle is the same original-table SQL. */
  def q150SqlTfReadSnapshot(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsPartitioned(spark, dir)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_read_snapshot('$path')
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q151
  /** The events box over ONLY the files added between two manifest
    * commits — `graft_read_changes`, file-level CDC: the incremental
    * consumer's read (index updates, stats refresh) that never rescans
    * the table. The fixture commits even user_ids then appends odd
    * ones, so the delta is relationally expressible and the oracle is
    * the events box restricted to `user_id % 2 = 1`. */
  def q151SqlTfReadChanges(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsIncr(spark, dir)
    val fromSeq = Manifest.latestSeq(spark, path).get - 1
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_read_changes('$path', $fromSeq)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q155
  /** TIME TRAVEL: the events box over the FIRST manifest commit of the
    * two-commit incremental table — `graft_read_snapshot(path, seq)`
    * resolves the historical committed file set (retained by the
    * manifest vacuum window) and plans over exactly it, so the query
    * sees the table as of that commit: even user_ids only, rows
    * appended by commit 2 invisible. The oracle is the events box
    * restricted to `user_id % 2 = 0`. */
  def q155SqlTfTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsIncr(spark, dir)
    val firstSeq = Manifest.latestSeq(spark, path).get - 1
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_read_snapshot('$path', $firstSeq)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q152
  /** Global `count(*)/count(c)/min/max` over the (user_id, ts_us)-
    * clustered events copy as a PLAIN `read.agg` — the
    * [[graft.plans.EnvelopeAggRule]] answers it from the `.envelopes`
    * index (one row per file) instead of scanning the data, gated on
    * exact file-set equality so staleness can only decline, never
    * corrupt. EnvelopeAggSpec pins that the optimized plan scans ONLY
    * the index; this oracle row pins that the metadata-only answer is
    * exactly the data answer. */
  def q152EnvelopeStatsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopeAggRule.ensure(spark)
    spark.read.parquet(zEventsUs(spark, dir))
      .agg(count(lit(1)).as("n"),
        min($"user_id").as("mn_user"), max($"user_id").as("mx_user"),
        min($"ts_us").as("mn_ts"), max($"ts_us").as("mx_ts"),
        count($"user_id").as("n_user"))
  }

  // ---------------------------------------------------------------- q153
  /** q152 GROUPED by the hive-partition column `wk` over the
    * week-partitioned + per-leaf-OPTIMIZEd events copy: the rule proves
    * `wk` constant per file from the index envelopes (`min_wk <=> max_wk`,
    * no mixed-null file) — partition-column grouping without requiring
    * the planner to know it is a partition column — and answers the
    * whole per-week rollup from index rows. */
  def q153EnvelopeGroupedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopeAggRule.ensure(spark)
    spark.read.parquet(zEventsPartitioned(spark, dir))
      .groupBy($"wk")
      .agg(count(lit(1)).as("n"),
        min($"ts_us").as("mn_ts"), max($"ts_us").as("mx_ts"))
  }

  // ---------------------------------------------------------------- q154
  /** q153 with a WHERE on the partition column — `wk BETWEEN 2 AND 3` —
    * still answered ENTIRELY from the index: the rule proves every
    * filter column constant per file, evaluates the conjunct over the
    * index rows (whole-file include/exclude — exactly the data filter,
    * since the value is uniform within each file), and aggregates the
    * surviving envelopes. `count(*) WHERE dt BETWEEN …` on a
    * time-partitioned table — the most common production metadata query
    * — never touches the data. */
  def q154EnvelopeFilteredAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopeAggRule.ensure(spark)
    spark.read.parquet(zEventsPartitioned(spark, dir))
      .filter($"wk".between(2, 3))
      .groupBy($"wk")
      .agg(count(lit(1)).as("n"),
        min($"ts_us").as("mn_ts"), max($"ts_us").as("mx_ts"))
  }

  // ---------------------------------------------------------------- q156
  /** q153 plus `sum(user_id)` — integral sums are stored per file in the
    * envelopes (`sum_c`; long addition is associative even under
    * wraparound, so re-summing per-file sums is bit-identical to Spark's
    * direct LEGACY sum) and the whole per-week rollup, counts and sums
    * alike, answers from the index. */
  def q156EnvelopeSumAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopeAggRule.ensure(spark)
    spark.read.parquet(zEventsPartitioned(spark, dir))
      .groupBy($"wk")
      .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_uid"),
        max($"ts_us").as("mx_ts"))
  }

  // ---------------------------------------------------------------- q159
  /** q148's box over the COMPACTED copy: twelve small appended files per
    * week partition rolled up by [[Layout.compactPartitions]] (coalesce
    * only — no shuffle, no re-sort), envelope index refreshed in the
    * same run, read as a PLAIN `read.filter` so the optimizer rule
    * auto-prunes through the refreshed index. Compaction is layout-only:
    * the oracle is the same original-table SQL. */
  def q159CompactedBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopePruneRule.ensure(spark)
    val z = spark.read.parquet(zEventsCompacted(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q160
  /** The events box over the copy [[Layout.deleteWhere]] mutated: rows
    * with `user_id 3..6` in the query week were deleted at FILE grain
    * (drop-whole / rewrite / untouched classified over the envelope
    * index, originals retired for snapshot readers, new manifest
    * committed). The oracle applies the same deletion relationally to
    * the original table — the mutation must equal the predicate. */
  def q160DeleteWhereBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsDel(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q161
  /** The events box over the copy [[Layout.upsert]] mutated: every
    * `event_id % 10 = 3` row replaced with a doubled `value` (keyed
    * file-level MERGE: candidate files via event_id envelopes, matched
    * keys anti-joined out, updates appended, manifest committed). The
    * oracle applies the same keyed update relationally. */
  def q161UpsertBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsUpd(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q163
  /** `graft_table_stats` over the clustered events copy: the one-row
    * DESCRIBE-DETAIL surface whose `n_rows` is computed from the
    * envelope index alone — exact only because the index provably
    * covers the current listing — pinned against a real `count(*)`
    * over the original table. */
  def q163TableStats(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsUs(spark, dir)
    spark.sql(s"SELECT n_rows FROM graft_table_stats('$path')")
  }

  // ---------------------------------------------------------------- q164
  /** q160's box over the PARTITIONED deleted copy — the mutation verbs'
    * hive path: leaf-preserving replacement placement, partition-aware
    * retirement, partition-column stats kept in the incrementally
    * maintained index. Same relational oracle as q160. */
  def q164DeletePartitionedBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsDelPart(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q166
  /** q156's shape with `avg(user_id)` — integral average answered FROM
    * THE INDEX as `sum(sum_c) / sum(rows - nulls_c)`, exact under the
    * rule's Σ|values| ≤ 2⁵² probe (every double intermediate is an
    * exactly-representable integer, so row order and file order agree
    * bit-for-bit). The oracle computes the same average over the
    * original table. */
  def q166EnvelopeAvgAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopeAggRule.ensure(spark)
    spark.read.parquet(zEventsPartitioned(spark, dir))
      .groupBy($"wk")
      .agg(count(lit(1)).as("n"), avg($"user_id").as("avg_uid"))
  }

  // ---------------------------------------------------------------- q167
  /** q153's grouped metadata aggregate over a copy whose index does NOT
    * cover the grouping column: `wk` is a hive partition column, so its
    * per-file constant is synthesized from the `wk=<v>` path segment
    * (the same value partition discovery reads) — no envelope needed.
    * Layout-invariant: the oracle groups the original table by the same
    * derived week. */
  def q167PartGroupAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopeAggRule.ensure(spark)
    spark.read.parquet(zEventsPartNoWk(spark, dir))
      .groupBy($"wk")
      .agg(count(lit(1)).as("n"), min($"ts_us").as("mn_ts"), max($"ts_us").as("mx_ts"))
  }

  // ---------------------------------------------------------------- q168
  /** q160's box over the copy deleted through SQL (`DELETE FROM
    * parquet.`, lowered by the resolution rule onto the same file-grain
    * verb) — the SQL spelling must be observationally identical to the
    * Scala call, so the oracle is q160's. */
  def q168SqlDeleteBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsDelSql(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q169
  /** q161's box over the copy upserted through SQL (`MERGE INTO` with
    * the exact upsert shape) — same oracle as q161. */
  def q169SqlMergeBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsUpdSql(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q170
  /** The events box over the copy mutated by `UPDATE ... WHERE <box>`
    * (lowered onto [[Layout.updateWhere]]): `value` tripled inside
    * `user_id 3..6 × the week`. The oracle applies the same conditional
    * assignment relationally. */
  def q170SqlUpdateBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsUpdWhere(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q177
  /** The events box over the conditional matched-DELETE merge fixture:
    * `event_id % 10 = 3` rows with `value < 40` are gone, everything
    * else survives byte-identical. The oracle applies the same
    * conditional deletion relationally. */
  def q177MergeCondDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeDel(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q178
  /** The events box over the COMPOSITE-key merge fixture — doubled
    * `value` for `event_id % 10 = 4`, matched on
    * (user_id, event_id). */
  def q178MergeMultikey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeMultikey(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q179
  /** The events box over the conditional matched-UPDATE merge fixture:
    * `event_id % 10 = 6` rows took `value := 100 - value` exactly when
    * the proposal exceeded the sitting value. The oracle replays the
    * identical double-precision expression. */
  def q179MergeCondUpdate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeCondUpd(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q183
  /** The events box over the PARTIAL-SET merge fixture: `event_id % 10
    * = 8` rows carry `value + 1000`, every other column untouched. The
    * oracle replays the identical pair-wise assignment. */
  def q183MergePartialSet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeSet(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q184
  /** The events box over the SYNC merge fixture: the table is exactly
    * the source afterwards — even event_ids with doubled value, odd
    * event_ids gone (deleted by the BY SOURCE arm). */
  def q184MergeSync(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeSync(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q171
  /** The events box over the SNAPSHOT of the two-half [[Layout.append]]
    * fixture: the appended half must be fully adopted (promoted files,
    * incrementally-extended index, committing manifest), so the
    * snapshot serves the union and the oracle is the plain
    * layout-invariance SQL. */
  def q171AppendBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsAppend(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q173
  /** Point lookups through the BLOOM skipping index: `event_id IN (…)`
    * over the interleaved copy, where every file's min/max hull contains
    * every key (range pruning proves nothing) and only the per-file
    * bloom refutes — layout machinery only, so the oracle is the same
    * lookup over the original table. */
  def q173BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopePruneRule.ensure(spark)
    spark.read.parquet(zEventsBloom(spark, dir))
      .filter($"event_id".isin(3L, 57L, 111L))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        max($"user_id").as("mx_user"))
  }

  // ---------------------------------------------------------------- q181
  /** A 100-value point-lookup IN over the bloom-indexed interleaved copy
    * — past both the per-value proof cap and Catalyst's In→InSet
    * threshold, so the proof is the batched bloom probe: one hash set
    * against each file's bloom, pruning files no listed key lives in
    * even though every min/max hull covers every key. Values are all
    * ≡ 3 (mod 16), the fixture's file-assignment residue. */
  def q181BloomIn100(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopePruneRule.ensure(spark)
    spark.read.parquet(zEventsBloom(spark, dir))
      .filter($"event_id".isin(BloomIn100Ids: _*))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        max($"user_id").as("mx_user"))
  }

  private val BloomIn100Ids: Seq[Long] = (0 until 100).map(i => 16L * i + 3L)

  // ---------------------------------------------------------------- q175
  /** q161's box over the copy upserted BY ITS STRING KEY — every
    * `event_id % 10 = 3` row (addressed as `ev_key`) replaced with a
    * doubled `value`. The string key classifies through the prefix-long
    * interval stab + bloom refinement, never a nested loop; the oracle
    * applies the same keyed update relationally (ev_key ↔ event_id is
    * 1:1, so the oracle keys on event_id). */
  def q175StringUpsertBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsUpdStr(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q176
  /** The events box over the WIDENED table's snapshot: `bonus` was added
    * by a metadata-only [[Layout.addColumns]] commit after the even half
    * was written, so old files serve it as NULL and the appended odd
    * half carries `value * 10` — the per-type rollup sums both the
    * original value and the null-tolerant bonus. The oracle reconstructs
    * bonus relationally from the parity. */
  def q176WidenedAppendBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsWidened(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        sum(cents(coalesce($"bonus", lit(0d)))).as("sum_bonus_c"),
        sum(when($"bonus".isNull, 1L).otherwise(0L)).as("n_old"))
  }

  // ---------------------------------------------------------------- q165
  /** ROW-level CDC of the q160 delete — `graft_read_change_rows` between
    * the pre-delete and post-delete commits: the file-level delta
    * re-delivers every REWRITTEN file's surviving rows, but the row
    * diff (added files' rows `exceptAll` removed files' rows, retired
    * generation still resolvable) cancels them, leaving EXACTLY the
    * deleted box as `delete` rows and nothing as `insert`. The oracle
    * is the box itself over the original table. */
  def q165CdcDeleteRows(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    val path = zEventsDel(spark, dir)
    val toSeq = Manifest.latestSeq(spark, path).get
    spark.sql(
      s"""SELECT _change_type, event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_read_change_rows('$path', ${toSeq - 1}, $toSeq)
         |GROUP BY _change_type, event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q180
  /** ROW-level CDC of the q170 `UPDATE ... WHERE <box>` as PAIRED UPDATE
    * IMAGES: the updateWhere commit recorded its row-identity columns
    * (everything it did not assign) as `cdcPairKey`, so every updated
    * row's delete+insert arrives as `update_preimage`/`update_postimage`
    * — the Delta CDF convention — and nothing arrives as a plain
    * insert/delete. The oracle reconstructs both images from the
    * original table: preimages are the box rows as they were,
    * postimages the same rows with the identical tripling expression. */
  def q180CdcUpdateImages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = zEventsUpdWhere(spark, dir)
    val toSeq = Manifest.latestSeq(spark, path).get
    Layout.readChangeRows(spark, path, toSeq - 1, Some(toSeq))
      .groupBy($"_change_type", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q185
  /** q160's box over the MERGE-ON-READ deleted copy, read through the
    * snapshot: the deletion-vector sidecar filters the deleted
    * positions (`_metadata.row_index` anti-join) while every candidate
    * file stays byte-untouched — DeletionVectorSpec pins rewritten=0;
    * this oracle row pins that the DV read is exactly the delete. */
  def q185DvDeleteBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsDelDv(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q186
  /** ROW-level CDC of the q185 deletion-vector commit: no file moved,
    * but the per-file DV diff surfaces EXACTLY the newly-marked
    * positions as `delete` rows — the same delta the q165 copy-on-write
    * delete produces, so the oracle is the deleted box itself. */
  def q186DvCdcRows(spark: SparkSession, dir: String): DataFrame = {
    val path = zEventsDelDv(spark, dir)
    val toSeq = Manifest.latestSeq(spark, path).get
    import spark.implicits._
    Layout.readChangeRows(spark, path, toSeq - 1, Some(toSeq))
      .groupBy($"_change_type", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q187
  /** q185's delete MATERIALIZED by [[Layout.reifyDeletes]] and read
    * PLAINLY: only the DV'd files rewrote, the sidecar cleared, and the
    * listing read now agrees with the snapshot — the
    * write-cheap-then-read-cheap lifecycle (DV for the trickle delete,
    * reify/compaction to reclaim the probe). Same oracle as q160. */
  def q187DvReifiedBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsDelDvReified(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q188
  /** The events box over the LOW-CARDINALITY-LEADING-KEY composite
    * merge fixture — tripled `value` for `event_id % 10 = 7`, matched
    * on (event_type, event_id) where event_type's hull covers every
    * file: classification must prune through the second key component
    * (the round-17 per-column stab union). */
  def q188MergeLowcardKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeLowcard(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q189
  /** The no-ts-restriction events box over the CONDITIONED-sync merge
    * fixture: even event_ids carry the doubled source value everywhere;
    * odd event_ids are deleted ONLY inside the week the by-source arm's
    * condition names, surviving outside it — the semantics that
    * distinguish `WHEN NOT MATCHED BY SOURCE AND <cond>` from q184's
    * unconditioned sync. */
  def q189MergeSyncCond(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = spark.read.parquet(zEventsMergeSyncCond(spark, dir))
    z.filter($"user_id".between(2L, 9L))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q190
  /** The events box over the SCHEMA-EVOLUTION merge fixture's snapshot:
    * `event_id % 10 = 5` rows carry the doubled value and the evolved
    * `score` column; every other row null-fills score (its file was
    * never rewritten — the widening was a metadata commit). The oracle
    * reconstructs both relationally. */
  def q190MergeEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsMergeEvolve(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        sum(cents(coalesce($"score", lit(0d)))).as("sum_score_c"),
        sum(when($"score".isNull, 1L).otherwise(0L)).as("n_unscored"))
  }

  // ---------------------------------------------------------------- q191
  /** q159's box over the copy compacted THROUGH SQL (`graft_compact`,
    * the maintenance-verb table function) — compaction is layout-only
    * whichever surface invokes it, so the oracle is the same
    * original-table SQL, and the auto-prune rule serves the box through
    * the index the verb refreshed. */
  def q191SqlCompactBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.EnvelopePruneRule.ensure(spark)
    val z = spark.read.parquet(zEventsCompactedSql(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q192
  /** q161's box over the MERGE-ON-READ upserted copy (SQL `MERGE INTO`
    * under `spark.graft.merge.mode=dv`): matched rows serve from the
    * appended replacements while their originals sit position-marked in
    * never-rewritten files — results must equal copy-mode exactly, so
    * the oracle is q161's. */
  def q192DvUpsertBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsUpdDv(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q193
  /** ROW-level CDC of the q192 merge-on-read upsert as PAIRED UPDATE
    * IMAGES: the DV commit's delta pairs each key's marked-position
    * delete with its appended replacement on the recorded `event_id`
    * key — preimages are the original `event_id % 10 = 3` rows,
    * postimages the doubled ones. */
  def q193DvUpsertCdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = zEventsUpdDv(spark, dir)
    val toSeq = Manifest.latestSeq(spark, path).get
    Layout.readChangeRows(spark, path, toSeq - 1, Some(toSeq))
      .groupBy($"_change_type", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q194
  /** The events box over the DELETED-THEN-RESTORED copy: the rollback
    * must serve exactly the original rows — same oracle as the
    * untouched table (the restore-correctness contract; RestoreSpec
    * pins the file moves, schema/DV round trips, and the retention
    * error). */
  def q194RestoreBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsRestored(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q195
  /** INCREMENTAL corpus accounting off the CDC tap — the table-format
    * layer feeding the training-data layer: a token/char budget tracker
    * consumes `readChangeRows` of the DV-delete commit (the curation
    * pass that retired a doc_id range) instead of rescanning the
    * corpus. The delta is exactly the deleted docs, so the oracle is
    * the token arithmetic over that range. */
  def q195CdcTokenDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = zDocsDelDv(spark, dir)
    val toSeq = Manifest.latestSeq(spark, path).get
    Layout.readChangeRows(spark, path, toSeq - 1, Some(toSeq))
      .withColumn("toks", graft.functions.TextFunctions.tokens($"text"))
      .groupBy($"_change_type")
      .agg(count(lit(1)).as("n_docs"),
        sum(size($"toks").cast("long")).as("n_tokens"),
        sum(length($"text").cast("long")).as("n_chars"))
  }

  // ---------------------------------------------------------------- q196
  /** The events box over the MERGE-ON-READ GENERAL-merge fixture: the
    * full arm matrix (conditional UPDATE SET / DELETE, first-match-wins)
    * ran as a trickle mutation — positions in the sidecar, images
    * appended, zero candidate rewrites — and the snapshot must serve
    * exactly the copy-mode semantics the oracle reconstructs. */
  def q196DvGeneralMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsMergeDvArms(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q197
  /** q185's box over the AUTO-MATERIALIZE-threshold delete: files past
    * 20% pending deletion rewrote inside the verb, the rest stayed
    * merge-on-read — observationally identical to q185 (same oracle),
    * which is exactly the point: the threshold changes the physical
    * layout's convergence, never the answer. */
  def q197DvThresholdBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsDelDvThresh(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q198
  /** The events box spoken ENTIRELY through a registered table NAME —
    * `FROM graft_events_r18` in pure SQL, resolved by the catalog rule
    * to a fresh manifest snapshot. Layout-invariant: same oracle as the
    * plain box. */
  def q198NamedTableBox(spark: SparkSession, dir: String): DataFrame = {
    val out = zEventsNamed(spark, dir)
    graft.GraftCatalog.register(spark, "graft_events_r18", out)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_events_r18
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q199
  /** The events box over the SQL-INSERTED named table: `INSERT INTO
    * <name>` lowered onto the manifest-committing append — the snapshot
    * must serve the original rows PLUS the inserted derived slice, and
    * the oracle reconstructs both relationally. */
  def q199SqlInsertBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = Layout.readSnapshot(spark, zEventsInserted(spark, dir))
    z.filter($"user_id".between(2L, 9L) && $"ts_us".between(EvTsLo, EvTsHi - 1))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_v_c"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---------------------------------------------------------------- q200
  /** `count(*)` over a LIVE-DV indexed table answered ENTIRELY from
    * metadata (round 19): visible rows = the envelope index's physical
    * row counts − the sidecar's pending positions, both metadata-scale
    * — the [[graft.plans.EnvelopeAggRule]] DV extension. The query
    * REQUIRES the metadata-only plan (no scan outside `.envelopes`
    * survives optimization), so a regression back to a data scan fails
    * CORRECTNESS, not just bench; the oracle pins the subtraction is
    * exactly the deleted box. */
  def q200DvCountMeta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    graft.plans.EnvelopeAggRule.ensure(spark)
    val out = zEventsDelDvIdx(spark, dir)
    val df = Layout.readSnapshot(spark, out).agg(count(lit(1)).as("n"))
    val dataScans = df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation
          if !r.relation.isInstanceOf[HadoopFsRelation] ||
            !r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
              .forall(_.toString.endsWith(".envelopes")) => r
    }
    require(dataScans.isEmpty,
      s"q200: expected a metadata-only DV count plan, found data scans in:\n" +
        df.queryExecution.optimizedPlan)
    df
  }

  // ---------------------------------------------------------------- q201
  /** The events box through a name created by SQL DDL (round 19):
    * `CREATE TABLE … USING graft LOCATION` is intercepted at PARSE time
    * (the provider is not a DataSource class) and lowers onto a
    * registering RunnableCommand; the SELECT then resolves the name to
    * a fresh manifest snapshot. Layout-invariant — same oracle as the
    * plain box. */
  def q201DdlNamedBox(spark: SparkSession, dir: String): DataFrame = {
    val out = zEventsNamed(spark, dir)
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS graft_events_ddl19 USING graft LOCATION '$out'")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_events_ddl19
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q202
  /** q155's time travel in STANDARD SQL over a NAME (round 19): `FROM
    * <name> VERSION AS OF <seq>` — the catalog rule resolves the name
    * and plans over exactly the first commit's retained file set, so
    * the query sees even user_ids only (rows appended by commit 2
    * invisible). Same oracle as q155. */
  def q202SqlVersionAsOf(spark: SparkSession, dir: String): DataFrame = {
    val path = zEventsIncr(spark, dir)
    graft.GraftCatalog.register(spark, "graft_events_incr19", path)
    val firstSeq = Manifest.latestSeq(spark, path).get - 1
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM graft_events_incr19 VERSION AS OF $firstSeq
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q203
  /** q176's widened box with the WHOLE lifecycle in SQL (round 19):
    * CREATE TABLE … USING graft, `ALTER TABLE … ADD COLUMNS` (parse-time
    * interception → [[Layout.addColumns]] metadata commit), INSERT INTO
    * the widened shape, SELECT through the name. Old files serve the
    * new column as NULL; the oracle reconstructs bonus relationally
    * from the append parity — same oracle as q176. */
  def q203SqlAlterBox(spark: SparkSession, dir: String): DataFrame = {
    zEventsAltered(spark, dir)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  CAST(sum(CAST(round(coalesce(bonus, 0.0d) * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_bonus_c,
         |  CAST(sum(CASE WHEN bonus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old
         |FROM graft_events_alter19
         |WHERE user_id BETWEEN 2 AND 9
         |  AND ts_us BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- q204
  /** `graft_tables()` — the SHOW TABLES role (round 19): two fresh
    * registrations with known commit counts listed with their latest
    * seq, filtered to this query's own names (the catalog is shared
    * across the verify session). Golden VALUES oracle — the listing is
    * catalog state, not table data. */
  private def zTablesReg(spark: SparkSession, dir: String): String = cached(s"$dir|tables_reg") {
      val base = TextQueries.newTempDir("graft-zorder")
      val a = base.resolve("reg_a").toString
      val b = base.resolve("reg_b").toString
      spark.range(5L).toDF("id").coalesce(1).write.parquet(a)
      spark.range(5L).toDF("id").coalesce(1).write.parquet(b)
      Manifest.write(spark, a) // seq 0
      Manifest.write(spark, b) // seq 0
      Layout.append(spark, b, spark.range(5L, 8L).toDF("id")) // seq 1
      graft.GraftCatalog.register(spark, "graft_q204_a", a)
      graft.GraftCatalog.register(spark, "graft_q204_b", b)
      base.toString
  }

  def q204GraftTables(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftTableFunctions.ensure(spark)
    zTablesReg(spark, dir)
    spark.sql(
      """SELECT name, latest_seq FROM graft_tables()
        |WHERE name LIKE 'graft_q204%' ORDER BY name""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_sql_alter_box"       -> q203SqlAlterBox _,
    "q204_graft_tables"        -> q204GraftTables _,
    "q201_ddl_named_box"       -> q201DdlNamedBox _,
    "q202_sql_version_as_of"   -> q202SqlVersionAsOf _,
    "q200_dv_count_meta"       -> q200DvCountMeta _,
    "q199_sql_insert_box"      -> q199SqlInsertBox _,
    "q196_dv_general_merge"    -> q196DvGeneralMerge _,
    "q197_dv_threshold_box"    -> q197DvThresholdBox _,
    "q198_named_table_box"     -> q198NamedTableBox _,
    "q195_cdc_token_delta"     -> q195CdcTokenDelta _,
    "q194_restore_box"         -> q194RestoreBox _,
    "q192_dv_upsert_box"       -> q192DvUpsertBox _,
    "q193_dv_upsert_cdc"       -> q193DvUpsertCdc _,
    "q191_sql_compact_box"     -> q191SqlCompactBox _,
    "q190_merge_evolution"     -> q190MergeEvolution _,
    "q189_merge_sync_cond"     -> q189MergeSyncCond _,
    "q185_dv_delete_box"       -> q185DvDeleteBox _,
    "q186_dv_cdc_rows"         -> q186DvCdcRows _,
    "q187_dv_reified_box"      -> q187DvReifiedBox _,
    "q188_merge_lowcard_key"   -> q188MergeLowcardKey _,
    "q165_cdc_delete_rows"     -> q165CdcDeleteRows _,
    "q180_cdc_update_images"   -> q180CdcUpdateImages _,
    "q166_envelope_avg_agg"    -> q166EnvelopeAvgAgg _,
    "q167_part_group_agg"      -> q167PartGroupAgg _,
    "q168_sql_delete_box"      -> q168SqlDeleteBox _,
    "q169_sql_merge_box"       -> q169SqlMergeBox _,
    "q170_sql_update_box"      -> q170SqlUpdateBox _,
    "q171_append_box"          -> q171AppendBox _,
    "q173_bloom_lookup"        -> q173BloomLookup _,
    "q181_bloom_in100"         -> q181BloomIn100 _,
    "q175_string_upsert_box"   -> q175StringUpsertBox _,
    "q176_widened_append_box"  -> q176WidenedAppendBox _,
    "q177_merge_cond_delete"   -> q177MergeCondDelete _,
    "q178_merge_multikey"      -> q178MergeMultikey _,
    "q179_merge_cond_update"   -> q179MergeCondUpdate _,
    "q183_merge_partial_set"   -> q183MergePartialSet _,
    "q184_merge_sync"          -> q184MergeSync _,
    "q137_zorder_events_box"   -> q137ZorderEventsBox _,
    "q138_zorder_lineitem_box" -> q138ZorderLineitemBox _,
    "q141_sql_tf_zorder"       -> q141SqlTfZorder _,
    "q142_zorder_pruned_read"  -> q142ZorderPrunedRead _,
    "q143_sql_tf_pruned_read"  -> q143SqlTfPrunedRead _,
    "q144_envelope_auto_prune" -> q144EnvelopeAutoPrune _,
    "q145_quantile_zorder_box" -> q145QuantileZorderBox _,
    "q146_partitioned_pruned_box" -> q146PartitionedPrunedBox _,
    "q147_sql_tf_pruned_read_ts"  -> q147SqlTfPrunedReadTs _,
    "q148_partitioned_auto_prune" -> q148PartitionedAutoPrune _,
    "q149_sql_tf_read_healed"     -> q149SqlTfReadHealed _,
    "q150_sql_tf_read_snapshot"   -> q150SqlTfReadSnapshot _,
    "q151_sql_tf_read_changes"    -> q151SqlTfReadChanges _,
    "q152_envelope_stats_agg"     -> q152EnvelopeStatsAgg _,
    "q153_envelope_grouped_agg"   -> q153EnvelopeGroupedAgg _,
    "q154_envelope_filtered_agg"  -> q154EnvelopeFilteredAgg _,
    "q155_sql_tf_time_travel"     -> q155SqlTfTimeTravel _,
    "q156_envelope_sum_agg"       -> q156EnvelopeSumAgg _,
    "q159_compacted_box"          -> q159CompactedBox _,
    "q160_delete_where_box"       -> q160DeleteWhereBox _,
    "q161_upsert_box"             -> q161UpsertBox _,
    "q163_table_stats"            -> q163TableStats _,
    "q164_delete_partitioned_box" -> q164DeletePartitionedBox _)

  /** The layout-invariance oracle every events-box layout query shares:
    * same rows no matter how the copy was clustered, partitioned,
    * indexed, or served. */
  private val EventsBoxOracle =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
       |  count(DISTINCT user_id) AS n_users
       |FROM events
       |WHERE user_id BETWEEN 2 AND 9
       |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
       |GROUP BY event_type""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q192_dv_upsert_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 3 THEN value * 2 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q193_dv_upsert_cdc" ->
      s"""SELECT 'update_preimage' AS _change_type, event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE event_id % 10 = 3
         |GROUP BY event_type
         |UNION ALL
         |SELECT 'update_postimage' AS _change_type, event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 2 * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE event_id % 10 = 3
         |GROUP BY event_type""".stripMargin,
    "q190_merge_evolution" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(CASE WHEN event_id % 10 = 5 THEN value * 2
         |                            ELSE value END * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_v_c,
         |  CAST(sum(CAST(round(CASE WHEN event_id % 10 = 5 THEN value * 10
         |                            ELSE 0 END * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_score_c,
         |  CAST(sum(CASE WHEN event_id % 10 = 5 THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_unscored
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q189_merge_sync_cond" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(CASE WHEN event_id % 2 = 0 THEN value * 2
         |                            ELSE value END * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND NOT (event_id % 2 = 1
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q185_dv_delete_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q196_dv_general_merge" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 1 THEN value * 2 ELSE value END AS value
         |      FROM events
         |      WHERE NOT (event_id % 10 = 1 AND user_id NOT BETWEEN 0 AND 4))
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q197_dv_threshold_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q198_named_table_box"        -> EventsBoxOracle,
    "q201_ddl_named_box"          -> EventsBoxOracle,
    "q203_sql_alter_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  CAST(sum(CAST(round(CASE WHEN event_id % 2 = 1 THEN value * 10
         |                            ELSE 0 END * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_bonus_c,
         |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q204_graft_tables" ->
      """SELECT * FROM (VALUES ('graft_q204_a', CAST(0 AS BIGINT)),
        |                      ('graft_q204_b', CAST(1 AS BIGINT)))
        |  AS t(name, latest_seq) ORDER BY name""".stripMargin,
    "q202_sql_version_as_of" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND user_id % 2 = 0
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q200_dv_count_meta" ->
      s"""SELECT count(*) AS n FROM events
         |WHERE NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})""".stripMargin,
    "q199_sql_insert_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type, value FROM events
         |      UNION ALL
         |      SELECT user_id, ts, event_type, value * 10 AS value
         |      FROM events WHERE event_id % 100 = 0)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q186_dv_cdc_rows" ->
      s"""SELECT 'delete' AS _change_type, event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 3 AND 6
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q187_dv_reified_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q188_merge_lowcard_key" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 7 THEN value * 3 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q165_cdc_delete_rows" ->
      s"""SELECT 'delete' AS _change_type, event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 3 AND 6
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q180_cdc_update_images" ->
      s"""SELECT 'update_preimage' AS _change_type, event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 3 AND 6
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type
         |UNION ALL
         |SELECT 'update_postimage' AS _change_type, event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 3 * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 3 AND 6
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q144_envelope_auto_prune"    -> EventsBoxOracle,
    "q191_sql_compact_box"        -> EventsBoxOracle,
    "q194_restore_box"            -> EventsBoxOracle,
    "q195_cdc_token_delta" ->
      s"""SELECT 'delete' AS _change_type, count(*) AS n_docs,
         |  CAST(sum(len(list_filter(string_split_regex(trim(text),
         |    '[ \\t\\n\\r\\f\\x0B]+'), t -> t <> ''))) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars
         |FROM documents
         |WHERE doc_id BETWEEN 100 AND 149""".stripMargin,
    "q171_append_box"             -> EventsBoxOracle,
    "q173_bloom_lookup" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  max(user_id) AS mx_user
         |FROM events
         |WHERE event_id IN (3, 57, 111)
         |GROUP BY event_type""".stripMargin,
    "q181_bloom_in100" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  max(user_id) AS mx_user
         |FROM events
         |WHERE event_id IN (${BloomIn100Ids.mkString(", ")})
         |GROUP BY event_type""".stripMargin,
    "q159_compacted_box"          -> EventsBoxOracle,
    "q163_table_stats" -> "SELECT count(*) AS n_rows FROM events",
    "q164_delete_partitioned_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q168_sql_delete_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q170_sql_update_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN user_id BETWEEN 3 AND 6
         |              AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |             THEN value * 3 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q169_sql_merge_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 3 THEN value * 2 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q160_delete_where_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (user_id BETWEEN 3 AND 6
         |           AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1})
         |GROUP BY event_type""".stripMargin,
    "q176_widened_append_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  CAST(sum(CAST(round(CASE WHEN event_id % 2 = 1 THEN value * 10
         |                            ELSE 0 END * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_bonus_c,
         |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q177_merge_cond_delete" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |  AND NOT (event_id % 10 = 3 AND value < 40.0)
         |GROUP BY event_type""".stripMargin,
    "q178_merge_multikey" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 4 THEN value * 2 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q179_merge_cond_update" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 6 AND (100.0 - value) > value
         |             THEN 100.0 - value ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q184_merge_sync" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 2 * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE event_id % 2 = 0
         |  AND user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q183_merge_partial_set" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 8 THEN value + 1000.0 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q175_string_upsert_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 3 THEN value * 2 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q161_upsert_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, ts, event_type,
         |        CASE WHEN event_id % 10 = 3 THEN value * 2 ELSE value END AS value
         |      FROM events)
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q146_partitioned_pruned_box" -> EventsBoxOracle,
    "q147_sql_tf_pruned_read_ts"  -> EventsBoxOracle,
    "q148_partitioned_auto_prune" -> EventsBoxOracle,
    "q149_sql_tf_read_healed"     -> EventsBoxOracle,
    "q150_sql_tf_read_snapshot"   -> EventsBoxOracle,
    "q151_sql_tf_read_changes" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND user_id % 2 = 1
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q155_sql_tf_time_travel" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND user_id % 2 = 0
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q152_envelope_stats_agg" ->
      s"""SELECT count(*) AS n, min(user_id) AS mn_user, max(user_id) AS mx_user,
         |  min(epoch_us(ts)) AS mn_ts, max(epoch_us(ts)) AS mx_ts,
         |  count(user_id) AS n_user
         |FROM events""".stripMargin,
    "q153_envelope_grouped_agg" ->
      s"""SELECT CAST(weekofyear(ts) AS INTEGER) AS wk, count(*) AS n,
         |  min(epoch_us(ts)) AS mn_ts, max(epoch_us(ts)) AS mx_ts
         |FROM events GROUP BY 1""".stripMargin,
    "q154_envelope_filtered_agg" ->
      s"""SELECT CAST(weekofyear(ts) AS INTEGER) AS wk, count(*) AS n,
         |  min(epoch_us(ts)) AS mn_ts, max(epoch_us(ts)) AS mx_ts
         |FROM events WHERE weekofyear(ts) BETWEEN 2 AND 3 GROUP BY 1""".stripMargin,
    "q156_envelope_sum_agg" ->
      s"""SELECT CAST(weekofyear(ts) AS INTEGER) AS wk, count(*) AS n,
         |  CAST(sum(user_id) AS BIGINT) AS sum_uid, max(epoch_us(ts)) AS mx_ts
         |FROM events GROUP BY 1""".stripMargin,
    "q166_envelope_avg_agg" ->
      s"""SELECT CAST(weekofyear(ts) AS INTEGER) AS wk, count(*) AS n,
         |  avg(user_id) AS avg_uid
         |FROM events GROUP BY 1""".stripMargin,
    "q167_part_group_agg" ->
      s"""SELECT CAST(weekofyear(ts) AS INTEGER) AS wk, count(*) AS n,
         |  min(epoch_us(ts)) AS mn_ts, max(epoch_us(ts)) AS mx_ts
         |FROM events GROUP BY 1""".stripMargin,
    "q145_quantile_zorder_box" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
         |  count(DISTINCT l_partkey) AS n_parts
         |FROM lineitem
         |WHERE l_partkey BETWEEN 20 AND 150
         |  AND epoch_us(l_shipdate) BETWEEN $LiTsLo AND ${LiTsHi - 1}
         |GROUP BY l_returnflag""".stripMargin,
    "q137_zorder_events_box" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q143_sql_tf_pruned_read" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q142_zorder_pruned_read" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q141_sql_tf_zorder" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE user_id BETWEEN 2 AND 9
         |  AND epoch_us(ts) BETWEEN $EvTsLo AND ${EvTsHi - 1}
         |GROUP BY event_type""".stripMargin,
    "q138_zorder_lineitem_box" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
         |  count(DISTINCT l_partkey) AS n_parts
         |FROM lineitem
         |WHERE l_partkey BETWEEN 20 AND 150
         |  AND epoch_us(l_shipdate) BETWEEN $LiTsLo AND ${LiTsHi - 1}
         |GROUP BY l_returnflag""".stripMargin)
}
