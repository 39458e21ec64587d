package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.agg.MisraGriesAgg

/** Exact heavy hitters at 100 TB: a Misra–Gries sketch pass generates a
  * GUARANTEED superset of the items above the frequency threshold, then one
  * exact counting pass over just those candidates verifies — the
  * sketch-prune-then-verify shape every dedup operator in this repo uses,
  * applied to frequency mining (e.g. corpus-level boilerplate tokens,
  * over-represented n-grams).
  *
  * Why not `groupBy(item).count.filter(cnt > φn)`: that shuffles EVERY
  * distinct item — at 100 TB of tokens the shuffle is the corpus. Here the
  * sketch pass shuffles k counters per partition (map-side partial
  * aggregate, O(k) state — [[MisraGriesAgg]]), and the exact pass shuffles
  * only rows matching the ≤ k candidates (broadcast hash semi-filter, no
  * shuffle of misses). Result is EXACT, not approximate: MG guarantees
  * every item with true count > n/(k+1) survives the sketch, so with
  * φ ≥ 1/(k+1) no true heavy hitter can be missed, and the verify pass
  * removes any false positives with exact counts.
  */
object HeavyHitters {

  /** Items of `itemCol` whose exact frequency strictly exceeds
    * `phiPpm` ppm of the total item count.
    *
    * @param df       one item per row
    * @param itemCol  string item expression
    * @param phiPpm   threshold in parts-per-million of n; must satisfy
    *                 φ ≥ 1/(k+1), i.e. phiPpm · (k+1) ≥ 1 000 000, for the
    *                 exactness guarantee
    * @param k        sketch counters (default 4 095 → exact for any
    *                 φ ≥ 244 ppm)
    * @return (item, cnt, ppm) — exact counts, ppm = cnt·1e6 div n
    */
  def exact(df: DataFrame, itemCol: Column, phiPpm: Long, k: Int = 4095): DataFrame = {
    require(phiPpm * (k + 1) >= 1000000L,
      s"phiPpm=$phiPpm too small for k=$k counters: need phiPpm*(k+1) >= 1e6 or true heavy hitters can evade the sketch")
    val items = df.select(itemCol.cast("string").as("item")).filter(col("item").isNotNull)

    val mg = udaf(MisraGriesAgg(k))
    val summary = items.agg(mg(col("item")).as("s"))
      .select(col("s.entries.item").as("cands"), col("s.n").as("n"))
    // ≤ k+2 values ever reach the driver, by construction of the sketch.
    val row   = summary.head()
    val cands = row.getSeq[String](0)
    val n     = row.getLong(1)

    items
      .filter(col("item").isInCollection(cands))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 1000000L > lit(n) * phiPpm)
      .withColumn("ppm", expr(s"cnt * 1000000 div ${n}L"))
  }

  /** Per-group exact heavy hitters: for each group, items whose frequency
    * within the group strictly exceeds `phiPpm` ppm of the GROUP's item
    * count (per-domain boilerplate tokens, per-source trending n-grams).
    *
    * Unlike [[exact]], nothing touches the driver: the per-group sketches
    * stay a DataFrame, their candidate entries explode to a (group, item)
    * table of ≤ |groups|·k rows (materialized once through
    * [[Checkpoints.stage]]), and the verify pass is a semi-join of the
    * item stream against it — BROADCAST while the measured candidate size
    * fits the session's `autoBroadcastJoinThreshold`, falling back to a
    * plain shuffle semi-join on (group, item) above it (same exactness,
    * still no driver involvement; group cardinality is then unbounded).
    * The exactness argument is [[exact]]'s, applied per group: MG with k
    * counters over the group's stream cannot miss an item above
    * n_g/(k+1).
    *
    * EAGER, batch-only: constructing the returned DataFrame runs two jobs
    * up front (the candidate-table localCheckpoint through
    * [[Checkpoints.stage]] and the broadcast-vs-shuffle stats `head()`) —
    * unlike the fully-lazy [[exact]]. A streaming frame therefore cannot
    * flow through here (the streaming face is
    * [[graft.streaming.StreamingPipeline]]'s per-closed-window sink,
    * which calls this on each closed batch) and fails loudly below
    * rather than with an opaque checkpoint error. The staged candidates
    * stay cached until the caller releases them with
    * [[Checkpoints.freeAll]] on the returned frame, once it is written.
    *
    * @return (groupCols..., item, cnt, ppm) — exact counts within group
    */
  def exactPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      itemCol: Column,
      phiPpm: Long,
      k: Int = 4095
  ): DataFrame = {
    require(!df.isStreaming,
      "exactPerGroup is an eager batch operator (it materializes the candidate table and " +
        "measures it before returning); for streams use StreamingPipeline's per-closed-window " +
        "heavy-hitter sink, which runs this per closed window")
    require(phiPpm * (k + 1) >= 1000000L,
      s"phiPpm=$phiPpm too small for k=$k counters: need phiPpm*(k+1) >= 1e6 or true heavy hitters can evade the sketch")
    val items = df
      .select((groupCols.map(col) :+ itemCol.cast("string").as("item")): _*)
      .filter(col("item").isNotNull)

    val mg = udaf(MisraGriesAgg(k))
    val cands = Checkpoints.stage(items
      .groupBy(groupCols.map(col): _*)
      .agg(mg(col("item")).as("s"))
      .select(groupCols.map(col) ++ Seq(col("s.n").as("__n"), explode(col("s.entries.item")).as("item")): _*))

    // Broadcast-vs-shuffle from the MATERIALIZED candidate table's actual
    // volume (row count + item bytes; 64 B/row covers group cols and row
    // overhead — an order-of-magnitude gate, not an exact accountant)
    // against the session's broadcast ceiling. Past the ceiling the
    // semi-join shuffles instead — the graceful path for million-group
    // corpora where |groups|·k no longer fits one executor's memory.
    val statsRow  = cands.agg(count(lit(1)), sum(length(col("item")))).head()
    val estBytes  = statsRow.getLong(0) * 64L +
      (if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1) * 2L)
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    val candsSide = if (threshold > 0 && estBytes <= threshold) broadcast(cands) else cands

    items
      .join(candsSide, groupCols :+ "item")
      .groupBy((groupCols :+ "item").map(col): _*)
      .agg(count(lit(1)).as("cnt"), first(col("__n")).as("__n"))
      .filter(col("cnt") * 1000000L > col("__n") * phiPpm)
      .withColumn("ppm", expr("cnt * 1000000 div __n"))
      .drop("__n")
  }
}
