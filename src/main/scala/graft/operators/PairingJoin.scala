package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stream-pairing operators — the relational re-expression of the
  * reference's in-memory pairing state machines (SURVEY.md §2.5).
  *
  * The reference (`ossplugins/network-latency/processor.go:122-328`,
  * `ossplugins/vote-latency/processor.go:26-65`) reads ONE time-ordered
  * event stream and branches on direction inside each per-key machine. The
  * confirm machines ([[confirmOnReceive]], [[confirmEitherOrder]]) take
  * that stream as it is: one frame of tagged rows, `side` ("send" or
  * "recv") and `ts_ns`, replayed by windows partitioned on the key. The
  * FIFO matchers ([[fifo]], [[fifoAtArrival]]) pair a left against a right
  * frame: `row_number()` per (key, side) gives each occurrence an ordinal,
  * and an equi-join on (key, ordinal) reproduces exact FIFO matching —
  * fully distributed, one shuffle per side on the pairing key, no driver
  * state.
  *
  * Scale note: both windows and the join shuffle on the same key columns,
  * so the exchange is reused across the window and join stages; skewed
  * keys are handled by AQE skew-join splitting.
  */
object PairingJoin {

  /** The confirm machines' event order: time, then sends before receives
    * at one timestamp — the reference's global sort is unstable
    * (`sort.Slice`), so this is the deterministic choice. A string `side`
    * would sort "recv" first, so the tie order is explicit. */
  private def eventOrder(keys: Seq[String]) =
    Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts_ns").asc, when(col("side") === "send", 0).otherwise(1).asc)

  /** FIFO multiset pairing: the n-th `left` row is matched with the n-th
    * `right` row within each key group, each side ordered by `orderBy`
    * (must be a total order for determinism — include a unique tiebreak).
    *
    * Column names in `left` and `right` must be disjoint apart from `keys`.
    *
    * @param joinType "inner" keeps matched pairs only (reference's
    *                 confirmed records); "full_outer" additionally yields
    *                 unmatched rows from both sides (reference's
    *                 unmatched-leftovers flush, processor.go:449-476).
    */
  def fifo(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftOrderBy: Seq[String],
      rightOrderBy: Seq[String],
      joinType: String = "inner"
  ): DataFrame = {
    val lw = Window.partitionBy(keys.map(col): _*).orderBy(leftOrderBy.map(col): _*)
    val rw = Window.partitionBy(keys.map(col): _*).orderBy(rightOrderBy.map(col): _*)
    val l  = left.withColumn("pair_seq", row_number().over(lw))
    val r  = right.withColumn("pair_seq", row_number().over(rw))
    l.join(r, keys :+ "pair_seq", joinType)
  }

  /** The faithful send/receive confirmation machine of the vote-latency
    * and block-parts processors (`vote-latency/processor.go:26-65`,
    * `block-parts/processor.go:43-73`), re-expressed as ONE window over
    * the per-key event stream `sides` (`keys`, `side`, `ts_ns` and the
    * `carry` columns):
    *
    *  - a send OVERWRITES the key's entry (`processor.go:52-53`);
    *  - a receive with NO prior event at the key creates the entry
    *    silently (status Received, nothing emitted);
    *  - every LATER receive emits a confirmation whose sent time is the
    *    entry's — i.e. the last send before it. If the entry chain began
    *    with a receive and no send has occurred, the reference computes
    *    latency from Go's zero time; we emit a NULL sent time instead
    *    (documented rationalization, SURVEY §7.4-3);
    *  - ALIASING (`processor.go:43-45`): each confirming receive appends
    *    the entry POINTER to the results and leaves it in the map, and a
    *    later confirming receive MUTATES that same struct before appending
    *    it again — so an entry confirmed k times between sends yields k
    *    IDENTICAL rows, all carrying the ts/latency of the LAST confirming
    *    receive of that entry's lifetime (an "epoch": from the entry-
    *    creating event to the next overwriting send, which freezes the
    *    struct).
    *
    * Ties at equal timestamp process sends before receives ([[eventOrder]]).
    *
    * `carry` columns ride along from the event that CREATED the key's
    * current entry: the last send if any, else the FIRST receive — exactly
    * the reference's `vl.Vote` (entry creation sets it, `processor.go:37,52`;
    * a confirming receive never replaces it), so receive-only chains emit
    * the first receive's payload, not NULL.
    *
    * Relationally: one window partitioned by key in event order supplies
    * "any prior event?", "last send ts" and the entry payload; a running
    * count of sends assigns each event its epoch, and a second window over
    * (key, epoch) — same shuffle key (hash partitioning on the key subset
    * satisfies the clustering, so only an extra sort, no exchange) —
    * replaces each confirming receive's ts with the epoch-final one. A
    * single shuffle on the key, no join at all.
    *
    * Output: one row per confirming receive — `keys`, `carry`, `sent_ns`
    * and `received_ns`.
    */
  def confirmOnReceive(
      sides: DataFrame,
      keys: Seq[String],
      carry: Seq[String] = Seq.empty
  ): DataFrame = {
    val w = eventOrder(keys).rowsBetween(Window.unboundedPreceding, -1)
    val wCum = eventOrder(keys).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isSend = col("side") === "send"
    val withState = sides.select(((keys :+ "side" :+ "ts_ns") ++ carry).map(col): _*)
      .withColumn("__prior", count(lit(1)).over(w))
      .withColumn("__last_send", last(when(isSend, col("ts_ns")), ignoreNulls = true).over(w))
      .withColumn("__epoch", sum(when(isSend, 1).otherwise(0)).over(wCum))
    val carried = carry.foldLeft(withState) { (d, c) =>
      d.withColumn(c, coalesce(
        last(when(isSend, col(c)), ignoreNulls = true).over(w),
        first(when(!isSend, col(c)), ignoreNulls = true).over(w)))
    }
    // The reference's aliasing: every appended row of an entry ends up with
    // the values of the LAST mutation — the final confirming receive of the
    // entry's epoch (whole-partition frame; no orderBy, so the frame spans
    // the full (key, epoch) group).
    val confirms = !isSend && col("__prior") >= 1
    val wEpoch = Window.partitionBy((keys :+ "__epoch").map(col): _*)
    carried
      .withColumn("__final_recv", max(when(confirms, col("ts_ns"))).over(wEpoch))
      .filter(confirms)
      .withColumn("sent_ns", col("__last_send"))
      .withColumn("received_ns", col("__final_recv"))
      .drop("ts_ns", "side", "__prior", "__last_send", "__epoch", "__final_recv")
  }

  /** The faithful either-order confirmation machine of the p2p-messages
    * processor (`p2p-messages/processor.go:78-110` per family) over the
    * per-key event stream `sides` (`keys`, `side`, `ts_ns`): like
    * [[confirmOnReceive]], but a SEND can also confirm — when the key's
    * entry is in Received state (a receive arrived first), the send emits
    * a confirmation against the entry-creating FIRST receive (latency
    * negative). State analysis of the reference machine gives the closed
    * form:
    *
    *  - every receive with >= 1 prior send confirms against the LAST send
    *    before it (send overwrites entry unless it is in Received state);
    *  - the FIRST send at a key confirms against the FIRST receive if any
    *    receive precedes it (Received-state entry);
    *  - a receive whose priors are only receives hits a nil-interface
    *    type assertion in the reference (`processor.go:102` — it would
    *    panic); rationalized here to a NULL sent time confirmation;
    *  - ties at equal timestamp process sends first ([[eventOrder]]).
    *
    * One window pass and one filter: each confirming event, of either
    * side, becomes one row of `keys`, `sent_ns` and `received_ns`.
    */
  def confirmEitherOrder(sides: DataFrame, keys: Seq[String]): DataFrame = {
    val w = eventOrder(keys).rowsBetween(Window.unboundedPreceding, -1)
    val isSend = col("side") === "send"
    sides.select((keys :+ "side" :+ "ts_ns").map(col): _*)
      .withColumn("__prior_s", count(when(isSend, 1)).over(w))
      .withColumn("__prior_r", count(when(!isSend, 1)).over(w))
      .withColumn("__last_send", last(when(isSend, col("ts_ns")), ignoreNulls = true).over(w))
      .withColumn("__first_recv", min(when(!isSend, col("ts_ns"))).over(w))
      .filter(
        (!isSend && (col("__prior_s") >= 1 || col("__prior_r") >= 1)) ||
          (isSend && col("__prior_s") === 0 && col("__prior_r") >= 1))
      // a receive's sent time is NULL when no send precedes it (the
      // reference's panic, rationalized)
      .withColumn("sent_ns", when(isSend, col("ts_ns")).otherwise(col("__last_send")))
      .withColumn("received_ns", when(isSend, col("__first_recv")).otherwise(col("ts_ns")))
      .drop("side", "ts_ns", "__prior_s", "__prior_r", "__last_send", "__first_recv")
  }

  /** One-directional FIFO queue matching with discard-at-empty — the
    * raw-hash fallback pool of the network-latency processor
    * (`network-latency/processor.go:295-328`): left rows (no-peer sends)
    * enqueue per key in time order; each right row (receive) pops the
    * OLDEST pending left row AT ITS ARRIVAL, and a right row arriving when
    * the queue is empty is never matched — the fallback is tried exactly
    * once, at the receive's own arrival, so a later-arriving send cannot
    * claim it (unlike [[fifo]]'s bidirectional rank pairing, where both
    * sides enqueue and the i-th left always meets the i-th right).
    *
    * Relationally: per key, a running sum S (+1 left, -1 right, ties
    * left-first) reflected at zero via the prefix-minimum identity
    * L = S - min(0, min S) gives the queue depth; a right row matches iff
    * the pre-arrival depth is positive. The j-th matching right row pops
    * the j-th left row (queue FIFO), so a second windowed counter pass
    * assigns pop ordinals and an equi-join on (key, ordinal) pairs them.
    * Three window passes + one join, all shuffled on the same key.
    *
    * Output: matched pairs (all left + right columns), unmatched left rows
    * (right columns NULL) and unmatched right rows (left columns NULL) —
    * [[fifo]]'s "full_outer" shape. Left and right column names must be
    * disjoint apart from `keys`.
    */
  def fifoAtArrival(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String
  ): DataFrame = {
    val leftCols  = left.columns.filterNot(keys.contains).toSeq
    val rightCols = right.columns.filterNot(keys.contains).toSeq
    val l = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(0))
    val r = right.withColumn("__ts", col(rightTs)).withColumn("__side", lit(1))
    val stream = l.unionByName(r, allowMissingColumns = true)
    val wCum = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withS = stream
      .withColumn("__s", sum(when(col("__side") === 0, 1).otherwise(-1)).over(wCum))
    val withDepth = withS
      .withColumn("__s_prev", coalesce(last(col("__s")).over(wPrev), lit(0)))
      .withColumn("__min_prev", least(coalesce(min(col("__s")).over(wPrev), lit(0)), lit(0)))
      .withColumn("__matched",
        col("__side") === 1 && (col("__s_prev") - col("__min_prev")) > 0)
    // separate ordinals: the j-th matching right row pops the j-th left row
    val withSeq = withDepth
      .withColumn("__lseq", sum(when(col("__side") === 0, 1).otherwise(0)).over(wCum))
      .withColumn("__rseq", sum(when(col("__matched"), 1).otherwise(0)).over(wCum))
    val lOut = withSeq.filter(col("__side") === 0)
      .withColumn("__seq", col("__lseq"))
      .select((keys ++ leftCols :+ "__seq").map(col): _*)
    val rMatched = withSeq.filter(col("__side") === 1 && col("__matched"))
      .withColumn("__seq", col("__rseq"))
      .select((keys ++ rightCols :+ "__seq").map(col): _*)
    val rUnmatched = withSeq.filter(col("__side") === 1 && !col("__matched"))
      .select((keys ++ rightCols).map(col): _*)
    val paired = lOut.join(rMatched, keys :+ "__seq", "left_outer").drop("__seq")
    paired.unionByName(rUnmatched, allowMissingColumns = true)
  }

  /** Last-send / first-receive pairing — the vote-latency quirk
    * (`vote-latency/processor.go:52-53`): a later send overwrites the
    * pending entry, so only the LAST send per key pairs, and it pairs with
    * the FIRST receive that arrives after it. Keeps send-before-receive
    * pairs only (the reference confirms only that order).
    *
    * Each side reduces to one row per key via `max_by`/`min_by` over the
    * (ts, tiebreak…) ordering struct — declarative aggregates that
    * partial-combine map-side, so per-key traffic across the shuffle is
    * ONE row per partition instead of the rank-window formulation's
    * sort of every event in the key's partition (the struct comparison
    * is lexicographic, exactly the window's multi-column order; the
    * tiebreak columns make the ordering total, so the picked row is
    * deterministic). */
  def lastSendFirstReceive(
      sends: DataFrame,
      receives: DataFrame,
      keys: Seq[String],
      sendTs: String,
      recvTs: String,
      sendTiebreak: Seq[String],
      recvTiebreak: Seq[String]
  ): DataFrame = {
    val kCols = keys.map(col)
    def onePerKey(df: DataFrame, ts: String, tiebreak: Seq[String], largest: Boolean): DataFrame = {
      val ord = struct((col(ts) +: tiebreak.map(col)): _*)
      val all = struct(df.columns.toIndexedSeq.map(col): _*)
      df.groupBy(kCols: _*)
        .agg((if (largest) max_by(all, ord) else min_by(all, ord)).as("__r"))
        .select(kCols ++ df.columns.filterNot(keys.contains)
          .map(c => col(s"__r.`$c`").as(c)): _*)
    }
    onePerKey(sends, sendTs, sendTiebreak, largest = true)
      .join(onePerKey(receives, recvTs, recvTiebreak, largest = false), keys)
      .filter(col(sendTs) <= col(recvTs))
  }
}
