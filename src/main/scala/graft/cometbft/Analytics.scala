package graft.cometbft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{ExactPercentiles, PairingJoin, Sessionize}

/** One output table of an analytic: its name, the tables it reads
  * besides `events`, and how to build it from `events` and a lookup of
  * those reads. A table is the pipeline's one unit of scheduling and of
  * sharing: [[Pipeline]] writes a table once every table it reads has
  * been written, and hands its build the STORED tables — the reference's
  * "store once, read downstream" boundary (`internal/storage/mongo.go:70-77`),
  * never a cached frame. */
final case class Table(name: String, reads: String*)(
    val build: (DataFrame, String => DataFrame) => DataFrame)

/** The reference's 9 analytics plugins (SURVEY.md §2.5-§2.6) re-expressed as
  * distributed DataFrame jobs over the normalized events table.
  *
  * Each analytic declares its [[Table]]s — the Spark analog of the plugin
  * interface (`pkg/pluginsdk/interfaces.go:10-19`); [[Pipeline]] writes
  * each to the warehouse, mirroring `StoreResults`
  * (`internal/storage/mongo.go:70-77`).
  *
  * Deliberate deviations from the reference's order-dependent in-memory
  * machines are rationalized to deterministic relational semantics and
  * documented per analytic (SURVEY §7.4-3).
  */
trait Analytic {
  def name: String
  def tables: Seq[Table]

  /** Every table as a lazy frame over `events`, without writing: each
    * read is built from its producer's declaration (this analytic's
    * tables first, then [[Analytics.all]]'s). */
  def run(events: DataFrame): Seq[(String, DataFrame)] = {
    def read(t: String): DataFrame = Analytics.producer(t, tables).build(events, read)
    tables.map(t => t.name -> t.build(events, read))
  }
}

object Analytics {

  // entering_{prevote,precommit}_wait_step never occur: the reference's
  // first-match step inference (`parsers.go:94-128`) collapses wait lines
  // into the non-wait types, and Normalize replicates that. The wait
  // entries are retained here for parity with the reference's own dead
  // switch cases (`convereter.go:179-190`) and dead stepOrder slots
  // (`consensus-timing/processor.go:109`).
  private val lifecycleTypes = Seq(
    "entering_new_round", "entering_prevote_step", "entering_prevote_wait_step",
    "entering_precommit_step", "entering_precommit_wait_step",
    "entering_commit_step", "committed_block", "propose_step",
    "received_proposal", "received_complete_proposal_block", "scheduled_timeout")

  /** consensus_steps (`ossplugins/consensus-steps/processor.go:21-61`, P5):
    * keep the 11 consensus lifecycle event types, drop P2P send/receive. */
  object ConsensusSteps extends Analytic {
    val name = "consensus_steps"
    val tables = Seq(Table(name)((events, _) => events
      .filter(col("event_type").isin(lifecycleTypes: _*))
      .select("event_type", "ts", "ts_ns", "node_id", "validator_address",
        "height", "round", "step", "proposer", "is_our_turn", "hash",
        "timeout_step", "duration_ms")))
  }

  /** Who sent and who received a `send_*` or `receive_packet_*` event,
    * and its `side`: a send goes from this node to its recipient peer
    * (null or "" when the log names none), a receive from its source peer
    * to this node. */
  private val direction: Seq[Column] = {
    val isSend = col("event_type").startsWith("send_")
    Seq(when(isSend, col("node_id")).otherwise(col("source_peer_id")).as("sender"),
      when(isSend, col("recipient_peer_id")).otherwise(col("node_id")).as("receiver"),
      when(isSend, "send").otherwise("recv").as("side"))
  }

  /** The confirm-on-receive latency analytics (J1, J2): one message
    * family's sends and receives as ONE tagged projection, [[sides]],
    * paired per (`keys`, sender, receiver) by the faithful overwrite-on-send
    * machine ([[PairingJoin.confirmOnReceive]]): every receive after the
    * first event at its key confirms against the last send before it; a
    * receive-created entry confirms later receives with NULL sent time
    * (reference computes latency from Go's zero time there — documented
    * rationalization) but DOES emit the entry-creating first receive's
    * `carry` payload, as the reference does (`vote-latency/processor.go:37`).
    * The reference's pointer aliasing (`processor.go:43-45`) is
    * replicated: an entry confirmed k times between sends yields k
    * identical rows carrying the last confirming receive's ts/latency. */
  sealed abstract class ConfirmOnReceive(val name: String, table: String, family: String,
      keys: Seq[(String, Column)], carry: Seq[String]) extends Analytic {

    /** Every send and receive of the family as one tagged row: the key
      * columns, sender, receiver, side ("send" or "recv"), ts_ns and the
      * carry. Shared by the batch table and
      * [[graft.streaming.StreamingPipeline.voteLatencyStream]]. */
    def sides(events: DataFrame): DataFrame =
      events.filter(col("event_type").isin(s"send_$family", s"receive_packet_$family"))
        .select((keys.map { case (k, c) => c.as(k) } ++ direction :+ col("ts_ns")) ++
          carry.map(col): _*)

    val tables = Seq(Table(table)((events, _) =>
      PairingJoin.confirmOnReceive(sides(events), keys.map(_._1) :+ "sender" :+ "receiver", carry)
        .withColumn("latency_ms", expr("(received_ns - sent_ns) div 1000000"))))
  }

  /** vote_latencies (J1, `ossplugins/vote-latency/processor.go:26-65`):
    * send_vote / receive_packet_vote confirmed on (height, round, valIdx,
    * sender, receiver), carrying the entry's Vote. */
  object VoteLatency extends ConfirmOnReceive("vote_latency", "vote_latencies", "vote",
    Seq("height" -> col("vote.height"), "round" -> col("vote.round"),
      "val_idx" -> col("vote.validatorIndex")), carry = Seq("vote"))

  /** block_part_latencies (J2, `ossplugins/block-parts/processor.go:43-90`):
    * the same machine over send_block_part / receive_packet_block_part,
    * keyed by (height, round, partIndex, sender, receiver). */
  object BlockParts extends ConfirmOnReceive("block_parts", "block_part_latencies", "block_part",
    Seq("height" -> col("decoded.height"), "round" -> col("decoded.round"),
      "part_index" -> col("decoded.partIndex")), carry = Nil)

  /** p2p_messages (J3, `ossplugins/p2p-messages/processor.go:39-341`):
    * confirmation for 8 message families in either arrival order via the
    * faithful machine ([[PairingJoin.confirmEitherOrder]]): receives
    * confirm against the last send before them, the first send confirms a
    * pending first receive (negative latency), repeat receives re-confirm
    * — exactly the reference's per-key entry semantics. The family is a
    * column value: all 8 run through one machine call keyed by
    * (msg_family, key, sender, receiver), [[sides]] building the key. */
  object P2pMessages extends Analytic {
    val name = "p2p_messages"

    /** The 8 families and the columns of each one's confirmation key,
      * height first (`processor.go:343-366`). */
    private val families: Seq[(String, Seq[Column])] = Seq(
      "vote" -> Seq(col("vote.height"), col("vote.round"),
        col("vote.voteType"), col("vote.validatorIndex")),
      "block_part" -> Seq(col("decoded.height"), col("decoded.round"),
        sha2(col("decoded.partBytesHex"), 256)),
      "proposal" -> Seq(col("proposal.height"), col("proposal.round"),
        col("proposal.blockHash")),
      "proposal_pol" -> Seq(col("decoded.height"), col("decoded.proposalPolRound")),
      "new_round_step" -> Seq(col("decoded.height"), col("decoded.round"), col("decoded.step")),
      "has_vote" -> Seq(col("decoded.height"), col("decoded.round"),
        col("decoded.step"), col("decoded.index")),
      "vote_set_maj23" -> Seq(col("decoded.height"), col("decoded.round"),
        col("decoded.step"), col("decoded.blockIdHash")),
      "vote_set_bits" -> Seq(col("decoded.height"), col("decoded.round"),
        col("decoded.step"), col("decoded.blockIdHash")))

    /** Every send and receive of the 8 families as one tagged row:
      * msg_family, key (the family's key columns as strings, in order — an
      * array keeps the position of each null), sender, receiver, side
      * ("send" or "recv") and ts_ns. Shared by the batch analytic and
      * [[graft.streaming.StreamingPipeline.p2pConfirmStream]]. */
    def sides(events: DataFrame): DataFrame = {
      val fam = col("msg_family")
      val key = coalesce(families.map { case (f, keys) =>
        when(fam === f, array(keys.map(_.cast("string")): _*))
      }: _*)
      events
        .filter(col("event_type").isin(
          families.flatMap { case (f, _) => Seq(s"send_$f", s"receive_packet_$f") }: _*))
        .withColumn("msg_family", regexp_replace(col("event_type"), "^(send|receive_packet)_", ""))
        .select(Seq(fam, key.as("key")) ++ direction :+ col("ts_ns"): _*)
    }

    val tables = Seq(Table(name)((events, _) =>
      PairingJoin.confirmEitherOrder(sides(events), Seq("msg_family", "key", "sender", "receiver"))
        .withColumn("height", col("key")(0))
        .withColumn("latency_ms", expr("(received_ns - sent_ns) div 1000000"))
        .select("msg_family", "sender", "receiver", "height",
          "sent_ns", "received_ns", "latency_ms")))
  }

  /** consensus_timing (A1+J5, `ossplugins/consensus-timing/processor.go`):
    * per (node, height, round) step-transition map, durations between
    * consecutive OBSERVED steps in canonical order (`:108-130`), total
    * round time. committed_block (no round in the event) closes
    * `max(round)` for (node, height) — the deterministic replacement for
    * the reference's Go-map-iteration pick (SURVEY §7.4-3 J5).
    *
    * The wait slots in `canonical` mirror the reference's own stepOrder
    * (`processor.go:109`) but are dead: wait-step lines arrive as
    * entering_prevote/precommit (S5 first-match inference, replicated in
    * Normalize) and so OVERWRITE those slots' timestamps, exactly as the
    * reference's last-one-wins transitions map does. */
  object ConsensusTiming extends Analytic {
    val name = "consensus_timing"
    private val canonical = Seq("new_round", "propose", "entering_prevote",
      "entering_prevote_wait", "entering_precommit", "entering_precommit_wait",
      "entering_commit", "committed_block")

    val tables = Seq(Table(name)((events, _) => timing(events)))

    private def timing(events: DataFrame): DataFrame = {
      val stepName = when(col("event_type") === "entering_new_round", "new_round")
        .when(col("event_type") === "propose_step", "propose")
        .when(col("event_type") === "entering_prevote_step", "entering_prevote")
        .when(col("event_type") === "entering_prevote_wait_step", "entering_prevote_wait")
        .when(col("event_type") === "entering_precommit_step", "entering_precommit")
        .when(col("event_type") === "entering_precommit_wait_step", "entering_precommit_wait")
        .when(col("event_type") === "entering_commit_step", "entering_commit")
      val steps = events
        .filter(col("event_type").isin(lifecycleTypes.filterNot(
          Seq("committed_block", "received_proposal",
            "received_complete_proposal_block", "scheduled_timeout").contains): _*))
        .withColumn("step_name", stepName)
        .filter(col("step_name").isNotNull)
        .select(col("node_id"), col("validator_address"), col("height"),
          col("round"), col("step_name"), col("ts_ns"))

      // J5: committed_block joins to the max open round per (node, height).
      val maxRound = steps.groupBy("node_id", "height")
        .agg(max(col("round")).as("round"))
      val commits = events.filter(col("event_type") === "committed_block")
        .select(col("node_id"), col("height"), col("ts_ns"))
        .join(maxRound, Seq("node_id", "height"))
        .select(col("node_id"), lit(null: String).as("validator_address"),
          col("height"), col("round"), lit("committed_block").as("step_name"),
          col("ts_ns"))

      // LAST observation of each step per round — the reference's
      // transitions map overwrites on repeat (`processor.go:84`), so its
      // final state holds the latest timestamp per step. (A re-entered
      // (node, height, round) key is merged into one row here; the
      // reference flushes the previous epoch on re-entry —
      // order-dependent, rationalized as documented in SURVEY §7.4-3.)
      val all = steps.unionByName(commits)
        .groupBy("node_id", "height", "round", "step_name")
        .agg(max(col("ts_ns")).as("ts_ns"),
          max(col("validator_address")).as("validator_address"))

      val idxExpr = canonical.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
        case (acc, (s, i)) => acc.when(col("step_name") === s, i)
      }
      val w = Window.partitionBy("node_id", "height", "round").orderBy(col("step_idx"))
      val withDur = all
        .withColumn("step_idx", idxExpr)
        .withColumn("prev_step", lag(col("step_name"), 1).over(w))
        .withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
        .withColumn("dur_entry",
          when(col("prev_step").isNotNull,
            struct(
              concat(col("prev_step"), lit("_to_"), col("step_name")).as("key"),
              expr("(ts_ns - prev_ts) div 1000000").as("value"))))

      withDur
        .groupBy("node_id", "height", "round")
        .agg(
          max(col("validator_address")).as("validator_address"),
          map_from_entries(sort_array(collect_list(
            struct(col("step_idx"), struct(col("step_name"), col("ts_ns")).as("kv")))).getField("kv"))
            .as("step_transitions_ns"),
          map_from_entries(sort_array(collect_list(col("dur_entry")))).as("step_durations_ms"),
          min(when(col("step_name") === "new_round", col("ts_ns"))).as("new_round_ns"),
          min(col("ts_ns")).as("min_ns"),
          max(when(col("step_name") === "committed_block", col("ts_ns"))).as("commit_ns"),
          max(col("ts_ns")).as("max_ns"))
        .withColumn("start_ns", coalesce(col("new_round_ns"), col("min_ns")))
        .withColumn("end_ns", coalesce(col("commit_ns"), col("max_ns")))
        .withColumn("total_round_time_ms", expr("(end_ns - start_ns) div 1000000"))
        .drop("new_round_ns", "min_ns", "commit_ns", "max_ns")
    }
  }

  /** validator_participation (A2+J7,
    * `ossplugins/validator-participation/processor.go:10-180`): per
    * (height, round, validator) vote counts, latency vs the sending node's
    * step-start, integer-division averages, participation + on-time flags
    * (<= 1000 ms, `:100,:108`; flag of the LAST vote in event order — here
    * max ts, deterministic). */
  /** Rationalized deviations from the reference machine (audited round 2,
    * `validator-participation/processor.go`): the reference keys its
    * step-start map by (height, round) WITHOUT node — votes measure
    * against whichever node's step event wrote last; a send of a relayed
    * vote (signer != node) misses its lookup key and RE-INITS (clobbers)
    * the node's entry; and the first commit event of ANY node finalizes
    * every validator's entry for that round, splitting later sends into
    * extra rows. All three are order-dependent artifacts of shared
    * mutable state; this formulation uses per-node step starts and one
    * row per (height, round, validator). The deterministic core —
    * latency per send vs own step start, on-time = last send's latency
    * <= 1 s, int-division averages — matches the reference exactly. */
  object ValidatorParticipation extends Analytic {
    val name = "validator_participation"
    val tables = Seq(Table(name)((events, _) => participation(events)))
    private def participation(events: DataFrame): DataFrame = {
      val stepStarts = events
        .filter(col("event_type").isin("entering_prevote_step", "entering_precommit_step"))
        .groupBy("node_id", "height", "round")
        .agg(
          min(when(col("event_type") === "entering_prevote_step", col("ts_ns"))).as("prevote_start_ns"),
          min(when(col("event_type") === "entering_precommit_step", col("ts_ns"))).as("precommit_start_ns"))
      val votes = events.filter(col("event_type") === "send_vote")
        .select(col("node_id"), col("validator_address"),
          col("vote.height").as("height"), col("vote.round").as("round"),
          col("vote.voteType").as("vote_type"), col("ts_ns"))
        .join(stepStarts, Seq("node_id", "height", "round"), "left")
        .withColumn("latency_ms",
          when(col("vote_type") === "prevote" && col("prevote_start_ns").isNotNull,
            expr("(ts_ns - prevote_start_ns) div 1000000"))
            .when(col("vote_type") === "precommit" && col("precommit_start_ns").isNotNull,
              expr("(ts_ns - precommit_start_ns) div 1000000")))
      votes
        .groupBy("height", "round", "validator_address")
        .agg(
          max(col("node_id")).as("node_id"),
          sum(when(col("vote_type") === "prevote", 1L).otherwise(0L)).as("prevote_count"),
          sum(when(col("vote_type") === "precommit", 1L).otherwise(0L)).as("precommit_count"),
          sort_array(collect_list(when(col("vote_type") === "prevote", col("latency_ms"))))
            .as("prevote_latency_ms"),
          sort_array(collect_list(when(col("vote_type") === "precommit", col("latency_ms"))))
            .as("precommit_latency_ms"),
          // "flag of the last vote": max over (ts, latency) structs orders by
          // ts first; max ignores nulls so mixed vote types don't clobber it.
          max(when(col("vote_type") === "prevote", struct(col("ts_ns"), col("latency_ms"))))
            .getField("latency_ms").as("last_prevote_latency"),
          max(when(col("vote_type") === "precommit", struct(col("ts_ns"), col("latency_ms"))))
            .getField("latency_ms").as("last_precommit_latency"))
        .withColumn("participated_prevote", col("prevote_count") > 0)
        .withColumn("participated_precommit", col("precommit_count") > 0)
        .withColumn("avg_prevote_time_ms",
          when(size(col("prevote_latency_ms")) > 0,
            expr("aggregate(prevote_latency_ms, 0L, (a, x) -> a + x) div size(prevote_latency_ms)")))
        .withColumn("avg_precommit_time_ms",
          when(size(col("precommit_latency_ms")) > 0,
            expr("aggregate(precommit_latency_ms, 0L, (a, x) -> a + x) div size(precommit_latency_ms)")))
        .withColumn("on_time_prevote", coalesce(col("last_prevote_latency") <= 1000L, lit(false)))
        .withColumn("on_time_precommit", coalesce(col("last_precommit_latency") <= 1000L, lit(false)))
        .drop("last_prevote_latency", "last_precommit_latency")
    }
  }

  /** network_latency (J4+A3-A7, `ossplugins/network-latency/processor.go`):
    * FIFO multiset matching on (sender, receiver, sha256(raw bytes)) with a
    * hash-only fallback pass for the unmatched (`:295-328`), exact
    * percentile histograms per (node-pair, msg-type) with the reference's
    * index formulas (A3), node-pair rollups, per-node and global stats, and
    * duplicate-traffic diagnostics. Five output tables
    * (`processor.go:753-821`). */
  object NetworkLatency extends Analytic {
    val name = "network_latency"

    /** Every send, and every receive from another node (the P6
      * self-communication filter, `processor.go:222-225`), as one tagged
      * row: sender, receiver, side ("send" or "recv"), raw_hash (sha256 of
      * the raw bytes), msg_type and ts_ns. A TrySend's receiver is null or
      * "". Shared by every network_latency table and
      * [[graft.streaming.StreamingPipeline.networkLatencyStream]]. */
    def sides(events: DataFrame): DataFrame =
      events
        .filter(col("event_type").startsWith("send_") ||
          (col("event_type").startsWith("receive_packet_") &&
            col("source_peer_id") =!= col("node_id")))
        .select(direction ++ Seq(
          sha2(col("msg_bytes"), 256).as("raw_hash"),
          regexp_replace(col("event_type"), "^(send|receive_packet)_", "").as("msg_type"),
          col("ts_ns")): _*)

    /** The J4 two-pass matcher over [[sides]], factored for the
      * random-stream parity spec.
      *
      * Pass 1 — composite key (sender, receiver, raw_hash): the reference
      * machine is BIDIRECTIONAL (a receive pops the oldest pending send,
      * `processor.go:278-285`; an out-of-order send pops the single pending
      * receive, `:155-176`), which is exactly rank-FIFO pairing: the i-th
      * send meets the i-th receive whatever the interleaving. The reference
      * panics when a send finds >=2 pending receives (`:166`); the rank
      * join pairs them in order instead (documented rationalization).
      *
      * Pass 2 — hash-only fallback for pass-1 residuals (`:295-328`): the
      * pool (`pendingSendsByRaw`) holds ONLY sends without a recipient peer
      * (TrySend logs `peer: ""`), and the fallback is ONE-DIRECTIONAL AND
      * AT-ARRIVAL-ONLY: a receive pops the oldest pending raw send at its
      * own arrival, and if the pool is empty then, it is never matched —
      * a later TrySend does not look back at pending receives. That is
      * [[PairingJoin.fifoAtArrival]], not rank-FIFO.
      *
      * Unmatched accounting (`finalizeStats`, `:449-476`) is derived from
      * the measurements by [[nodeStats]] and [[globalStats]]: each
      * measurement consumes exactly one send, so a node's unmatched sends
      * are its sends minus the measurements it sent. A fallback-matched
      * receive is never removed from `pendingReceives`, so the reference
      * counts it BOTH as a measurement and as an unmatched receive:
      * faithfully, a node's unmatched receives are its receives minus the
      * `exact` measurements it received.
      *
      * Documented rationalization: a receive that fallback-matches and is
      * LATER claimed by an out-of-order composite-key send double-counts in
      * the reference (two measurements from one receive; reachable only
      * when a TrySend and a direct send share raw bytes). Here a receive
      * yields at most one measurement — the composite-key match wins.
      *
      * @return the measurements
      */
    private[graft] def fifoMatch(sides: DataFrame): DataFrame = {
      val keys = Seq("sender", "receiver", "raw_hash")
      def side(s: String, ts: String) = sides.filter(col("side") === s)
        .select((keys.map(col) :+ col("msg_type").as(s"${s}_msg_type")) :+ col("ts_ns").as(ts): _*)
      val m1 = PairingJoin.fifo(side("send", "sent_ns"), side("recv", "received_ns"),
        keys, Seq("sent_ns"), Seq("received_ns"), "full_outer")
      val matched1 = m1.filter(col("sent_ns").isNotNull && col("received_ns").isNotNull)
        .withColumn("match_type", lit("exact"))
      val noPeer = col("receiver").isNull || col("receiver") === ""
      val fallbackSends = m1.filter(col("received_ns").isNull && noPeer)
        .select(col("sender").as("send_sender"), col("receiver").as("send_receiver"),
          col("raw_hash"), col("send_msg_type"), col("sent_ns"))
      val unRecvs = m1.filter(col("sent_ns").isNull)
        .select(col("sender").as("recv_sender"), col("receiver").as("recv_receiver"),
          col("raw_hash"), col("recv_msg_type"), col("received_ns"))
      val matched2 = PairingJoin.fifoAtArrival(fallbackSends, unRecvs,
          Seq("raw_hash"), "sent_ns", "received_ns")
        .filter(col("sent_ns").isNotNull && col("received_ns").isNotNull)
        .withColumn("sender", coalesce(col("send_sender"), col("recv_sender")))
        .withColumn("receiver", coalesce(col("recv_receiver"), col("send_receiver")))
        .withColumn("match_type", lit("hash_fallback"))

      matched1
        .select("sender", "receiver", "raw_hash", "send_msg_type", "sent_ns", "received_ns", "match_type")
        .unionByName(matched2.select("sender", "receiver", "raw_hash", "send_msg_type",
          "sent_ns", "received_ns", "match_type"))
        .withColumn("msg_type", col("send_msg_type")).drop("send_msg_type")
        // The reference records a POSITIVE magnitude either way: recv-send
        // for in-order matches, send-recv for the out-of-order path
        // (`:166`, `:283`) — events process in global time order, so the
        // later timestamp is always the minuend (round-2 audit).
        .withColumn("latency_ms", expr("abs(received_ns - sent_ns) div 1000000"))
    }

    /** Every send, receive and measurement as one tagged row of the node
      * it counts for, the peer and its `kind`: a side's "send" or "recv"
      * (counted for its sender or its receiver), a measurement's
      * match_type (counted for its sender) or "exact_recv" (an exact
      * measurement, counted for its receiver). */
    private def traffic(sides: DataFrame, measurements: DataFrame): DataFrame = {
      val isSend = col("side") === "send"
      sides
        .select(when(isSend, col("sender")).otherwise(col("receiver")).as("node_id"),
          when(isSend, col("receiver")).otherwise(col("sender")).as("peer"), col("side").as("kind"))
        .unionByName(measurements
          .select(col("sender").as("node_id"), col("receiver").as("peer"), col("match_type").as("kind")))
        .unionByName(measurements.filter(col("match_type") === "exact")
          .select(col("receiver").as("node_id"), col("sender").as("peer"), lit("exact_recv").as("kind")))
    }

    private def counted(kind: String): Column = count(when(col("kind") === kind, true))

    /** A5: per-node stats incl. connected peers and unmatched counts, as
      * ONE union + ONE groupBy (a single shuffle on node_id). Unmatched
      * sends = sends − measurements sent; unmatched receives = receives −
      * `exact` measurements received (see [[fifoMatch]]). */
    private[graft] def nodeStats(sides: DataFrame, measurements: DataFrame): DataFrame =
      traffic(sides, measurements)
        .groupBy("node_id")
        .agg(
          counted("send").as("total_sends"),
          collect_set(when(col("kind") === "send", col("peer"))).as("send_peers"),
          counted("recv").as("total_receives"),
          collect_set(when(col("kind") === "recv", col("peer"))).as("recv_peers"),
          (counted("send") - counted("exact") - counted("hash_fallback")).as("unmatched_sends"),
          (counted("recv") - counted("exact_recv")).as("unmatched_receives"))
        .withColumn("connected_peers",
          array_sort(array_union(col("send_peers"), col("recv_peers"))))
        .withColumn("connected_peer_count", size(col("connected_peers")).cast("long"))
        .drop("send_peers", "recv_peers")

    /** A6: the single global row, by the same subtraction as [[nodeStats]]. */
    private def globalStats(sides: DataFrame, measurements: DataFrame): DataFrame =
      traffic(sides, measurements)
        .agg(
          (counted("exact") + counted("hash_fallback")).as("total_matched"),
          (counted("send") - counted("exact") - counted("hash_fallback")).as("total_unmatched_sends"),
          (counted("recv") - counted("exact_recv")).as("total_unmatched_receives"))

    /** A3: per-(normalized pair, msg_type) exact-percentile histograms,
      * plus A4: the overall histogram per pair over all message types. */
    private def nodepairSummary(measurements: DataFrame): DataFrame = {
      val paired = measurements
        .withColumn("pair", concat_ws("|",
          least(col("sender"), col("receiver")), greatest(col("sender"), col("receiver"))))
      ExactPercentiles.histogram(paired, Seq("pair", "msg_type"), col("latency_ms"))
        .unionByName(ExactPercentiles.histogram(paired, Seq("pair"), col("latency_ms"))
          .withColumn("msg_type", lit("overall")))
    }

    /** A7: duplicate-traffic diagnostics (keys seen more than once per side). */
    private def duplicates(sides: DataFrame): DataFrame =
      sides
        .groupBy("sender", "receiver", "raw_hash")
        .agg(
          sum(when(col("side") === "send", 1L).otherwise(0L)).as("send_count"),
          sum(when(col("side") === "recv", 1L).otherwise(0L)).as("receive_count"),
          min(col("ts_ns")).as("first_seen_ns"), max(col("ts_ns")).as("last_seen_ns"))
        .filter(col("send_count") > 1 || col("receive_count") > 1)

    private val Measurements = "network_latency_measurements"

    /** The measurements are written once and every other table that needs
      * them reads the stored table; none reads another derived table, so
      * the critical path is two writes deep. */
    val tables = Seq(
      Table(Measurements)((events, _) => fifoMatch(sides(events))),
      Table("network_latency_nodepair_summary", Measurements)((_, read) =>
        nodepairSummary(read(Measurements))),
      Table("network_latency_node_stats", Measurements)((events, read) =>
        nodeStats(sides(events), read(Measurements))),
      Table("network_latency_global_stats", Measurements)((events, read) =>
        globalStats(sides(events), read(Measurements))),
      Table("network_latency_duplicates_debug")((events, _) => duplicates(sides(events))))
  }

  /** timeout_analysis (A8-A10+J6, `ossplugins/timeout-analysis/processor.go`):
    * enriched timeout events (step-start join J6 `:101-110`, recovery flag
    * A9 `:201-208` via a bounded self-join on the last 3 rounds), per-node
    * aggregate analysis (A8 `:217-239`) over the stored enriched events,
    * and gaps-and-islands timeout clusters (A10 `:180-199`, gap <= 30 s
    * AND height delta <= 5, >= 3). */
  object TimeoutAnalysis extends Analytic {
    val name = "timeout_analysis"

    private def scheduledTimeouts(events: DataFrame): DataFrame =
      events.filter(col("event_type") === "scheduled_timeout")
        .select(col("node_id"), col("validator_address"), col("height"),
          col("round"), col("timeout_step").as("step"), col("duration_ms"),
          col("ts_ns"))

    private def enrichedEvents(events: DataFrame): DataFrame = {
      val timeouts = scheduledTimeouts(events)
      // J6: step starts per (node, height, round, step-kind).
      val stepStarts = events
        .filter(col("event_type").isin(
          "entering_prevote_step", "entering_precommit_step", "propose_step"))
        .withColumn("step",
          when(col("event_type") === "entering_prevote_step", "prevote")
            .when(col("event_type") === "entering_precommit_step", "precommit")
            .otherwise("propose"))
        .groupBy("node_id", "height", "round", "step")
        .agg(min(col("ts_ns")).as("step_start_ns"))

      val enriched = timeouts
        .join(stepStarts, Seq("node_id", "height", "round", "step"), "left")
        .withColumn("time_in_step_ms",
          when(col("step_start_ns").isNotNull, expr("(ts_ns - step_start_ns) div 1000000")))

      // A9: recovery = >= 2 earlier timeouts in rounds [r-2, r] of the same
      // height on the same node, strictly before this event.
      val prior = timeouts.select(col("node_id"), col("height"),
        col("round").as("p_round"), col("ts_ns").as("p_ts_ns"))
      enriched.alias("t")
        .join(prior.alias("p"),
          col("t.node_id") === col("p.node_id") &&
            col("t.height") === col("p.height") &&
            col("p.p_round") <= col("t.round") &&
            col("p.p_round") >= col("t.round") - 2 &&
            col("p.p_ts_ns") < col("t.ts_ns"),
          "left")
        .groupBy(col("t.node_id").as("node_id"), col("t.validator_address").as("validator_address"),
          col("t.height").as("height"), col("t.round").as("round"), col("t.step").as("step"),
          col("t.duration_ms").as("duration_ms"), col("t.ts_ns").as("ts_ns"),
          col("t.step_start_ns").as("step_start_ns"),
          col("t.time_in_step_ms").as("time_in_step_ms"))
        .agg(count(col("p.p_ts_ns")).as("prior_timeouts"))
        .withColumn("is_recovery_timeout", col("prior_timeouts") >= 2)
    }

    /** A10: clusters per node (time gap AND height delta predicate). */
    private def clusters(events: DataFrame): DataFrame =
      Sessionize.assign(
          scheduledTimeouts(events), Seq("node_id"), Seq("ts_ns"),
          breakWhen = prev =>
            (col("ts_ns") - prev("ts_ns") > 30000000000L) ||
              (col("height") - prev("height") > 5L))
        .groupBy("node_id", "session_id")
        .agg(
          min(col("height")).as("start_height"), max(col("height")).as("end_height"),
          count(lit(1)).as("timeout_count"),
          min(col("ts_ns")).as("start_ns"), max(col("ts_ns")).as("end_ns"),
          sort_array(collect_list(struct(col("ts_ns"), col("step")))).getField("step").as("steps"))
        .filter(col("timeout_count") >= 3)
        .withColumn("duration_ms", expr("(end_ns - start_ns) div 1000000"))

    /** A8: per-node aggregate (the reference emits one per run; we emit
      * one per node — the multi-node generalization). */
    private def analysis(events: DataFrame, enriched: DataFrame): DataFrame = {
      val totalRounds = events.filter(col("event_type") === "entering_new_round")
        .groupBy("node_id").agg(count(lit(1)).as("total_rounds"))
      enriched
        .groupBy("node_id")
        .agg(
          max(col("validator_address")).as("validator_address"),
          count(lit(1)).as("total_timeouts"),
          sum(col("duration_ms")).as("duration_sum_ms"),
          min(col("duration_ms")).as("min_timeout_duration_ms"),
          max(col("duration_ms")).as("max_timeout_duration_ms"),
          sum(when(col("is_recovery_timeout"), 1L).otherwise(0L)).as("recovery_timeouts"),
          sum(when(col("step") === "propose", 1L).otherwise(0L)).as("propose_timeouts"),
          sum(when(col("step") === "prevote", 1L).otherwise(0L)).as("prevote_timeouts"),
          sum(when(col("step") === "precommit", 1L).otherwise(0L)).as("precommit_timeouts"),
          countDistinct(col("height"), col("round")).as("rounds_with_timeouts"),
          min(col("height")).as("min_height"), max(col("height")).as("max_height"),
          min(col("ts_ns")).as("first_timeout_ns"), max(col("ts_ns")).as("last_timeout_ns"))
        .join(totalRounds, Seq("node_id"), "left")
        .withColumn("total_rounds", coalesce(col("total_rounds"), lit(0L)))
        .withColumn("avg_timeout_duration_ms", expr("duration_sum_ms div total_timeouts"))
        .withColumn("avg_timeouts_per_round",
          when(col("total_rounds") > 0,
            col("total_timeouts").cast("double") / col("total_rounds").cast("double")))
        .withColumn("height_range",
          concat(col("min_height"), lit("-"), col("max_height")))
    }

    val tables = Seq(
      Table("timeout_events")((events, _) => enrichedEvents(events)),
      Table(name, "timeout_events")((events, read) => analysis(events, read("timeout_events"))),
      Table("timeout_clusters")((events, _) => clusters(events)))
  }

  /** tracer_events (O2, `ossplugins/tracer-events/plugin.go:48-73`): union
    * of the consensus lifecycle stream and the p2p confirmed stream,
    * re-sorted by timestamp. It reads the consensus_steps and p2p_messages
    * tables, so the 8-family p2p machine runs once per pipeline. */
  object TracerEvents extends Analytic {
    val name = "tracer_events"
    val tables = Seq(Table(name, "consensus_steps", "p2p_messages") { (_, read) =>
      val consensus = read("consensus_steps")
        .withColumn("stream", lit("consensus"))
        .withColumn("sort_ns", col("ts_ns"))
      val p2p = read("p2p_messages")
        .withColumn("stream", lit("p2p"))
        .withColumn("event_type", concat(lit("p2p_"), col("msg_family")))
        .withColumn("sort_ns", col("received_ns"))
      consensus.unionByName(p2p, allowMissingColumns = true).orderBy(col("sort_ns"))
    })
  }

  val all: Seq[Analytic] = Seq(
    ConsensusSteps, VoteLatency, BlockParts, P2pMessages, ConsensusTiming,
    ValidatorParticipation, NetworkLatency, TimeoutAnalysis, TracerEvents)

  /** The declaration of `table`: among `first`, else among [[all]]'s. */
  def producer(table: String, first: Seq[Table] = Nil): Table =
    (first.iterator ++ all.iterator.flatMap(_.tables)).find(_.name == table).getOrElse(
      throw new IllegalArgumentException(s"no analytic declares table '$table'"))

  /** Plugin enablement by name — the reference's YAML plugin list
    * (`internal/config/config.go:48-63`); an empty selection enables the
    * default set like `config.go:67-83`, and unknown names fail fast. */
  def byNames(names: Seq[String]): Seq[Analytic] =
    if (names.isEmpty) all
    else names.map { n =>
      all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"unknown analytic '$n'; known: ${all.map(_.name).mkString(", ")}"))
    }
}
