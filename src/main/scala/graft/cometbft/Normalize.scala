package graft.cometbft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cometbft.Parsers._

/** The converter layer (SURVEY.md §2.3, `internal/converter/convereter.go`):
  * parsed raw lines → one wide normalized events DataFrame, tagged by
  * `event_type`, with nullable per-family columns.
  *
  * Like the reference's single switch on the message type (`Convert`,
  * `convereter.go:102-133`), [[normalize]] is one projection over the
  * lines: the family is a column value, not a separate plan branch, so
  * the log text is read once.
  *
  * Event-type tags are our canonical snake_case names (the reference's
  * constants live in an un-vendored external module; documented deviation).
  */
object Normalize {

  // ---------------------------------------------------------------- UDFs
  private val tsNanosU     = udf((s: String) => Option(parseTsNanos(s)).map(_.toLong))
  private val proposalU    = udf((s: String) => parseProposalString(s))
  private val blockU       = udf((s: String) => parseBlockString(s))
  private val durationMsU  = udf((s: String) => Option(parseGoDurationMs(s)).map(_.toLong))
  // F11 ExtractPeerIdOnly: `substring_index(peer, "@", 1)` matches the
  // grammar exactly (no '@' => whole string, null => null) and stays
  // inside whole-stage codegen on the hot send/receive path — the
  // Scala `Parsers.extractPeerIdOnly` remains as the spec'd scalar form.
  private def peerIdCol(c: Column): Column = substring_index(c, "@", 1)

  /** Decoded consensus message as a flat-ish struct (SURVEY §2.3 F14-F16). */
  final case class DecodedMsg(
      msgType: String,
      height: Option[Long], round: Option[Long], step: Option[String],
      index: Option[Long], secondsSinceStartTime: Option[Long],
      lastCommitRound: Option[Long], isCommit: Option[Boolean],
      proposalPolRound: Option[Long],
      blockIdHash: Option[String], psTotal: Option[Long], psHash: Option[String],
      bitsTotal: Option[Long], bitsElems: Option[Seq[Long]],
      partIndex: Option[Long], partBytesHex: Option[String],
      vote: Option[VoteP], proposal: Option[ProposalP])

  /** `typeslib.StepIntToString` (public CometBFT RoundStepType domain). */
  def stepIntToString(i: Int): String = i match {
    case 1 => "newHeight"
    case 2 => "newRound"
    case 3 => "propose"
    case 4 => "prevote"
    case 5 => "prevoteWait"
    case 6 => "precommit"
    case 7 => "precommitWait"
    case 8 => "commit"
    case _ => "unknown"
  }

  /** `CometSignedMsgTypeToString` (public SignedMsgType domain). */
  def signedMsgTypeToString(i: Int): String = i match {
    case 1  => "prevote"
    case 2  => "precommit"
    case 32 => "proposal"
    case _  => "unknown"
  }

  private def hex(b: Array[Byte]): String =
    b.map("%02X".format(_)).mkString

  /** The channel-dispatched decode (`decoder.go:17-113`): consensus
    * channels project into the full struct; blocksync/mempool/pex/statesync
    * decode into a type tag alone — every one of those is then rejected by
    * [[channelValid]] exactly as the reference's converter rejects them
    * (`convereter.go:46-58`), so they contribute drops, never events.
    * Evidence/unknown channels decode to None (the reference errors). */
  private[cometbft] def decodeToStruct(channel: Long, bytes: Array[Byte]): Option[DecodedMsg] =
    ProtoWire.decodeChannelMessage(channel, bytes).map {
      case Right(cm)  => consensusStruct(cm)
      case Left(ncm)  =>
        DecodedMsg(ncm.typeName, None, None, None, None, None, None, None, None,
          None, None, None, None, None, None, None, None, None)
    }

  private def consensusStruct(msg: ProtoWire.ConsensusMsg): DecodedMsg =
    msg match {
      case m: ProtoWire.NewRoundStep =>
        DecodedMsg("new_round_step", Some(m.height), Some(m.round.toLong),
          Some(stepIntToString(m.step)), None, Some(m.secondsSinceStartTime),
          Some(m.lastCommitRound.toLong), None, None, None, None, None, None, None,
          None, None, None, None)
      case m: ProtoWire.NewValidBlock =>
        DecodedMsg("new_valid_block", Some(m.height), Some(m.round.toLong), None,
          None, None, None, Some(m.isCommit), None,
          None, Some(m.psh.total), Some(hex(m.psh.hash)),
          Some(m.blockParts.bits), Some(m.blockParts.elems),
          None, None, None, None)
      case m: ProtoWire.Proposal =>
        DecodedMsg("proposal", Some(m.height), Some(m.round.toLong), None, None,
          None, None, None, None, None, None, None, None, None, None, None, None,
          Some(ProposalP(m.height, m.round.toLong, m.polRound.toLong,
            hex(m.blockId.hash), m.blockId.psh.total, hex(m.blockId.psh.hash),
            hex(m.signature), m.tsNanos)))
      case m: ProtoWire.ProposalPOL =>
        DecodedMsg("proposal_pol", Some(m.height), None, None, None, None, None,
          None, Some(m.proposalPolRound.toLong), None, None, None,
          Some(m.proposalPol.bits), Some(m.proposalPol.elems), None, None, None, None)
      case m: ProtoWire.BlockPart =>
        DecodedMsg("block_part", Some(m.height), Some(m.round.toLong), None, None,
          None, None, None, None, None, None, None, None, None,
          Some(m.index), Some(hex(m.bytes)), None, None)
      case m: ProtoWire.Vote =>
        DecodedMsg("vote", Some(m.height), Some(m.round.toLong), None, None, None,
          None, None, None, None, None, None, None, None, None, None,
          Some(VoteP(signedMsgTypeToString(m.tpe), m.height, m.round.toLong,
            hex(m.blockId.hash), hex(m.blockId.psh.hash), m.blockId.psh.total,
            m.tsNanos, hex(m.validatorAddress), m.validatorIndex.toLong,
            hex(m.signature), "")), None)
      case m: ProtoWire.HasVote =>
        DecodedMsg("has_vote", Some(m.height), Some(m.round.toLong),
          Some(signedMsgTypeToString(m.tpe)), Some(m.index.toLong), None, None,
          None, None, None, None, None, None, None, None, None, None, None)
      case m: ProtoWire.VoteSetMaj23 =>
        DecodedMsg("vote_set_maj23", Some(m.height), Some(m.round.toLong),
          Some(signedMsgTypeToString(m.tpe)), None, None, None, None, None,
          Some(hex(m.blockId.hash)), Some(m.blockId.psh.total),
          Some(hex(m.blockId.psh.hash)), None, None, None, None, None, None)
      case m: ProtoWire.VoteSetBits =>
        DecodedMsg("vote_set_bits", Some(m.height), Some(m.round.toLong),
          Some(signedMsgTypeToString(m.tpe)), None, None, None, None, None,
          Some(hex(m.blockId.hash)), Some(m.blockId.psh.total),
          Some(hex(m.blockId.psh.hash)), Some(m.votes.bits), Some(m.votes.elems),
          None, None, None, None)
      case m: ProtoWire.HasProposalBlockPart =>
        DecodedMsg("has_proposal_block_part", Some(m.height), Some(m.round.toLong),
          None, Some(m.index.toLong), None, None, None, None, None, None, None,
          None, None, None, None, None, None)
    }

  private val decodeU =
    udf((channel: Long, bytes: Array[Byte]) => decodeToStruct(channel, bytes))

  /** P4 channel-validity predicate (`convereter.go:19-100`): the decoded
    * message type must match its P2P channel. */
  val channelForMsgType: Map[String, Long] = Map(
    "vote"                    -> 0x22L,
    "proposal"                -> 0x21L,
    "block_part"              -> 0x21L,
    "new_round_step"          -> 0x20L,
    "new_valid_block"         -> 0x20L,
    "has_vote"                -> 0x20L,
    "vote_set_maj23"          -> 0x20L,
    "has_proposal_block_part" -> 0x20L,
    "proposal_pol"            -> 0x20L,
    "vote_set_bits"           -> 0x23L
  )

  private def channelValid(msgType: Column, channel: Column): Column =
    channelForMsgType.foldLeft(lit(false)) { case (acc, (t, ch)) =>
      acc || (msgType === t && channel === ch)
    }

  /** F18 channel-name lookup (`types/channels.go:18-47`). */
  val channelNames: Map[Long, String] = Map(
    0x00L -> "pex", 0x40L -> "blocksync", 0x23L -> "vote_set_bits",
    0x38L -> "evidence", 0x30L -> "mempool", 0x60L -> "snapshot",
    0x61L -> "chunk", 0x21L -> "data", 0x22L -> "vote", 0x20L -> "state")

  def channelName(channel: Column): Column =
    channelNames.foldLeft(when(lit(false), lit(null: String))) {
      case (acc, (id, name)) => acc.when(channel === id, name)
    }.otherwise("unknown")

  /** F3 as a when-chain over the 8 known step names (finite domain). */
  def formatStepCol(c: Column): Column = {
    val m = Seq(
      "RoundStepNewHeight" -> "newHeight", "RoundStepNewRound" -> "newRound",
      "RoundStepPropose" -> "propose", "RoundStepPrevote" -> "prevote",
      "RoundStepPrevoteWait" -> "prevoteWait", "RoundStepPrecommit" -> "precommit",
      "RoundStepPrecommitWait" -> "precommitWait", "RoundStepCommit" -> "commit")
    m.foldLeft(when(lit(false), lit(null: String))) { case (acc, (k, v)) =>
      acc.when(c === k, v)
    }
  }

  /** `lib/parse.go:15-37` ([[Parsers.parseRoundInfo]]) over a column: a
    * (height, round, step) struct for `height/round/step` with exactly
    * three parts, the first two unsigned decimals that fit a long, the
    * third a known step name; null for any other string, so nothing here
    * throws under ANSI mode. */
  private def roundInfo(c: Column): Column = {
    val parts = split(c, "/")
    def part(i: Int) = try_element_at(parts, lit(i))
    def uint(i: Int) = when(part(i).rlike("^\\+?[0-9]+$"), part(i).try_cast("long"))
    val (h, r, s) = (uint(1), uint(2), formatStepCol(part(3)))
    when(size(parts) === 3 && h.isNotNull && r.isNotNull && s.isNotNull,
      struct(h.as("height"), r.as("round"), s.as("step")))
  }

  // ------------------------------------------------------------ normalize
  /** The lower-cased `_msg` of each converted line and its family: the
    * event_type of a consensus line (`convereter.go:102-133`; "entering
    * propose step" is absent, P3, `:107-110`), the event_type prefix of a
    * p2p line, which its decoded message type completes (F12-F16).
    *
    * REPLICATED REFERENCE BEHAVIOR (`parsers.go:94-128`): the reference
    * infers targetStep by first-match substring scan over the ordered list
    * [propose, prevote, prevote_wait, precommit, precommit_wait, commit]
    * and BREAKS on the first hit — "entering prevote wait step" contains
    * "prevote", so targetStep = "prevote"; likewise precommit wait →
    * "precommit". The prevote_wait / precommit_wait cases of
    * ConvertToSpecificStepEvent (`convereter.go:179-190`) are therefore
    * dead code: the reference binary NEVER emits wait-step events, and in
    * consensus-timing the wait line's timestamp OVERWRITES the
    * prevote/precommit slot (last-one-wins map, `processor.go:84`). We
    * replicate that exactly — wait-step log lines are tagged with the
    * non-wait event type (SURVEY §7.4-3). The event's step fields still
    * come from the line's own `current` round-info, as in the reference. */
  private val families: Seq[(String, String)] = Seq(
    "entering new round"                    -> "entering_new_round",
    "entering prevote step"                 -> "entering_prevote_step",
    "entering prevote wait step"            -> "entering_prevote_step",
    "entering precommit step"               -> "entering_precommit_step",
    "entering precommit wait step"          -> "entering_precommit_step",
    "entering commit step"                  -> "entering_commit_step",
    "propose step; our turn to propose"     -> "propose_step",
    "propose step; not our turn to propose" -> "propose_step",
    "received proposal"                     -> "received_proposal",
    "received complete proposal block"      -> "received_complete_proposal_block",
    "committed block"                       -> "committed_block",
    "scheduled timeout"                     -> "scheduled_timeout",
    "send"                                  -> "send_",
    "trysend"                               -> "send_",
    "received bytes"                        -> "receive_packet_")

  /** Full normalization: LogIngest.read output → wide events DataFrame.
    *
    * One projection over the dispatched lines: a CASE on `msg_lc` tags each
    * line with its family, each family's columns and parser UDF sit inside
    * a `when` on that family, one filter applies each family's validity
    * rule, and the final `select` fixes the column order. Validity:
    *   - entering_new_round (`convereter.go:135-154`) needs a well-formed
    *     `previous`, the steps (`:156-230`) a well-formed `current`;
    *   - received_proposal (`:266-281`, F4) needs a parsed proposal;
    *   - send_* / receive_packet_* ×10 (F12-F16: hex or base64 → proto
    *     wire decode) need a decoded message that matches its channel (P4);
    *   - propose_step, received_complete_proposal_block, committed_block
    *     (F6) and scheduled_timeout (F17) always pass. */
  def normalize(raw: DataFrame): DataFrame = {
    val family = families.foldLeft(when(lit(false), lit(null: String))) {
      case (acc, (m, t)) => acc.when(col("msg_lc") === m, t)
    }
    val fam = col("family")
    def on(fams: String*)(c: Column): Column = when(fam.isin(fams: _*), c)
    val isSend = fam === "send_"
    val isRecv = fam === "receive_packet_"
    val isP2p  = isSend || isRecv
    val steps  = Seq("entering_prevote_step", "entering_precommit_step", "entering_commit_step")

    raw
      .withColumn("family", family)
      .filter(fam.isNotNull)
      .withColumn("ts_ns", tsNanosU(col("r.ts")))
      .filter(col("ts_ns").isNotNull)
      .select(col("*"),
        on("entering_new_round")(roundInfo(col("r.previous"))).as("prev"),
        on(steps: _*)(roundInfo(col("r.current"))).as("curr"),
        on("received_proposal")(proposalU(col("r.proposal"))).as("rp"),
        when(isSend, col("r.channel")).when(isRecv, col("ch_id")).as("channel"),
        when(isSend, unhex(col("r.msgBytes"))).when(isRecv, unbase64(col("r.msgBytes")))
          .as("msg_bytes"))
      .withColumn("decoded", when(isP2p, decodeU(col("channel"), col("msg_bytes"))))
      .filter(
        when(fam === "entering_new_round", col("prev").isNotNull)
          .when(fam.isin(steps: _*), col("curr").isNotNull)
          .when(fam === "received_proposal", col("rp").isNotNull)
          .when(isP2p, col("decoded").isNotNull &&
            channelValid(col("decoded.msgType"), col("channel")))
          .otherwise(lit(true)))
      .select(
        when(isP2p, concat(fam, col("decoded.msgType"))).otherwise(fam).as("event_type"),
        timestamp_micros(expr("ts_ns div 1000")).as("ts"),
        col("ts_ns"), col("node_id"), col("validator_address"), col("src_file"),
        when(fam.isin(steps: _*), col("curr.height"))
          .when(fam === "received_proposal", col("rp.height"))
          .when(!isP2p, col("r.height")).as("height"),
        when(fam.isin(steps: _*), col("curr.round"))
          .when(fam === "received_proposal", col("rp.round"))
          .when(fam.isin("entering_new_round", "propose_step", "scheduled_timeout"),
            col("r.round")).as("round"),
        on("entering_new_round", "propose_step", "received_proposal")(col("r.proposer"))
          .as("proposer"),
        col("prev.height").as("prev_height"), col("prev.round").as("prev_round"),
        col("prev.step").as("prev_step"),
        col("curr.step").as("step"),
        on("propose_step")(col("msg_lc") === "propose step; our turn to propose")
          .as("is_our_turn"),
        coalesce(col("rp"), col("decoded.proposal")).as("proposal"),
        on("received_complete_proposal_block")(col("r.hash")).as("hash"),
        on("committed_block")(blockU(col("r.block"))).as("block"),
        on("scheduled_timeout")(col("r.step")).as("timeout_step"),
        on("scheduled_timeout")(durationMsU(col("r.dur"))).as("duration_ms"),
        col("channel"),
        when(isP2p, channelName(col("channel"))).as("channel_name"),
        col("msg_bytes"), col("decoded"),
        when(isSend, col("r.peer")).as("recipient_peer"),
        when(isSend, peerIdCol(col("r.peer"))).as("recipient_peer_id"),
        col("decoded.vote").as("vote"),
        when(isRecv, col("r.peer")).as("source_peer"),
        when(isRecv, peerIdCol(col("r.peer"))).as("source_peer_id"))
  }
}
